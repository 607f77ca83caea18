# Convenience targets (parity with the reference's Makefile workflow).

.PHONY: test bench correctness plan smoke

test:
	python -m pytest tests/ -q

bench:
	python bench.py

# sf0.01 oracle gate, exactly as the grading driver runs it
correctness:
	python -m pytest tests/test_correctness.py -q

# dry-run the migration plan from an offline snapshot
plan:
	python -m mysql2pg_spark -c config.example.yml --mode plan \
	    --snapshot $(SNAPSHOT)

# CLI gate with no pytest: --mode local (one sf0.001 parquet table) and
# --mode dump (a two-row dump), each into a temp sink, from a temp cwd
# that takes the run logs and is removed afterwards. A failed or
# inconsistent table exits 1 and fails the target.
# the sf0.001 fixture: a sibling of the default scale-factor dir
SMOKE_SF ?= $(shell PYTHONPATH=$(CURDIR) python -c "import os; \
	from mysql2pg_spark.tables import DEFAULT_SF_DIR as d; \
	print(os.path.join(os.path.dirname(d), 'sf0.001'))")
SMOKE_CLI = PYTHONPATH=$(CURDIR) python -m mysql2pg_spark -c $(CURDIR)/config.example.yml

smoke:
	@set -e; d=$$(mktemp -d); trap 'rm -rf "$$d"' EXIT; cd "$$d"; \
	printf 'tables:\n  - name: nation\n    columns:\n      - {name: n_nationkey, type: int, nullable: false}\n    primary_key: [n_nationkey]\n' > snap.yml; \
	printf 'CREATE TABLE `users` (\n  `id` bigint NOT NULL,\n  `name` varchar(50),\n  PRIMARY KEY (`id`)\n);\nINSERT INTO `users` VALUES (1,\047ada\047),(2,\047bob\047);\n' > dump.sql; \
	$(SMOKE_CLI) --mode local --snapshot snap.yml \
	    --source-dir $(SMOKE_SF) --sink-dir sink_local; \
	$(SMOKE_CLI) --mode dump --dump-file dump.sql --sink-dir sink_dump
