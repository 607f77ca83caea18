"""query_suite: three headline queries (``bench.HEADLINE``) over a
seeded copy of the ten-table corpus, and, in a traced run, a sweep of
one headline query from each other plan module.

Each query is built with ``plans.QUERIES[name](spark, dir)`` and run to
Spark's ``noop`` sink; both steps are timed per plan module.
"""

from __future__ import annotations

import os

import datagen
import tracing as bt
from workload import Workload

# The timed passes run 3 of the 28 headline queries: the near-dup
# pairs d04 (it fires eager jobs while being built), the pandas
# grouped-map p01 (Python workers) and the semi/anti join q09 (plain
# Catalyst). Every run pays a JVM start and a cold pass about six
# warm passes long, so more queries in the timed passes leave too few
# passes in the benchmark's time budget.
SUITE = (
    "q09_semi_anti", "d04_neardup_pairs", "p01_grouped_map_sessionize",
)
# One headline query of each plan module SUITE leaves out: the cheapest,
# except cc01 for merge_demo, the clusters over d04's pairs, whose
# build fires eager jobs of its own. A traced run measures them after
# its timed passes, so every module's build and exec layers are
# measured.
SWEEP = (
    "f01_string_basics", "v01_view_basics", "t01_text_stats",
    "s01_knn_bruteforce", "mm01_binary_decode", "sk01_salted_agg",
    "cc01_dedup_clusters", "val01_table_checksum",
)
MODULES = (
    "relational", "functions_demo", "dialect_demo", "textops", "dedup",
    "similarity", "timeseries", "multimodal", "scale_demo", "merge_demo",
    "validation",
)


def _min_label_components(columns, rows):
    """cc01's oracle, computed from d04's oracle rows: for every document
    in a near-duplicate pair, the smallest document id reachable from
    it. The recorded oracle derives the same pairs and runs this closure
    as a recursive CTE, which costs DuckDB about 20 s of 4-core CPU at
    this scale; union-find over the identical pair set is equivalent."""
    ia, ib = columns.index("id_a"), columns.index("id_b")
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in rows:
        a, b = row[ia], row[ib]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return ["node", "component"], [(n, find(n)) for n in sorted(parent)]


def _fingerprinted(df, name: str):
    """``df`` with an observation of its row count and an order-free
    content hash (sum of per-row xxhash64 over the string forms)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    row_hash = F.xxhash64(*[F.col(f"`{c}`").cast("string") for c in df.columns])
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("hash"),
    ), obs


class QuerySuite(Workload):
    """Every pass reads a fresh, seed-shuffled copy of one generated
    corpus, so each query's result is the same multiset on every pass.

    Correctness: the first warm-up pass collects every result and
    compares it value for value with the DuckDB oracle (run in a thread
    while the JVM starts and that pass runs, both untimed). Every later
    pass's observed (row count, content hash) must equal the first's.
    The sweep is verified the same way by its first, untimed run."""

    SF = 0.01

    def setup(self, run) -> None:
        import threading

        import duckdb

        from bench import HEADLINE
        from mysql2pg_spark.plans import ORACLES, QUERIES

        self.names = [n for n in HEADLINE if n in SUITE]
        self.sweep = [n for n in HEADLINE if n in SWEEP] if run.trace else []
        self.items_per_pass = len(self.names)
        self.queries = QUERIES
        self.module = {
            n: QUERIES[n].__module__.rsplit(".", 1)[1]
            for n in self.names + self.sweep
        }
        self.fingerprint: dict[str, object] = {}
        self.tables = datagen.generate(run.seed, self.SF)
        self._passes = 0
        self.warm_input = self.make_input(run)
        self.oracle: dict[str, object] = {}
        con = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(self.warm_input["dir"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

        def run_oracles():
            try:
                for name in self.names + self.sweep:
                    if name == "cc01_dedup_clusters":
                        continue  # derived from d04's below
                    rel = con.execute(ORACLES[name])
                    self.oracle[name] = (
                        [d[0] for d in rel.description], rel.fetchall()
                    )
            finally:
                con.close()
            if "cc01_dedup_clusters" in self.sweep:
                self.oracle["cc01_dedup_clusters"] = _min_label_components(
                    *self.oracle["d04_neardup_pairs"]
                )

        self._oracle_thread = threading.Thread(target=run_oracles)
        self._oracle_thread.start()
        try:
            run.start_spark()
        except BaseException:
            self._oracle_thread.join()
            raise

    def make_input(self, run) -> dict:
        self._passes += 1
        d = run.fresh_dir("suite")
        datagen.write_dir(
            self.tables, d,
            shuffle_seed=datagen.pass_seed(run.seed, self._passes),
        )
        return {"dir": d}

    def warmup(self, run, i: int) -> None:
        """The one warm-up pass: the cold one, which verifies."""
        run.tally(len(self.names), self._verify(run, self.names,
                                                self.warm_input))
        self.cleanup(self.warm_input)

    def _verify(self, run, names, inp: dict) -> list[str]:
        """Collect each query's result on ``inp``, record its observed
        fingerprint and compare the rows with the DuckDB oracle."""
        from tests.compare import rows_sorted

        results, failures = {}, []
        for name in names:
            try:
                df, obs = _fingerprinted(
                    self.queries[name](run.spark, inp["dir"]), name
                )
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
                self.fingerprint[name] = obs.get
            except Exception as e:  # a crash fails this query
                failures.append(f"{name}: {str(e)[:300]}")
        self._oracle_thread.join()
        for name, (cols, rows) in results.items():
            if name not in self.oracle:
                failures.append(f"{name}: oracle did not run")
                continue
            got = rows_sorted(cols, rows)
            want = rows_sorted(*self.oracle[name])
            if got != want:
                failures.append(
                    f"{name}: result differs from oracle "
                    f"(columns {got[0]} vs {want[0]}, "
                    f"{len(got[1])} vs {len(want[1])} rows)"
                )
        return failures

    def run_pass(self, run, inp: dict, spans: bt.Spans, names=None) -> dict:
        spark = run.spark
        jobs = bt.JobCounter(spark) if spans.enabled else None
        pass_mark = jobs.mark() if jobs else None
        seen: dict[str, dict] = {}
        errors: dict[str, str] = {}
        build_jobs = 0
        for name in names or self.names:
            mod = self.module[name]
            try:
                mark = jobs.mark() if jobs else None
                with spans.span(f"plans.{mod}.build"):
                    df = self.queries[name](spark, inp["dir"])
                if jobs:
                    build_jobs += jobs.since(mark)["jobs"]
                df, obs = _fingerprinted(df, name)
                with spans.span(f"plans.{mod}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                seen[name] = obs.get
            except Exception as e:  # keep going; the check counts it
                errors[name] = str(e)[:300]
        out = {"seen": seen, "errors": errors, "build_jobs": build_jobs}
        if jobs:
            out["spark"] = jobs.since(pass_mark)
            out["persisted_rdds"] = bt.persisted_rdds(spark)
        return out

    def check(self, run, inp, out) -> tuple[int, list[str]]:
        bad = [f"{n}: {e}" for n, e in out["errors"].items()]
        for name, got in out["seen"].items():
            want = self.fingerprint.get(name)
            if got != want:
                bad.append(f"{name}: observed {got}, warm-up verified {want}")
        return len(out["seen"]) + len(out["errors"]), bad

    def layers(self, run, out, spans: bt.Spans) -> dict:
        layers = _module_layers(spans, MODULES)
        layers.update({
            "plans.build_jobs": out["build_jobs"],
            "spark.stages": out["spark"]["stages"],
            "spark.tasks": out["spark"]["tasks"],
            "spark.persisted_rdds": out["persisted_rdds"],
        })
        return layers

    def extra_layers(self, run) -> dict:
        """The sweep's module layers: one run verified against the oracle
        (it also warms the queries up), then one traced run on a fresh
        input."""
        inp = self.make_input(run)
        run.tally(len(self.sweep), self._verify(run, self.sweep, inp))
        self.cleanup(inp)
        inp = self.make_input(run)
        spans = bt.Spans(True)
        out = self.run_pass(run, inp, spans, self.sweep)
        run.tally(*self.check(run, inp, out))
        self.cleanup(inp)
        return _module_layers(spans, {self.module[n] for n in self.sweep})

    def describe(self) -> dict:
        return {"sf": self.SF,
                "rows": {t: self.tables[t].num_rows for t in self.tables},
                "queries": self.names, "sweep": self.sweep}


def _module_layers(spans: bt.Spans, modules) -> dict:
    """``plans.<module>.{build,exec}_s`` of a traced pass."""
    times = bt.span_times(spans.records)
    return {
        f"plans.{mod}.{phase}_s":
            times.get(f"plans.{mod}.{phase}", {}).get("total", 0.0)
        for mod in modules for phase in ("build", "exec")
    }
