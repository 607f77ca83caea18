#!/usr/bin/env python
"""Regenerate PLANS.md: the executed physical plan of every headline
query at sf0.1 — the plan-audit artifact (broadcasts, exchange counts,
codegen spans) readable without launching Spark.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA, HEADLINE  # noqa: E402
from mysql2pg_spark.plans import QUERIES  # noqa: E402
from mysql2pg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — executed physical plans of the headline suite",
        "",
        f"Generated by `python tools/dump_plans.py` at `{SF_DIR}`.",
        "Streaming queries are omitted (their micro-batch plans are not",
        "stable artifacts); `tests/test_plan_contracts.py` pins the",
        "properties these plans must keep.",
        "",
    ]
    for name in HEADLINE + EXTRA:
        if name not in QUERIES:
            continue
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # streaming-only entries
            out += [f"## {name}", "", f"_skipped: {exc!r}_", ""]
            continue
        # literal control chars (e.g. the checksum's \x00 NULL sentinel)
        # would make the artifact read as a binary file
        plan = "".join(
            c if c.isprintable() or c in "\n\t" else repr(c)[1:-1]
            for c in plan
        )
        n_shuffles = sum(
            1
            for line in plan.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line
        )
        out += [
            f"## {name}",
            "",
            f"shuffle exchanges: {n_shuffles}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    out.append(COST_NOTES)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    # Hand-written per-round design notes accumulate AFTER the cost
    # notes (every `## Round N — …` section). A regeneration must carry
    # them forward — round 11 found ~22 KB of rounds-7-through-11 notes
    # one `dump_plans.py` run away from silent deletion.
    import re

    notes = ""
    if os.path.exists(path):
        old = open(path, encoding="utf-8").read()
        mo = re.search(r"(?m)^## Round \d", old)
        if mo:
            notes = old[mo.start():]
    with open(path, "w") as fh:
        fh.write("\n".join(out))
        if notes:
            fh.write("\n" + notes)
    print(f"wrote {path} ({len(out)} lines"
          f"{' + preserved round notes' if notes else ''})")


#: Hand-maintained cost documentation appended to PLANS.md on every
#: regeneration (round-6 asks #5/#8): which extras are intentionally
#: super-second, and how to read the 10× scale step.
COST_NOTES = """\
## Cost notes (round 6)

### Intentionally super-second extras

These `extra_queries` are expected to exceed 1 s at sf0.1; their cost
drivers are inherent, audited, and should not be re-investigated each
round:

- **d13_editdistance_verify (~8-9 s)** — JVM `levenshtein` over the
  LSH candidate pairs (82k pairs at sf0.1, ~300-char normalized
  strings ⇒ ~10^5 char-cell DP per pair). Cost ∝ candidate count,
  never n²; the d03_lsh_neardup battery hands it the signature
  stage its d03/d04 members read.
- **s06_knn_pq (~5-6 s)** — PQ encoding is an inherent n·k·m
  corpus×codebook broadcast join (map-side, no big-side shuffle); ADC
  scores integer-quantized for cross-engine exactness.
- **cc03_pagerank_canonical (~3-4 s) / cc01_dedup_clusters (~2-3 s)**
  — iterative graph rounds (fixed-point PageRank, star-CC) with lazy
  checkpoints; round count is O(log n) / fixed, cost per round is one
  shuffle.
- **t20_dup_spans / t23_gopher_ngram_fractions (~2-3.5 s)** —
  explode-heavy positional-gram pipelines; map-side-combinable
  aggregations, plan-contract-pinned against pair formation.

### 10× scale step (`scale_step` in BENCH, .scale/sf1)

`tools/gen_scale.py` replicates sf0.1 ten-fold with shifted keys,
md5-shuffled word order, and rotated embeddings (replicas must not be
near-duplicates of each other, or LSH buckets flood quadratically in
the replication factor).

**Read raw seconds for the non-dedup subset** — measured (local[32],
sf0.1 extras → sf1 scale_step):

| query | sf0.1 | sf1 | ratio |
|---|---|---|---|
| val01_table_checksum | 1.50 s | 14.3 s | 9.6× |
| t20_dup_spans | 2.36 s | 15.3 s | 6.5× |
| t23_gopher_ngram_fractions | 3.70 s | 24.3 s | 6.6× |
| cc03_pagerank_canonical | 3.57 s | 29.2 s | 8.2× |
| s06_knn_pq | 5.91 s | 47.2 s | 8.0× |
| migration pipeline | 98k rows/s | 186k rows/s | sublinear |

All ≤10× at 10× data, no OOM, no spill cliff. One diagnosed
exception: **s04_knn_ivf_refined (2.9 s → 121 s, ~42×)** — the DEMO
parameterization picks centroids by `vec_id % MOD`, so nlist grows ∝ n
and the corpus×centroid assignment does ~100× distance work at 10×
data. That is a fixture-parameter choice (real IVF deployments size
nlist ∝ √n, which would make assignment ~30× here and ~10× per probe);
`knn_ivf` itself remains bucket-local with no all-pairs stage.

**Read pairs/sec, not seconds, for the candidate-driven dedup trio**
(cc01, d06, d13): this fixture corpus draws documents from a 31-word
vocabulary, so random-pair Jaccard is ~0.1 and LSH candidate mass
grows ~quadratically with corpus size — measured 911 → 82,148 →
8,198,225 candidate pairs at sf0.01 / sf0.1 / sf1 (the NATURAL
sf0.01→sf0.1 step already shows the same ~90× growth at 10× docs, so
this is a corpus property, not a generator artifact; real corpora
with natural vocabularies have near-zero random-pair Jaccard and
linear candidate mass). The operators do candidate-bounded work —
seconds scale with the quadratic workload, while per-pair throughput
stays flat, which is the linearity property that matters at 100 TB:

- cc01: 2.7 s → 88 s (33× time for 100× pairs — per-pair 3× faster);
- d06: 1.5 s → 111 s at 16.0k → 1.64M pairs (74× time for 103× pairs);
- d13 full one-off: all 8.2M candidate pairs in 659 s (~12.4k pairs/s)
  vs 82k pairs in 8.6 s at sf0.1 (~9.6k pairs/s) — per-pair
  throughput flat-to-better at 100× the workload. The recurring bench
  runs d13's Levenshtein on a deterministic 10% candidate sample
  (`d13_lev_pairs_per_sec`, aggregated over the distance column so
  Catalyst cannot prune the Levenshtein) to keep the wall bounded.

### Streaming throughput (`streaming_*` in BENCH extras)

The w-family backfills run the REAL 8-trigger staged source
(availableNow): `streaming_windowed_*` is the watermarked window agg,
`streaming_stateful_*` the applyInPandasWithState counter; rows/s and
avg per-trigger latency come from the query's own `recentProgress`.
"""


if __name__ == "__main__":
    main()
