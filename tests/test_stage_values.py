"""The plans layer keeps no state between queries.

Every dedup/textops query builds its shared stages (shingles,
signatures, verify sets, the TF frame) from the files at call time, so:
- a directory rewritten under the same path is read afresh,
- a sibling ``newSession()`` gets frames bound to itself,
- a battery that shares stages still runs each kernel once,
- no module of ``mysql2pg_spark.plans`` holds a DataFrame after a run,
  and no plan pins a frame with ``.cache()`` (which would outlive the
  query in the session's cache manager).
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from mysql2pg_spark.plans import QUERIES
from tests.conftest import SF_CORRECT, SF_SMOKE

_PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mysql2pg_spark", "plans",
)


def _copy_corpus(dst: str) -> None:
    os.makedirs(dst)
    for name in os.listdir(SF_CORRECT):
        shutil.copyfile(
            os.path.join(SF_CORRECT, name), os.path.join(dst, name)
        )


def test_rewrite_under_same_path_is_read_afresh(spark, tmp_path):
    d = str(tmp_path / "corpus")
    _copy_corpus(d)
    assert QUERIES["d04_neardup_pairs"](spark, d).count() == 25

    docs = os.path.join(d, "documents.parquet")
    schema = pq.read_schema(docs)
    text = "the same near duplicate document text for every row"
    rows = {
        "doc_id": list(range(50)),
        "text": [text] * 50,
        "lang": ["en"] * 50,
        "source": ["src0"] * 50,
        "n_chars": [len(text)] * 50,
    }
    os.remove(docs)
    pq.write_table(
        pa.table(rows, schema=schema.remove_metadata()), docs
    )
    # 50 identical documents: every pair is a near duplicate
    assert QUERIES["d04_neardup_pairs"](spark, d).count() == 50 * 49 // 2


def test_sibling_session_gets_its_own_frames(spark):
    QUERIES["d04_neardup_pairs"](spark, SF_CORRECT).count()
    sibling = spark.newSession()
    df = QUERIES["d02_minhash_signatures"](sibling, SF_CORRECT)
    assert df.sparkSession is sibling
    assert df._jdf.sparkSession().equals(sibling._jsparkSession)


def test_battery_runs_the_shingle_kernel_once(spark, monkeypatch):
    """d03_lsh_neardup hands one shingle/signature build to its d03,
    d04 and d13 members; the pinned stages keep the kernel to one pass
    over the corpus although the build's eager jobs and the main job
    all read them."""
    from mysql2pg_spark.operators import dedup as D

    rows = spark.sparkContext.accumulator(0)
    kernel = D.shingle_sets

    def counted(df, *args, **kwargs):
        out = kernel(df, *args, **kwargs)

        def tally(batches):
            for batch in batches:
                rows.add(batch.num_rows)
                yield batch

        return out.mapInArrow(tally, out.schema)

    monkeypatch.setattr(D, "shingle_sets", counted)
    QUERIES["d03_lsh_neardup"](spark, SF_CORRECT).write.format(
        "noop"
    ).mode("overwrite").save()
    n_docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").count()
    assert rows.value == n_docs


def _holds_dataframe(value) -> bool:
    if isinstance(value, DataFrame):
        return True
    if isinstance(value, dict):
        return any(_holds_dataframe(v) for v in value.values())
    if isinstance(value, (list, tuple)):
        return any(_holds_dataframe(v) for v in value)
    return False


def test_plans_modules_hold_no_dataframes(spark):
    for name in (
        "d02_minhash_signatures",
        "d04_neardup_pairs",
        "d15_capped_neardup_clusters",
        "t25_bm25_saliency",
        "t26_importance_weights",
    ):
        QUERIES[name](spark, SF_SMOKE).count()

    held = [
        f"{modname}.{attr}"
        for modname, mod in list(sys.modules.items())
        if modname.startswith("mysql2pg_spark.plans") and mod is not None
        for attr, value in vars(mod).items()
        if isinstance(value, (dict, list)) and _holds_dataframe(value)
    ]
    assert not held, f"plans modules memoize DataFrames: {held}"

    cached = []
    for root, _dirs, files in os.walk(_PLANS_DIR):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if ".cache()" in line:
                        cached.append(f"{fname}:{lineno}")
    assert not cached, f".cache() pins in the plans layer: {cached}"
