"""Grouped-map operators via pandas (the per-group imperative escape
hatch — SURVEY §2 UDF surface; pattern per SNIPPETS.md [1]).

Used only where per-group logic is a genuinely stateful scan that SQL
window functions cannot express: first-fit sequence packing, where
each decision depends on the running fill. (Sessionization, a lag and
a row number, is a window query: plans/timeseries.sessionize.) Outputs
are integers / carried-through values so results stay exactly
reproducible — float reductions inside pandas would be
numpy-order-dependent and break cross-engine checks.

Scale: one shuffle on the group key; each group must fit in one
executor's memory (the grouped-map contract) — group by high-
cardinality keys, never by low-cardinality ones.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

PACK_SCHEMA = (
    "source string, doc_id bigint, n_chars bigint, "
    "bin_id bigint, seq_offset bigint"
)


def _pack_arrays(ns, start_bin: int, start_fill: int, capacity: int):
    """First-fit scan over one group's lengths, starting from carried
    state; returns (bin_ids, offsets, end_bin, end_fill). start_fill < 0
    marks a fresh group (first doc always opens bin 0 at offset 0)."""
    bin_ids, offsets = [], []
    bin_id, fill = start_bin, start_fill
    for n in ns:
        n = int(n)
        if fill < 0:
            bin_id, off, fill = 0, 0, n
        elif fill + n > capacity:
            bin_id, off, fill = bin_id + 1, 0, n
        else:
            off, fill = fill, fill + n
        bin_ids.append(bin_id)
        offsets.append(off)
    return bin_ids, offsets, bin_id, fill


def pack_sequences(
    docs: DataFrame,
    capacity: int = 1024,
    group_col: str = "source",
    order_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Sequential first-fit sequence packing (training-batch assembly):
    within each group, walk documents in order and append to the current
    bin until the next one would exceed `capacity`, then open a new bin.
    Emits (bin_id, seq_offset) per document.

    A genuinely stateful per-group scan — each decision depends on the
    running fill — i.e. exactly the shape SQL window functions can NOT
    express (the oracle needs a recursive CTE). Built partition-aware:
    hash-repartition on the group key, sort within partitions so groups
    arrive contiguous and ordered, then ONE mapInPandas pass (one Python
    call per Arrow batch, not per group). The cross-batch carry is just
    three scalars (current key, open bin, fill) — no rows are buffered,
    so peak memory is one Arrow batch regardless of group size. A group
    is processed by a single task (first-fit with cross-shard bins is
    inherently sequential); parallelism comes from the number of groups.
    When within-group parallelism is required at the 100 TB posture, use
    :func:`pack_sequences_sharded`, which bounds bins to sub-shards and
    packs them all concurrently."""

    def per_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cur_key = None
        bin_id, fill = 0, -1  # fill < 0 → no open group
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf[group_col].to_numpy()
            ns = pdf[len_col].to_numpy()
            bin_ids = [0] * len(pdf)
            offsets = [0] * len(pdf)
            start = 0
            while start < len(pdf):
                end = start
                while end < len(ns) and keys[end] == keys[start]:
                    end += 1
                if keys[start] != cur_key:
                    cur_key, bin_id, fill = keys[start], 0, -1
                b, o, bin_id, fill = _pack_arrays(
                    ns[start:end], bin_id, fill, capacity
                )
                bin_ids[start:end] = b
                offsets[start:end] = o
                start = end
            yield pd.DataFrame(
                {
                    "source": pdf[group_col],
                    "doc_id": pdf[order_col],
                    "n_chars": pdf[len_col].astype("int64"),
                    "bin_id": pd.Series(bin_ids, dtype="int64"),
                    "seq_offset": pd.Series(offsets, dtype="int64"),
                }
            )

    return (
        docs.select(group_col, order_col, len_col)
        .repartition(group_col)
        .sortWithinPartitions(group_col, order_col)
        .mapInPandas(per_partition, PACK_SCHEMA)
    )


def pack_sequences_sharded(
    docs: DataFrame,
    capacity: int = 1024,
    shard_size: int = 1000,
    group_col: str = "source",
    order_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Embarrassingly-parallel packing for the 100 TB posture: bins are
    bounded to (group, order DIV shard_size) sub-shards, every sub-shard
    packs concurrently with first-fit, and shard-local bin ids are
    stitched into group-global ones by offsetting with a window cumsum
    of the per-shard bin counts (1 row per shard — broadcast-joined).

    The semantic trade vs :func:`pack_sequences`: a bin never spans a
    shard boundary, so the last bin of each shard may be under-filled
    (bounded waste: ≤ 1 bin per shard_size docs) — in exchange no task
    ever sees more than shard_size rows and a single giant group no
    longer serializes onto one task."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    shard = F.expr(f"{order_col} DIV {shard_size}").alias("__shard")

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        bin_ids, offsets, _, _ = _pack_arrays(
            pdf[len_col].to_numpy(), 0, -1, capacity
        )
        return pd.DataFrame(
            {
                "source": pdf[group_col],
                "__shard": pdf["__shard"],
                "doc_id": pdf[order_col],
                "n_chars": pdf[len_col].astype("int64"),
                "local_bin": pd.Series(bin_ids, dtype="int64"),
                "seq_offset": pd.Series(offsets, dtype="int64"),
            }
        )

    local = (
        docs.select(group_col, order_col, len_col, shard)
        .groupBy(group_col, "__shard")
        .applyInPandas(
            pack_shard,
            "source string, __shard bigint, doc_id bigint, n_chars bigint,"
            " local_bin bigint, seq_offset bigint",
        )
        # round 16: `local` feeds BOTH the shard-offset aggregate and
        # the final join — without the checkpoint the entire upstream
        # pipeline (incl. whatever expensive gate produced `docs`)
        # executed twice per action (measured 4.0 s → 3.1 s on the
        # curation pipeline at sf0.1). The packed frame is narrow; at
        # scale this is the standard write-the-boundary step.
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_offsets = (
        local.groupBy(group_col, "__shard")
        .agg((F.max("local_bin") + 1).alias("n_bins"))
        .withColumn(
            "bin_offset", F.coalesce(F.sum("n_bins").over(w), F.lit(0))
        )
        .select(group_col, "__shard", "bin_offset")
    )
    return (
        local.join(F.broadcast(shard_offsets), [group_col, "__shard"])
        .select(
            group_col,
            "doc_id",
            "n_chars",
            (F.col("local_bin") + F.col("bin_offset")).alias("bin_id"),
            "seq_offset",
        )
    )
