"""Text-analysis operators for the documents table.

All pure Column expressions (JVM-side, whole-stage codegen): tokenize,
n-gram shingles, token stats, language-ID heuristic, quality score,
fingerprint. No UDFs anywhere — at 100 TB these run at scan speed with
zero Python serialization.

The language-ID heuristic is a deterministic marker-word occurrence
count (the classic n-gram/stopword approach compressed to something an
external SQL oracle can replicate bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c):
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c) -> Column:
    """Lowercase + trim — the canonical form used by every operator."""
    return F.trim(F.lower(_c(c)))


def tokens(c) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(c), r"\s+")


def token_count(c) -> Column:
    return F.size(tokens(c)).cast("bigint")


# GPT-2-style pre-tokenizer classes: contraction suffixes, space-prefixed
# letter runs, space-prefixed digit runs, space-prefixed punctuation runs,
# residual whitespace. Kept to syntax shared by Java regex (Spark) and
# RE2 (DuckDB) so the count is oracle-checkable.
BPE_SPLIT_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_tokens(c) -> Column:
    """BPE-ish pre-tokenization (the merge step of real BPE operates
    within these pieces, so their count upper-bounds and tracks the true
    token count far better than whitespace words do — code/punctuation
    split out, contractions split off)."""
    return F.regexp_extract_all(_c(c), F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(c) -> Column:
    """Piece count excluding pure-whitespace pieces."""
    return F.size(
        F.filter(bpe_tokens(c), lambda t: ~t.rlike(r"^\s+$"))
    ).cast("bigint")


def ngrams_from_tokens(t: Column, n: int) -> Column:
    """N-gram shingles from an ALREADY-MATERIALIZED token array column.

    Pass an attribute (e.g. a column produced by a previous projection),
    not the tokens() expression itself: Spark inlines expression arguments
    into the slice lambda, re-evaluating them once per n-gram element.
    """
    count = F.size(t) - n + 1
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    return F.when(count >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(c, n: int) -> Column:
    """Word n-gram shingles (distinct), the MinHash/Jaccard unit.

    Empty result (not a 1-element junk gram) when the doc has < n tokens.
    NOTE: for hot paths prefer materializing tokens() in a projection and
    calling ngrams_from_tokens — see that function's warning.
    """
    return ngrams_from_tokens(tokens(c), n)


# Marker-word sets per language. Occurrence counting (not word-boundary
# matching) so the arithmetic is replicable in any SQL engine:
# occurrences(s, m) = (len(s) - len(replace(s, m, ''))) / len(m).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "ein"),
    "fr": ("le", "et", "les"),
    "es": ("el", "que", "los"),
}


def _occurrences(s: Column, marker: str) -> Column:
    return (F.length(s) - F.length(F.replace(s, F.lit(marker), F.lit("")))) / len(
        marker
    )


def lang_score(c, lang: str) -> Column:
    s = normalize_text(c)
    score = F.lit(0.0)
    for m in LANG_MARKERS[lang]:
        score = score + _occurrences(s, m)
    return score.cast("bigint")


def lang_id(c) -> Column:
    """Argmax of marker scores with deterministic tie-break (language
    order as listed); 'und' (undetermined) when all scores are 0."""
    scores = {lang: lang_score(c, lang) for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # Build reversed WHEN chain so earlier languages win ties.
    for lang in reversed(list(LANG_MARKERS)):
        result = F.when(
            (scores[lang] > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(result)
    return result


def quality_score(c) -> Column:
    """Deterministic 0-1 quality heuristic: token-count band + mean token
    length band + alpha ratio. Mirrors the shape of published LLM-corpus
    quality filters (length/punctuation/stopword gates) with exactly
    reproducible arithmetic.

    The result is the RAW double — every term is either an exact
    constant or a single int/int division scaled once, and both engines
    evaluate the identical expression shape, so the sum is bit-exact
    WITHOUT rounding. A trailing round(x, 4) is the thing that is NOT
    cross-engine-safe: Spark rounds via BigDecimal over the double's
    exact binary value while DuckDB rounds x*1e4 (whose multiply can
    land on the other side of a half) — observed to differ on one sf0.1
    document."""
    s = normalize_text(c)
    n_tok = F.size(tokens(c))
    mean_tok_len = F.length(F.regexp_replace(s, r"\s+", "")) / n_tok
    alpha_ratio = (
        F.length(F.regexp_replace(s, r"[^a-z]", "")) / F.greatest(F.length(s), F.lit(1))
    )
    len_component = F.when((n_tok >= 20) & (n_tok <= 80), 0.4).otherwise(
        F.when((n_tok >= 5) & (n_tok < 20), 0.2).otherwise(0.0)
    )
    tokl_component = F.when((mean_tok_len >= 3) & (mean_tok_len <= 8), 0.3).otherwise(
        0.1
    )
    return len_component + tokl_component + alpha_ratio * 0.3


def fingerprint(c) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed normalized text —
    the exact-dedup key."""
    return F.md5(F.regexp_replace(normalize_text(c), r"\s+", " "))


# Winnowing (rolling-hash) fingerprint parameters. BASE/MOD chosen so the
# polynomial hash arithmetic stays exactly within int64 in every engine:
# code <= 122, BASE^j mod MOD < 2^31 → each term < 2^38, 8-term sum < 2^41.
WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window (hashes per window)
WINNOW_BASE = 131
WINNOW_MOD = 2_147_483_647  # 2^31 - 1


def winnow_fingerprints(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): polynomial rolling hash over char k-grams of the
    normalized text, then the minimum hash of each w-window of
    consecutive positions; the distinct window-minima are the document's
    fingerprint set. Returns (id_col, fp bigint) rows.

    Round 16 (optimization): the hash/window stage is an Arrow
    ``mapInArrow`` kernel over vectorized NumPy (guide §4.2 — hand whole
    batches to native code) instead of the previous Catalyst
    higher-order-function chain, which evaluated an interpreted 8-term
    ``element_at`` sum per k-gram position (~7 ms/doc measured; the
    kernel is 3.6× faster end to end at sf0.1 and the gap grows with
    doc length). Normalization stays a JVM ``regexp_replace`` so the
    byte stream entering the hash is bit-identical to the previous
    implementation and the DuckDB oracle. The plan remains map-only
    (zero exchanges — the t07 plan-contract test); the kernel is
    O(n·k) per doc in exact int64 (max term 122·2³¹ < 2³⁸, 8-term
    convolution sum < 2⁴¹), identical integers to the oracle's
    list_transform formula.
    """
    powers = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]
    s = F.regexp_replace(
        F.regexp_replace(normalize_text(text_col), r"\s+", " "), r"[^a-z0-9 ]", ""
    )
    src = docs.select(F.col(id_col), s.alias("s"))

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        from numpy.lib.stride_tricks import sliding_window_view

        rev_powers = np.array(powers[::-1], dtype=np.int64)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            texts = batch.column(1).to_pylist()
            out_ids: list = []
            out_fps: list = []
            for i, txt in enumerate(texts):
                if txt is None:
                    continue
                # post-normalization the text is pure [a-z0-9 ] ASCII,
                # so byte values == the JVM ascii() codes
                b = np.frombuffer(
                    txt.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                if b.size < k:
                    continue
                h = np.convolve(b, rev_powers, mode="valid") % WINNOW_MOD
                if h.size < w:
                    continue
                mins = sliding_window_view(h, w).min(axis=1)
                fps = np.unique(mins)
                out_ids.append(np.full(fps.size, ids[i], dtype=np.int64))
                out_fps.append(fps)
            if out_ids:
                yield pa.record_batch(
                    [
                        pa.array(np.concatenate(out_ids)),
                        pa.array(np.concatenate(out_fps)),
                    ],
                    names=[id_col, "fp"],
                )

    return src.mapInArrow(kernel, f"{id_col} long, fp long")


def corpus_stopword_filter(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 10,
    preview: int = 10,
):
    """C4/CCNet-style corpus-frequency boilerplate filtering: the top-N
    most frequent tokens corpus-wide (count DESC, token ASC — fully
    deterministic tie-break) form the stoplist; every document drops
    them. Emits per doc: total tokens, kept tokens, and the first
    ``preview`` kept tokens in original order.

    Shape at scale: the frequency pass is one map-side-combined groupBy;
    the stoplist is top-N via TakeOrdered (distributed partial top-k, no
    global sort) and joins back as a BROADCAST anti-join, so the corpus
    pass is scan-speed with no second shuffle of the token stream beyond
    the per-doc re-aggregation.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    stop = (
        toks.groupBy("tok")
        .count()
        .orderBy(F.desc("count"), F.asc("tok"))
        .limit(top_n)
        .select("tok")
    )
    kept = toks.join(F.broadcast(stop), "tok", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                1,
                preview,
            ),
            " ",
        ).alias("kept_preview"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_preview", F.lit("")).alias("kept_preview"),
    )


def char_trigrams(norm_col: str) -> Column:
    """All character trigrams of an ALREADY-NORMALIZED text column, in
    order and WITH multiplicity (an LM-style frequency feature, not a
    shingle set). Empty array below 3 chars.

    Pass a MATERIALIZED column name (a projection of normalize_text),
    never an expression: Spark inlines expression arguments into the
    HOF lambda, re-running e.g. trim(lower(text)) once per trigram —
    O(len²) per doc (the same trap shingle_sets documents). SQL-text
    form because the Python ``substring`` API needs a literal position,
    not the lambda variable."""
    return F.expr(
        f"transform(sequence(1, greatest(length({norm_col}) - 2, 0)),"
        f" i -> substring({norm_col}, i, 3))"
    )


def trigram_lm_scores(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max: int = 2,
):
    """Corpus-trained character-trigram frequency scoring — the shape of
    CCNet/Gopher LM-based quality filtering without an external model:
    documents whose trigrams are rare in the corpus read as noise/garble,
    ones made of common trigrams read as natural text.

    Per doc: ``n_grams`` (trigram occurrences), ``sum_freq`` (exact
    BIGINT sum of each occurrence's corpus frequency), ``mean_freq`` and
    ``rare_ratio`` (share of occurrences whose corpus frequency ≤
    ``rare_max``) — both a SINGLE IEEE division of exact integers, so
    the result hash-matches an external SQL oracle (registry docstring
    pattern). Docs with < 3 chars produce no trigrams and drop out,
    mirroring the oracle's inner join.

    Scale shape: one corpus pass builds the model (groupBy gram,
    map-side combinable); the model is BROADCAST back onto the gram
    stream (char-trigram vocabulary is bounded by charset³, independent
    of corpus size — the property that makes this viable at 100 TB);
    one more groupBy(doc) folds the scores. No UDFs anywhere.
    """
    grams = docs.select(
        F.col(id_col), normalize_text(text_col).alias("_t")
    ).select(F.col(id_col), F.explode(char_trigrams("_t")).alias("g"))
    model = grams.groupBy("g").agg(F.count(F.lit(1)).alias("freq"))
    return (
        grams.join(F.broadcast(model), "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("freq").cast("bigint").alias("sum_freq"),
            F.sum(
                F.when(F.col("freq") <= rare_max, F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("rare_n"),
        )
        .select(
            id_col,
            "n_grams",
            "sum_freq",
            (
                F.col("sum_freq").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("mean_freq"),
            (
                F.col("rare_n").cast("double") / F.col("n_grams").cast("double")
            ).alias("rare_ratio"),
        )
    )


def chunk_dedup_docs(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 6,
):
    """Sub-document exact dedup with reassembly — the RefinedWeb-style
    pass that strips passages repeated across the corpus while keeping
    each passage's FIRST occurrence (by (doc_id, position)) in place.
    The passage unit is a fixed ``chunk_tokens``-token window (the
    fixture corpus has no sentence punctuation; on real text swap the
    chunker for a sentence splitter — the dedup core is unchanged).

    Returns one row per doc: ``n_chunks``, ``n_kept``, ``dedup_text``
    (surviving chunks rejoined in original order; empty when the whole
    doc was shadowed).

    Scale shape: canonical occurrences come from ``min(struct(doc_id,
    pos))`` per chunk — a map-side-combinable aggregate, NOT a window
    over the chunk partition, so a boilerplate passage repeated
    millions of times never forces a single-partition sort (the skew
    trap of the row_number formulation). One shuffle on the chunk hash
    + one keyed join back + one per-doc regroup.
    """
    from pyspark.sql import functions as F

    n = chunk_tokens
    n_chunks = F.floor((F.size("_toks") + (n - 1)) / F.lit(n)).cast("int")
    base = docs.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    ).select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.array_join(
                F.slice(F.col("_toks"), (i - 1) * n + 1, n), " "
            ),
        ).alias("sents"),
    )
    ex = base.select(
        F.col(id_col), F.posexplode("sents").alias("pos", "sent")
    )
    # rename the aggregation's key columns: mins derives from ex, and a
    # join on same-named columns trips Spark's ambiguous-self-join check
    mins = (
        ex.groupBy("sent")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).alias("m")
        )
        .select(
            F.col("sent").alias("msent"),
            F.col("m.d").alias("mdoc"),
            F.col("m.p").alias("mpos"),
        )
    )
    kept = ex.join(
        mins,
        (F.col("sent") == F.col("msent"))
        & (F.col(id_col) == F.col("mdoc"))
        & (F.col("pos") == F.col("mpos")),
    ).select(id_col, "pos", "sent")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                lambda s: s["sent"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    counts = base.select(
        F.col(id_col), F.size("sents").cast("bigint").alias("n_chunks")
    )
    return counts.join(agg, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


CDC_DIVISOR = 64  # boundary when rolling hash % divisor == 0 (~64-char chunks)


def cdc_chunks(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    divisor: int = CDC_DIVISOR,
):
    """Content-defined chunking (Rabin/FastCDC shape): chunk boundaries
    fall where the rolling k-gram hash ≡ 0 (mod divisor), so an insert
    or delete only moves the boundaries NEAR the edit — unlike fixed-
    size chunks, where one shifted byte re-fingerprints the whole tail.
    The chunk fingerprint set is the storage-dedup / delta-sync unit.

    Returns (id, chunk_idx, chunk_len, chunk_md5) rows.

    Round 16 (optimization, guide §4.2): the rolling-hash / boundary /
    chunk-md5 stage is the same Arrow+NumPy kernel shape as
    winnow_fingerprints (the previous Catalyst HOF chain evaluated an
    interpreted 8-term sum per position); normalization stays JVM
    regexp so the byte stream is bit-identical to the oracle, hashes
    are exact int64, and chunk md5 is hashlib over the same ASCII
    bytes the JVM md5 hashed. Map-only, no shuffle, same rows.
    """
    powers = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]
    s = F.regexp_replace(
        F.regexp_replace(normalize_text(text_col), r"\s+", " "), r"[^a-z0-9 ]", ""
    )
    src = docs.select(F.col(id_col), s.alias("s"))

    def kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        rev_powers = np.array(powers[::-1], dtype=np.int64)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            texts = batch.column(1).to_pylist()
            o_id: list = []
            o_idx: list = []
            o_len: list = []
            o_md5: list = []
            for i, txt in enumerate(texts):
                if txt is None:
                    continue
                raw = txt.encode("ascii")
                b = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                if b.size >= k:
                    h = np.convolve(b, rev_powers, mode="valid") % WINNOW_MOD
                    # cut at 1-based hash positions 2..len(h) where
                    # h ≡ 0 (mod divisor) — identical to the old
                    # element_at(hs, i) % divisor == 0 filter
                    cuts = (np.nonzero(h[1:] % divisor == 0)[0] + 2).tolist()
                else:
                    cuts = []
                bounds = [1] + cuts + [len(raw) + 1]
                for j in range(len(bounds) - 1):
                    lo, hi = bounds[j], bounds[j + 1]
                    o_id.append(ids[i])
                    o_idx.append(j + 1)
                    o_len.append(hi - lo)
                    o_md5.append(
                        hashlib.md5(raw[lo - 1 : hi - 1]).hexdigest()
                    )
            yield pa.record_batch(
                [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_idx, type=pa.int64()),
                    pa.array(o_len, type=pa.int64()),
                    pa.array(o_md5, type=pa.string()),
                ],
                names=[id_col, "chunk_idx", "chunk_len", "chunk_md5"],
            )

    return src.mapInArrow(
        kernel, f"{id_col} long, chunk_idx long, chunk_len long, chunk_md5 string"
    )


def positional_ngrams(t: Column, n: int) -> Column:
    """Positional k-gram structs (pos, gram) — NOT distinct, position
    matters: the unit of substring-level duplicate detection. pos is the
    0-based index of the gram's first token. Same materialization rule
    as ngrams_from_tokens: pass an attribute, not the tokens() tree."""
    count = F.size(t) - n + 1
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.struct(
            (i - 1).cast("bigint").alias("pos"),
            F.array_join(F.slice(t, i, n), " ").alias("gram"),
        ),
    )
    return F.when(count >= 1, grams).otherwise(
        F.array().cast("array<struct<pos:bigint,gram:string>>")
    )


def duplicate_spans(
    docs,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Substring-level duplicate-span detection — the ExactSubstr-dedup
    semantics of Lee et al. 2022 (arXiv:2107.06499) at k-token-gram
    granularity, without the suffix array: a span is duplicated when
    every k-gram inside it occurs >= min_count times corpus-wide
    (within-doc repeats count, exactly like a suffix array would see
    them). Adjacent duplicated grams merge into maximal spans via
    gaps-and-islands (pos - row_number), so a 50-token copied paragraph
    reports as ONE span [start, end], the removal unit for training-set
    substring dedup.

    Returns (id, span_start, span_end, span_tokens, n_grams); token
    indices are 0-based and inclusive.

    Scale: no all-pairs stage anywhere. Shuffles are (1) the gram
    occurrence count — map-side partial-combined, key = gram; (2) the
    gram equi-join back (AQE-planned, skew-splittable: a degenerate
    ultra-hot gram, e.g. a boilerplate sentence, lands on the dup side
    as a SINGLE row since it is pre-aggregated); (3) the per-doc window
    + final span groupBy, both hash-partitioned by doc id. At 100 TB
    the gram count dominates; it is the same shape as d07's n-gram
    decontamination join and would take the same bucketing treatment.
    """
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), tokens(text_col).alias("toks"))
    grams = toks.select(
        F.col(id_col),
        F.explode(positional_ngrams(F.col("toks"), k)).alias("pg"),
    ).select(id_col, F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_count)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_grams",
        )
    )


def term_frequencies(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id[, extras], term) → tf frame — the shared first stage of the
    corpus-statistics operators (bm25_top_terms, importance_weights):
    whitespace tokens of the normalized text, empty terms dropped, one
    count shuffle keyed on (id, term). ``extra_cols`` are
    (alias, Column) pairs carried through the aggregation key —
    per-document attributes like a target-slice flag.

    NOT pinned here: a consumer that derives several differently-pruned
    branches pins the frame for its own query (the plans layer's
    ``plans/textops._tf`` takes a lazy ``localCheckpoint``) and passes
    it via the consumers' ``tf=`` parameter."""
    keys = [F.col(id_col)] + [c.alias(a) for a, c in extra_cols]
    toks = df.select(
        *keys, F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    return toks.groupBy(
        id_col, *[a for a, _c in extra_cols], "term"
    ).agg(F.count(F.lit(1)).alias("tf"))


def bm25_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 3,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document top-``top_k`` salient terms by a BM25-family score
    (round 14) — the lexical-importance primitive of curation pipelines
    (seed-set relevance filtering, keyword profiling, DSIR-style
    importance weighting all start from exactly this tf/df/dl table).

    Score = ``tf·(k1+1) / (tf + k1·(0.25 + 0.75·dl/avgdl)) ·
    (N − df + 0.5)/(df + 0.5)`` with k1=1.2, b=0.75 — textbook BM25
    except the idf keeps its RATIONAL form instead of ln(): the repo's
    engine-exactness rule admits only exactly-rounded IEEE ops
    (+,−,×,÷ and sqrt); ln differs by ulps across libm
    implementations, which would make the top-k order — and therefore
    the oracle hash — engine-dependent. The rational idf preserves
    df-monotonicity (it is exp of the ln form), compressing nothing a
    saliency ranking needs; consumers wanting classic ln-idf can apply
    ln to the emitted (tf, df) columns downstream.

    Scale design (100 TB): the token explode is map-local; the
    (doc, term) TF aggregation is the one big shuffle (map-side
    combined) and should be PINNED by the caller — document length,
    document frequency and the corpus scalars all derive from that one
    frame, but Catalyst prunes each branch's aggregate differently,
    which defeats exchange reuse (measured: 4 parquet scans without
    the pin, 1 with). Pass a pinned frame via ``tf=`` (the plans layer
    builds one per query under a lazy ``localCheckpoint``); with
    ``tf=None`` the frame is built inline, unpinned — correct,
    re-scanned per branch. The corpus scalars
    (N, Σdl) ride a broadcast 1-row crossJoin; the df table joins on
    the term key (vocab-sized, AQE-broadcastable); top-k is a
    per-document window over rows already reduced to (doc, term)
    granularity with WindowGroupLimit pushdown. No driver collect.
    """
    from pyspark.sql import Window

    if tf is None:
        tf = term_frequencies(df, id_col, text_col)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    # fixed parenthesization — the oracle spells the identical shape
    tf_part = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl))
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    scored = (
        tf.join(dl, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            F.col(id_col),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (tf_part * idf).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= top_k)
    )


def importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    target_value: str,
    tf: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style distributional importance score per document (round
    14): how much more a document's unigram distribution looks like the
    TARGET slice (rows where ``target_col == target_value``) than like
    the whole corpus — the primitive behind importance resampling of
    pretraining data toward a seed domain (Xie et al., "Data Selection
    for Language Models via Importance Resampling").

    DSIR sums log-probability ratios; libm ``ln`` differs by ulps
    across engines, so this operator scores with the exactly-computable
    linear form instead: per token occurrence of term ``w`` the
    contribution is ``p_target(w) − p_corpus(w)``, accumulated over the
    document as ONE exact integer numerator over the common denominator
    ``N_t·N_c``::

        score = Σ_w tf(w)·(c_t(w)·N_c − c_c(w)·N_t)  /  (N_t·N_c)

    where ``c_t/c_c`` are target/corpus occurrence counts and
    ``N_t/N_c`` their totals. Every product and the sum are integer
    DECIMAL(38,0) — exact at any partitioning — and the single final
    double division is deterministic IEEE. Positive ⇒ the document
    leans toward the target distribution.

    Scale design: one (doc, term) TF shuffle — three branches derive
    from it, so callers should pass a pinned frame via ``tf=`` (see
    bm25_top_terms; the plans layer pins one per query). Term-level
    target/corpus counts aggregate FROM the tf frame (map-side
    combined); totals ride a broadcast 1-row crossJoin; the scoring
    join is a term-keyed equi-join.

    Degenerate target (ADVICE r14): a ``target_value`` matching no rows
    gives N_t = 0 and the score ratio is undefined — double division by
    zero yields NaN/±Inf silently even under ANSI, so the final division
    is guarded and every score is NULL in that case (the same
    precision-NULL convention as the d16 tuning profile), never a
    silent NaN.

    Exactness bound: the numerator sum lives in DECIMAL(38,0) —
    |Σ| < 10^38. A term's contribution is ≤ tf·c·N ≈ dl·N² per doc:
    at a 2.5·10^13-token corpus (≈100 TB of text) with 10^4-token
    documents that is ~10^35, three orders inside the bound; corpora
    beyond that should hash terms into K buckets first (DSIR's own
    construction), which shrinks every c·N product by K. This repo's
    session runs ANSI mode, where a DECIMAL(38,0) overflow RAISES
    (NUMERIC_VALUE_OUT_OF_RANGE) instead of yielding NULL — loud by
    default; only a session that explicitly disables ANSI gets silent
    NULL scores and would need an IS NOT NULL assertion.
    """
    if tf is None:
        tf = term_frequencies(
            df, id_col, text_col,
            extra_cols=(
                ("_is_t", F.col(target_col) == F.lit(target_value)),
            ),
        )
    term_counts = tf.groupBy("term").agg(
        F.sum("tf").alias("c_c"),
        F.sum(F.when(F.col("_is_t"), F.col("tf")).otherwise(0)).alias("c_t"),
    )
    totals = term_counts.agg(
        F.sum("c_c").alias("n_c"), F.sum("c_t").alias("n_t")
    )
    dec = "decimal(38,0)"
    num = F.sum(
        (
            F.col("tf").cast(dec)
            * (
                F.col("c_t").cast(dec) * F.col("n_c").cast(dec)
                - F.col("c_c").cast(dec) * F.col("n_t").cast(dec)
            )
        )
    )
    return (
        tf.join(term_counts, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col, "_is_t")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            num.alias("_num"),
            F.first("n_t").alias("_n_t"),
            F.first("n_c").alias("_n_c"),
        )
        .select(
            F.col(id_col),
            F.col("_is_t").alias("is_target"),
            "n_tokens",
            F.when(
                F.col("_n_t") > 0,
                F.col("_num").cast("double")
                / (F.col("_n_t").cast("double") * F.col("_n_c")),
            ).alias("score"),
        )
    )
