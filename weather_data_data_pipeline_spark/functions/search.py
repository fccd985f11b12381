"""Full-text relevance ranking and cross-corpus contamination detection.

Capabilities the reference (a fixed-schema weather ETL,
`/root/reference/src/weather_report_pipeline/`) never needed but a
training-data pipeline does: score documents against a term query
(BM25) and measure train/eval n-gram overlap (decontamination) — both
expressed as pure DataFrame plans so Catalyst keeps the scan pruned and
the aggregates partial+final.

Scale design (100 TB corpus):

- BM25: the per-(doc, term) term-frequency table is built by exploding
  tokens and filtering to the query terms FIRST — the explode output is
  pruned to |query| terms before any shuffle, so shuffle volume is
  O(matching docs × query terms), not O(corpus tokens). Document
  frequencies and corpus stats are tiny aggregates broadcast back into
  the plan (1-row cross join + broadcast hash join) — no driver-side
  collection.
- Contamination: the train-side distinct n-gram set is the big
  intermediate; it is carried as 8-byte xxhash64 longs, never strings,
  and the eval side probes it with a left-semi/left-outer join keyed on
  the hash. At 100 TB the train shingle table is exactly the bloom /
  posting structure a decontamination pipeline persists between runs.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.functions.dedup import (
    hashed_shingles,
    shingle_array,
)


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag-of-terms query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (Robertson/Sparck-Jones,
    the Lucene formulation). Documents matching no term are omitted
    (score 0).

    Returns (id, score) with ``score`` unrounded — callers round/alias.

    Plan shape (r11 — the explode→groupBy(doc,term)→groupBy(term)→
    3-way-join chain cost 4-5 exchanges and dominated the hybrid
    family's wall): for a bag-of-terms query the per-term tf is a
    codegen'd ``size(filter(tokens, x -> x = term))`` COLUMN, so the
    whole per-document side is ONE narrow projection with no explode
    and no shuffle; (n_docs, avgdl, df_t…) collapse into ONE single-row
    global aggregate broadcast back via the benign 1-row BNLJ, and the
    score is a fixed-order expression sum (absent terms contribute
    +0.0, which is IEEE-exact). Total: one scan, one 1-row aggregate
    exchange — shuffle volume O(1) instead of O(matching docs ×
    terms). The expression form scans each token list once per query
    term, so it wins for interactive-sized term bags (m ≲ dozens); a
    corpus-sized term table would want the explode path back.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        # empty query → no document matches any term (the explode form
        # returned an empty frame here; the expression form would
        # otherwise index terms[0])
        return (
            df.select(F.col(id_col), F.lit(0.0).alias("score"))
            .where(F.lit(False))
        )
    # Parsed expr strings throughout: each selectExpr/expr below is ONE
    # parse of the expression tree the per-term Column chains build.
    # Measured (sf0.1, 4 vCPUs): Column chains took bm25_search_topk's
    # plan build from 94 to 426 py4j calls and 0.15 to 0.20 s of CPU.
    # Single quotes in terms are escaped for the SQL literal.
    def _q(t: str) -> str:
        return t.replace("\\", "\\\\").replace("'", "\\'")

    proj = df.selectExpr(
        f"`{id_col}`",
        f"size(split(`{text_col}`, ' ')) AS dl",
        *[
            f"size(filter(split(`{text_col}`, ' '), x -> x = '{_q(t)}'))"
            f" AS _tf{i}"
            for i, t in enumerate(terms)
        ],
    )
    stats = proj.agg(
        F.expr("count(*) AS n_docs"),
        F.expr("avg(dl) AS avgdl"),
        *[
            F.expr(f"sum(CAST(_tf{i} > 0 AS BIGINT)) AS _df{i}")
            for i in range(len(terms))
        ],
    )

    def term_score(i: int) -> str:
        tf = f"CAST(_tf{i} AS DOUBLE)"
        idf = f"ln(1.0D + (n_docs - _df{i} + 0.5D) / (_df{i} + 0.5D))"
        tf_norm = (
            f"(({tf} * {k1 + 1!r}D) / ({tf} + {k1!r}D * "
            f"({1 - b!r}D + {b!r}D * dl / avgdl)))"
        )
        return f"CASE WHEN _tf{i} > 0 THEN {idf} * {tf_norm} ELSE 0.0D END"

    total = " + ".join(f"({term_score(i)})" for i in range(len(terms)))
    matched = " OR ".join(f"(_tf{i} > 0)" for i in range(len(terms)))
    return (
        proj.crossJoin(F.broadcast(stats))
        .where(F.expr(matched))
        .select(F.col(id_col), F.expr(f"{total} AS score"))
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 hits, deterministically ordered (rounded score desc,
    id asc). orderBy+limit compiles to TakeOrderedAndProject: each
    partition keeps its local top-k and only k rows reach the driver
    side of the exchange — no global sort."""
    scored = bm25_scores(df, id_col, text_col, query_terms, k1, b)
    return (
        scored.select(id_col, F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k_rrf: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (Cormack/Clarke/Büttcher,
    SIGIR 2009): score(d) = Σ_lists 1/(k_rrf + rank_d), summed over the
    lists that ranked d at all.

    Each input carries (``id_col``, ``rank``) with rank 1-based and
    already truncated to the caller's candidate depth — RRF only ever
    sees the per-retriever top-N, so the fusion input is O(N·lists)
    rows regardless of corpus size. The union + groupBy shuffles that
    candidate sliver only; at 100 TB the retrievers bound the work, not
    the fusion.

    Output: (id, rrf_score, n_lists, best_rank), deterministically
    ordered (rounded score desc, id asc) and truncated to ``topk`` via
    TakeOrderedAndProject — per-partition heaps, no global sort.
    """
    tagged = [
        r.select(F.col(id_col), F.col("rank").cast("int").alias("rank"))
        for r in rankings
    ]
    unioned = reduce(DataFrame.unionByName, tagged)
    return (
        unioned.groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank"))), 6
            ).alias("rrf_score"),
            F.count("*").cast("int").alias("n_lists"),
            F.min("rank").cast("int").alias("best_rank"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(topk)
    )


def bm25_rankings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    depth: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, rank) candidate list for RRF: BM25 scores ranked by
    (rounded score desc, id asc), truncated to ``depth``.

    Ranks are computed over the 4-dp ROUNDED score so the ordering is
    bit-stable across engines (matches the bm25_search_topk oracle
    convention). The rank<=depth predicate compiles to WindowGroupLimit:
    each partition keeps a depth-sized heap before the single window
    exchange, so the sort input is O(depth × partitions), not O(corpus).
    """
    from pyspark.sql import Window

    scored = bm25_scores(df, id_col, text_col, query_terms, k1, b)
    w = Window.orderBy(F.desc("s"), F.asc(id_col))
    return (
        scored.select(id_col, F.round("score", 4).alias("s"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= depth)
        .select(id_col, "rank")
    )


def _contamination_from_grams(
    ev_grams: DataFrame,
    train_grams: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """Shared scoring tail of :func:`ngram_contamination` and
    :func:`ngram_contamination_bloom` — the two are contractually
    output-identical, so the hit count / totals / fraction logic must
    live exactly once."""
    hits = (
        ev_grams.join(train_grams, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = eval_df.select(
        F.col(id_col), F.size(shingle_array(text_col, n)).alias("n_ngrams")
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            "n_ngrams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0))
                / F.greatest(F.col("n_ngrams"), F.lit(1)),
                4,
            ).alias("contamination"),
        )
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-eval-document n-gram contamination against a train corpus.

    For each eval document: the fraction of its DISTINCT word n-grams
    that occur anywhere in the train corpus — the standard
    train/test-overlap decontamination check run before an eval set is
    trusted. Output: (id, n_ngrams, n_contaminated, contamination),
    one row per eval document (0.0 when nothing overlaps).

    Join keys are xxhash64 longs (8 bytes) rather than n-gram strings;
    a 64-bit collision shifts one count by 1 with probability ~2^-64.
    """
    train_grams = (
        train.select(F.explode(shingle_array(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("h"))
        .dropDuplicates()
    )
    ev_grams = hashed_shingles(eval_df, id_col, text_col, n)
    return _contamination_from_grams(
        ev_grams, train_grams, eval_df, id_col, text_col, n
    )


def ngram_contamination_prescreen(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """:func:`ngram_contamination` with an EXACT broadcast prescreen on
    the train side — the one-job batch shape. A same-session study
    (BASELINE.md) timed it level with the exact twin, while the Bloom
    form's extra build action was its whole gap to that twin.

    The bounded eval set's distinct gram hashes broadcast to the train
    gram scan as a left-semi probe BEFORE any shuffle, so only train
    grams that genuinely overlap the eval set leave the scan stage —
    and because the prescreen is exact (not a Bloom), the surviving
    train gram set is a SUBSET of the eval gram set, hence itself
    bounded by the eval premise and broadcast BACK to the per-doc hit
    count. Net: the 100 TB train side contributes one scan plus a
    KB-scale distinct of the overlap sliver; no driver-side action, no
    corpus-wide dropDuplicates, no shuffle of eval grams.

    vs :func:`ngram_contamination_bloom`: the Bloom form pays one extra
    bounded driver ACTION to freeze the filter into a literal — the
    right trade when the filter must outlive the query (streaming
    sinks, :func:`~weather_data_data_pipeline_spark.functions.dedup.
    decontamination_eval_state`) or when the eval gram set outgrows an
    exact broadcast (the Bloom stays KB-scale up to 2^23 bits). For a
    one-shot batch query the extra action is pure overhead — measured
    at bench SF it WAS the entire over-bar gap.
    """
    ev_grams = hashed_shingles(eval_df, id_col, text_col, n)
    ev_h = ev_grams.select("h").dropDuplicates()
    train_grams = (
        train.select(F.explode(shingle_array(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("h"))
        .join(F.broadcast(ev_h), "h", "left_semi")
        .dropDuplicates()
    )
    return _contamination_from_grams(
        ev_grams, F.broadcast(train_grams), eval_df, id_col, text_col, n
    )


def ngram_contamination_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> DataFrame:
    """:func:`ngram_contamination` with a Bloom prescreen on the TRAIN
    side — the shape that survives decontaminating a 100 TB train
    corpus against a bounded eval set.

    The plain form runs ``dropDuplicates`` over EVERY train gram — a
    corpus-sized shuffle — before the eval side probes it. Here the
    (small) eval set's gram hashes build a Bloom filter in one bounded
    pass (functions/bloom.py: BIT_OR partial aggregate, ≤ num_bits/64
    longs to the driver), and the train scan probes it as a codegen'd
    expression BEFORE any shuffle: only train grams that MIGHT overlap
    the eval set — a sliver, at production eval/train ratios — reach
    the distinct+join. Results are IDENTICAL to the plain form: a
    truly-overlapping gram is never bloom-negative (no false
    negatives), and false positives die in the exact semi-join. Same
    oracle, same output, ~zero train-side shuffle.

    Defaults are sized for the bounded-eval-set premise (≈13k distinct
    grams at bench SF → ~5 bits/key, FP ≈ 9% of train-distinct): false
    positives only cost probe rows into the exact join, so a leaner
    filter (3 probe expressions/row, half the literal) beats squeezing
    the FP rate — decontaminating against a much larger eval set,
    pass a bigger ``num_bits`` (the filter stays KB-scale up to 2^23).
    """
    from weather_data_data_pipeline_spark.functions.bloom import (
        build_bloom,
        might_contain,
    )

    # ev_grams is consumed twice (bloom build + hit join) but NOT
    # checkpointed: the eval side is bounded-small by the premise of
    # this shape, so re-deriving its grams costs one cheap scan — the
    # eager localCheckpoint this used to do was the single largest cost
    # of the whole query at bench SF (it serialized the grams to the
    # block store before any real work could start) and pinned driver
    # memory for no at-scale benefit.
    ev_grams = hashed_shingles(eval_df, id_col, text_col, n)
    # no dropDuplicates before the build: BIT_OR is idempotent, so
    # duplicate grams only re-set the same bits — the distinct's
    # exchange bought nothing
    words = build_bloom(ev_grams.select("h"), "h", num_bits, num_hashes)
    train_grams = (
        train.select(F.explode(shingle_array(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("h"))
        .where(might_contain(words, F.col("h"), num_bits, num_hashes))
        .dropDuplicates()
    )
    return _contamination_from_grams(
        ev_grams, train_grams, eval_df, id_col, text_col, n
    )
