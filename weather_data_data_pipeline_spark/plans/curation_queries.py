"""Round-6 corpus-CURATION queries: temperature-scaled source mixing,
soft (weight-based) dedup accounting, zero-shuffle per-document char
entropy, n-gram novelty curriculum, and greedy k-center diversity
selection — the curation layer that decides how much each slice of a
pretraining corpus is worth and which examples cover the space.

The reference has no curation surface (its pipeline ingests and keeps
everything non-duplicate, ref: src/weather_report_pipeline/
weather_report_data_full_load_pipeline.py:160-171); these extend the
engine for the LLM-training-data north star, alongside the selection
stack in ``selection_queries.py`` (DSIR, DoReMi, UniMax, RHO).

Shared determinism contract (same as the rest of the repo): every
float quantity that feeds a SUM or an ORDER is rounded to fixed
decimals and CAST to DECIMAL first, so per-partition aggregation order
can never change a result, and the DuckDB oracles replay the math
expression for expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.functions.text import nonempty_tokens
from weather_data_data_pipeline_spark.registry import register
from weather_data_data_pipeline_spark.sources.tables import load, load_fanout

_DEC = "decimal(38,6)"

# Whitespace token count shared by the mixing/accounting queries here
# (same convention as corpus_token_budget's ws_tokens). A function, not
# a module constant: building the Column at import time would require a
# live SparkContext (F.split materializes its limit literal eagerly),
# and this module must import Spark-free for oracle-only consumers.
def _ws_tokens() -> F.Column:
    return F.size(nonempty_tokens("text"))


_WS_TOKENS_SQL = "len(list_filter(string_split(text, ' '), t -> t <> ''))"

# Temperature exponent for temperature_mix_weights: sampling share
# ∝ tokens^ALPHA. α = 0.5 is the classic "square-root sampling" used
# for multilingual/multi-source rebalancing (mBERT, XLM-R report
# α ∈ [0.3, 0.7]); α = 1 is proportional, α = 0 is uniform.
_TEMP_ALPHA = 0.5


@register(
    "temperature_mix_weights",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(sum({_WS_TOKENS_SQL}) AS BIGINT) AS n_tokens,
             CAST(round(pow(CAST(sum({_WS_TOKENS_SQL}) AS BIGINT),
                            {_TEMP_ALPHA}), 6) AS DECIMAL(38,6)) AS p
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS tt, sum(p) AS tp FROM src)
    SELECT source, n_tokens,
           CAST(round(CAST(CAST(n_tokens AS DOUBLE) / tt
                           AS DECIMAL(38,15)), 6) AS DOUBLE) AS raw_share,
           CAST(round(CAST(CAST(p AS DOUBLE) / CAST(tp AS DOUBLE)
                           AS DECIMAL(38,15)), 6) AS DOUBLE) AS temp_weight
    FROM src CROSS JOIN tot
    """,
    doc="Temperature-scaled source sampling weights: per-source share "
    f"∝ tokens^{_TEMP_ALPHA} (square-root temperature sampling, the "
    "standard multilingual rebalance between proportional α=1 and "
    "uniform α=0) next to the raw proportional share, so the uplift "
    "low-resource sources get is directly readable. One partial+final "
    "aggregate over the corpus, then a 1-row broadcast total attach — "
    "the corpus never shuffles. The pow() outputs are rounded to 6 dp "
    "decimal BEFORE the normalizing sum (aggregation-order-proof).",
    tags=("llm", "selection", "bench"),
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(_ws_tokens().cast("long")).alias("n_tokens")
    )
    src = src.withColumn(
        "p",
        F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(_TEMP_ALPHA)), 6).cast(
            _DEC
        ),
    )
    tot = src.agg(
        F.sum("n_tokens").alias("tt"), F.sum("p").alias("tp")
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        # decimal-domain rounds (15-dp pin first) — see
        # functions/text.py:sampling_weight_columns for the rationale
        F.round(
            (F.col("n_tokens").cast("double") / F.col("tt")).cast(
                "decimal(38,15)"
            ),
            6,
        )
        .cast("double")
        .alias("raw_share"),
        F.round(
            (F.col("p").cast("double") / F.col("tp").cast("double")).cast(
                "decimal(38,15)"
            ),
            6,
        )
        .cast("double")
        .alias("temp_weight"),
    )


# Normalization replayed verbatim from dedup_exact_normalized (llm_queries)
# so soft-dedup groups == normalized exact-dedup groups.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@register(
    "soft_dedup_weights",
    oracle=f"""
    WITH n AS (
      SELECT source, {_WS_TOKENS_SQL} AS tok,
             sha256({_NORM_SQL}) AS digest
      FROM documents),
    w AS (
      SELECT source, tok,
             count(*) OVER (PARTITION BY digest) AS c
      FROM n)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
           CAST(sum(tok) AS BIGINT) AS raw_tokens,
           round(CAST(sum(CAST(round(tok / c, 6) AS DECIMAL(38,6)))
                      AS DOUBLE), 2) AS effective_tokens
    FROM w GROUP BY source
    """,
    doc="Soft dedup (SoftDeDup-style): instead of DROPPING duplicates, "
    "weight every document by 1/c where c is its normalized-form "
    "duplicate count, and account per source: raw vs effective token "
    "mass and how many docs carry a discount. Groups match "
    "dedup_exact_normalized exactly (same canonical form, same sha256). "
    "Plan: digest is hashed map-side, ONE corpus shuffle for the "
    "count-over-digest window, then a tiny per-source aggregate — the "
    "text itself never shuffles, only (source, tok, digest) triples. "
    "Per-doc discounted tokens round to 6 dp decimal before the "
    "per-source sum (aggregation-order-proof).",
    tags=("llm", "dedup", "bench"),
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        normalize_for_dedup,
    )

    docs = load(spark, sf_dir, "documents")
    n = docs.select(
        "source",
        _ws_tokens().alias("tok"),
        F.sha2(normalize_for_dedup("text"), 256).alias("digest"),
    )
    w = n.withColumn("c", F.count("*").over(Window.partitionBy("digest")))
    return w.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("long").alias(
            "dup_docs"
        ),
        F.sum("tok").cast("long").alias("raw_tokens"),
        F.round(
            F.sum(
                F.round(F.col("tok") / F.col("c"), 6).cast(_DEC)
            ).cast("double"),
            2,
        ).alias("effective_tokens"),
    )


@register(
    "doc_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(text, '') END AS cs
      FROM documents)
    SELECT doc_id,
           CAST(len(cs) AS INTEGER) AS n_chars_exact,
           CAST(len(list_distinct(cs)) AS INTEGER) AS uniq_chars,
           CASE WHEN len(cs) = 0 THEN NULL ELSE
             CAST(round(list_sum(list_transform(list_distinct(cs),
               c -> CAST(round(
                      -(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                        / len(cs))
                      * ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                           / len(cs)), 6) AS DECIMAL(38,6)))), 4)
               AS DOUBLE)
           END AS char_entropy
    FROM ch
    """,
    doc="Per-document character-level Shannon entropy (nats) — the "
    "cheapest repetition/gibberish screen in a quality stack: "
    "low-entropy docs are boilerplate or character spam, entropy near "
    "ln(alphabet) is encrypted/random junk. The whole computation is "
    "ZERO-shuffle: per-row higher-order functions (array_distinct + a "
    "decimal fold of -p·ln p over the distinct alphabet), O(u·n) per "
    "doc JVM-side, one codegen'd scan at any corpus size. Per-char "
    "terms round to 6 dp decimal before the fold so alphabet "
    "enumeration order cannot change the sum.",
    tags=("llm", "text", "quality", "bench"),
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: one Arrow-batched kernel (functions/text.py:
    # char_entropy_columns) replaces the interpreted O(alphabet ×
    # length) HOF fold; same per-term 6-dp HALF_UP rounding, exact
    # micro-integer sum, 4-dp surface — values bit-identical to the
    # oracle by the same contract
    from weather_data_data_pipeline_spark.functions.text import (
        char_entropy_columns,
    )

    docs = load(spark, sf_dir, "documents")
    return char_entropy_columns(docs, "text", passthrough=("doc_id",))


_NOVELTY_N = 3  # token n-gram width


@register(
    "ngram_novelty_curriculum",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    g AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_NOVELTY_N - 2}),
                      i -> array_to_string(t[i:i+{_NOVELTY_N - 1}], ' ')))
                 AS gram
        FROM arrs WHERE len(t) >= {_NOVELTY_N})),
    m AS (SELECT gram, min(doc_id) AS md FROM g GROUP BY gram),
    per AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN m.md = g.doc_id THEN 1 ELSE 0 END) AS novel
      FROM g JOIN m USING (gram) GROUP BY g.doc_id),
    b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents)
    SELECT CAST(floor(10.0 * (doc_id - mn) / (mx - mn + 1)) AS INTEGER)
             AS decile,
           count(*) AS n_docs,
           round(CAST(sum(CAST(round(novel / n_grams, 6)
                               AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_novelty
    FROM per CROSS JOIN b
    GROUP BY decile
    """,
    doc=f"N-gram novelty curriculum: a {_NOVELTY_N}-gram is NOVEL in the "
    "first document (lowest doc_id) that contains it; per-doc novelty = "
    "novel distinct grams / distinct grams, averaged per doc_id decile. "
    "The decile curve is the corpus redundancy profile — how fast new "
    "ingestion stops contributing unseen text, the measurement behind "
    "dedup-before-train decisions and repeated-epoch budgets. Deciles "
    "come from a broadcast min/max bounds attach (closed form), NOT a "
    "global ntile window — no single-partition sort at any scale. "
    "Shuffle shape: the distinct-gram frame shuffles ONCE (first-seen "
    "as min-over-window, not aggregate+join-back, which would shuffle "
    "the corpus-sized gram frame three times), then a per-doc and a "
    "10-row aggregate.",
    tags=("llm", "dedup", "text", "bench"),
)
def ngram_novelty_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_fanout(spark, sf_dir, "documents")
    arr = nonempty_tokens("text")
    arrs = docs.select("doc_id", arr.alias("t"))
    grams = (
        arrs.where(F.size("t") >= _NOVELTY_N)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - _NOVELTY_N),
                        lambda i: F.concat_ws(
                            " ",
                            *[
                                F.col("t")[i + j]
                                for j in range(_NOVELTY_N)
                            ],
                        ),
                    )
                )
            ).alias("gram"),
        )
    )
    # first-seen via min-over-window, not groupBy+join-back: the gram
    # frame is corpus-sized, and consuming it twice (once for the min
    # aggregate, once for the join probe) re-executes the explode and
    # shuffles the grams three times; the window form shuffles them
    # ONCE (measured: 7 exchanges → 4 on the audit)
    md = F.min("doc_id").over(Window.partitionBy("gram"))
    per = (
        grams.withColumn("md", md)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("md") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel"),
        )
    )
    # bounds come off a plain load (no fanout repartition — a min/max
    # over one column doesn't need the explode-stage spread)
    b = load(spark, sf_dir, "documents").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    return (
        per.crossJoin(F.broadcast(b))
        .select(
            F.floor(
                10.0
                * (F.col("doc_id") - F.col("mn"))
                / (F.col("mx") - F.col("mn") + 1)
            )
            .cast("int")
            .alias("decile"),
            F.round(F.col("novel") / F.col("n_grams"), 6)
            .cast(_DEC)
            .alias("nov"),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("nov").cast("double") / F.count("*"), 4).alias(
                "avg_novelty"
            ),
        )
    )


_KCENTER_K = 8


def _sqd_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center in plain SQL: c1 = lowest vec_id seed;
    m_i tracks the pool's rounded-decimal min squared distance to the
    selected set; c_{i+1} = argmax(mind) with ties to the lowest id —
    the exact selection :func:`functions.clustering.kcenter_select`
    makes, step for step."""
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "m1 AS (SELECT e.vec_id, e.v, CAST(round("
        + _sqd_sql("e.v", "c1.v")
        + ", 6) AS DECIMAL(38,6)) AS mind"
        " FROM e CROSS JOIN c1 WHERE e.vec_id <> c1.vec_id)",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"c{i} AS (SELECT vec_id, v, mind FROM m{i - 1}"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"m{i} AS (SELECT m.vec_id, m.v, least(m.mind, CAST(round("
                + _sqd_sql("m.v", f"c{i}.v")
                + f", 6) AS DECIMAL(38,6))) AS mind FROM m{i - 1} m"
                f" CROSS JOIN c{i} WHERE m.vec_id <> c{i}.vec_id)"
            )
    # dist surfaces as DOUBLE (DuckDB's UNION widens DECIMAL(38,6)
    # branches to DOUBLE anyway); the selection comparisons above stay
    # decimal, and a 6-dp decimal < 10^9 round-trips through double
    # exactly, so the hash contract is unaffected.
    selects = [
        "SELECT CAST(1 AS INTEGER) AS rank, vec_id,"
        " CAST(NULL AS DOUBLE) AS dist FROM c1"
    ]
    for i in range(2, k + 1):
        selects.append(
            f"SELECT CAST({i} AS INTEGER) AS rank, vec_id,"
            f" CAST(mind AS DOUBLE) AS dist FROM c{i}"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(
        selects
    )


@register(
    "kcenter_coreset_select",
    oracle=_kcenter_oracle(_KCENTER_K),
    doc=f"Greedy k-center diversity selection (Gonzalez farthest-point "
    f"traversal, k={_KCENTER_K}): seed at the lowest vec_id, then "
    "repeatedly take the point farthest from the selected set — the "
    "classic 2-approximate k-center coreset, used as an embedding-"
    "space diversity sampler (pick maximally spread exemplars before "
    "expensive labeling/training). dist is the coverage radius at each "
    "pick, so the output doubles as the coverage-decay curve. Each "
    "round is ONE map-side-combinable max(struct) aggregate over the "
    "pool — the new center's vector rides back inside the max struct, "
    "the corpus never shuffles and only k struct rows ever reach the "
    "driver. Squared distances are index-order double folds rounded to "
    "6 dp decimal before ANY comparison, and argmax ties break to the "
    "lowest id, so the oracle (an unrolled CTE chain) replays the "
    "selection exactly. The k sequential driver rounds make this the "
    "bit-replayable CORRECTNESS form; the benched 100 TB path is "
    "kcenter_select_composable (one distributed pass, VERDICT r10 "
    "ask #2).",
    tags=("llm", "similarity", "selection"),
)
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.clustering import (
        kcenter_select,
    )

    emb = load(spark, sf_dir, "embeddings")
    picks = kcenter_select(emb, k=_KCENTER_K)
    rows = [
        (r, i, None if d is None else float(d)) for r, i, d in picks
    ]
    return spark.createDataFrame(
        rows, schema="rank int, vec_id bigint, dist double"
    )


@register(
    "kcenter_select_composable",
    oracle=None,  # the per-partition Gonzalez prefixes depend on the
    # physical partitioning, so the merged pick is not replayable from
    # the table alone — the exact k-round twin (kcenter_coreset_select,
    # same kernel, same rounding contract) carries the oracle; the
    # composable-specific guarantees (single-partition equality to the
    # exact greedy, bounded radius vs exact across partitions,
    # determinism under repartition) are pinned in
    # tests/test_clustering.py.
    verified_by="kcenter_coreset_select",
    doc=f"Greedy k-center selection (k={_KCENTER_K}) on the COMPOSABLE-"
    "CORESET plan (functions/clustering.py:kcenter_select_composable; "
    "Indyk et al., NIPS 2014) — the 100 TB form of "
    "kcenter_coreset_select and its replacement on the bench "
    "(VERDICT r10 ask #2): ONE narrow mapInPandas pass emits each "
    "partition's 2k-point local Gonzalez prefix, the driver runs the "
    "exact greedy over the candidate union (partitions × 2k rows, not "
    "the corpus). One distributed job instead of k sequential "
    "aggregate rounds — measured 0.21 s vs 1.41 s at sf0.1 with the "
    "identical coverage radius (BASELINE.md r10 'r11-ready'). "
    "Composing per-partition constant-factor coresets keeps a "
    "constant-factor coverage-radius guarantee, so the pick set is a "
    "valid diversity sample at any partition count; rows-only because "
    "the pick depends on the physical partitioning.",
    tags=("llm", "similarity", "selection", "bench", "rows-only"),
)
def kcenter_select_composable_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.clustering import (
        kcenter_select_composable,
    )

    emb = load(spark, sf_dir, "embeddings")
    picks = kcenter_select_composable(emb, k=_KCENTER_K)
    rows = [
        (r, i, None if d is None else float(d)) for r, i, d in picks
    ]
    return spark.createDataFrame(
        rows, schema="rank int, vec_id bigint, dist double"
    )


def _quality_sql() -> str:
    """The composite quality score (functions/text.py:quality_score) as a
    DuckDB expression — same fragment doc_quality_by_lang's oracle uses.
    All five possible values are dyadic (k/4), so DESC ordering on the
    double is exact in both engines."""
    from weather_data_data_pipeline_spark.functions.text import STOPWORDS

    return f"""(CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END
              + CASE WHEN CAST(len(list_filter(string_split(text, ' '), t -> t IN {STOPWORDS!r})) AS DOUBLE)
                     / greatest(len(string_split(text, ' ')), 1) >= 0.05 THEN 1.0 ELSE 0.0 END
              + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END
              + CASE WHEN CAST(list_sum(list_transform(list_filter(string_split(text, ' '), t -> t <> ''), t -> length(t))) AS DOUBLE)
                     / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END
             ) / 4.0"""


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) _l(i)
           WHERE len(t) >= 3),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    dup AS (SELECT id_a, id_b FROM pair
            JOIN cnt ca ON ca.doc_id = id_a
            JOIN cnt cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM dup
              UNION SELECT id_b, id_a FROM dup),
    walk(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
             FROM walk GROUP BY src),
    q AS (SELECT doc_id, {_quality_sql()} AS q FROM documents),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, q.q,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.q DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM comp c JOIN q ON q.doc_id = c.doc_id)
    SELECT cluster_id, doc_id AS keep_doc_id, round(q, 2) AS kept_quality,
           n_members, (doc_id <> cluster_id) AS upgraded
    FROM ranked WHERE rn = 1
    """,
    doc="Quality-aware dedup retention: near-dup clusters (exact-Jaccard "
    ">= 0.5 graph, connected components — the dedup_clusters machinery) "
    "keep their HIGHEST-quality member instead of the arbitrary min-id "
    "one; `upgraded` marks clusters where the quality rule actually "
    "changed the survivor — the measurable win of quality-aware over "
    "positional retention (Penedo et al. FineWeb ablate exactly this "
    "choice). Quality is the composite C4/Gopher-style rule score; all "
    "its values are dyadic (k/4) so the DESC tie-break is exact, and "
    "remaining ties break to the lowest doc_id. Per-cluster argmax is "
    "one max(struct) aggregate over the labeled docs, not a window "
    "sort. Only real clusters (n_members >= 2) surface.",
    tags=("llm", "dedup", "quality"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from weather_data_data_pipeline_spark.functions.text import quality_score

    docs = load_fanout(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs)
    q = docs.select("doc_id", quality_score("text").alias("q"))
    best = (
        labels.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))
            ).alias("t"),
            F.count("*").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("t.nid")).alias("keep_doc_id"),
            F.round(F.col("t.q"), 2).alias("kept_quality"),
            "n_members",
            ((-F.col("t.nid")) != F.col("cluster_id")).alias("upgraded"),
        )
    )
    return best


_NUCLEUS_P = 0.99


@register(
    "vocab_nucleus_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT lang, u AS term FROM (
        SELECT lang, unnest(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS u
        FROM documents)),
    uni AS (SELECT lang, term, count(*) AS c FROM tok GROUP BY lang, term),
    ranked AS (
      SELECT lang, term, c,
             sum(c) OVER (PARTITION BY lang
                          ORDER BY c DESC, term
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY lang) AS total,
             count(*) OVER (PARTITION BY lang) AS vocab_size
      FROM uni)
    SELECT lang,
           CAST(any_value(vocab_size) AS BIGINT) AS vocab_size,
           CAST(any_value(total) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (cum - c < {_NUCLEUS_P} * total)
                AS BIGINT) AS nucleus_vocab
    FROM ranked GROUP BY lang
    """,
    doc=f"Nucleus vocabulary coverage: per language, the smallest "
    f"frequency-ranked vocabulary prefix covering {_NUCLEUS_P:.0%} of "
    "token mass (a term belongs to the nucleus iff the cumulative mass "
    "BEFORE it is still under the threshold, so the prefix is minimal "
    "and ties break deterministically by term). This is the tokenizer-"
    "sizing statistic: how many units a vocab needs before the long "
    "tail starts, per language. The ranked window runs over the "
    "VOCABULARY table (Zipf-small — distinct terms, not corpus rows), "
    "so the per-lang sort is bounded by vocabulary size at any corpus "
    "scale; the corpus itself contributes one explode + one "
    "partial-aggregated groupBy.",
    tags=("llm", "text", "bench"),
)
def vocab_nucleus_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_fanout(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(nonempty_tokens("text")).alias("term"),
    )
    uni = tok.groupBy("lang", "term").agg(F.count("*").alias("c"))
    w_rank = (
        Window.partitionBy("lang")
        .orderBy(F.desc("c"), F.asc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lang = Window.partitionBy("lang")
    ranked = uni.select(
        "lang",
        "c",
        F.sum("c").over(w_rank).alias("cum"),
        F.sum("c").over(w_lang).alias("total"),
        F.count("*").over(w_lang).alias("vocab_size"),
    )
    return ranked.groupBy("lang").agg(
        F.any_value("vocab_size").cast("bigint").alias("vocab_size"),
        F.any_value("total").cast("bigint").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("cum") - F.col("c")
                < F.lit(_NUCLEUS_P) * F.col("total"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nucleus_vocab"),
    )


@register(
    "cross_source_dup_matrix",
    oracle="""
    WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) _l(i)
           WHERE len(t) >= 3),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    dup AS (SELECT id_a, id_b FROM pair
            JOIN cnt ca ON ca.doc_id = id_a
            JOIN cnt cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM dup
              UNION SELECT id_b, id_a FROM dup),
    walk(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
             FROM walk GROUP BY src),
    cs AS (SELECT DISTINCT c.cluster_id, d.source
           FROM comp c JOIN documents d USING (doc_id))
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_clusters
    FROM cs a JOIN cs b
      ON a.cluster_id = b.cluster_id AND a.source < b.source
    GROUP BY source_a, source_b
    """,
    doc="Cross-source duplication matrix: for every pair of sources, how "
    "many NEAR-dup components (exact-Jaccard >= 0.5 graph, connected "
    "components — the dedup_clusters machinery) contain documents from "
    "both — the provenance diagnostic behind 'which feeds copy from "
    "each other' decisions (crawl overlap, mirror detection, licensing "
    "triage). The pair fan-out runs on the DISTINCT (cluster, source) "
    "frame, so it is bounded by sources-per-cluster (<= the source "
    "count), never by document multiplicity, and the text never "
    "shuffles past the shingle stage.",
    tags=("llm", "dedup"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.dedup import (
        connected_components,
        jaccard_pairs,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs)
    cs = (
        labels.join(docs.select("doc_id", "source"), "doc_id")
        .select("cluster_id", "source")
        .distinct()
    )
    b = cs.select("cluster_id", F.col("source").alias("source_b"))
    return (
        cs.join(b, "cluster_id")
        .where(F.col("source") < F.col("source_b"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count("*").alias("shared_clusters"))
    )


@register(
    "event_key_skew_profile",
    oracle="""
    WITH k AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS rn FROM k),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(c) AS BIGINT) AS total_events,
                 CAST(max(c) AS BIGINT) AS max_count,
                 CAST(sum(CAST(rn AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))
                   AS src,
                 CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))
                   AS sc2
          FROM r)
    SELECT n_keys, total_events, max_count,
           round(CAST(max_count AS DOUBLE) / total_events, 6) AS top1_share,
           round(2.0 * CAST(src AS DOUBLE)
                 / (CAST(n_keys AS DOUBLE) * total_events)
                 - (CAST(n_keys AS DOUBLE) + 1) / n_keys, 6) AS gini,
           round(CAST(sc2 AS DOUBLE)
                 / (CAST(total_events AS DOUBLE) * total_events), 6) AS hhi
    FROM s
    """,
    doc="Shuffle-key skew profile over events.user_id — the diagnostic "
    "you run BEFORE keying a 100 TB join or aggregation on a column: "
    "Gini coefficient and Herfindahl index of the per-key row counts "
    "plus the hottest key's share. Gini needs a total order over the "
    "KEY-COUNT table; that rank comes from the range-partitioned "
    "distributed row_number (operators/ranking.py: global_row_number), "
    "not a single-partition window, so the profile itself scales to "
    "billions of keys. Rank ties among equal counts cannot change the "
    "Σ rank·count term (the rank-sum over a tie block is fixed), and "
    "both moment sums accumulate in exact DECIMAL(38,0) before one "
    "double division — aggregation-order-proof. The corpus contributes "
    "one partially-aggregated groupBy; everything after runs on the "
    "keys table.",
    tags=("llm", "quality", "bench"),
)
def event_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    ev = load(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    r = global_row_number(k, ["c", "user_id"], out_col="rn")
    dec0 = "decimal(38,0)"
    s = r.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("total_events"),
        F.max("c").cast("bigint").alias("max_count"),
        F.sum(F.col("rn").cast(dec0) * F.col("c")).cast(dec0).alias("src"),
        F.sum(F.col("c").cast(dec0) * F.col("c")).cast(dec0).alias("sc2"),
    )
    return s.select(
        "n_keys",
        "total_events",
        "max_count",
        F.round(
            F.col("max_count").cast("double") / F.col("total_events"), 6
        ).alias("top1_share"),
        F.round(
            F.lit(2.0)
            * F.col("src").cast("double")
            / (F.col("n_keys").cast("double") * F.col("total_events"))
            - (F.col("n_keys").cast("double") + 1) / F.col("n_keys"),
            6,
        ).alias("gini"),
        F.round(
            F.col("sc2").cast("double")
            / (F.col("total_events").cast("double") * F.col("total_events")),
            6,
        ).alias("hhi"),
    )


_PACK_CTX = 512  # tokens per packed context
_PACK_BINS_PER_SHARD = 4


def _packing_e2e_oracle() -> str:
    from weather_data_data_pipeline_spark.functions.text import md5_threshold

    return f"""
    WITH kept AS (
      SELECT doc_id, {_WS_TOKENS_SQL} AS n_tok
      FROM documents
      WHERE {_quality_sql()} >= 0.5
        AND md5('split-v1' || CAST(doc_id AS VARCHAR))
            < '{md5_threshold(0.90)}'),
    ordered AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS rt
      FROM kept),
    b AS (
      SELECT CAST(floor(CAST(rt - n_tok AS DOUBLE) / {_PACK_CTX}) AS BIGINT)
               AS bin,
             n_tok
      FROM ordered)
    SELECT CAST(floor(CAST(bin AS DOUBLE) / {_PACK_BINS_PER_SHARD})
                AS BIGINT) AS shard_id,
           CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM b GROUP BY shard_id
    """


@register(
    "packing_pipeline_e2e",
    oracle=_packing_e2e_oracle(),
    doc=f"END-TO-END packing pipeline as ONE plan — the tail of a "
    "training-data build that turns a curated corpus into shard files: "
    "quality gate (composite rule score >= 0.5) → deterministic train "
    "split (md5 literal threshold, the holdout_split contract) → "
    f"longest-first packing into {_PACK_CTX}-token contexts via the "
    "distributed prefix sum (range partition + offsets, never a "
    f"single-partition window) → contiguous {_PACK_BINS_PER_SHARD}-bin "
    "shards with per-shard doc/bin/token manifests. Composes the "
    "already-proven quality, holdout, sequence_packing, and "
    "shard_manifest fragments into one oracle-replayed query; the "
    "filters run BEFORE the prefix sum, so the expensive total order "
    "only ever sees surviving documents.",
    tags=("llm", "selection", "text", "bench"),
)
def packing_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        holdout_split,
        quality_score,
    )
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    kept = docs.where(quality_score("text") >= 0.5).where(
        holdout_split("doc_id", "split-v1") == "train"
    )
    base = kept.select("doc_id", _ws_tokens().alias("n_tok")).withColumn(
        "_negt", -F.col("n_tok")
    )
    rt = global_running_sum(base, ["_negt", "doc_id"], "n_tok", out_col="rt")
    b = rt.select(
        F.floor((F.col("rt") - F.col("n_tok")).cast("double") / _PACK_CTX)
        .cast("bigint")
        .alias("bin"),
        "n_tok",
    )
    return (
        b.groupBy(
            F.floor(F.col("bin").cast("double") / _PACK_BINS_PER_SHARD)
            .cast("bigint")
            .alias("shard_id")
        )
        .agg(
            F.count_distinct("bin").cast("bigint").alias("n_bins"),
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


def _sampling_weights_oracle() -> str:
    return f"""
    WITH n AS (
      SELECT doc_id, source, text, {_WS_TOKENS_SQL} AS tok,
             sha256({_NORM_SQL}) AS digest
      FROM documents),
    w AS (
      SELECT doc_id, source, text, tok,
             count(*) OVER (PARTITION BY digest) AS c
      FROM n),
    src AS (
      SELECT source,
             CAST(round(pow(CAST(sum(tok) AS BIGINT), {_TEMP_ALPHA}), 6)
                  AS DECIMAL(38,6)) AS p
      FROM n GROUP BY source),
    tot AS (SELECT sum(p) AS tp FROM src),
    tw AS (
      SELECT source,
             CAST(round(CAST(CAST(p AS DOUBLE) / CAST(tp AS DOUBLE)
                             AS DECIMAL(38,15)), 6)
                  AS DECIMAL(38,6)) AS temp_weight
      FROM src CROSS JOIN tot)
    SELECT w.doc_id,
           CAST(CAST(round(1.0 / w.c, 6) AS DECIMAL(38,6)) AS DOUBLE)
             AS dedup_weight,
           CAST(CAST(round({_quality_sql().replace('text', 'w.text')}, 2)
                     AS DECIMAL(38,6)) AS DOUBLE) AS quality_weight,
           CAST(tw.temp_weight AS DOUBLE) AS temp_weight,
           CAST(CAST(round(CAST(
                 CAST(CAST(round(1.0 / w.c, 6) AS DECIMAL(38,6)) AS DOUBLE)
                 * CAST(CAST(round({_quality_sql().replace('text', 'w.text')}, 2)
                             AS DECIMAL(38,6)) AS DOUBLE)
                 * CAST(tw.temp_weight AS DOUBLE)
               AS DECIMAL(38,15)), 9) AS DECIMAL(38,9)) AS DOUBLE)
             AS final_weight
    FROM w JOIN tw USING (source)
    """


@register(
    "doc_sampling_weights",
    oracle=_sampling_weights_oracle(),
    doc="The per-document sampling-weight table a trainer's data loader "
    "actually consumes — the capstone composition of the curation "
    "layer: soft-dedup discount (1/duplicate-count over normalized "
    "digests), composite quality score, and the source's temperature-"
    f"rebalanced share (tokens^{_TEMP_ALPHA}), multiplied into one "
    "final weight per document. Every factor is a 6-dp decimal before "
    "the product and the product rounds once at the end, so the table "
    "is bit-reproducible under any partitioning. Plan: ONE corpus "
    "shuffle (the digest window), a Zipf-small per-source aggregate "
    "broadcast back, and codegen'd arithmetic — the text never moves "
    "after the digest projection.",
    tags=("llm", "selection", "dedup", "quality", "bench"),
)
def doc_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        normalize_for_dedup,
        sampling_weight_columns,
    )

    docs = load(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        "source",
        "text",
        _ws_tokens().alias("tok"),
        F.sha2(normalize_for_dedup("text"), 256).alias("digest"),
    )
    w = n.withColumn("c", F.count("*").over(Window.partitionBy("digest")))
    src = n.groupBy("source").agg(
        F.round(
            F.pow(F.sum("tok").cast("double"), F.lit(_TEMP_ALPHA)), 6
        )
        .cast(_DEC)
        .alias("p")
    )
    tot = src.agg(F.sum("p").alias("tp"))
    tw = src.crossJoin(F.broadcast(tot)).select(
        "source",
        # decimal-domain round (15-dp pin first) — see
        # functions/text.py:sampling_weight_columns for the rationale
        F.round(
            (F.col("p").cast("double") / F.col("tp").cast("double")).cast(
                "decimal(38,15)"
            ),
            6,
        )
        .cast(_DEC)
        .alias("temp_weight"),
    )
    dedup_w, quality_w, final_w = sampling_weight_columns(
        F.col("c"), "text", F.col("temp_weight")
    )
    return w.join(F.broadcast(tw), "source").select(
        "doc_id",
        dedup_w.alias("dedup_weight"),
        quality_w.alias("quality_weight"),
        F.col("temp_weight").cast("double").alias("temp_weight"),
        final_w.alias("final_weight"),
    )


def _ess_oracle() -> str:
    from weather_data_data_pipeline_spark.functions.text import (
        tiered_sum_double_sql,
    )

    sw = tiered_sum_double_sql("sum_w")
    sw2 = tiered_sum_double_sql("sum_w2")
    return f"""
    WITH n AS (
      SELECT doc_id, source, text, {_WS_TOKENS_SQL} AS tok,
             sha256({_NORM_SQL}) AS digest
      FROM documents),
    w AS (
      SELECT doc_id, source, text, tok,
             count(*) OVER (PARTITION BY digest) AS c
      FROM n),
    src AS (
      SELECT source,
             CAST(round(pow(CAST(sum(tok) AS BIGINT), {_TEMP_ALPHA}), 6)
                  AS DECIMAL(38,6)) AS p
      FROM n GROUP BY source),
    tot AS (SELECT sum(p) AS tp FROM src),
    tw AS (
      SELECT source,
             CAST(round(CAST(CAST(p AS DOUBLE) / CAST(tp AS DOUBLE)
                             AS DECIMAL(38,15)), 6)
                  AS DECIMAL(38,6)) AS temp_weight
      FROM src CROSS JOIN tot),
    fw AS (
      SELECT w.doc_id, w.source,
             CAST(round(CAST(
                   CAST(CAST(round(1.0 / w.c, 6) AS DECIMAL(38,6)) AS DOUBLE)
                   * CAST(CAST(round({_quality_sql().replace('text', 'w.text')}, 2)
                               AS DECIMAL(38,6)) AS DOUBLE)
                   * CAST(tw.temp_weight AS DOUBLE)
                 AS DECIMAL(38,15)), 9) AS DECIMAL(18,9)) AS fwt
      FROM w JOIN tw USING (source)
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(fwt) AS DECIMAL(38,9)) AS sum_w,
             CAST(sum(fwt * fwt) AS DECIMAL(38,18)) AS sum_w2
      FROM fw GROUP BY source
    )
    SELECT source, n_docs,
           {sw} AS sum_w,
           {sw2} AS sum_w2,
           CAST(CAST(round(CAST(({sw}) * ({sw}) / ({sw2})
                                AS DECIMAL(38,15)), 4) AS DECIMAL(38,4))
                AS DOUBLE) AS ess,
           CAST(CAST(round(CAST(({sw}) * ({sw}) / ({sw2})
                                / n_docs
                                AS DECIMAL(38,15)), 4) AS DECIMAL(38,4))
                AS DOUBLE) AS ess_ratio
    FROM agg
    """


@register(
    "sampling_ess_by_source",
    oracle=_ess_oracle(),
    doc="Effective sample size of the sampling-weight table, per source "
    "— Kish's ESS = (Σw)²/Σw², the diagnostic a trainer runs BEFORE "
    "trusting a mixing table: ess_ratio near 1 means the source's "
    "weights are flat (every doc contributes), near 1/n means a handful "
    "of documents dominate the source's probability mass and the "
    "effective corpus is far smaller than the row count. Composes the "
    "full doc_sampling_weights pipeline (soft-dedup discount × quality "
    "× temperature share, exact-decimal product) and aggregates it in "
    "the decimal domain: each 9-dp weight is pinned to DECIMAL(18,9), "
    "so w and w² (scale 18, within DECIMAL(38)) sum exactly under any "
    "partitioning, the one double division happens on exact 9-dp-"
    "rounded inputs, and every ratio surfaces as DOUBLE after its "
    "decimal-domain round (the r9 engine-proof surface contract). Plan adds ONE 20-row aggregate on "
    "top of the weight pipeline's single corpus shuffle.",
    tags=("llm", "selection", "quality", "bench"),
)
def sampling_ess_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        normalize_for_dedup,
        sampling_weight_columns,
    )

    docs = load(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        "source",
        "text",
        _ws_tokens().alias("tok"),
        F.sha2(normalize_for_dedup("text"), 256).alias("digest"),
    )
    w = n.withColumn("c", F.count("*").over(Window.partitionBy("digest")))
    src = n.groupBy("source").agg(
        F.round(
            F.pow(F.sum("tok").cast("double"), F.lit(_TEMP_ALPHA)), 6
        )
        .cast(_DEC)
        .alias("p")
    )
    tot = src.agg(F.sum("p").alias("tp"))
    tw = src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            (F.col("p").cast("double") / F.col("tp").cast("double")).cast(
                "decimal(38,15)"
            ),
            6,
        )
        .cast(_DEC)
        .alias("temp_weight"),
    )
    _, _, final_w = sampling_weight_columns(
        F.col("c"), "text", F.col("temp_weight")
    )
    fw = w.join(F.broadcast(tw), "source").select(
        "source", final_w.alias("final_weight")
    )
    # the rollup is the SHARED functions/text.py:ess_rollup fragment —
    # the streaming ess_monitor_sink compiles the identical expressions
    from weather_data_data_pipeline_spark.functions.text import ess_rollup

    return ess_rollup(fw, "source", "final_weight")


_BURST_TOPK = 20


@register(
    "term_burstiness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u AS term FROM (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS u
        FROM documents)),
    d AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    stats AS (
      SELECT term,
             count(*) AS tf,
             count(DISTINCT doc_id) AS df
      FROM tok GROUP BY term),
    scored AS (
      SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             round(CAST(tf AS DOUBLE) / df, 6) AS burstiness,
             round(n_docs * (1 - exp(-(CAST(tf AS DOUBLE) / n_docs))), 4)
               AS poisson_df
      FROM stats CROSS JOIN d)
    SELECT term, tf, df, burstiness, poisson_df,
           CAST(row_number() OVER (ORDER BY burstiness DESC, term)
                AS INTEGER) AS rn
    FROM scored
    QUALIFY rn <= {_BURST_TOPK}
    ORDER BY rn
    """,
    doc="Church–Gale term burstiness: mean occurrences per CONTAINING "
    "document (tf/df) next to the document frequency a Poisson "
    "occupancy model would predict from tf alone — terms whose observed "
    "df sits far below poisson_df are 'bursty' (they clump in few "
    "documents: names, topics, boilerplate) and are poor stopword / "
    "good keyword candidates; the statistic feeds stop-shingle caps "
    "and repetition screens. All work after one explode happens on the "
    "Zipf-small vocabulary table, and the top-k rank compiles to "
    "WindowGroupLimit per-partition heaps — no global sort of anything "
    "corpus-sized at any scale.",
    tags=("llm", "text"),
)
def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_fanout(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(nonempty_tokens("text")).alias("term"),
    )
    d = tok.agg(F.count_distinct("doc_id").alias("n_docs"))
    stats = tok.groupBy("term").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.count_distinct("doc_id").cast("bigint").alias("df"),
    )
    scored = stats.crossJoin(F.broadcast(d)).select(
        "term",
        "tf",
        "df",
        F.round(F.col("tf").cast("double") / F.col("df"), 6).alias(
            "burstiness"
        ),
        F.round(
            F.col("n_docs")
            * (
                F.lit(1)
                - F.exp(-(F.col("tf").cast("double") / F.col("n_docs")))
            ),
            4,
        ).alias("poisson_df"),
    )
    w = Window.orderBy(F.desc("burstiness"), F.asc("term"))
    return scored.withColumn(
        "rn", F.row_number().over(w).cast("int")
    ).where(F.col("rn") <= _BURST_TOPK)


_SENS_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@register(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) _l(i)
           WHERE len(t) >= 3),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    j AS (SELECT round(CAST(n_common AS DOUBLE)
                       / (ca.n + cb.n - n_common), 4) AS jac
          FROM pair
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b),
    th AS (SELECT CAST(unnest([{", ".join(str(t) for t in _SENS_THRESHOLDS)}])
                       AS DOUBLE) AS threshold)
    SELECT threshold,
           CAST(count(*) FILTER (j.jac >= th.threshold) AS BIGINT)
             AS n_pairs
    FROM th LEFT JOIN j ON true
    GROUP BY threshold
    """,
    doc="Near-dup threshold sensitivity: how many exact-Jaccard pairs "
    f"survive at each threshold in {_SENS_THRESHOLDS} — the tuning "
    "curve behind every dedup-threshold decision (a cliff between two "
    "thresholds means the corpus has a near-dup band there; a flat "
    "curve means the choice is safe). The expensive shingle self-join "
    "runs ONCE with the LOWEST threshold; the per-threshold counts are "
    "one conditional aggregate over the resulting pair list, so the "
    "whole sweep costs the same as a single dedup run.",
    tags=("llm", "dedup"),
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.dedup import jaccard_pairs

    docs = load_fanout(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=min(_SENS_THRESHOLDS)
    )
    th = spark.createDataFrame(
        [(t,) for t in _SENS_THRESHOLDS], "threshold double"
    )
    return (
        # LEFT join (not crossJoin): a pair-free corpus must still emit
        # one n_pairs=0 row per threshold, like the oracle's
        # `th LEFT JOIN j ON true` (ADVICE r6) — the NULL jaccard of
        # the unmatched row falls into the otherwise(0) arm
        th.join(pairs.select("jaccard"), F.lit(True), "left")
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pairs"),
        )
    )


@register(
    "packing_efficiency_report",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_WS_TOKENS_SQL} AS n_tok FROM documents),
    ordered AS (
      SELECT n_tok,
             sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS rt
      FROM d),
    packed AS (
      SELECT CAST(floor(CAST(rt - n_tok AS DOUBLE) / {_PACK_CTX}) AS BIGINT)
               AS bin
      FROM ordered),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN n_tok > {_PACK_CTX}
                           THEN n_tok - {_PACK_CTX} ELSE 0 END) AS BIGINT)
               AS overflow_tokens
      FROM d),
    pb AS (SELECT CAST(count(DISTINCT bin) AS BIGINT) AS packed_bins
           FROM packed)
    SELECT n_docs, total_tokens,
           CAST(ceil(CAST(total_tokens AS DOUBLE) / {_PACK_CTX}) AS BIGINT)
             AS ideal_bins,
           packed_bins,
           n_docs AS naive_bins,
           round(CAST(total_tokens AS DOUBLE)
                 / (packed_bins * {_PACK_CTX}), 6) AS packed_utilization,
           round(CAST(total_tokens - overflow_tokens AS DOUBLE)
                 / (n_docs * {_PACK_CTX}), 6) AS naive_utilization
    FROM s CROSS JOIN pb
    """,
    doc=f"Packing-efficiency report: utilization of {_PACK_CTX}-token "
    "contexts under longest-first packing vs the naive one-document-"
    "per-context layout (truncating overflow) vs the ideal bin count — "
    "the measurement that justifies running a packing stage at all "
    "(naive padding waste IS the cost of skipping it, and "
    "packed_utilization ~1 means the prefix-sum packer is within "
    "rounding of optimal since every bin but the last is full by "
    "construction). One corpus scan for the token counts, the "
    "distributed prefix sum for bin ids, two scalar attaches.",
    tags=("llm", "text"),
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", _ws_tokens().alias("n_tok"))
    base = d.withColumn("_negt", -F.col("n_tok"))
    rt = global_running_sum(base, ["_negt", "doc_id"], "n_tok", out_col="rt")
    packed = rt.select(
        F.floor((F.col("rt") - F.col("n_tok")).cast("double") / _PACK_CTX)
        .cast("bigint")
        .alias("bin")
    )
    s = d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(
            F.when(
                F.col("n_tok") > _PACK_CTX, F.col("n_tok") - _PACK_CTX
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("overflow_tokens"),
    )
    pb = packed.agg(
        F.count_distinct("bin").cast("bigint").alias("packed_bins")
    )
    return s.crossJoin(F.broadcast(pb)).select(
        "n_docs",
        "total_tokens",
        F.ceil(F.col("total_tokens").cast("double") / _PACK_CTX)
        .cast("bigint")
        .alias("ideal_bins"),
        "packed_bins",
        F.col("n_docs").alias("naive_bins"),
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("packed_bins") * F.lit(float(_PACK_CTX))),
            6,
        ).alias("packed_utilization"),
        F.round(
            (F.col("total_tokens") - F.col("overflow_tokens")).cast("double")
            / (F.col("n_docs") * F.lit(float(_PACK_CTX))),
            6,
        ).alias("naive_utilization"),
    )


def _lfs_oracle() -> str:
    from weather_data_data_pipeline_spark.functions.text import md5_threshold

    return f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) _l(i)
           WHERE len(t) >= 3),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    dup AS (SELECT id_a, id_b FROM pair
            JOIN cnt ca ON ca.doc_id = id_a
            JOIN cnt cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM dup
              UNION SELECT id_b, id_a FROM dup),
    walk(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
             FROM walk GROUP BY src),
    labeled AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tok
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    tagged AS (
      SELECT doc_id, cluster_id, n_tok,
             CASE
               WHEN md5('lsplit-v1' || CAST(cluster_id AS VARCHAR))
                    < '{md5_threshold(0.90)}' THEN 'train'
               WHEN md5('lsplit-v1' || CAST(cluster_id AS VARCHAR))
                    < '{md5_threshold(0.95)}' THEN 'val'
               ELSE 'test'
             END AS split,
             count(*) OVER (PARTITION BY cluster_id) AS c_size
      FROM labeled)
    SELECT split,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_components,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c_size >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leak_guarded,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM tagged GROUP BY split
    """


@register(
    "leakage_free_split",
    oracle=_lfs_oracle(),
    doc="Near-dup-aware train/val/test split: the split UNIT is the "
    "near-duplicate component, not the document — every doc inherits "
    "md5('lsplit-v1' || cluster_id) thresholded 90/5/5 from its "
    "component representative, so two near-duplicate documents can "
    "NEVER straddle the train/eval boundary (the leakage mode a plain "
    "per-doc split has: the eval set silently contains near-copies of "
    "training docs and overstates generalization — Lee et al. 2022 "
    "measure exactly this inflation). Components are the exact-Jaccard "
    ">= 0.5 graph's connected components (dedup_clusters machinery, "
    "min-id representative); singletons are their own component, so "
    "the split is still growth-stable and engine-portable. Reported "
    "per split: component/doc counts, docs that live in real (>= 2 "
    "member) components — the population the guard actually moved — "
    "and token budgets. n_leak_guarded docs land WITH their whole "
    "component by construction; a per-doc split would scatter ~10% of "
    "each multi-doc component across boundaries.",
    tags=("llm", "dedup", "sampling"),
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from weather_data_data_pipeline_spark.functions.text import holdout_split

    docs = load_fanout(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs)
    labeled = (
        docs.select("doc_id", _ws_tokens().alias("n_tok"))
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.col("n_tok").cast("bigint").alias("n_tok"),
        )
    )
    tagged = labeled.select(
        "cluster_id",
        "n_tok",
        holdout_split("cluster_id", "lsplit-v1").alias("split"),
        F.count("*")
        .over(Window.partitionBy("cluster_id"))
        .alias("c_size"),
    )
    return tagged.groupBy("split").agg(
        F.count_distinct("cluster_id").cast("bigint").alias("n_components"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("c_size") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_leak_guarded"),
        F.sum("n_tok").cast("bigint").alias("tokens"),
    )


_SWEEP_CTXS = (256, 512, 1024, 2048)


@register(
    "packing_context_sweep",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_WS_TOKENS_SQL} AS n_tok FROM documents),
    ordered AS (
      SELECT n_tok,
             sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS rt
      FROM d),
    ctxs(ctx) AS (VALUES {', '.join(f'({c})' for c in _SWEEP_CTXS)}),
    sweep AS (
      SELECT CAST(ctx AS INTEGER) AS ctx, n_tok, rt
      FROM ordered CROSS JOIN ctxs),
    agg AS (
      SELECT ctx,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT CAST(floor(CAST(rt - n_tok AS DOUBLE) / ctx)
                                      AS BIGINT)) AS BIGINT) AS packed_bins,
             CAST(sum(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END) AS BIGINT)
               AS oversized_docs
      FROM sweep GROUP BY ctx)
    SELECT ctx, n_docs, total_tokens, packed_bins,
           CAST(ceil(CAST(total_tokens AS DOUBLE) / ctx) AS BIGINT)
             AS ideal_bins,
           oversized_docs,
           CAST(CAST(round(CAST(CAST(total_tokens AS DOUBLE)
                                / (packed_bins * ctx)
                                AS DECIMAL(38,15)), 6) AS DECIMAL(38,6))
                AS DOUBLE) AS utilization
    FROM agg
    """,
    doc="Context-length sweep for the packing stage: packed-bin count, "
    f"ideal bin count, and utilization at {_SWEEP_CTXS} tokens, all "
    "from ONE distributed prefix sum — the instrument that answers "
    "'what context length should this corpus train at' before any "
    "packing job runs (short contexts waste nothing but cap attention "
    "span; long contexts pay padding for every bin the tail can't "
    "fill, and oversized_docs counts what would need splitting). The "
    "prefix-sum frame fans out 4× through an explode of the literal "
    "context array and aggregates in ONE groupBy — the sweep costs one "
    "extra narrow stage over the single-context report, not four "
    "corpus passes. Utilization is rounded in the decimal domain and "
    "surfaced as DOUBLE (the r9 engine-proof contract: small-mantissa "
    "decimal→double casts are bit-identical across engines).",
    tags=("llm", "text", "bench"),
)
def packing_context_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", _ws_tokens().alias("n_tok"))
    base = d.withColumn("_negt", -F.col("n_tok"))
    rt = global_running_sum(base, ["_negt", "doc_id"], "n_tok", out_col="rt")
    ctx_arr = (
        "array(" + ",".join(f"CAST({c} AS INT)" for c in _SWEEP_CTXS) + ")"
    )
    sweep = rt.select(
        "n_tok",
        "rt",
        F.explode(F.expr(ctx_arr)).alias("ctx"),
    )
    agg = sweep.groupBy("ctx").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.count_distinct(
            F.floor(
                (F.col("rt") - F.col("n_tok")).cast("double") / F.col("ctx")
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("packed_bins"),
        F.sum(
            F.when(F.col("n_tok") > F.col("ctx"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("oversized_docs"),
    )
    return agg.select(
        "ctx",
        "n_docs",
        "total_tokens",
        "packed_bins",
        F.ceil(F.col("total_tokens").cast("double") / F.col("ctx"))
        .cast("bigint")
        .alias("ideal_bins"),
        "oversized_docs",
        F.round(
            (
                F.col("total_tokens").cast("double")
                / (F.col("packed_bins") * F.col("ctx"))
            ).cast("decimal(38,15)"),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("utilization"),
    )


_MAXCOV_K = 5
_MAXCOV_N = 3  # gram width shared with the novelty query


def _maxcov_oracle(k: int) -> str:
    """Unrolled greedy maximum-coverage in plain SQL: every round
    recomputes each remaining document's gain (distinct grams not yet
    covered, zero-gain docs kept via the conditional sum), picks the
    max with ties to the lowest doc_id, and unions the winner's grams
    into the covered set — the exact selection the Spark driver loop
    makes, step for step."""
    n = _MAXCOV_N
    parts = [
        "arrs AS (SELECT doc_id, list_filter(string_split(text, ' '),"
        " x -> x <> '') AS t FROM documents)",
        "sh AS (SELECT DISTINCT doc_id, gram FROM ("
        f"SELECT doc_id, unnest(list_transform(range(1, len(t) - {n - 2}),"
        f" i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gram"
        f" FROM arrs WHERE len(t) >= {n}))",
        "c1 AS (SELECT doc_id, count(*) AS gain FROM sh GROUP BY doc_id"
        " ORDER BY gain DESC, doc_id LIMIT 1)",
        "cov1 AS (SELECT DISTINCT gram FROM sh JOIN c1 USING (doc_id))",
    ]
    for i in range(2, k + 1):
        exclude = " UNION ".join(
            f"SELECT doc_id FROM c{j}" for j in range(1, i)
        )
        parts.append(
            f"g{i} AS (SELECT s.doc_id,"
            " CAST(sum(CASE WHEN v.gram IS NULL THEN 1 ELSE 0 END)"
            " AS BIGINT) AS gain"
            f" FROM sh s LEFT JOIN cov{i - 1} v ON s.gram = v.gram"
            f" WHERE s.doc_id NOT IN ({exclude})"
            " GROUP BY s.doc_id)"
        )
        parts.append(
            f"c{i} AS (SELECT doc_id, gain FROM g{i}"
            " ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"cov{i} AS (SELECT gram FROM cov{i - 1}"
                f" UNION SELECT s.gram FROM sh s JOIN c{i} USING (doc_id))"
            )
    selects = [
        f"SELECT CAST({i} AS INTEGER) AS rank, doc_id,"
        f" CAST(gain AS BIGINT) AS gain FROM c{i}"
        for i in range(1, k + 1)
    ]
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(
        selects
    )


@register(
    "max_coverage_select",
    oracle=_maxcov_oracle(_MAXCOV_K),
    doc=f"Greedy maximum-coverage selection (k={_MAXCOV_K}): pick the "
    f"document covering the most distinct {_MAXCOV_N}-grams, then "
    "repeatedly the one adding the most NOT-yet-covered grams — the "
    "classic (1−1/e)-approximate submodular data-selection baseline "
    "(facility location over lexical features), used to build small "
    "high-coverage subsets for evaluation or seed corpora. gain is the "
    "marginal coverage at each pick; zero-gain documents stay eligible "
    "(conditional sum over a left join, not an anti-join). Scale shape: "
    "the covered set is bounded by the grams of the k SELECTED docs — "
    "tiny by construction — so it broadcasts; each round is one "
    "broadcast left join + per-doc aggregate + 1-row argmax over the "
    "distinct-gram frame, and the corpus text never shuffles. The "
    "oracle replays every round as an unrolled CTE chain.",
    tags=("llm", "selection"),
)
def max_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_fanout(spark, sf_dir, "documents")
    arr = nonempty_tokens("text")
    arrs = docs.select("doc_id", arr.alias("t"))
    sh = (
        arrs.where(F.size("t") >= _MAXCOV_N)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - _MAXCOV_N),
                        lambda i: F.concat_ws(
                            " ",
                            *[F.col("t")[i + j] for j in range(_MAXCOV_N)],
                        ),
                    )
                )
            ).alias("gram"),
        )
        .persist()
    )
    selected: list[tuple[int, int, int]] = []
    covered = None  # DataFrame of covered grams
    for rank in range(1, _MAXCOV_K + 1):
        pool = sh
        if selected:
            pool = pool.where(
                ~F.col("doc_id").isin([d for _, d, _ in selected])
            )
        if covered is None:
            gains = pool.groupBy("doc_id").agg(
                F.count("*").cast("bigint").alias("gain")
            )
        else:
            gains = (
                pool.join(
                    F.broadcast(covered.withColumn("_hit", F.lit(1))),
                    "gram",
                    "left",
                )
                .groupBy("doc_id")
                .agg(
                    F.sum(
                        F.when(F.col("_hit").isNull(), 1).otherwise(0)
                    )
                    .cast("bigint")
                    .alias("gain")
                )
            )
        top = gains.agg(
            F.max(
                F.struct(F.col("gain"), (-F.col("doc_id")).alias("ni"))
            ).alias("t")
        ).collect()[0]["t"]
        if top is None:  # pool exhausted (k > n docs)
            break
        doc = -top["ni"]
        selected.append((rank, doc, top["gain"]))
        new_grams = sh.where(F.col("doc_id") == doc).select("gram")
        covered = (
            new_grams
            if covered is None
            else covered.union(new_grams).distinct()
        )
        covered = covered.localCheckpoint(eager=True)
    sh.unpersist()
    return spark.createDataFrame(
        selected, schema="rank int, doc_id bigint, gain bigint"
    )


_LDB_W = 16  # token-length bucket width
_LDB_NB = 6  # buckets 0..5 (last open-ended); token lengths run 10-99
_LDB_SALT = "ldb-v1"


@register(
    "length_debias_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             -- floor(), not CAST: DuckDB's / is float division and its
             -- double->int CAST rounds half-up, where Spark floor()s
             CAST(least(CAST(floor({_WS_TOKENS_SQL} / {_LDB_W}.0)
                             AS BIGINT),
                        {_LDB_NB - 1}) AS INTEGER) AS bucket
      FROM documents),
    hist AS (SELECT bucket, count(*) AS n FROM d GROUP BY bucket),
    tot AS (SELECT sum(n) AS t FROM hist),
    ratio AS (
      SELECT bucket, n,
             (1.0 / {_LDB_NB}) / (CAST(n AS DOUBLE) / t) AS r
      FROM hist CROSS JOIN tot),
    mx AS (SELECT max(r) AS mr FROM ratio),
    acc AS (
      SELECT bucket, n,
             CAST(round(CAST(r / mr AS DECIMAL(38,15)), 6) AS DOUBLE) AS p
      FROM ratio CROSS JOIN mx),
    kept AS (
      SELECT d.bucket, count(*) AS n_accepted
      FROM d JOIN acc USING (bucket)
      WHERE (CAST('0x' || substr(md5('{_LDB_SALT}'
                                     || CAST(d.doc_id AS VARCHAR)), 1, 13)
                  AS BIGINT) + 0.5) / 4503599627370496.0 < acc.p
      GROUP BY d.bucket)
    SELECT acc.bucket,
           CAST(acc.n AS BIGINT) AS n_docs,
           acc.p AS accept_prob,
           CAST(coalesce(kept.n_accepted, 0) AS BIGINT) AS n_accepted
    FROM acc LEFT JOIN kept USING (bucket)
    ORDER BY acc.bucket
    """,
    doc="Distribution matching by rejection sampling: flatten the "
    f"token-length histogram ({_LDB_NB} fixed {_LDB_W}-token buckets) "
    "to a UNIFORM target — the standard de-biasing move when a corpus "
    "over-represents one length regime (or domain, date, language; the "
    "bucket expression is the only domain-specific piece). Per bucket: "
    "accept_prob = (target_share/source_share) / max over buckets (so "
    "the rarest bucket keeps everything and the glut is thinned), and "
    "each document draws the portable md5 uniform — the DuckDB oracle "
    "replays the EXACT accepted set, not a statistical twin. Plan: one "
    f"aggregate to the {_LDB_NB}-row histogram, a broadcast back, one "
    "codegen'd accept scan — two corpus scans, no shuffle wider than "
    "the histogram.",
    tags=("llm", "sampling", "bench"),
)
def length_debias_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        portable_uniform,
    )

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.least(
            F.floor(_ws_tokens() / _LDB_W).cast("bigint"),
            F.lit(_LDB_NB - 1).cast("bigint"),
        )
        .cast("int")
        .alias("bucket"),
    )
    hist = d.groupBy("bucket").agg(F.count("*").alias("n"))
    tot = hist.agg(F.sum("n").alias("t"))
    ratio = hist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        (
            F.lit(1.0 / _LDB_NB)
            / (F.col("n").cast("double") / F.col("t"))
        ).alias("r"),
    )
    mx = ratio.agg(F.max("r").alias("mr"))
    acc = ratio.crossJoin(F.broadcast(mx)).select(
        "bucket",
        "n",
        # decimal-domain round (15-dp pin) — both engines agree at half
        # boundaries; the accept comparison uses the ROUNDED prob so
        # the replayed decision is identical too
        F.round((F.col("r") / F.col("mr")).cast("decimal(38,15)"), 6)
        .cast("double")
        .alias("p"),
    )
    kept = (
        d.join(F.broadcast(acc), "bucket")
        .where(portable_uniform("doc_id", _LDB_SALT) < F.col("p"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_accepted"))
    )
    return (
        acc.join(kept, "bucket", "left")
        .select(
            "bucket",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("p").alias("accept_prob"),
            F.coalesce("n_accepted", F.lit(0))
            .cast("bigint")
            .alias("n_accepted"),
        )
        .orderBy("bucket")
    )


_ENTROPY_SQL = """
      CASE WHEN len(cs) = 0 THEN NULL ELSE
        CAST(round(list_sum(list_transform(list_distinct(cs),
          c -> CAST(round(
                 -(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                   / len(cs))
                 * ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                      / len(cs)), 6) AS DECIMAL(38,6)))), 4)
          AS DOUBLE)
      END"""


@register(
    "quality_proxy_agreement",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CAST(round({_quality_sql()}, 2) AS DECIMAL(18,6)) AS x,
             CAST({_ENTROPY_SQL}
                  AS DECIMAL(18,6)) AS y
      FROM (SELECT source, text,
                   CASE WHEN text = '' THEN CAST([] AS VARCHAR[])
                        ELSE string_split(text, '') END AS cs
            FROM documents)
    ),
    m AS (
      SELECT source,
             count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy,
             sum(x * y) AS sxy
      FROM scored WHERE y IS NOT NULL
      GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <= 0
                  OR (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
                THEN NULL
                ELSE CAST(round(CAST(
                  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                AS DECIMAL(38,15)), 6) AS DOUBLE)
           END AS corr
    FROM m
    ORDER BY source
    """,
    doc="Proxy-agreement screen: per-source Pearson correlation between "
    "the cheap composite quality score and character entropy — the "
    "instrument that says WHERE a fast proxy can stand in for a more "
    "expensive signal (a source where the proxies decorrelate needs "
    "the expensive one). Determinism is the point of the plan: all "
    "five moment sums (Σx, Σy, Σx², Σy², Σxy) accumulate in EXACT "
    "decimal — (18,6)×(18,6) products stay inside decimal(37,12), no "
    "scale clamp — so partial-aggregation order cannot move them; the "
    "correlation formula then runs ONCE per source in double on "
    "bit-identical inputs (IEEE *, /, sqrt are correctly rounded, so "
    "both engines produce the same double), 15-dp-pinned and rounded. "
    "One scan, one partial+final aggregate of 7 numbers per source — "
    "a shape that holds at any corpus size. Degenerate variance "
    "(constant column) yields NULL, not a division blow-up.",
    tags=("llm", "quality", "bench"),
)
def quality_proxy_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        char_entropy_columns,
        quality_score,
    )

    docs = load(spark, sf_dir, "documents")
    # r11: the composite quality score stays a codegen'd expression and
    # rides THROUGH the Arrow entropy kernel as a passthrough column, so
    # the interpreted HOF entropy fold (the measured wall of this query)
    # is replaced without adding a join or a shuffle
    pre = docs.select(
        "source",
        F.round(quality_score("text"), 2).alias("_x"),
        "text",
    )
    scored = char_entropy_columns(pre, "text", passthrough=("source", "_x")).select(
        "source",
        F.col("_x").cast("decimal(18,6)").alias("x"),
        F.col("char_entropy").cast("decimal(18,6)").alias("y"),
    ).where(F.col("y").isNotNull())
    m = scored.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    return m.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.when(
            (vx <= 0) | (vy <= 0), F.lit(None).cast("double")
        ).otherwise(
            F.round((cov / F.sqrt(vx * vy)).cast("decimal(38,15)"), 6).cast(
                "double"
            )
        ).alias("corr"),
    ).orderBy("source")


@register(
    "truncation_loss_sweep",
    oracle=f"""
    WITH d AS (
      SELECT {_WS_TOKENS_SQL} AS n_tok FROM documents),
    ctxs(ctx) AS (VALUES {', '.join(f'({c})' for c in _SWEEP_CTXS)}),
    sweep AS (
      SELECT CAST(ctx AS INTEGER) AS ctx, n_tok
      FROM d CROSS JOIN ctxs),
    agg AS (
      SELECT ctx,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(sum(least(n_tok, ctx)) AS BIGINT) AS kept_tokens,
             CAST(sum(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_truncated
      FROM sweep GROUP BY ctx)
    SELECT ctx, n_docs, total_tokens, kept_tokens, docs_truncated,
           CAST(CAST(round(CAST(CAST(total_tokens - kept_tokens AS DOUBLE)
                                / total_tokens
                                AS DECIMAL(38,15)), 6) AS DECIMAL(38,6))
                AS DOUBLE) AS lost_frac
    FROM agg
    """,
    doc="Truncation-loss sweep — the OTHER side of the "
    "packing_context_sweep decision: if the loader TRUNCATES each "
    f"document at {_SWEEP_CTXS} tokens instead of packing, how many "
    "tokens and documents are sacrificed at each context length. "
    "Together the two sweeps price the pack-vs-truncate tradeoff per "
    "context (packing wastes bin tails, truncation wastes document "
    "tails) from the same one corpus scan shape. Plan: a single "
    "narrow projection fanned 4× through the literal context array, "
    "one partial+final aggregate — zero joins, the shuffle carries "
    "4 rows per partition.",
    tags=("llm", "text", "bench"),
)
def truncation_loss_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ctx_arr = (
        "array(" + ",".join(f"CAST({c} AS INT)" for c in _SWEEP_CTXS) + ")"
    )
    sweep = docs.select(_ws_tokens().alias("n_tok")).select(
        "n_tok", F.explode(F.expr(ctx_arr)).alias("ctx")
    )
    agg = sweep.groupBy("ctx").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(F.least(F.col("n_tok"), F.col("ctx")))
        .cast("bigint")
        .alias("kept_tokens"),
        F.sum(F.when(F.col("n_tok") > F.col("ctx"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_truncated"),
    )
    return agg.select(
        "ctx",
        "n_docs",
        "total_tokens",
        "kept_tokens",
        "docs_truncated",
        F.round(
            (
                (F.col("total_tokens") - F.col("kept_tokens")).cast("double")
                / F.col("total_tokens")
            ).cast("decimal(38,15)"),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("lost_frac"),
    )


# ---------------------------------------------------------------------
# URL/domain-level curation (r10, VERDICT r9 ask #4): the CommonCrawl-
# pipeline stage with no prior counterpart — canonicalize URLs, extract
# registrable domains, measure URL-level dup pressure and blocklist
# impact per domain. The synthetic corpus has no URL column, so the
# queries DERIVE a deterministic raw URL per document from (doc_id,
# source) with the SAME string expression on both engines — messy on
# purpose (mixed-case schemes/hosts, www., default and non-default
# ports, tracking params, trailing slashes, fragments) so every
# canonicalization rule fires on gate data, not just in units. The
# kernels live in functions/url.py as paired (Column, SQL) builders.

_URL_TLDS = ("com", "org", "co.uk", "io", "com.au")


def _raw_url_col() -> F.Column:
    """Deterministic messy raw URL per document (Spark side). Keep in
    lockstep with _RAW_URL_SQL."""
    d = F.col("doc_id")
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _URL_TLDS]), (d % 5 + 1).cast("int")
    )
    scheme = (
        F.when(d % 4 == 0, F.lit("HTTPS"))
        .when(d % 4 == 1, F.lit("http"))
        .when(d % 4 == 2, F.lit("HtTp"))
        .otherwise(F.lit("https"))
    )
    www = F.when(d % 2 == 0, F.lit("www.")).otherwise(F.lit(""))
    hostbase = F.concat(F.col("source"), F.lit("-site."), tld)
    # case/slash/fragment flags use moduli COPRIME with the source
    # stride (source = doc_id % 20), so raw spellings vary INDEPENDENTLY
    # of the canonical identity within every source — that is what makes
    # alias dupes (raw-distinct, canonical-equal) exist on gate data
    host = F.when(d % 7 == 0, F.upper(hostbase)).otherwise(hostbase)
    port = (
        F.when(d % 6 == 0, F.lit(":80"))
        .when(d % 6 == 1, F.lit(":443"))
        .when(d % 6 == 2, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(F.lit("/docs/"), (d % 30).cast("string"))
    slash = F.when(d % 11 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        d % 2 == 0, F.lit("?utm_source=feed&ref=home")
    ).otherwise(
        F.concat(F.lit("?id="), (d % 5).cast("string"), F.lit("&utm_campaign=x"))
    )
    frag = F.when(d % 13 == 0, F.lit("#sec1")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), www, host, port, path, slash, query, frag)


_RAW_URL_SQL = """concat(
  CASE WHEN doc_id % 4 = 0 THEN 'HTTPS'
       WHEN doc_id % 4 = 1 THEN 'http'
       WHEN doc_id % 4 = 2 THEN 'HtTp' ELSE 'https' END,
  '://',
  CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END,
  CASE WHEN doc_id % 7 = 0
       THEN upper(concat(source, '-site.',
                         ['com','org','co.uk','io','com.au'][CAST(doc_id % 5 + 1 AS INT)]))
       ELSE concat(source, '-site.',
                   ['com','org','co.uk','io','com.au'][CAST(doc_id % 5 + 1 AS INT)]) END,
  CASE WHEN doc_id % 6 = 0 THEN ':80'
       WHEN doc_id % 6 = 1 THEN ':443'
       WHEN doc_id % 6 = 2 THEN ':8080' ELSE '' END,
  '/docs/', CAST(doc_id % 30 AS VARCHAR),
  CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=home'
       ELSE concat('?id=', CAST(doc_id % 5 AS VARCHAR), '&utm_campaign=x') END,
  CASE WHEN doc_id % 13 = 0 THEN '#sec1' ELSE '' END)"""


def _url_report_oracle() -> str:
    from weather_data_data_pipeline_spark.functions.url import (
        canonical_host_sql,
        canonical_url_sql,
        registrable_domain_sql,
    )

    return f"""
    WITH u AS (SELECT {_RAW_URL_SQL} AS raw_url FROM documents),
    c AS (
      SELECT raw_url,
             {canonical_url_sql("raw_url")} AS curl,
             {registrable_domain_sql(canonical_host_sql("raw_url"))}
               AS domain
      FROM u
    ),
    agg AS (
      SELECT domain,
             CAST(count(*) AS BIGINT) AS n_urls,
             CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_distinct,
             CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical
      FROM c GROUP BY domain
    )
    SELECT domain, n_urls, n_raw_distinct, n_canonical,
           CAST(n_raw_distinct - n_canonical AS BIGINT) AS n_alias_dupes,
           CAST(CAST(round(CAST(CAST(n_urls - n_canonical AS DOUBLE)
                                / n_urls AS DECIMAL(38,15)), 6)
                     AS DECIMAL(38,6)) AS DOUBLE) AS dup_rate
    FROM agg
    """


@register(
    "url_domain_dedup_report",
    oracle=_url_report_oracle(),
    doc="URL-level dedup report per registrable domain: raw URL count, "
    "distinct raw URLs, distinct CANONICAL URLs (functions/url.py — "
    "fragment/tracking-param/default-port/case/www/trailing-slash "
    "normalization), alias dupes (raw-distinct URLs that collapse "
    "under canonicalization — exactly the dupes only canonicalization "
    "can see), and the overall dup rate. The first stage of a crawl "
    "curation pipeline: it tells you how much of the fetch list is "
    "re-fetching the same resource under different spellings BEFORE "
    "committing crawl budget. Registrable-domain grouping (PSL-subset "
    "label slicing, co.uk/com.au exercised on gate data) keeps the "
    "output bounded by the domain count, not the URL count. Plan: one "
    "scan, all string work codegen'd into it, one two-level aggregate "
    "(distinct-by-domain then rollup) — shuffle carries (domain, url) "
    "pairs, never documents; at 100 TB the domain-keyed shuffle is the "
    "same shape CommonCrawl-scale URL dedup uses.",
    tags=("llm", "curation", "url", "bench"),
)
def url_domain_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.url import (
        canonical_host,
        canonical_url,
        registrable_domain,
    )

    docs = load(spark, sf_dir, "documents")
    c = docs.select(_raw_url_col().alias("raw_url")).select(
        "raw_url",
        canonical_url("raw_url").alias("curl"),
        registrable_domain(canonical_host("raw_url")).alias("domain"),
    )
    agg = c.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.count_distinct("raw_url").cast("bigint").alias("n_raw_distinct"),
        F.count_distinct("curl").cast("bigint").alias("n_canonical"),
    )
    return agg.select(
        "domain",
        "n_urls",
        "n_raw_distinct",
        "n_canonical",
        (F.col("n_raw_distinct") - F.col("n_canonical"))
        .cast("bigint")
        .alias("n_alias_dupes"),
        F.round(
            (
                (F.col("n_urls") - F.col("n_canonical")).cast("double")
                / F.col("n_urls")
            ).cast("decimal(38,15)"),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("dup_rate"),
    )


# Fixture blocklist standing in for a curated bad-domain list (URL
# Haus / internal abuse-desk exports in production): one .com, one
# .co.uk (multi-part suffix goes through the PSL slicing), one com.au.
_BLOCKED_DOMAINS = ("src0-site.com", "src7-site.co.uk", "src4-site.com.au")
_BLOCKED_SQL = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)


def _domain_rollup_oracle() -> str:
    from weather_data_data_pipeline_spark.functions.url import (
        canonical_host_sql,
        registrable_domain_sql,
    )

    return f"""
    WITH u AS (SELECT {_RAW_URL_SQL} AS raw_url FROM documents),
    c AS (
      SELECT {registrable_domain_sql(canonical_host_sql("raw_url"))}
               AS domain
      FROM u
    ),
    agg AS (
      SELECT domain, CAST(count(*) AS BIGINT) AS n_urls
      FROM c GROUP BY domain
    ),
    tot AS (SELECT sum(n_urls) AS total FROM agg)
    SELECT domain, n_urls,
           domain IN ({_BLOCKED_SQL}) AS blocked,
           CAST(CAST(round(CAST(CAST(n_urls AS DOUBLE) / total
                                AS DECIMAL(38,15)), 6)
                     AS DECIMAL(38,6)) AS DOUBLE) AS corpus_share
    FROM agg CROSS JOIN tot
    """


@register(
    "domain_blocklist_rollup",
    oracle=_domain_rollup_oracle(),
    doc="Domain-level blocklist impact preview: per registrable domain, "
    "URL volume, whether the domain is on the blocklist, and its share "
    "of the corpus — the policy dry-run a curation team reads BEFORE "
    "enforcing a domain ban, because blocking a domain that carries 8% "
    "of the corpus is a data-mix decision, not a cleaning step (the "
    "domain-level twin of blocklist_filter_report's token-level rule). "
    "The blocklist rides as one literal IN-set against the registrable "
    "domain (PSL-subset slicing, functions/url.py), so a multi-part-"
    "suffix host (sub.shop.x.co.uk) blocks with its whole site, not "
    "per-subdomain. Plan: one scan + one domain-keyed rollup + a "
    "1-row broadcast total — output bounded by domain count.",
    tags=("llm", "curation", "url", "bench"),
)
def domain_blocklist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.url import (
        canonical_host,
        domain_share_rollup,
        registrable_domain,
    )

    docs = load(spark, sf_dir, "documents")
    c = docs.select(_raw_url_col().alias("raw_url")).select(
        registrable_domain(canonical_host("raw_url")).alias("domain")
    )
    # SHARED rollup fragment (functions/url.py) — the streaming
    # url_blocklist_monitor_sink compiles the identical expressions
    return domain_share_rollup(c, _BLOCKED_DOMAINS, "corpus_share")
