"""Round-5 data-SELECTION queries: DSIR importance resampling, the
applied exact-substring cleaner, and tokenizer-priced corpus budgets —
the "which documents, and how many tokens are they worth" layer that
sits between dedup/quality filtering and the training mix.

The reference has no selection surface (its pipeline keeps everything
it fetches, ref: src/weather_report_pipeline/
weather_report_data_full_load_pipeline.py:160-171 keeps every non-dup
row); these extend the engine for the LLM-training-data north star in
BASELINE.json, alongside the dedup/quality/sampling stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.registry import register
from weather_data_data_pipeline_spark.sources.tables import load, load_fanout

_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"

# Shared oracle CTE chain: hashed uni+bi gram buckets → target/raw
# bucket models (add-one smoothing) → per-bucket 6-dp decimal log
# ratios → per-doc exact decimal Σ count·ratio. Mirrors
# functions/importance.py:dsir_log_weights expression for expression;
# the decimal contract makes the per-doc sum aggregation-order-proof
# (module docstring there).
def _dsir_gram_ctes(num_buckets: int) -> str:
    """toks → uni+bigram strings → md5 buckets: the gram CTE prefix
    shared by the fit-and-score oracle (dsir_importance_weights) and
    the frozen-model oracle (dsir_score_frozen)."""
    return f"""
    toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    gram_strings AS (
      SELECT doc_id, u AS g
      FROM (SELECT doc_id, unnest(t) AS u FROM toks)
      UNION ALL
      SELECT doc_id, u AS g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS u
        FROM toks WHERE len(t) >= 2
      )
    ),
    grams AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
               % {num_buckets} AS bucket
      FROM gram_strings
    )"""


_DSIR_WEIGHTS_CTES = f"""
    {_dsir_gram_ctes(_DSIR_BUCKETS)},
    tgt AS (
      SELECT bucket, count(*) AS ct
      FROM grams JOIN documents USING (doc_id)
      WHERE documents.lang = '{_DSIR_TARGET_LANG}'
      GROUP BY bucket
    ),
    rawm AS (SELECT bucket, count(*) AS cr FROM grams GROUP BY bucket),
    tots AS (
      SELECT (SELECT sum(cr) FROM rawm) AS tot_r,
             (SELECT sum(ct) FROM tgt) AS tot_t
    ),
    ratios AS (
      SELECT rawm.bucket,
             CAST(round(ln(
                 ((coalesce(ct, 0) + 1) / (tot_t + {_DSIR_BUCKETS}))
               / ((cr + 1) / (tot_r + {_DSIR_BUCKETS}))
             ), 6) AS DECIMAL(28,6)) AS r
      FROM rawm LEFT JOIN tgt USING (bucket) CROSS JOIN tots
    ),
    per_bucket AS (
      SELECT doc_id, bucket, count(*) AS n
      FROM grams GROUP BY doc_id, bucket
    ),
    weights AS (
      SELECT d.doc_id,
             CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
             coalesce(a.log_w, 0.0) AS log_w
      FROM documents d
      LEFT JOIN (
        SELECT per_bucket.doc_id,
               sum(n) AS n_grams,
               -- exact decimal sum cast straight to double (NO round():
               -- half-way rounding of doubles differs per engine)
               CAST(sum(n * r) AS DOUBLE) AS log_w
        FROM per_bucket JOIN ratios USING (bucket)
        GROUP BY per_bucket.doc_id
      ) a USING (doc_id)
    )
"""


def _weights_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_log_weights,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs,
        "doc_id",
        "text",
        F.col("lang") == _DSIR_TARGET_LANG,
        num_buckets=_DSIR_BUCKETS,
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_WEIGHTS_CTES}
    SELECT doc_id, n_grams, log_w FROM weights
    """,
    doc="DSIR data selection, scoring pass (Xie et al. 2023, hashed "
    "n-gram importance resampling; functions/importance.py): bag-of-"
    "hashed-uni+bigram models with add-one smoothing fit on the target "
    "slice (lang='en') and the raw corpus, per-document log importance "
    "weight Σ count_b·ln(p_b/q_b). Corpus-wide state is two 256-row "
    "bucket tables regardless of corpus size (the hashing is what "
    "makes DSIR 100TB-viable); per-bucket ratios are rounded to 6dp "
    "and accumulated in exact decimal, so the per-doc sum is "
    "aggregation-order-proof and the md5 bucket family replays "
    "verbatim in the oracle.",
    tags=("llm", "selection", "quality", "bench"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _weights_df(spark, sf_dir)


@register(
    "dsir_select_topk",
    oracle=f"""
    WITH {_DSIR_WEIGHTS_CTES},
    scored AS (
      SELECT doc_id, log_w,
             log_w + (-ln(-ln(
               (CAST('0x' || substr(md5('dsir-v1' || CAST(doc_id AS VARCHAR)),
                                    1, 13) AS BIGINT)
                + 0.5) / 4503599627370496.0
             ))) AS s
      FROM weights
    )
    SELECT doc_id, log_w, round(s, 4) AS score
    FROM scored ORDER BY s DESC, doc_id LIMIT 64
    """,
    doc="DSIR data selection, resampling pass: Gumbel-top-k over the "
    "importance log weights — score = log_w - ln(-ln(u)), u from "
    "md5(salt||id) (functions/importance.py:dsir_select_topk) — "
    "distributionally identical to sampling 64 docs without "
    "replacement ∝ exp(log_w) (Gumbel-max trick) yet fully "
    "deterministic and engine-portable; log-space scoring sidesteps "
    "exp overflow. One global top-k: Spark plans "
    "TakeOrderedAndProject, never a full sort.",
    tags=("llm", "selection", "sampling", "bench"),
)
def dsir_select_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_select_topk,
    )

    return dsir_select_topk(
        _weights_df(spark, sf_dir), "doc_id", k=64, salt="dsir-v1"
    )


# Frozen DSIR model — fitted ONCE at dev time by scripts/fit_frozen_dsir.py
# (dsir_model_ratios on sf0.001, target slice lang='en', 64 md5 buckets).
# The production DSIR deployment mode: the model is a 64-row literal
# table; every new shard is scored against it with zero fit work, and
# the DuckDB oracle replays only the scoring path.
_FROZEN_DSIR_RATIOS = [
    (0, "-0.061862"),
    (1, "0.044201"),
    (2, "0.067877"),
    (3, "-0.019884"),
    (4, "0.016377"),
    (5, "0.016253"),
    (6, "0.002847"),
    (7, "-0.006393"),
    (8, "-0.024646"),
    (9, "-0.076876"),
    (10, "0.054807"),
    (11, "-0.067798"),
    (12, "0.010601"),
    (13, "0.007334"),
    (14, "-0.087888"),
    (15, "0.040127"),
    (16, "0.027055"),
    (17, "0.003525"),
    (18, "0.095573"),
    (19, "-0.030999"),
    (20, "0.050093"),
    (21, "0.015221"),
    (22, "0.009394"),
    (23, "-0.028929"),
    (24, "0.109447"),
    (25, "0.013221"),
    (26, "-0.026779"),
    (27, "-0.039882"),
    (28, "0.038549"),
    (29, "0.000496"),
    (30, "-0.025217"),
    (31, "-0.045902"),
    (32, "0.050819"),
    (33, "-0.048953"),
    (34, "-0.068144"),
    (35, "-0.006798"),
    (36, "-0.043453"),
    (37, "0.069863"),
    (38, "-0.012986"),
    (39, "0.004212"),
    (40, "0.021120"),
    (41, "-0.044299"),
    (42, "-0.022216"),
    (43, "0.000257"),
    (44, "-0.109804"),
    (45, "0.012252"),
    (46, "0.012029"),
    (47, "0.097790"),
    (48, "0.037761"),
    (49, "0.038718"),
    (50, "-0.056923"),
    (51, "-0.004637"),
    (52, "-0.022332"),
    (53, "0.038599"),
    (54, "-0.043563"),
    (55, "-0.034268"),
    (56, "0.009419"),
    (57, "-0.029228"),
    (58, "-0.012386"),
    (59, "-0.019465"),
    (60, "0.016630"),
    (61, "0.031718"),
    (62, "-0.077149"),
    (63, "-0.033970"),
]

def _frozen_dsir_ratio_pairs() -> list:
    """The frozen model as plain (bucket, Decimal) literal pairs — the
    form dsir_score_frozen consumes without a collect job (r11: the
    parallelized 64-row frame cost ~0.3 s per scoring call)."""
    from decimal import Decimal

    return [(b, Decimal(r)) for b, r in _FROZEN_DSIR_RATIOS]


def _frozen_dsir_ratios_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _frozen_dsir_ratio_pairs(), "bucket bigint, r decimal(28,6)"
    )


_FROZEN_DSIR_NB = 64
_FROZEN_DSIR_VALUES = ",\n      ".join(
    f"({b}, CAST({r} AS DECIMAL(28,6)))" for b, r in _FROZEN_DSIR_RATIOS
)

_FROZEN_DSIR_ORACLE = f"""
    WITH {_dsir_gram_ctes(_FROZEN_DSIR_NB)},
    fr(bucket, r) AS (VALUES
      {_FROZEN_DSIR_VALUES}
    ),
    per_bucket AS (
      SELECT doc_id, bucket, count(*) AS n
      FROM grams GROUP BY doc_id, bucket
    ),
    agg AS (
      SELECT per_bucket.doc_id,
             sum(n) AS n_grams,
             -- absent buckets score ratio 0 but still count toward
             -- n_grams (dsir_model_ratios contract; ADVICE r5 #2) —
             -- exact decimal sum cast straight to double, no round()
             CAST(sum(n * coalesce(r, CAST(0 AS DECIMAL(28,6))))
                  AS DOUBLE) AS log_w
      FROM per_bucket LEFT JOIN fr USING (bucket)
      GROUP BY per_bucket.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
           coalesce(a.log_w, 0.0) AS log_w
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register(
    "dsir_score_frozen",
    oracle=_FROZEN_DSIR_ORACLE,
    doc="FROZEN-model DSIR scoring — the production deployment mode "
    "(fit the hashed-n-gram importance model once on a curated dev "
    "slice, freeze the 64-row (bucket, log-ratio) table, score every "
    "incoming shard against it forever): "
    "functions/importance.py:dsir_score_frozen over a literal ratio "
    "table — (doc_id, n_grams, log_w). Scoring is one gram pass with "
    "the model broadcast; the decimal contract makes per-doc sums "
    "batch-split-proof, which is what the streaming twin "
    "(tests/test_streaming.py::"
    "test_dsir_score_stream_matches_batch_frozen_scoring) rests on. "
    "Grams hashing into buckets absent from the frozen table score 0 "
    "but still count toward n_grams. Provenance of the literals: "
    "scripts/fit_frozen_dsir.py.",
    tags=("llm", "selection", "quality", "bench"),
)
def dsir_score_frozen_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_score_frozen,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    return dsir_score_frozen(
        docs, _frozen_dsir_ratio_pairs(), "doc_id", "text",
        num_buckets=_FROZEN_DSIR_NB,
    )



@register(
    "span_dedup_clean_corpus",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 6),
                          i -> struct_pack(pos := i - 1,
                               gram := array_to_string(t[i:i+7], ' ')))) AS u
            FROM toks WHERE len(t) >= 8
        )
    ),
    freq AS (SELECT gram, count(*) AS c FROM spans GROUP BY gram),
    dup AS (
        SELECT doc_id, pos FROM spans JOIN freq USING (gram)
        WHERE freq.c >= 2
    ),
    marked AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w >= 8 THEN 1 ELSE 0
               END AS new_isl
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM marked
    ),
    per_isl AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        FROM islands GROUP BY doc_id, isl
    ),
    tok_pos AS (
        SELECT doc_id, u.i AS i, u.tok AS tok FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) + 1),
                          i -> struct_pack(i := i - 1, tok := t[i]))) AS u
            FROM toks
        )
    ),
    kept AS (
        SELECT tp.doc_id, tp.i, tp.tok
        FROM tok_pos tp
        WHERE NOT EXISTS (
            SELECT 1 FROM per_isl b
            WHERE b.doc_id = tp.doc_id AND tp.i >= b.s AND tp.i < b.e
        )
    ),
    clean AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY i) AS clean_text,
               count(*) AS kept
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(c.clean_text, '') END AS clean_text,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE CAST(coalesce(c.kept, 0) AS BIGINT) END AS kept_tokens
    FROM documents d LEFT JOIN clean c USING (doc_id)
    """,
    doc="The APPLIED form of exact-substring dedup (Lee et al. 2022): "
    "span_dedup_removal reports what would be cut; this returns every "
    "document with its corpus-duplicated 8-gram spans actually REMOVED "
    "(functions/dedup.py:span_dedup_clean) — doc_id, rebuilt "
    "clean_text, n_tokens, kept_tokens. Same _span_islands frame as "
    "the stats pass (the two faces cannot diverge), plus one "
    "collect_list(islands) per doc and a codegen'd higher-order filter "
    "rebuilding the text: tokens never shuffle for the reconstruction, "
    "only (id, islands) pairs do, and the oracle rebuilds the exact "
    "same strings via an interval anti-join.",
    tags=("llm", "dedup", "quality", "bench"),
)
def span_dedup_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.dedup import (
        span_dedup_clean,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    return span_dedup_clean(docs, "doc_id", "text", n=8, min_count=2)


@register(
    "doremi_domain_weights",
    oracle="""
    WITH arrs AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    toks AS (
      SELECT source, u AS tok FROM (SELECT source, unnest(t) AS u FROM arrs)
    ),
    uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS total FROM toks),
    v AS (SELECT count(*) AS vs FROM uni),
    bi AS (
      SELECT source, u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT source,
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
        FROM arrs WHERE len(t) >= 2
      )
    ),
    bg AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
    ref_loss AS (
      SELECT source, count(*) AS n_tokens,
             round(CAST(sum(CAST(round(-ln(uni.c / n.total), 6)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*), 4) AS ref_loss
      FROM toks JOIN uni USING (tok) CROSS JOIN n
      GROUP BY source
    ),
    proxy_loss AS (
      SELECT source,
             round(CAST(sum(CAST(round(-ln((bg.c2 + 1.0) / (uni.c + v.vs)), 6)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*), 4) AS proxy_loss
      FROM bi JOIN bg USING (w1, w2) JOIN uni ON uni.tok = bi.w1 CROSS JOIN v
      GROUP BY source
    ),
    docs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    per_src AS (
      SELECT d.source, d.n_docs,
             CAST(r.n_tokens AS BIGINT) AS n_tokens, r.ref_loss,
             coalesce(p.proxy_loss, r.ref_loss) AS proxy_loss,
             round(greatest(coalesce(p.proxy_loss, r.ref_loss) - r.ref_loss,
                            0.0), 4) AS excess
      FROM docs d
      JOIN ref_loss r USING (source)
      LEFT JOIN proxy_loss p USING (source)
    ),
    terms AS (
      SELECT *,
             CAST(round((n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE)
                                     FROM per_src))
                        * exp(excess / 0.5), 9) AS DECIMAL(38,9)) AS term
      FROM per_src
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
           ref_loss, proxy_loss, excess,
           round(CAST(term AS DOUBLE)
                 / CAST((SELECT sum(term) FROM terms) AS DOUBLE), 6)
             AS mix_weight
    FROM terms
    """,
    doc="DoReMi-style training-mix reweighting from MEASURED per-domain "
    "excess loss (Xie et al. 2023 DoReMi, the 'lite' closed-form pass): "
    "per source, reference loss = unigram logppl, proxy loss = add-one "
    "bigram logppl (both corpus-self-trained, same models as "
    "doc_unigram_logppl / doc_bigram_logppl), excess = max(0, proxy - "
    "ref), and mix_weight ∝ token_share · exp(excess/τ) normalized over "
    "sources — domains whose word ORDER is hard relative to their "
    "vocabulary get upweighted. All corpus passes are the bounded-state "
    "logppl aggregates (Zipf-small count tables); the reweighting "
    "itself touches one row per source. Per-token losses are rounded "
    "to 6dp decimal before the per-source sum, so every average is "
    "aggregation-order-proof (the DSIR determinism contract).",
    tags=("llm", "selection", "sampling", "bench"),
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_fanout(spark, sf_dir, "documents")
    arr = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    arrs = docs.select("source", arr.alias("t"))
    # ONE corpus explode covers BOTH models: unigram strings plus
    # "w1 w2" bigram strings in the same gram column (the r5 plan ran
    # two explodes and re-aggregated each branch separately — 25
    # exchanges; VERDICT r5 #3). The collapsed (source, g) count table
    # is Zipf-small and localCheckpointed: every downstream consumer
    # (uni model, bigram model, both loss passes) reads it, the corpus
    # is never touched again. The size>=2 guard matters: sequence(0,
    # size-2) DESCENDS for 1-token docs.
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.col("t")[i], F.col("t")[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_counts = (
        arrs.select("source", F.explode(F.concat("t", bigrams)).alias("g"))
        .groupBy("source", "g")
        .agg(F.count("*").alias("m"))
        .localCheckpoint(eager=False)
    )
    is_big = F.col("g").contains(" ")
    uni = (
        gram_counts.where(~is_big)
        .groupBy("g")
        .agg(F.sum("m").alias("c"))
        # three consumers (bigram first-word counts, gram_stats union,
        # totals) — checkpoint or each re-runs the vocab aggregation
        .localCheckpoint(eager=False)
    )
    bg = gram_counts.where(is_big).groupBy("g").agg(F.sum("m").alias("c2"))
    totals = uni.agg(F.sum("c").alias("total"), F.count("*").alias("vs"))
    # one per-GRAM stats table: token rows carry the unigram count c,
    # bigram rows carry (pair count c2, first-word count cw1) — so ONE
    # join and ONE per-source aggregation produce both losses
    bg2 = bg.join(
        uni.select(F.col("g").alias("_w1"), F.col("c").alias("cw1")),
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)) == F.col("_w1"),
    ).select(
        "g",
        F.lit(None).cast("bigint").alias("c"),
        "c2",
        "cw1",
    )
    gram_stats = uni.select(
        "g",
        "c",
        F.lit(None).cast("bigint").alias("c2"),
        F.lit(None).cast("bigint").alias("cw1"),
    ).unionByName(bg2)

    def _dec6(loss_col):
        # 6dp-decimal per-gram loss (the aggregation-order-proof
        # contract shared with functions/importance.py)
        return F.round(loss_col, 6).cast("decimal(38,6)")

    ref_loss = -F.log(F.col("c") / F.col("total"))
    proxy_loss = -F.log(
        (F.col("c2") + F.lit(1.0)) / (F.col("cw1") + F.col("vs"))
    )
    per_src_loss = (
        gram_counts.join(gram_stats, "g")
        .crossJoin(F.broadcast(totals))
        .groupBy("source")
        .agg(
            F.sum(F.when(~is_big, F.col("m")))
            .cast("bigint")
            .alias("n_tokens"),
            F.round(
                F.sum(F.when(~is_big, F.col("m") * _dec6(ref_loss)))
                .cast("double")
                / F.sum(F.when(~is_big, F.col("m"))),
                4,
            ).alias("ref_loss"),
            # NULL when a source has no bigrams (all 1-token docs) —
            # coalesced to ref_loss below, same as the old left join
            F.round(
                F.sum(F.when(is_big, F.col("m") * _dec6(proxy_loss)))
                .cast("double")
                / F.sum(F.when(is_big, F.col("m"))),
                4,
            ).alias("proxy_loss"),
        )
    )
    n_docs = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    per_src = n_docs.join(per_src_loss, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "ref_loss",
        F.coalesce("proxy_loss", "ref_loss").alias("proxy_loss"),
        F.round(
            F.greatest(
                F.coalesce("proxy_loss", "ref_loss") - F.col("ref_loss"),
                F.lit(0.0),
            ),
            4,
        ).alias("excess"),
    )
    # both normalizers as window sums over the ≤|sources|-row frame —
    # one SinglePartition exchange replaces the r5 plan's two scalar
    # agg+crossJoin chains (tok_total, term_total)
    w_all = Window.partitionBy()
    terms = per_src.withColumn(
        "term",
        F.round(
            (
                F.col("n_tokens")
                / F.sum("n_tokens").over(w_all).cast("double")
            )
            * F.exp(F.col("excess") / F.lit(0.5)),
            9,
        ).cast("decimal(38,9)"),
    )
    return terms.select(
        "source",
        "n_docs",
        "n_tokens",
        "ref_loss",
        "proxy_loss",
        "excess",
        F.round(
            F.col("term").cast("double")
            / F.sum("term").over(w_all).cast("double"),
            6,
        ).alias("mix_weight"),
    )


@register(
    "quality_classifier_scores",
    # the SCORING machinery (hashing, margin, sigmoid, decimal pin) is
    # oracle-replayed by the registered frozen-weights twin
    # quality_classifier_frozen_scores (r11 closure upgrade — the
    # dsir_score_frozen pattern); only the L-BFGS fit itself is
    # engine-specific, and that stays pinned in tests/test_classifier.py
    # (separable-corpus accuracy, same-session determinism, NULL-text
    # survival, scoring parity with a hand-computed sigmoid(w·x + b))
    verified_by="quality_classifier_frozen_scores",
    oracle=None,  # the scores are L-BFGS-fitted logistic-regression
    # outputs — an iterative optimizer, not SQL-expressible
    doc="Learned quality filter, the fastText/DCLM pattern "
    "(functions/classifier.py): label a curated slice positive "
    "(sources src0-src3 stand in for the 'Wikipedia/books' side), the "
    "rest negative, fit HashingTF(4096) → LogisticRegression on a "
    "deterministic md5-bucketed 70% of the corpus, score EVERYTHING — "
    "(doc_id, label, prob_pos, pred). Feature hashing keeps zero "
    "corpus-wide vocabulary state and L-BFGS keeps driver state at one "
    "4097-float vector, so the same fit runs at 100 TB; the corpus is "
    "featurized once (MLlib persists the instance cache across "
    "iterations).",
    tags=("llm", "selection", "quality", "bench"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.classifier import (
        quality_classifier_fit,
        quality_classifier_score_expr,
    )
    from weather_data_data_pipeline_spark.functions.text import md5_threshold

    docs = load_fanout(spark, sf_dir, "documents").withColumn(
        "label",
        F.col("source").isin("src0", "src1", "src2", "src3")
        .cast("double"),
    )
    # deterministic, growth-stable 70% training slice — same md5 device
    # as holdout_split, so train membership never shifts when the
    # corpus grows
    train = docs.where(
        F.md5(F.concat(F.lit("qc-v1|"), F.col("doc_id").cast("string")))
        < F.lit(md5_threshold(0.7))
    )
    # r16 (VERDICT r15 #6): scoring via literal-coefficient expressions
    # — bit-identical to model.transform (knife-edge-pinned in
    # tests/test_classifier.py), drops the MLlib ScalaUDF scoring pass
    # AND the save/load round trip (strip=False: the model never enters
    # a task closure on this path, so trainingSummary is harmless)
    model = quality_classifier_fit(train, "text", "label", strip=False)
    return quality_classifier_score_expr(
        model, docs, "doc_id", "text", keep_cols=("label",)
    )


# Frozen quality-classifier coefficients — fitted ONCE at dev time by
# scripts/fit_frozen_classifier.py (deterministic full-batch GD, 500
# iters, L2 1e-3, over md5-bucketed unigram counts on sf0.001, labels
# src0-src3 positive; training acc 0.77 on a 0.80-majority corpus — the
# synthetic closed ~31-token vocabulary is shared across sources, so
# hashed unigrams carry little signal; TESTDATA.md workload property,
# not a defect of the scoring path this query exists to pin).
FROZEN_QC_INTERCEPT = -0.686794
FROZEN_QC_WEIGHTS = [
    -0.168949, -0.702086, 0.0, 0.0, 0.0, -0.308617,
    0.0, 0.0, 0.0, 0.0, 0.497797, 0.0,
    -0.275681, -0.199246, 0.37287, 0.0, 0.0, 0.0,
    0.0, 0.080779, 0.0, 0.0, 0.148071, 0.281537,
    0.0, -0.398917, 0.0, 0.348779, 0.0, 0.0,
    -0.463137, -0.12022, 0.763052, 0.0, 0.0, 0.0,
    0.402099, 0.0, 0.0, -0.487479, 0.0, 0.668307,
    0.0, 0.0, 0.0, 0.154718, 0.0, 0.0,
    -0.586858, 0.06665, 0.0, 0.0, 0.0, 0.0,
    0.0, -0.24324, -0.543454, -0.209302, -0.041279, 0.0,
    0.0, -0.118389, 0.0, 0.0,
]

_QC_VALUES = ",\n      ".join(
    f"({i}, CAST({w:.6f} AS DECIMAL(10,6)))"
    for i, w in enumerate(FROZEN_QC_WEIGHTS)
)
_QC_NB = len(FROZEN_QC_WEIGHTS)
_QC_B = f"CAST({FROZEN_QC_INTERCEPT:.6f} AS DECIMAL(10,6))"

_FROZEN_QC_ORACLE = f"""
    WITH w(bucket, wt) AS (VALUES
      {_QC_VALUES}
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    tb AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_QC_NB}
               AS bucket
      FROM toks
    ),
    sums AS (
      SELECT doc_id, sum(wt) AS s
      FROM tb JOIN w USING (bucket)
      GROUP BY doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(d.source IN ('src0','src1','src2','src3') AS INT)
               AS label,
             CAST(coalesce(s.s, 0) + {_QC_B} AS DECIMAL(38,6)) AS margin
      FROM documents d LEFT JOIN sums s USING (doc_id)
    )
    SELECT doc_id, label,
           CAST(margin AS DOUBLE) AS margin,
           CAST(CAST(round(CAST(1.0 / (1.0 + exp(-CAST(margin AS DOUBLE)))
                                AS DECIMAL(38,15)), 6)
                     AS DECIMAL(38,6)) AS DOUBLE) AS prob_pos,
           CAST(CAST(margin AS DOUBLE) > 0 AS INT) AS pred
    FROM scored
"""


@register(
    "quality_classifier_frozen_scores",
    oracle=_FROZEN_QC_ORACLE,
    doc="FROZEN-model quality scoring — the production deployment mode "
    "of the learned filter (fit once on a curated dev slice, freeze, "
    "score every incoming shard forever): documents scored with "
    "literal pinned coefficients over md5 token buckets "
    "(functions/classifier.py:score_frozen_md5) — (doc_id, label, "
    "margin, prob_pos, pred). The margin accumulates in decimal(38,6) "
    "via a higher-order aggregate over the token array (exact, "
    "order-proof, zero shuffle — the plan is one scan), and the DuckDB "
    "oracle replays tokenize → md5 bucket → literal-weight dot → "
    "sigmoid end to end, closing the r5 gap of a classifier family "
    "with no oracle-checked variant (VERDICT r5 missing #1). "
    "Provenance of the literals: scripts/fit_frozen_classifier.py.",
    tags=("llm", "selection", "quality", "bench"),
)
def quality_classifier_frozen_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.classifier import (
        score_frozen_md5,
    )

    docs = load_fanout(spark, sf_dir, "documents").withColumn(
        "label",
        F.col("source").isin("src0", "src1", "src2", "src3").cast("int"),
    )
    return score_frozen_md5(
        docs,
        "doc_id",
        "text",
        FROZEN_QC_WEIGHTS,
        FROZEN_QC_INTERCEPT,
        keep_cols=("label",),
    )


@register(
    "bpe_token_budget",
    verified_by="tests/test_bpe.py",
    oracle=None,  # the encode applies a TRAINED merge table (itself the
    # output of the iterative argmax loop) — not SQL-expressible; the
    # trainer AND the rank-priority encoder are pinned exactly against
    # the pure-Python Sennrich reference in tests/test_bpe.py
    doc="Per-source corpus token budget under the LEARNED BPE tokenizer "
    "(functions/bpe.py:bpe_token_budget): trains 12 merges (corpus "
    "touched once via the word-frequency groupBy), then one Arrow-"
    "batched rank-priority encode pass + a partial-aggregated rollup — "
    "(source, n_docs, bpe_tokens). Whitespace token counts mis-state "
    "training cost by the merge compression factor; this is the number "
    "that actually prices a run. The encode memoizes per distinct word "
    "per task, so the hot path pays per-VOCABULARY cost, not "
    "per-corpus.",
    tags=("llm", "text", "rows-only"),
)
def bpe_token_budget_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.bpe import (
        bpe_token_budget,
        bpe_train,
    )

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", num_merges=12)
    return bpe_token_budget(
        load_fanout(spark, sf_dir, "documents"), "text", merges, ["source"]
    ).orderBy("source")


_PIPE_GATE = 0.2
_PIPE_K = 32
_PIPE_SALT = "pipe-v1"

_FROZEN_PIPE_ORACLE = f"""
    WITH qw(bucket, wt) AS (VALUES
      {{qc_values}}
    ),
    qtoks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    qtb AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {{qc_nb}}
               AS bucket
      FROM qtoks
    ),
    qsums AS (
      SELECT doc_id, sum(wt) AS s
      FROM qtb JOIN qw USING (bucket)
      GROUP BY doc_id
    ),
    qscore AS (
      SELECT d.doc_id,
             CAST(round(CAST(1.0 / (1.0 + exp(-CAST(
               CAST(coalesce(s.s, 0) + {{qc_b}} AS DECIMAL(38,6))
               AS DOUBLE))) AS DECIMAL(38,15)), 6) AS DOUBLE) AS prob
      FROM documents d LEFT JOIN qsums s USING (doc_id)
    ),
    gated AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN qscore q USING (doc_id)
      WHERE q.prob >= {{gate}}
    ),
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM gated
    ),
    spans AS (
        SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 6),
                          i -> struct_pack(pos := i - 1,
                               gram := array_to_string(t[i:i+7], ' ')))) AS u
            FROM toks WHERE len(t) >= 8
        )
    ),
    freq AS (SELECT gram, count(*) AS c FROM spans GROUP BY gram),
    dup AS (
        SELECT doc_id, pos FROM spans JOIN freq USING (gram)
        WHERE freq.c >= 2
    ),
    marked AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w >= 8 THEN 1 ELSE 0
               END AS new_isl
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM marked
    ),
    per_isl AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        FROM islands GROUP BY doc_id, isl
    ),
    tok_pos AS (
        SELECT doc_id, u.i AS i, u.tok AS tok FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) + 1),
                          i -> struct_pack(i := i - 1, tok := t[i]))) AS u
            FROM toks
        )
    ),
    surviving AS (
        SELECT tp.doc_id, tp.i, tp.tok
        FROM tok_pos tp
        WHERE NOT EXISTS (
            SELECT 1 FROM per_isl b
            WHERE b.doc_id = tp.doc_id AND tp.i >= b.s AND tp.i < b.e
        )
    ),
    clean AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY i) AS clean_text,
               count(*) AS kept
        FROM surviving GROUP BY doc_id
    ),
    cleaned AS (
        SELECT g.doc_id,
               CASE WHEN g.text IS NULL THEN NULL
                    ELSE coalesce(c.clean_text, '') END AS clean_text,
               CASE WHEN g.text IS NULL THEN NULL
                    ELSE CAST(coalesce(c.kept, 0) AS BIGINT) END AS kept_tokens
        FROM gated g LEFT JOIN clean c USING (doc_id)
    ),
    nonempty AS (
        -- tokenized non-emptiness, matching the engine (ADVICE r7):
        -- whitespace-only cleaned docs have zero grams and are dropped
        SELECT * FROM cleaned
        WHERE clean_text IS NOT NULL
          AND len(list_filter(string_split(clean_text, ' '),
                              x -> x <> '')) > 0
    ),
    winners AS (
        SELECT min(doc_id) AS doc_id FROM nonempty GROUP BY clean_text
    ),
    kept AS (SELECT n.* FROM nonempty n JOIN winners USING (doc_id)),
    dtoks AS (
      SELECT doc_id,
             list_filter(string_split(clean_text, ' '), x -> x <> '') AS t
      FROM kept
    ),
    gram_strings AS (
      SELECT doc_id, u AS g
      FROM (SELECT doc_id, unnest(t) AS u FROM dtoks)
      UNION ALL
      SELECT doc_id, u AS g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS u
        FROM dtoks WHERE len(t) >= 2
      )
    ),
    grams AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {{dsir_nb}}
               AS bucket
      FROM gram_strings
    ),
    fr(bucket, r) AS (VALUES
      {{dsir_values}}
    ),
    per_bucket AS (
      SELECT doc_id, bucket, count(*) AS n
      FROM grams GROUP BY doc_id, bucket
    ),
    agg AS (
      SELECT per_bucket.doc_id,
             CAST(sum(n * coalesce(r, CAST(0 AS DECIMAL(28,6))))
                  AS DOUBLE) AS log_w
      FROM per_bucket LEFT JOIN fr USING (bucket)
      GROUP BY per_bucket.doc_id
    ),
    dweights AS (
      SELECT k.doc_id, k.kept_tokens, coalesce(a.log_w, 0.0) AS log_w
      FROM kept k LEFT JOIN agg a USING (doc_id)
    ),
    gscored AS (
      SELECT doc_id, kept_tokens, log_w,
             log_w + (-ln(-ln(
               (CAST('0x' || substr(md5('{{salt}}' || CAST(doc_id AS VARCHAR)),
                                    1, 13) AS BIGINT)
                + 0.5) / 4503599627370496.0
             ))) AS s
      FROM dweights
    )
    SELECT doc_id, kept_tokens, log_w, round(s, 4) AS score
    FROM gscored ORDER BY s DESC, doc_id LIMIT {{k}}
""".format(
    qc_values=_QC_VALUES,
    qc_nb=_QC_NB,
    qc_b=_QC_B,
    gate=_PIPE_GATE,
    dsir_nb=_FROZEN_DSIR_NB,
    dsir_values=_FROZEN_DSIR_VALUES,
    salt=_PIPE_SALT,
    k=_PIPE_K,
)


@register(
    "curation_pipeline_frozen_e2e",
    oracle=_FROZEN_PIPE_ORACLE,
    doc="END-TO-END FROZEN curation pipeline — the serving-time shape "
    "of the whole selection stack, composed from stages that each "
    "carry their model as literals so the ENTIRE pipeline replays in "
    "the oracle: (1) frozen-classifier quality gate "
    "(score_frozen_md5, keep prob_pos ≥ 0.2), (2) exact-substring "
    "span cleaning WITHIN the gated corpus (duplicated-8-gram "
    "frequencies recomputed on survivors — cleaning after gating, the "
    "production order), (3) exact dedup of the cleaned text (sha2 "
    "digest groupBy, min-id representative), (4) frozen-DSIR scoring "
    "of the CLEAN text + Gumbel-top-32 resampling (portable-uniform "
    "draw, salt 'pipe-v1') — (doc_id, kept_tokens, log_w, score). "
    "Every stage is individually oracle-green "
    "(quality_classifier_frozen_scores, span_dedup_clean_corpus, "
    "dedup_exact, dsir_score_frozen, dsir_select_topk); this row "
    "proves the COMPOSITION: gate→clean→dedup→select on one corpus "
    "pass per stage with only literal model state, which is exactly "
    "what admits fresh crawl shards at 100 TB.",
    tags=("llm", "selection", "dedup", "quality", "bench"),
)
def curation_pipeline_frozen_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from weather_data_data_pipeline_spark.functions.classifier import (
        score_frozen_md5,
    )
    from weather_data_data_pipeline_spark.functions.dedup import (
        span_dedup_clean,
    )
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_score_frozen,
        dsir_select_topk,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    # the gate is an inline FILTER, not a semi-join back to docs: the
    # frozen margin is a scan-shaped expression, so carrying text
    # through keep_cols keeps the whole gate inside the first scan —
    # the join form re-scanned the corpus a second time for nothing
    gated = (
        score_frozen_md5(
            docs,
            "doc_id",
            "text",
            FROZEN_QC_WEIGHTS,
            FROZEN_QC_INTERCEPT,
            keep_cols=("text",),
        )
        .where(F.col("prob_pos") >= F.lit(_PIPE_GATE))
        .select("doc_id", "text")
    )
    clean = span_dedup_clean(gated, "doc_id", "text", n=8, min_count=2)
    # gate on TOKENIZED non-emptiness, not clean_text != '' — a doc
    # rebuilt from only empty tokens (consecutive spaces in the source)
    # is non-empty whitespace yet yields ZERO grams after the empty-
    # token filter, so it would silently vanish under assume_nonempty
    # instead of scoring log_w = 0 (ADVICE r7). This filter makes the
    # assume_nonempty precondition airtight: every surviving row has
    # >= 1 non-empty token, hence >= 1 unigram.
    nonempty = clean.where(
        F.col("clean_text").isNotNull()
        & (
            F.size(
                F.filter(
                    F.split("clean_text", " "), lambda t: t != F.lit("")
                )
            )
            > 0
        )
    )
    # exact dedup on the CLEANED text as ONE window over the digest:
    # the previous semi-join form put the whole span pipeline on BOTH
    # sides of the join — two shuffles of the cleaned rows plus a
    # re-executed subplan — where the winner election only needs a
    # min-over-digest partition (same replan as the r6 doremi 25→6)
    kept = (
        nonempty.withColumn(
            "_m",
            F.min("doc_id").over(
                Window.partitionBy(F.sha2("clean_text", 256))
            ),
        )
        .where(F.col("doc_id") == F.col("_m"))
        .drop("_m")
    )
    # kept_tokens CARRIES through the gram pipeline (constant per doc),
    # and the tokenized non-emptiness gate above guarantees ≥1 unigram,
    # so the zero-gram join-back is skipped — the winners never join
    # back to the corpus and the whole pipeline is ONE linear plan with
    # a single consumer per stage (no checkpoint, nothing re-executes)
    weights = dsir_score_frozen(
        kept.select(
            "doc_id", "kept_tokens", F.col("clean_text").alias("text")
        ),
        _frozen_dsir_ratio_pairs(),
        "doc_id",
        "text",
        num_buckets=_FROZEN_DSIR_NB,
        carry=("kept_tokens",),
        assume_nonempty=True,
    )
    return dsir_select_topk(
        weights, "doc_id", k=_PIPE_K, salt=_PIPE_SALT,
        carry=("kept_tokens",),
    ).select("doc_id", "kept_tokens", "log_w", "score")


_SHARD_TOKENS = 2048
_SHARD_BUCKET = 128


@register(
    "shard_manifest",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT CAST(cum_before // {_SHARD_TOKENS} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM cum
    GROUP BY shard_id
    ORDER BY shard_id
    """,
    doc="Token-balanced shard manifest: documents in doc_id order are "
    "packed into consecutive shards that close on reaching a "
    f"{_SHARD_TOKENS}-token budget (an oversized doc never splits) — "
    "the write-planning step that lays a training corpus out into "
    "fixed-budget files so every data-loader worker is equally fed. "
    "The engine computes the running total as a two-level distributed "
    "prefix sum (per-bucket totals → bucket offsets → within-bucket "
    "window), bit-identical to the naive global window the oracle "
    "replays, WITHOUT Spark's all-rows-to-one-partition "
    "Window.orderBy; only the bucket-totals frame (rows/128) ever "
    "sees a single-partition window.",
    tags=("llm", "selection", "bench"),
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        token_balanced_shards,
    )

    docs = load(spark, sf_dir, "documents")
    return token_balanced_shards(
        docs, "doc_id", "text",
        target_tokens=_SHARD_TOKENS, bucket_size=_SHARD_BUCKET,
    )


_UNIMAX_EPOCHS = 3


@register(
    "unimax_language_mix",
    oracle=f"""
    WITH counts AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT (5 * sum(n_tokens)) // 2 AS b FROM counts),
    ranked AS (
      SELECT lang, n_tokens,
             n_tokens * {_UNIMAX_EPOCHS} AS cap_tokens,
             row_number() OVER w AS rn,
             count(*) OVER () AS L,
             COALESCE(SUM(n_tokens * {_UNIMAX_EPOCHS}) OVER (
               ORDER BY n_tokens * {_UNIMAX_EPOCHS}, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM counts
      WINDOW w AS (ORDER BY n_tokens * {_UNIMAX_EPOCHS}, lang)
    ),
    flagged AS (
      SELECT *, CASE WHEN cap_tokens * (L - rn + 1) <= b - cum_before
                     THEN 1 ELSE 0 END AS flag
      FROM ranked CROSS JOIN tot
    ),
    run AS (
      SELECT *, MIN(flag) OVER (ORDER BY cap_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS capped_i
      FROM flagged
    ),
    agg AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN capped_i = 1 THEN cap_tokens END)
                      OVER (), 0) AS capped_sum,
             SUM(1 - capped_i) OVER () AS n_uncapped
      FROM run
    )
    SELECT lang,
           n_tokens,
           CAST(cap_tokens AS BIGINT) AS cap_tokens,
           capped_i = 1 AS capped,
           round(CASE WHEN capped_i = 1 THEN CAST(cap_tokens AS DOUBLE)
                      ELSE CAST(b - capped_sum AS DOUBLE) / n_uncapped
                 END, 2) AS alloc_tokens,
           round(CASE WHEN capped_i = 1 THEN CAST(cap_tokens AS DOUBLE)
                      ELSE CAST(b - capped_sum AS DOUBLE) / n_uncapped
                 END / n_tokens, 4) AS epochs,
           round(CASE WHEN capped_i = 1 THEN CAST(cap_tokens AS DOUBLE)
                      ELSE CAST(b - capped_sum AS DOUBLE) / n_uncapped
                 END / CAST(b AS DOUBLE), 6) AS mix_weight
    FROM agg
    ORDER BY lang
    """,
    doc="UniMax multilingual sampling (Chung et al., 2023): distribute "
    "a 2.5×-corpus token budget across languages as uniformly as "
    f"possible subject to a hard {_UNIMAX_EPOCHS}-epoch repetition cap "
    "per language — the scheme that replaced temperature mixing "
    "because it bounds tail-language repetition explicitly. The "
    "iterative waterfill is folded into a closed form: ascending-"
    "capacity order, prefix-AND of the capped condition, one leftover "
    "split — two window passes over the LANGUAGE-COUNT frame (one row "
    "per language; the corpus contributes a single groupBy). Integer "
    "math throughout; doubles only in the three report divisions. On "
    "this corpus the four tail languages cap at 3 epochs and the en "
    "head absorbs the leftover below 2 epochs.",
    tags=("llm", "selection", "bench"),
)
def unimax_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        unimax_allocation,
    )

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.col("text"), " "), lambda t: t != F.lit("")
                )
            ).cast("long")
        ).alias("n_tokens")
    )
    # single-row bounded collect: the total is one scalar, the same
    # bounded-driver-state pattern as the pagerank dangling mass
    total = counts.agg(F.sum("n_tokens")).collect()[0][0]
    budget = (5 * int(total)) // 2
    return unimax_allocation(
        counts, "lang", "n_tokens", budget, _UNIMAX_EPOCHS
    )


_RHO_TOPK = 25


@register(
    "rho_excess_loss_select",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, u AS tok FROM (SELECT doc_id, unnest(t) AS u FROM arrs)
    ),
    uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS total FROM toks),
    v AS (SELECT count(*) AS vs FROM uni),
    bi AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
        FROM arrs WHERE len(t) >= 2
      )
    ),
    bg AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
    ref AS (
      SELECT toks.doc_id, count(*) AS n_tokens,
             round(CAST(sum(CAST(round(-ln(uni.c / n.total), 6)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*), 4) AS ref_loss
      FROM toks JOIN uni USING (tok) CROSS JOIN n
      GROUP BY toks.doc_id
    ),
    proxy AS (
      SELECT bi.doc_id,
             round(CAST(sum(CAST(round(-ln((bg.c2 + 1.0) / (uni.c + v.vs)), 6)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*), 4) AS proxy_loss
      FROM bi JOIN bg USING (w1, w2) JOIN uni ON uni.tok = bi.w1
      CROSS JOIN v
      GROUP BY bi.doc_id
    ),
    scored AS (
      SELECT r.doc_id, CAST(r.n_tokens AS BIGINT) AS n_tokens,
             r.ref_loss,
             coalesce(p.proxy_loss, r.ref_loss) AS proxy_loss,
             round(coalesce(p.proxy_loss, r.ref_loss) - r.ref_loss, 4)
               AS excess
      FROM ref r LEFT JOIN proxy p USING (doc_id)
    )
    SELECT doc_id, n_tokens, ref_loss, proxy_loss, excess,
           CAST(row_number() OVER (ORDER BY excess DESC, doc_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {_RHO_TOPK}
    ORDER BY rank
    """,
    doc="RHO-style learnability selection (Lin et al. 2024, Rho-1) at "
    "document granularity: excess loss = proxy-model loss − reference-"
    "model loss per document (proxy = add-one bigram logppl, reference "
    "= unigram logppl — the same corpus-self-trained pair DoReMi uses "
    "per source), select the top-25 highest-excess documents — the "
    "ones whose word ORDER the weaker model finds hard relative to "
    "their vocabulary, i.e. the most learnable under the selection "
    "heuristic. Per-token losses are rounded to 6dp decimal before "
    "the per-doc sums (aggregation-order-proof contract) and the "
    "rank<=k predicate compiles to WindowGroupLimit: per-partition "
    "25-heaps feed one 25-row merge, never a global sort of the "
    "corpus. Count tables are Zipf-small; two hash joins back to the "
    "exploded grams are the only corpus-sized work.",
    tags=("llm", "selection", "quality", "bench"),
)
def rho_excess_loss_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_fanout(spark, sf_dir, "documents")
    arr = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    arrs = docs.select("doc_id", arr.alias("t"))
    toks = arrs.select("doc_id", F.explode("t").alias("tok"))
    # Total tokens and vocab size are integer identities OF uni —
    # total = Σ uni.c, vs = |uni| — so one aggregate over the Zipf-small
    # count table yields both, attached by a broadcast cross join: no
    # second explode pass over the corpus, and no key-less window that
    # would funnel the whole table through one task. Every counted token
    # has c ≥ 1, so vs counts c > 0: a plain count(*) lets column pruning
    # drop c from the vs branch, which then no longer matches the token
    # counts' shuffle and re-explodes the corpus instead of reusing it.
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    uni = counts.crossJoin(
        F.broadcast(
            counts.agg(
                F.sum("c").alias("total"), F.count_if(F.col("c") > 0).alias("vs")
            )
        )
    )
    bi = arrs.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.col("t")[i].alias("w1"), F.col("t")[i + 1].alias("w2")
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bg = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))

    def _dec6(loss_col):
        return F.round(loss_col, 6).cast("decimal(38,6)")

    ref = (
        toks.join(uni.select("tok", "c", "total"), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(_dec6(-F.log(F.col("c") / F.col("total"))))
                .cast("double")
                / F.count("*"),
                4,
            ).alias("ref_loss"),
        )
    )
    proxy = (
        bi.join(bg, ["w1", "w2"])
        .join(uni.select(F.col("tok").alias("w1"), "c", "vs"), "w1")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    _dec6(
                        -F.log(
                            (F.col("c2") + F.lit(1.0))
                            / (F.col("c") + F.col("vs"))
                        )
                    )
                )
                .cast("double")
                / F.count("*"),
                4,
            ).alias("proxy_loss"),
        )
    )
    scored = (
        ref.join(proxy, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "ref_loss",
            F.coalesce("proxy_loss", "ref_loss").alias("proxy_loss"),
            F.round(
                F.coalesce("proxy_loss", "ref_loss") - F.col("ref_loss"), 4
            ).alias("excess"),
        )
    )
    w = Window.orderBy(F.desc("excess"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _RHO_TOPK)
    )
