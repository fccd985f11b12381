"""Corpus curation queries: relevance search, decontamination, repetition
quality, PII scrubbing, and statistical profiling.

North-star extensions (BASELINE.json: "operations a large-scale training
data pipeline would need") beyond the reference's weather ETL surface —
each registered with a DuckDB oracle so the driver hash-checks values.

Oracle notes:
- BM25 and the stats aggregates round to 4 dp: both engines fold IEEE
  doubles with the same formulae; accumulation-order noise is ~1e-12 at
  these scales.
- All regexes are in the Java∩RE2 common subset (no lookaround, no
  backrefs) so the identical literal runs in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.functions.search import (
    bm25_topk,
    ngram_contamination,
)
from weather_data_data_pipeline_spark.functions.text import (
    PII_PATTERNS,
    match_count,
    nonempty_tokens,
    redact,
)
from weather_data_data_pipeline_spark.registry import register
from weather_data_data_pipeline_spark.sources.tables import load, load_fanout

_BM25_TERMS = ["spark", "join", "stream"]
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term IN ('spark', 'join', 'stream')
        GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    )
    SELECT doc_id,
           round(sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                     * (tf.tf * ({_BM25_K1} + 1))
                     / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * dl.dl / stats.avgdl))), 4) AS score
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 top-20 documents for a bag-of-terms query (Lucene idf). "
    "Explode is filtered to the query terms before any shuffle, so "
    "shuffle volume is O(matching docs), not O(corpus tokens); corpus "
    "stats and df() are broadcast 1-row/`|q|`-row joins; top-k is "
    "TakeOrderedAndProject (per-partition heaps, no global sort).",
    tags=("llm", "search", "bench"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B
    )


@register(
    "corpus_contamination",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(t) - 1),
                             i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks
    ),
    train AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE source <> 'src0'
    ),
    ev AS (
        SELECT doc_id, unnest(g) AS gram FROM grams WHERE source = 'src0'
    ),
    tot AS (
        SELECT doc_id, len(g) AS n_ngrams FROM grams WHERE source = 'src0'
    ),
    hits AS (
        SELECT ev.doc_id, count(*) AS n_contaminated
        FROM ev JOIN train USING (gram) GROUP BY ev.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_ngrams AS INTEGER) AS n_ngrams,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
                 / greatest(t.n_ngrams, 1), 4) AS contamination
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
    doc="Train/eval n-gram decontamination check: fraction of each eval "
    "document's (source=src0) distinct 3-grams present anywhere in the "
    "train split. Train grams travel as xxhash64 longs; the eval side "
    "probes with a left-semi join — the layout that survives a 100 TB "
    "train corpus.",
    tags=("llm", "dedup", "quality", "bench"),
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=3,
    )


@register(
    "decontamination_clean_corpus",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, source, u.pos AS pos, u.gram AS gram FROM (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(t) - 6),
                          i -> struct_pack(pos := i - 1,
                               gram := array_to_string(t[i:i+7], ' ')))) AS u
            FROM toks WHERE len(t) >= 8
        )
    ),
    ev AS MATERIALIZED (
        SELECT DISTINCT gram FROM spans WHERE source = 'src0'
    ),
    dup AS (
        SELECT doc_id, pos FROM spans
        WHERE source <> 'src0' AND gram IN (SELECT gram FROM ev)
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
            FROM toks WHERE source <> 'src0'
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
    WHERE d.source <> 'src0'
    """,
    doc="Decontamination CLEANING — the applied form of the "
    "contamination reports: every train token (source<>src0) covered "
    "by an 8-gram that occurs anywhere in the eval split (src0) is "
    "REMOVED and the document reassembled "
    "(functions/dedup.py:decontamination_clean) — doc_id, clean_text, "
    "n_tokens, kept_tokens for every train document. The eval set's "
    "positional-gram hashes build a KB-scale Bloom filter in one "
    "bounded pass; the train scan probes it as a codegen'd expression "
    "BEFORE any shuffle and only the surviving sliver semi-joins the "
    "exact gram set — then the shared span machinery (gaps-and-islands "
    "merge + higher-order token rebuild, the span_dedup_clean_corpus "
    "frames) cuts the intervals. The oracle rebuilds the exact strings "
    "via the interval anti-join.",
    tags=("llm", "dedup", "quality", "bench"),
)
def decontamination_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.dedup import (
        decontamination_clean,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    return decontamination_clean(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=8,
    )


@register(
    "corpus_contamination_bloom",
    # IDENTICAL semantics (and oracle) to corpus_contamination — the
    # Bloom prescreen has no false negatives and the exact semi-join
    # removes its false positives, so the output is provably the same;
    # what changes is the PLAN: the train side probes an 8 KB
    # codegen'd filter before any shuffle instead of distinct-ing
    # every train gram (tests pin result equality + that the prescreen
    # really prunes).
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(t) - 1),
                             i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks
    ),
    train AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE source <> 'src0'
    ),
    ev AS (
        SELECT doc_id, unnest(g) AS gram FROM grams WHERE source = 'src0'
    ),
    tot AS (
        SELECT doc_id, len(g) AS n_ngrams FROM grams WHERE source = 'src0'
    ),
    hits AS (
        SELECT ev.doc_id, count(*) AS n_contaminated
        FROM ev JOIN train USING (gram) GROUP BY ev.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_ngrams AS INTEGER) AS n_ngrams,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
                 / greatest(t.n_ngrams, 1), 4) AS contamination
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
    doc="Train/eval decontamination with a runtime Bloom prescreen "
    "(functions/search.py:ngram_contamination_bloom): the eval set's "
    "gram hashes build a bounded Bloom filter (one BIT_OR pass, "
    "≤ num_bits/64 longs to the driver), and the 100 TB-side train "
    "scan probes it as a codegen'd expression BEFORE the "
    "distinct+join — only might-overlap grams ever shuffle. Output "
    "bit-identical to corpus_contamination (no false negatives; "
    "false positives die in the exact semi-join), so the same oracle "
    "hash-checks the optimized plan. SERVING-tagged since r14 "
    "(VERDICT r13 ask #3, second consecutive over-both-bars "
    "interleaved round): the frozen-literal filter is the shape for "
    "streaming sinks and reusable eval state, where the extra "
    "bounded build ACTION amortizes across batches — for a one-shot "
    "batch query that action is pure overhead (in a same-session "
    "study it was the entire gap to the exact twin, BASELINE.md), so "
    "the benched batch form is corpus_contamination_prescreen.",
    tags=("llm", "dedup", "quality", "serving"),
)
def corpus_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.search import (
        ngram_contamination_bloom,
    )

    docs = load(spark, sf_dir, "documents")
    return ngram_contamination_bloom(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=3,
    )


@register(
    "corpus_contamination_prescreen",
    # Same contract as corpus_contamination_bloom: output provably
    # identical to corpus_contamination (the prescreen is EXACT — the
    # broadcast left-semi probe admits precisely the overlapping
    # grams), so the identical oracle hash-checks this plan too.
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(t) - 1),
                             i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks
    ),
    train AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE source <> 'src0'
    ),
    ev AS (
        SELECT doc_id, unnest(g) AS gram FROM grams WHERE source = 'src0'
    ),
    tot AS (
        SELECT doc_id, len(g) AS n_ngrams FROM grams WHERE source = 'src0'
    ),
    hits AS (
        SELECT ev.doc_id, count(*) AS n_contaminated
        FROM ev JOIN train USING (gram) GROUP BY ev.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_ngrams AS INTEGER) AS n_ngrams,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
                 / greatest(t.n_ngrams, 1), 4) AS contamination
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
    doc="Train/eval decontamination with an EXACT broadcast prescreen "
    "(functions/search.py:ngram_contamination_prescreen) — the r14 "
    "replan of the contamination family's batch form (VERDICT r13 "
    "ask #3): the bounded eval set's distinct gram hashes broadcast "
    "into the train gram scan as a left-semi probe BEFORE any "
    "shuffle, and the surviving sliver — a subset of the eval gram "
    "set, so bounded by the same premise — broadcasts back to the "
    "per-doc hit count. One job, no driver action, the 100 TB train "
    "side pays one scan plus a KB-scale distinct. The Bloom-literal "
    "twin (corpus_contamination_bloom, serving-tagged) remains the "
    "shape for streaming sinks / reusable frozen eval state.",
    tags=("llm", "dedup", "quality", "bench"),
)
def corpus_contamination_prescreen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.search import (
        ngram_contamination_prescreen,
    )

    docs = load(spark, sf_dir, "documents")
    return ngram_contamination_prescreen(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=3,
    )


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_WORDS = 30
_GOPHER_MAX_WORDS = 100_000

_GOPHER_STOPS_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS t
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(t) AS n_words,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE round(CAST(list_sum(list_transform(t, x -> len(x)))
                                  AS DOUBLE) / len(t), 4) END
               AS mean_word_len,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE round(CAST(len(list_filter(t,
                         x -> regexp_matches(x, '[a-zA-Z]')))
                                  AS DOUBLE) / len(t), 4) END
               AS frac_alpha,
             CAST(len(list_distinct(list_intersect(t,
                    [{_GOPHER_STOPS_SQL}]))) AS INTEGER) AS n_stop_hits
      FROM arrs
    )
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           mean_word_len, frac_alpha, n_stop_hits,
           n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
             AS ok_words,
           mean_word_len BETWEEN 3 AND 10 AS ok_word_len,
           frac_alpha >= 0.8 AS ok_alpha,
           n_stop_hits >= 2 AS ok_stops,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
             AND (mean_word_len BETWEEN 3 AND 10)
             AND frac_alpha >= 0.8 AND n_stop_hits >= 2 AS keep
    FROM m
    """,
    doc="Gopher-style quality RULE BUNDLE (Rae et al. 2021 Table A1 "
    "machinery): per document — word count band, mean word length "
    "band [3,10], alphabetic-word fraction ≥ 0.8, ≥ 2 distinct "
    "canonical stopwords present — each rule surfaced as its own flag "
    "plus the conjunctive keep decision, the audit-trail form a "
    "curation pipeline needs (you tune thresholds by looking at what "
    "each rule rejects, never at the conjunction alone). The word-"
    "count floor is tuned to this corpus's 10-99-token documents "
    "(the paper's 50 would reject half the fixture); everything is "
    "codegen'd higher-order functions over the token array — one "
    "scan, zero shuffle, zero Python.",
    tags=("llm", "text", "quality", "bench"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = nonempty_tokens(F.coalesce(F.col("text"), F.lit("")))
    n_words = F.size(t)
    mean_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.round(
            F.aggregate(
                t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / n_words,
            4,
        )
    )
    frac_alpha = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.round(
            F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]"))).cast("double")
            / n_words,
            4,
        )
    )
    n_stops = F.size(
        F.array_intersect(t, F.array(*[F.lit(s) for s in _GOPHER_STOPS]))
    ).cast("int")
    base = docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha"),
        n_stops.alias("n_stop_hits"),
    )
    ok_words = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ok_len = F.col("mean_word_len").between(3, 10)
    ok_alpha = F.col("frac_alpha") >= 0.8
    ok_stops = F.col("n_stop_hits") >= 2
    return base.select(
        "*",
        ok_words.alias("ok_words"),
        ok_len.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stops.alias("ok_stops"),
        (ok_words & ok_len & ok_alpha & ok_stops).alias("keep"),
    )


@register(
    "ccnet_ppl_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS total FROM toks),
    ppl AS (
      SELECT toks.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(-ln(vocab.c / n.total)), 4) AS logppl
      FROM toks JOIN vocab USING (tok) CROSS JOIN n
      GROUP BY toks.doc_id
    ),
    bucketed AS (
      SELECT d.doc_id, d.lang, p.n_tokens, p.logppl,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY p.logppl, d.doc_id) AS nt
      FROM documents d JOIN ppl p USING (doc_id)
    )
    SELECT doc_id, lang, n_tokens, logppl,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket
    FROM bucketed
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): per "
    "language, documents split into head/middle/tail terciles of the "
    "perplexity proxy (the corpus-self-trained unigram logppl that "
    "doc_unigram_logppl pins) — the partition CCNet uses to keep "
    "head+middle and drop (or down-weight) the noisy tail per "
    "language rather than applying one global threshold that would "
    "gut low-resource languages. ntile runs per-lang (bounded "
    "partitions), ordered by (rounded logppl, doc_id) so the tercile "
    "boundaries are engine-deterministic.",
    tags=("llm", "text", "quality", "selection", "bench"),
)
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(nonempty_tokens(F.col("text"))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = toks.agg(F.count("*").alias("total"))
    ppl = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("total"))), 4).alias(
                "logppl"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy("logppl", "doc_id")
    return (
        docs.select("doc_id", "lang")
        .join(ppl, "doc_id")
        .withColumn("nt", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "logppl",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


_SCRUB = [PII_PATTERNS["email"], PII_PATTERNS["ssn"], PII_PATTERNS["number"]]


@register(
    "pii_scrub_events",
    oracle=r"""
    SELECT event_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(props,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[X]', 'g'),
               '\d{3}-\d{2}-\d{4}', '[X]', 'g'),
             '\d+', '[X]', 'g') AS redacted,
           CAST(len(regexp_extract_all(props, '\d+')) AS INTEGER)
             AS n_redactions
    FROM events
    """,
    doc="PII/pattern scrubbing with an audit count: chained "
    "regexp_replace (email → SSN → digit runs, most-specific first) "
    "over events.props plus the per-row match count a redaction "
    "pipeline reports. Pure codegen'd column expressions — zero "
    "shuffles, scales with the scan.",
    tags=("llm", "quality", "bench"),
)
def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        redact("props", _SCRUB, "[X]").alias("redacted"),
        match_count("props", PII_PATTERNS["number"]).alias("n_redactions"),
    )


@register(
    "doc_repetition_quality",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
        SELECT doc_id, len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               unnest(list_transform(range(1, len(toks)),
                      i -> array_to_string(toks[i:i+1], ' '))) AS bigram
        FROM t
    ),
    c AS (
        SELECT doc_id, n_tokens, n_distinct, bigram, count(*) AS n
        FROM b GROUP BY doc_id, n_tokens, n_distinct, bigram
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           round(1 - CAST(n_distinct AS DOUBLE) / n_tokens, 4)
             AS dup_token_frac,
           round(CAST(max(n) AS DOUBLE) / (n_tokens - 1), 4)
             AS top_bigram_frac
    FROM c
    GROUP BY doc_id, n_tokens, n_distinct
    """,
    doc="Gopher-style repetition quality: duplicate-token fraction and "
    "the fraction of bigram slots taken by the single most frequent "
    "bigram. Distinct-token count is a codegen'd array expression; the "
    "bigram mode is explode → two partial+final aggregates keyed by "
    "doc_id — per-document work, embarrassingly parallel at any scale.",
    tags=("llm", "quality", "bench"),
)
def doc_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # guarded for <2-token and NULL docs: an unguarded sequence(1,
    # size-1) built a DESCENDING sequence for them and slice(toks, 0, 2)
    # threw (r14 NULL audit) — the empty array explodes to nothing, so
    # those docs fall out exactly like the oracle's empty range()
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Bigram mode per doc: explode then xxhash64 (codegen'd, AFTER the
    # interpreted HOF lambda) so both aggregation shuffles carry
    # (long, long) rows instead of (long, int, int, string) — measured
    # 3.5s → 1.9s at sf0.1 (the DuckDB oracle takes 2.7s). The tiny per-doc stats frame (no shuffle,
    # codegen'd array exprs) joins back on doc_id at the end; a 64-bit
    # bigram-hash collision inside ONE document is the only way the mode
    # can shift, with probability ~(tokens/doc)²·2⁻⁶⁴.
    counts = (
        docs.select("doc_id", F.explode(bigrams).alias("bigram"))
        .select("doc_id", F.xxhash64("bigram").alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("n"))
    )
    top = counts.groupBy("doc_id").agg(F.max("n").alias("top_n"))
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    return stats.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 4).alias(
            "dup_token_frac"
        ),
        F.round(F.col("top_n") / (F.col("n_tokens") - 1), 4).alias(
            "top_bigram_frac"
        ),
    )


@register(
    "event_value_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value,
           round(stddev_samp(value), 4) AS stddev_value,
           round(var_samp(value), 4) AS var_value,
           round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4)
             AS covar_value_user
    FROM events
    GROUP BY event_type
    """,
    doc="Statistical profile per event type: sample stddev/variance and "
    "the correlation/covariance aggregate family — one scan, "
    "partial+final HashAggregate (all these moments are mergeable "
    "states, so map-side combine keeps the shuffle at "
    "|event_type| rows).",
    tags=("relational", "aggregate"),
)
def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    uid = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.corr(F.col("value"), uid), 4).alias("corr_value_user"),
        F.round(F.covar_samp(F.col("value"), uid), 4).alias(
            "covar_value_user"
        ),
    )


@register(
    "event_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 20) AS INTEGER) AS bucket,
           count(*) AS n_events,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY event_type, bucket
    """,
    doc="Fixed-width histogram of event values per type (bucket = "
    "floor(value/20)): the distribution profile behind skew detection "
    "and bucketing decisions. Single partial+final aggregate keyed on "
    "(type, bucket) — shuffle rows = number of occupied buckets.",
    tags=("relational", "aggregate"),
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 20).cast("int").alias("bucket"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@register(
    "corpus_drift_psi",
    oracle="""
    WITH bounded AS (SELECT min(ts) + INTERVAL 15 DAY AS boundary FROM events),
    binned AS (
      SELECT CAST(floor(value / 50) AS INTEGER) AS bin,
             CASE WHEN ts < boundary THEN 1 ELSE 0 END AS is_base
      FROM events CROSS JOIN bounded
    ),
    agg AS (
      SELECT bin,
             sum(is_base) AS n_base,
             sum(1 - is_base) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(n_base) AS tot_base, sum(n_cur) AS tot_cur FROM agg)
    SELECT bin,
           CAST(n_base AS BIGINT) AS n_base,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(n_base / tot_base, 6) AS p,
           round(n_cur / tot_cur, 6) AS q,
           round((n_base / tot_base - n_cur / tot_cur)
                 * ln((n_base / tot_base + 1e-6) / (n_cur / tot_cur + 1e-6)),
                 5) AS psi_term
    FROM agg CROSS JOIN tot
    """,
    doc="Distribution-drift detection via the Population Stability Index: "
    "event values binned at fixed width 50, the corpus split into a base "
    "window (first 15 days) and a current window, per-bin PSI terms "
    "(p-q)*ln((p+eps)/(q+eps)) — the retrain/pipeline-alert metric a "
    "production data pipeline computes between snapshots. All "
    "relational: the period boundary is a 1-row min-aggregate attached "
    "by broadcast cross join (never a driver collect), the bin counts "
    "one conditional partial+final aggregate (shuffle rows = occupied "
    "bins), totals another 1-row attach. Sum the psi_term column for "
    "the headline PSI; per-bin rows localize WHERE the drift is.",
    tags=("llm", "quality", "aggregate"),
)
def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounded = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("boundary")
    )
    binned = ev.crossJoin(F.broadcast(bounded)).select(
        F.floor(F.col("value") / 50).cast("int").alias("bin"),
        F.when(F.col("ts") < F.col("boundary"), 1).otherwise(0).alias("is_base"),
    )
    agg = binned.groupBy("bin").agg(
        F.sum("is_base").alias("n_base"),
        F.sum(1 - F.col("is_base")).alias("n_cur"),
    )
    tot = agg.agg(
        F.sum("n_base").alias("tot_base"), F.sum("n_cur").alias("tot_cur")
    )
    p = F.col("n_base") / F.col("tot_base")
    q = F.col("n_cur") / F.col("tot_cur")
    return agg.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round((p - q) * F.log((p + 1e-6) / (q + 1e-6)), 5).alias("psi_term"),
    )


@register(
    "doc_unigram_logppl",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS total FROM toks)
    SELECT toks.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(vocab.c / n.total)), 4) AS logppl
    FROM toks JOIN vocab USING (tok) CROSS JOIN n
    GROUP BY toks.doc_id
    """,
    doc="Model-free perplexity-filter proxy: per-document mean negative "
    "log-probability of its tokens under the corpus's own unigram "
    "distribution — high scores flag rare-token/noisy documents, the "
    "cheap stand-in for LM-perplexity quality filtering when no model "
    "is servable in the pipeline. Two aggregates (vocab counts, corpus "
    "total) + one token→vocab hash join; the vocab is Zipf-small "
    "relative to the corpus, and the final per-doc average is a "
    "partial+final combine — three shuffles total at any corpus size.",
    tags=("llm", "text", "quality", "bench"),
)
def doc_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(nonempty_tokens(F.col("text"))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = toks.agg(F.count("*").alias("total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("total"))), 4).alias(
                "logppl"
            ),
        )
    )


@register(
    "doc_bigram_logppl",
    oracle="""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
        FROM arrs WHERE len(t) >= 2
      )
    ),
    uni AS (
      SELECT u AS w1, count(*) AS c1
      FROM (SELECT unnest(t) AS u FROM arrs) GROUP BY u
    ),
    v AS (SELECT count(*) AS vs FROM uni),
    bg AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2)
    SELECT bi.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((bg.c2 + 1.0) / (uni.c1 + v.vs))), 4) AS logppl
    FROM bi JOIN bg USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
    GROUP BY bi.doc_id
    """,
    doc="Bigram-LM perplexity proxy with add-one smoothing: per-document "
    "mean negative log P(w2|w1) under the corpus's own bigram counts — "
    "the conditional-probability upgrade of doc_unigram_logppl (word-"
    "ORDER anomalies now score high, not just rare words). Three "
    "aggregates (unigram counts, bigram counts, vocab size) + two hash "
    "joins back to the exploded bigrams; both count tables are "
    "Zipf-small relative to the corpus, and the per-doc average is a "
    "partial+final combine — the same bounded-state shape as the "
    "unigram query at any corpus size.",
    tags=("llm", "text", "quality", "bench"),
)
def doc_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    arr = nonempty_tokens(F.col("text"))
    arrs = docs.select("doc_id", arr.alias("t"))
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
    uni = (
        arrs.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    v = uni.agg(F.count("*").alias("vs"))
    bg = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    return (
        bi.join(bg, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("vs"))
                    )
                ),
                4,
            ).alias("logppl"),
        )
    )


@register(
    "pmi_collocations",
    oracle="""
    WITH arrs AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bi AS (
      SELECT u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
        FROM arrs WHERE len(t) >= 2
      )
    ),
    uni AS (
      SELECT u AS w, count(*) AS c
      FROM (SELECT unnest(t) AS u FROM arrs) GROUP BY u
    ),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
    btot AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM bi),
    bg AS (
      SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
      HAVING count(*) >= 5
    ),
    scored AS (
      SELECT bg.w1, bg.w2, CAST(bg.c2 AS BIGINT) AS pair_count,
             round(ln((bg.c2 / b.b)
                      / ((u1.c / t.n) * (u2.c / t.n))), 4) AS pmi
      FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w
      CROSS JOIN tot t CROSS JOIN btot b
    )
    SELECT w1, w2, pair_count, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT)
               AS rn
    FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
    doc="Top-50 adjacent-bigram collocations by pointwise mutual "
    "information (Church & Hanks 1990; the statistic word2vec SGNS "
    "implicitly factorizes, Levy & Goldberg 2014) — "
    "functions/text.py:pmi_collocations. PMI = ln(p(w1,w2) / "
    "(p(w1)p(w2))), joint over adjacent bigrams, marginals over "
    "unigrams, pair_count >= 5 floor against PMI's low-frequency "
    "bias. Surfaces multi-word expressions and templated boilerplate "
    "whose components rarely appear apart — high-PMI mass the "
    "count-based vocab reports miss. Ranked by ROUNDED pmi with a "
    "(w1, w2) tie-break so order and row_number are engine-portable. "
    "Scale: two Zipf-small map-side-combinable aggregates, two hash "
    "joins of the floored bigram table, two broadcast single-row "
    "totals, distributed TakeOrdered top-k — no corpus-sized sort, "
    "no Python, state bounded by vocabulary size.",
    tags=("llm", "text", "bench"),
)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        pmi_collocations,
    )

    docs = load(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", min_count=5, k=50)


@register(
    "vocab_zipf_fit",
    oracle="""
    WITH toks AS (
      SELECT t.tok AS tok
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
    ),
    vocab AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM vocab
    ),
    pts AS (SELECT ln(rnk) AS x, ln(freq) AS y FROM ranked),
    s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS vocab_size,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             AS intercept
    FROM s
    """,
    doc="Zipf's-law fit of the corpus vocabulary: least-squares slope of "
    "ln(freq) vs ln(rank) — natural text sits near -1, and a corpus "
    "whose slope drifts (template spam flattens it, deduped boilerplate "
    "steepens it) flags collection problems before training does. One "
    "vocab aggregate, a rank window over the (Zipf-small) vocabulary — "
    "never the corpus — and a closed-form 5-sum regression, so the "
    "driver sees three numbers at any corpus size.",
    tags=("llm", "text", "quality"),
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(nonempty_tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    pts = vocab.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


@register(
    "source_vocab_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, t.tok AS tok
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
    ),
    sv AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok),
    st AS (SELECT source, sum(n) AS tot FROM sv GROUP BY source),
    cv AS (SELECT tok, sum(n) AS n FROM sv GROUP BY tok),
    ct AS (SELECT sum(n) AS tot FROM cv),
    terms AS (
      SELECT sv.source,
             (sv.n / st.tot)
               * ln((sv.n / st.tot) / (cv.n / ct.tot)) AS term
      FROM sv
      JOIN st USING (source)
      JOIN cv USING (tok)
      CROSS JOIN ct
    )
    SELECT source, round(sum(term), 4) AS kl_divergence
    FROM terms GROUP BY source
    """,
    doc="Per-source vocabulary divergence: KL(source unigram dist || "
    "corpus unigram dist) — the outlier-source detector of a crawl mix "
    "(a source whose vocabulary diverges is boilerplate, another "
    "language, or spam). KL needs no smoothing here because every "
    "source token exists in the corpus distribution by construction. "
    "Two grouped aggregates over the token table plus a vocab-keyed "
    "join — the corpus-wide totals are 1-row/vocab-row attaches, and "
    "every sum is a partial+final combine.",
    tags=("llm", "text", "quality"),
)
def source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(nonempty_tokens(F.col("text"))).alias("tok"),
    )
    sv = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    st = sv.groupBy("source").agg(F.sum("n").alias("tot"))
    cv = sv.groupBy("tok").agg(F.sum("n").alias("cn"))
    ct = cv.agg(F.sum("cn").alias("ctot"))
    p = F.col("n") / F.col("tot")
    q = F.col("cn") / F.col("ctot")
    terms = (
        sv.join(st, "source")
        .join(cv, "tok")
        .crossJoin(F.broadcast(ct))
        .select("source", (p * F.log(p / q)).alias("term"))
    )
    return terms.groupBy("source").agg(
        F.round(F.sum("term"), 4).alias("kl_divergence")
    )


# Hybrid retrieval: fuse the lexical (BM25) and dense (cosine) rankers
# with reciprocal-rank fusion. Candidate depth per retriever and the
# RRF constant are pinned so the oracle replays the identical fusion.
_RRF_DEPTH = 50
_RRF_K = 60


# Shared oracle CTE prefix for the hybrid-retrieval family: BM25 CTEs,
# dense-cosine CTEs, both rankings, and the pre-fusion union. Composed
# into hybrid_search_rrf (unchanged text) and hybrid_rerank_topk.
_HYBRID_ORACLE_PREFIX = f"""
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term IN ('spark', 'join', 'stream')
        GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    bm AS (
        SELECT doc_id,
               round(sum(ln(1 + (stats.n_docs - dfreq.df + 0.5)
                            / (dfreq.df + 0.5))
                         * (tf.tf * ({_BM25_K1} + 1))
                         / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                            + {_BM25_B} * dl.dl / stats.avgdl))), 4) AS s
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY doc_id
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS rank
        FROM bm QUALIFY rank <= {_RRF_DEPTH}
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dscore AS (
        SELECT c.vec_id AS doc_id,
               (list_sum(list_transform(list_zip(q.embedding, c.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(q.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(c.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))
                 AS cos
        FROM embeddings c, q
        WHERE c.vec_id <> 0
    ),
    dense AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
        FROM dscore QUALIFY rank <= {_RRF_DEPTH}
    ),
    unioned AS (
        SELECT * FROM lex UNION ALL SELECT * FROM dense
    )"""

_HYBRID_FUSE_SELECT = f"""
    SELECT doc_id,
           round(sum(1.0 / ({_RRF_K} + rank)), 6) AS rrf_score,
           CAST(count(*) AS INTEGER) AS n_lists,
           CAST(min(rank) AS INTEGER) AS best_rank
    FROM unioned
    GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20"""


@register(
    "hybrid_search_rrf",
    oracle=_HYBRID_ORACLE_PREFIX + _HYBRID_FUSE_SELECT + "\n    ",
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    "2009): BM25 top-50 for the bag-of-terms query fused with cosine "
    "top-50 against vec_id 0's embedding, score = sum 1/(60+rank). "
    "Both rankers are truncated BEFORE the fusion, so RRF unions two "
    "50-row candidate lists no matter the corpus size; ranks come from "
    "rounded scores so the ordering (and hence the fused output) is "
    "engine-stable. Oracle replays the full composition: BM25 CTE, "
    "dense cosine CTE, both row_number rankings, and the RRF sum.",
    tags=("llm", "search", "bench"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hybrid_candidates(spark, sf_dir)


# Frozen blend weights for the bounded re-ranker (a stand-in for a real
# cross-encoder's learned head: the COST MODEL is what matters — an
# expensive interaction scorer applied to a bounded candidate set).
_RERANK_W_SEM = 0.55
_RERANK_W_LEX = 0.30
_RERANK_W_PROX = 0.15
_RERANK_TOPK = 10

_RERANK_ORACLE = _HYBRID_ORACLE_PREFIX + f""",
    fused AS ({_HYBRID_FUSE_SELECT}
    ),
    qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    cde AS (
      SELECT f.doc_id, f.rrf_score, e.embedding AS cvec
      FROM fused f LEFT JOIN embeddings e ON e.vec_id = f.doc_id
    ),
    sems AS (
      SELECT c.doc_id, c.rrf_score,
             CASE WHEN c.cvec IS NULL THEN 0.0 ELSE
               (list_sum(list_transform(list_zip(qv.qvec, c.cvec),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(qv.qvec,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(c.cvec,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                + 1.0) / 2.0 END AS sem_raw
      FROM cde c CROSS JOIN qv
    ),
    pos AS (
      SELECT f.doc_id,
             coalesce(list_position(string_split(coalesce(d.text, ''), ' '),
                                    'spark'), 0) AS p1,
             coalesce(list_position(string_split(coalesce(d.text, ''), ' '),
                                    'join'), 0) AS p2,
             coalesce(list_position(string_split(coalesce(d.text, ''), ' '),
                                    'stream'), 0) AS p3
      FROM fused f JOIN documents d USING (doc_id)
    ),
    feat AS (
      SELECT s.doc_id, s.rrf_score,
             CAST(CAST(round(CAST(s.sem_raw AS DECIMAL(38,15)), 6)
                       AS DECIMAL(38,6)) AS DOUBLE) AS sem,
             (CASE WHEN p.p1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN p.p2 > 0 THEN 1 ELSE 0 END
              + CASE WHEN p.p3 > 0 THEN 1 ELSE 0 END) / 3.0 AS overlap_frac,
             CASE WHEN least(
                    CASE WHEN p.p1 > 0 AND p.p2 > 0 THEN abs(p.p1 - p.p2) END,
                    CASE WHEN p.p1 > 0 AND p.p3 > 0 THEN abs(p.p1 - p.p3) END,
                    CASE WHEN p.p2 > 0 AND p.p3 > 0 THEN abs(p.p2 - p.p3) END
                  ) IS NULL THEN 0.0
                  ELSE 1.0 / (1 + least(
                    CASE WHEN p.p1 > 0 AND p.p2 > 0 THEN abs(p.p1 - p.p2) END,
                    CASE WHEN p.p1 > 0 AND p.p3 > 0 THEN abs(p.p1 - p.p3) END,
                    CASE WHEN p.p2 > 0 AND p.p3 > 0 THEN abs(p.p2 - p.p3) END
                  )) END AS prox
      FROM sems s JOIN pos p USING (doc_id)
    ),
    scored AS (
      SELECT doc_id, rrf_score, sem, overlap_frac, prox,
             CAST(CAST(round(CAST({_RERANK_W_SEM} * sem
                                  + {_RERANK_W_LEX} * overlap_frac
                                  + {_RERANK_W_PROX} * prox
                                  AS DECIMAL(38,15)), 6)
                       AS DECIMAL(38,6)) AS DOUBLE) AS rerank_score
      FROM feat
    )
    SELECT doc_id, rrf_score, sem, overlap_frac, prox, rerank_score,
           CAST(row_number() OVER (ORDER BY rerank_score DESC, doc_id)
                AS INTEGER) AS rerank_rn
    FROM scored
    QUALIFY rerank_rn <= {_RERANK_TOPK}
    """


@register(
    "hybrid_rerank_topk",
    oracle=_RERANK_ORACLE,
    doc="Bounded cross-encoder-style re-ranking on top of hybrid "
    "retrieval (VERDICT r8 ask #8): the RRF top-20 candidate set is "
    "re-scored with an INTERACTION scorer deliberately priced like a "
    "cross-encoder — expensive per pair, affordable only because the "
    "candidate set is bounded: exact query-vector cosine (the GEMM-"
    "class feature), full query-term overlap, and first-occurrence "
    "term PROXIMITY (needs positions — the feature class retrieval-"
    "then-rerank architectures exist to defer past first-stage "
    "ranking). Frozen linear blend 0.55·sem + 0.30·overlap + "
    "0.15·1/(1+min_pair_dist); every feature and the blend round in "
    "the decimal domain and surface DOUBLE; candidates missing an "
    "embedding score sem 0 (no semantic evidence ≠ broken row). Scale "
    "shape: the two retrievers bound the work exactly as in "
    "hybrid_search_rrf; the re-rank touches 20 rows via broadcast "
    "joins, so its cost is O(k), corpus-independent — swap the frozen "
    "blend for a real cross-encoder pandas_udf over the same bounded "
    "frame and the plan is unchanged. Oracle replays retrieval, "
    "fusion, all three features, and the re-rank end to end.",
    tags=("llm", "search", "bench"),
)
def hybrid_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    # ONE linear chain off the fused candidates, as ONE job: each extra
    # consumer of `fused` re-executes the entire two-retriever pipeline
    # (measured r9: a two-branch re-join doubled the retrieval wall),
    # and every split-the-pipeline variant re-measured WORSE under the
    # r11 interleaved A/B (collect-the-candidates 1.06 s,
    # localCheckpoint+broadcast-prune 0.90 s, this chain 0.80 s min) —
    # the job-count floor beats the shuffle cost at bench scale. At
    # real SF the session keeps AQE on (session.tune_for_working_set),
    # and AQE's runtime stats see the 20-row fused side and convert
    # these joins to broadcast on their own — the static plan need not
    # pre-commit to a join strategy the optimizer can pick better at
    # run time.
    fused = _hybrid_candidates(spark, sf_dir).select("doc_id", "rrf_score")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    base = (
        fused.join(
            emb.select(
                F.col("vec_id").alias("doc_id"),
                F.col("embedding").alias("cvec"),
            ),
            "doc_id",
            "left",
        )
        .join(docs.select("doc_id", "text"), "doc_id")
        .crossJoin(F.broadcast(qv))
    )

    # parsed expr strings: each HOF lambda built through py4j costs
    # driver round trips at plan-build time (the r8 simhash lesson);
    # one parse ships the whole cosine
    def _dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE)"
            " * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
        )

    cos = F.expr(
        f"{_dot('qvec', 'cvec')} / (sqrt({_dot('qvec', 'qvec')})"
        f" * sqrt({_dot('cvec', 'cvec')}))"
    )
    sp = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    sems = base.select(
        "doc_id",
        "rrf_score",
        F.when(F.col("cvec").isNull(), F.lit(0.0))
        .otherwise((cos + F.lit(1.0)) / F.lit(2.0))
        .alias("sem_raw"),
        F.array_position(sp, "spark").alias("p1"),
        F.array_position(sp, "join").alias("p2"),
        F.array_position(sp, "stream").alias("p3"),
    )
    mind = F.least(
        F.when((F.col("p1") > 0) & (F.col("p2") > 0),
               F.abs(F.col("p1") - F.col("p2"))),
        F.when((F.col("p1") > 0) & (F.col("p3") > 0),
               F.abs(F.col("p1") - F.col("p3"))),
        F.when((F.col("p2") > 0) & (F.col("p3") > 0),
               F.abs(F.col("p2") - F.col("p3"))),
    )
    feat = sems.select(
        "doc_id",
        "rrf_score",
        F.round(F.col("sem_raw").cast("decimal(38,15)"), 6)
        .cast("decimal(38,6)")
        .cast("double")
        .alias("sem"),
        (
            (
                (F.col("p1") > 0).cast("int")
                + (F.col("p2") > 0).cast("int")
                + (F.col("p3") > 0).cast("int")
            )
            / F.lit(3.0)
        ).alias("overlap_frac"),
        F.when(mind.isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / (F.lit(1) + mind))
        .alias("prox"),
    )
    scored = feat.select(
        "*",
        F.round(
            (
                F.lit(_RERANK_W_SEM) * F.col("sem")
                + F.lit(_RERANK_W_LEX) * F.col("overlap_frac")
                + F.lit(_RERANK_W_PROX) * F.col("prox")
            ).cast("decimal(38,15)"),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("rerank_score"),
    )
    w = Window.orderBy(F.desc("rerank_score"), F.asc("doc_id"))
    return scored.select(
        "*", F.row_number().over(w).cast("int").alias("rerank_rn")
    ).where(F.col("rerank_rn") <= _RERANK_TOPK)


def _hybrid_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared hybrid-retrieval candidate stage: BM25 top-50 + dense
    cosine top-50 fused with RRF, truncated to 20 — consumed verbatim by
    ``hybrid_search_rrf`` (it IS the query) and as the bounded candidate
    set of ``hybrid_rerank_topk``."""
    from weather_data_data_pipeline_spark.functions.search import (
        bm25_rankings,
        rrf_fuse,
    )
    from weather_data_data_pipeline_spark.functions.similarity import (
        brute_force_topk,
    )

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = bm25_rankings(
        docs, "doc_id", "text", _BM25_TERMS, depth=_RRF_DEPTH,
        k1=_BM25_K1, b=_BM25_B,
    )
    dense = brute_force_topk(
        emb, emb.where(F.col("vec_id") == 0), k=_RRF_DEPTH
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rn").alias("rank"))
    return rrf_fuse([lex, dense], "doc_id", k_rrf=_RRF_K, topk=20)


_KN_D = 0.75


@register(
    "doc_bigram_kn_logppl",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
        FROM arrs WHERE len(t) >= 2
      )
    ),
    bg AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
    ),
    fwd AS (
      SELECT w1, sum(c2) AS c1b, count(*) AS n1p_fwd
      FROM bg GROUP BY w1
    ),
    bwd AS (
      SELECT w2, count(*) AS n1p_bwd FROM bg GROUP BY w2
    ),
    tall AS (SELECT count(*) AS n1p_all FROM bg),
    terms AS (
      SELECT bi.doc_id,
             CAST(round(-ln(
               greatest(bg.c2 - {_KN_D}, 0.0) / c1b
               + ({_KN_D} * n1p_fwd / c1b)
                 * (CAST(n1p_bwd AS DOUBLE) / n1p_all)
             ), 6) AS DECIMAL(38,6)) AS term
      FROM bi
      JOIN bg USING (w1, w2)
      JOIN fwd USING (w1)
      JOIN bwd USING (w2)
      CROSS JOIN tall
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(round(CAST(CAST(sum(term) AS DOUBLE) / count(*)
                           AS DECIMAL(38,15)), 4) AS DOUBLE) AS logppl
    FROM terms GROUP BY doc_id
    """,
    doc="Interpolated Kneser-Ney bigram perplexity (D=0.75) under the "
    "corpus's own counts — the KenLM-class upgrade of the add-one "
    "scorer (doc_bigram_logppl): P(w2|w1) = max(c12-D,0)/c(w1·) + "
    "D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··), so a word's continuation "
    "probability reflects how many CONTEXTS it follows, not raw "
    "frequency — the distinction that makes KN the standard for "
    "CCNet-style perplexity filters. All four model tables derive from "
    "ONE bigram-count aggregate (Zipf-small, broadcast back to the "
    "exploded bigrams); per-term -ln rounds to 6-dp decimal BEFORE the "
    "per-doc mean so aggregation order cannot move a score, and the "
    "final division rounds in the decimal domain.",
    tags=("llm", "text", "quality", "bench"),
)
def doc_bigram_kn_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    arr = nonempty_tokens(F.col("text"))
    arrs = docs.select("doc_id", arr.alias("t"))
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
    fwd = bg.groupBy("w1").agg(
        F.sum("c2").alias("c1b"), F.count("*").alias("n1p_fwd")
    )
    bwd = bg.groupBy("w2").agg(F.count("*").alias("n1p_bwd"))
    tall = bg.agg(F.count("*").alias("n1p_all"))
    p_kn = (
        F.greatest(F.col("c2") - F.lit(_KN_D), F.lit(0.0)) / F.col("c1b")
        + (F.lit(_KN_D) * F.col("n1p_fwd") / F.col("c1b"))
        * (F.col("n1p_bwd").cast("double") / F.col("n1p_all"))
    )
    terms = (
        bi.join(F.broadcast(bg), ["w1", "w2"])
        .join(F.broadcast(fwd), "w1")
        .join(F.broadcast(bwd), "w2")
        .crossJoin(F.broadcast(tall))
        .select(
            "doc_id",
            F.round(-F.log(p_kn), 6).cast("decimal(38,6)").alias("term"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(
            (F.sum("term").cast("double") / F.count("*")).cast(
                "decimal(38,15)"
            ),
            4,
        )
        .cast("double")
        .alias("logppl"),
    )


@register(
    "ngram_entropy_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, t.tok AS tok
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
    ),
    sv AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok),
    st AS (SELECT source, sum(n) AS tot, count(*) AS vocab
           FROM sv GROUP BY source),
    terms AS (
      SELECT sv.source,
             CAST(round(CAST(
               -(CAST(sv.n AS DOUBLE) / st.tot)
                 * ln(CAST(sv.n AS DOUBLE) / st.tot)
             AS DECIMAL(38,15)), 6) AS DECIMAL(18,6)) AS term
      FROM sv JOIN st USING (source)
    )
    SELECT st.source,
           CAST(st.tot AS BIGINT) AS n_tokens,
           CAST(st.vocab AS BIGINT) AS vocab_size,
           CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS entropy
    FROM terms JOIN st USING (source)
    GROUP BY st.source, st.tot, st.vocab
    """,
    doc="Per-source unigram Shannon entropy (nats) next to token and "
    "vocabulary counts — the diversity detector of a crawl mix: a "
    "source whose token entropy collapses toward 0 is templated, "
    "boilerplate, or spam (the same smell KL divergence flags, but "
    "self-referential — no corpus baseline needed, so it works on the "
    "FIRST shard of a brand-new source). Each -p·ln(p) term is rounded "
    "to a 6-dp decimal BEFORE the sum (the FLOAT-SUM rule: ln is the "
    "one non-correctly-rounded op here, and pinning each term makes "
    "the per-source sum aggregation-order-proof and engine-exact). "
    "Plan: one token explode, two map-side-combinable grouped "
    "aggregates keyed (source, tok) then (source) — the Zipf-small "
    "per-source vocab table is all that shuffles twice.",
    tags=("llm", "text", "quality", "bench"),
)
def ngram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(nonempty_tokens("text")).alias("tok"),
    )
    sv = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    st = sv.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count("*").alias("vocab")
    )
    p = F.col("n").cast("double") / F.col("tot")
    term = (
        F.round((-p * F.log(p)).cast("decimal(38,15)"), 6)
        .cast("decimal(18,6)")
        .alias("term")
    )
    terms = sv.join(F.broadcast(st), "source").select(
        "source", "tot", "vocab", term
    )
    return terms.groupBy("source", "tot", "vocab").agg(
        # exact decimal sum internally; DOUBLE surface (small-mantissa
        # decimal→double is engine-identical, decimal surfaces gate-red)
        F.sum("term").cast("decimal(38,6)").cast("double").alias("entropy")
    ).select(
        "source",
        F.col("tot").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab_size"),
        "entropy",
    )


# Fixture blocklist standing in for a real badwords list (the synthetic
# corpus has a closed ~31-token vocabulary; 'slow' is mid-frequency and
# 'dup' is rare, so both filter branches are exercised). A production
# deployment swaps in its curated list — the plan shape is identical for
# any bounded list (it rides as ONE parsed literal array).
_BLOCKLIST = ("slow", "dup")
_BLOCK_SQL_ARR = "[" + ", ".join(f"'{w}'" for w in _BLOCKLIST) + "]"


@register(
    "blocklist_filter_report",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                             t -> list_contains({_BLOCK_SQL_ARR}, t)))
               AS hits,
             len(list_filter(string_split(coalesce(text, ''), ' '),
                             t -> t <> '')) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(CAST(round(CAST(CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0
                                          END) AS DOUBLE) / count(*)
                                AS DECIMAL(38,15)), 6) AS DECIMAL(38,6))
                AS DOUBLE) AS flag_rate,
           CAST(CAST(round(CAST(CAST(sum(hits) AS DOUBLE)
                                / greatest(sum(n_tok), 1)
                                AS DECIMAL(38,15)), 6) AS DECIMAL(38,6))
                AS DOUBLE) AS hit_token_rate
    FROM d GROUP BY source
    """,
    doc="C4-style blocklist filter report: per source, how many "
    "documents contain at least one blocklisted token (the C4 rule "
    "drops these outright), the total hit count, and the flag/token "
    "rates — the measurement run BEFORE committing to a badwords "
    "policy, because a list that flags 40% of a source is a policy "
    "decision, not a cleaning step. Token-EXACT case-insensitive "
    "matching (functions/text.py:blocklist_hits), not regex — a regex "
    "also fires inside longer words, the classic badwords false-"
    "positive. The list rides as one parsed literal array; the plan is "
    "one scan + one partial+final rollup, no shuffle of text. Rates "
    "round in the decimal domain (engine-proof surface).",
    tags=("llm", "text", "quality", "bench"),
)
def blocklist_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import blocklist_hits

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        blocklist_hits("text", _BLOCKLIST).alias("hits"),
        F.size(
            nonempty_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("n_tok"),
    )
    agg = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum("n_tok").alias("_nt"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_flagged",
        "total_hits",
        F.round(
            (F.col("n_flagged").cast("double") / F.col("n_docs")).cast(
                "decimal(38,15)"
            ),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("flag_rate"),
        F.round(
            (
                F.col("total_hits").cast("double")
                / F.greatest(F.col("_nt"), F.lit(1))
            ).cast("decimal(38,15)"),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("hit_token_rate"),
    )


@register(
    "blocklist_redacted_corpus",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '),
                             t -> list_contains({_BLOCK_SQL_ARR}, t)))
               AS n_redacted,
             array_to_string(list_transform(string_split(text, ' '),
                 t -> CASE WHEN list_contains({_BLOCK_SQL_ARR}, lower(t))
                           THEN '[REDACTED]' ELSE t END), ' ')
               AS clean_text
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(n_redacted AS BIGINT) AS n_redacted, clean_text
    FROM r WHERE n_redacted > 0
    """,
    doc="Blocklist REDACTION (the keep-but-mask alternative to the C4 "
    "drop rule — a pipeline that cannot afford to lose 30% of a source "
    "masks instead): every blocklisted token replaced by [REDACTED], "
    "token-exact and case-insensitive, original casing of surviving "
    "tokens and single-space structure preserved "
    "(functions/text.py:blocklist_redact_tokens); emits (doc_id, "
    "n_redacted, clean_text) for every touched document. Pure codegen "
    "projection — one scan, zero shuffle, the transform an engine "
    "applies to 100 TB at scan speed.",
    tags=("llm", "text", "bench"),
)
def blocklist_redacted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        blocklist_hits,
        blocklist_redact_tokens,
    )

    docs = load(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            blocklist_hits("text", _BLOCKLIST)
            .cast("bigint")
            .alias("n_redacted"),
            blocklist_redact_tokens("text", _BLOCKLIST).alias("clean_text"),
        )
        .where(F.col("n_redacted") > 0)
    )


def _rule_conditions_sql() -> list[tuple[str, str]]:
    """The four quality-rule predicates as DuckDB boolean expressions —
    the same sub-expressions composed by _quality_sql()/quality_score,
    surfaced individually for the ablation attribution."""
    from weather_data_data_pipeline_spark.functions.text import STOPWORDS

    return [
        ("length_band", "length(text) BETWEEN 50 AND 100000"),
        (
            "stopword_floor",
            f"CAST(len(list_filter(string_split(text, ' '), "
            f"t -> t IN {STOPWORDS!r})) AS DOUBLE)"
            " / greatest(len(string_split(text, ' ')), 1) >= 0.05",
        ),
        (
            "punct_ceiling",
            "CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]',"
            " '', 'g')) AS DOUBLE) / greatest(length(text), 1) <= 0.2",
        ),
        (
            "word_len_band",
            "CAST(list_sum(list_transform(list_filter(string_split(text,"
            " ' '), t -> t <> ''), t -> length(t))) AS DOUBLE)"
            " / greatest(len(list_filter(string_split(text, ' '),"
            " t -> t <> '')), 1) BETWEEN 2 AND 12",
        ),
    ]


def _ablation_oracle() -> str:
    conds = _rule_conditions_sql()
    flags = ",\n             ".join(
        f"CAST({expr} AS INT) AS ok_{name}" for name, expr in conds
    )
    branches = "\n      UNION ALL\n".join(
        f"""      SELECT '{name}' AS rule,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(1 - ok_{name}) AS BIGINT) AS n_fail,
             CAST(sum(CASE WHEN ok_{name} = 0 AND n_failed = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_only
      FROM flagged"""
        for name, _ in conds
    )
    total_fail = " + ".join(f"(1 - ok_{name})" for name, _ in conds)
    return f"""
    WITH flagged AS (
      SELECT {flags},
             {total_fail} AS n_failed
      FROM documents
    )
    SELECT rule, n_docs, n_fail, n_fail_only,
           CAST(CAST(round(CAST(CAST(n_fail AS DOUBLE) / n_docs
                                AS DECIMAL(38,15)), 6) AS DECIMAL(38,6))
                AS DOUBLE) AS fail_rate
    FROM (
{branches}
    ) _u
    """


@register(
    "quality_rule_ablation",
    oracle=_ablation_oracle(),
    doc="Per-rule ablation of the composite quality filter (the "
    "FineWeb-style attribution table): for each of the four C4/Gopher "
    "rules — length band, stopword floor, punctuation ceiling, mean-"
    "word-length band — how many documents fail it at all and how many "
    "fail ONLY it (its marginal kill count: remove that rule and "
    "exactly those documents come back). The table that tells a "
    "curation owner which rule is doing the work and which is a no-op "
    "riding along — the measurement behind every 'we ablated each "
    "filter' paper section. Plan: the four booleans compute in ONE "
    "corpus scan, fan out 4× through an explode of a literal struct "
    "array, and aggregate in one partial+final groupBy — no text ever "
    "shuffles.",
    tags=("llm", "text", "quality", "bench"),
)
def quality_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import (
        mean_token_length,
        punct_ratio,
        stopword_ratio,
    )

    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    wl = mean_token_length(t)
    rules = [
        ("length_band", (F.length(t) >= 50) & (F.length(t) <= 100_000)),
        ("stopword_floor", stopword_ratio(t) >= 0.05),
        ("punct_ceiling", punct_ratio(t) <= 0.2),
        ("word_len_band", (wl >= 2) & (wl <= 12)),
    ]
    flagged = docs.select(
        *[cond.cast("int").alias(f"ok_{name}") for name, cond in rules]
    ).withColumn(
        "n_failed",
        sum((1 - F.col(f"ok_{name}")) for name, _ in rules[1:]) + (1 - F.col(f"ok_{rules[0][0]}")),
    )
    sweep = flagged.select(
        "n_failed",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(f"ok_{name}").alias("ok"),
                    )
                    for name, _ in rules
                ]
            )
        ).alias("r"),
    ).select("n_failed", F.col("r.rule").alias("rule"), F.col("r.ok").alias("ok"))
    agg = sweep.groupBy("rule").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(1 - F.col("ok")).cast("bigint").alias("n_fail"),
        F.sum(
            F.when((F.col("ok") == 0) & (F.col("n_failed") == 1), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_fail_only"),
    )
    return agg.select(
        "rule",
        "n_docs",
        "n_fail",
        "n_fail_only",
        F.round(
            (F.col("n_fail").cast("double") / F.col("n_docs")).cast(
                "decimal(38,15)"
            ),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("fail_rate"),
    )


@register(
    "source_overlap_jaccard",
    oracle="""
    WITH sv AS (
      SELECT DISTINCT source, t.tok AS tok
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
    ),
    vocab AS (SELECT source, count(*) AS v FROM sv GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
      FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(va.v AS BIGINT) AS vocab_a,
           CAST(vb.v AS BIGINT) AS vocab_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(CAST(round(CAST(CAST(i.n_common AS DOUBLE)
                                / (va.v + vb.v - i.n_common)
                                AS DECIMAL(38,15)), 6) AS DECIMAL(38,6))
                AS DOUBLE) AS jaccard
    FROM inter i
    JOIN vocab va ON va.source = i.source_a
    JOIN vocab vb ON vb.source = i.source_b
    """,
    doc="Pairwise source vocabulary overlap: Jaccard similarity of each "
    "source pair's distinct-token sets — the mix-design companion to "
    "source_vocab_divergence (that one scores each source against the "
    "corpus; this one says WHICH sources are near-duplicates of each "
    "other in content space, the signal for merging two crawls of the "
    "same site before temperature weighting double-counts them). "
    "Scale shape: the per-source vocabulary table is Zipf-small (it "
    "grows with the vocabulary, not the corpus), so the token-keyed "
    "self-join and the S² pair aggregate are bounded by vocab × "
    "sources, never by document count; the corpus is touched once for "
    "the distinct projection.",
    tags=("llm", "text", "bench"),
)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sv = docs.select(
        "source",
        F.explode(nonempty_tokens("text")).alias("tok"),
    ).dropDuplicates(["source", "tok"])
    vocab = sv.groupBy("source").agg(F.count("*").alias("v"))
    a = sv.select(F.col("source").alias("source_a"), "tok")
    b = sv.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    va = vocab.select(
        F.col("source").alias("source_a"), F.col("v").alias("vocab_a")
    )
    vb = vocab.select(
        F.col("source").alias("source_b"), F.col("v").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                (
                    F.col("n_common").cast("double")
                    / (
                        F.col("vocab_a")
                        + F.col("vocab_b")
                        - F.col("n_common")
                    )
                ).cast("decimal(38,15)"),
                6,
            )
            .cast("decimal(38,6)")
            .cast("double")
            .alias("jaccard"),
        )
    )


def _QUALITY_DEC_SQL() -> str:
    """The composite quality score (functions/text.py:quality_score) as
    a DuckDB expression — same fragment as curation_queries._quality_sql
    (duplicated locally: plan modules do not import each other)."""
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
    "length_quality_curve",
    oracle=f"""
    WITH d AS (
      -- exact integer log2 via binary-digit count: ln(n)/ln(2) is two
      -- transcendentals whose quotient sits EXACTLY on an integer at
      -- powers of two — floor() of it is libm-specific there
      SELECT CAST(length(printf('%b', greatest(n_chars, 1))) - 1
                  AS INTEGER) AS len_bucket,
             CAST({{q}} AS DECIMAL(18,2)) AS q
      FROM documents
    )
    SELECT len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(round(CAST(CAST(sum(q) AS DOUBLE) / count(*)
                                AS DECIMAL(38,15)), 4) AS DECIMAL(38,4))
                AS DOUBLE) AS avg_quality,
           CAST(sum(CASE WHEN q >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high_quality
    FROM d GROUP BY len_bucket
    """.format(q=_QUALITY_DEC_SQL()),
    doc="Length-vs-quality curve: composite quality score averaged per "
    "log2 character-length bucket — the EDA plot behind every length "
    "cutoff decision (if quality is flat across buckets, the length "
    "rule is redundant with the other rules; if it cliffs, the cutoff "
    "placement matters). Buckets are floor(log2(n_chars)) — a pure "
    "projection, no global rank machinery — and the quality score's "
    "dyadic k/4 values cast EXACTLY to DECIMAL(18,2), so the per-bucket "
    "mean is an exact decimal sum over an exact count with one "
    "decimal-domain round. One scan, one small rollup.",
    tags=("llm", "text", "quality", "bench"),
)
def length_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.text import quality_score

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        # exact integer log2 = binary-digit count - 1 (conv to base 2);
        # floor(ln(n)/ln(2)) is libm-specific exactly at powers of two
        (
            F.length(
                F.conv(
                    F.greatest(F.col("n_chars"), F.lit(1)).cast("string"),
                    10,
                    2,
                )
            )
            - 1
        )
        .cast("int")
        .alias("len_bucket"),
        quality_score("text").cast("decimal(18,2)").alias("q"),
    )
    return d.groupBy("len_bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            (F.sum("q").cast("double") / F.count("*")).cast(
                "decimal(38,15)"
            ),
            4,
        )
        .cast("decimal(38,4)")
        .cast("double")
        .alias("avg_quality"),
        F.sum(F.when(F.col("q") >= 0.75, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high_quality"),
    )


@register(
    "vocab_growth_curve",
    oracle="""
    WITH n AS (SELECT count(*) AS total FROM documents),
    firsts AS (
      SELECT t.tok AS tok, min(doc_id) AS first_doc
      FROM documents, unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t(tok)
      GROUP BY tok
    ),
    toks AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok
      FROM documents
    ),
    qs(q) AS (VALUES (25), (50), (75), (100)),
    cut AS (
      SELECT q, CAST(ceil(total * q / 100.0) AS BIGINT) AS prefix_docs
      FROM qs CROSS JOIN n
    )
    SELECT c.q AS prefix_pct,
           c.prefix_docs,
           (SELECT CAST(sum(n_tok) AS BIGINT) FROM toks
            WHERE doc_id < c.prefix_docs) AS prefix_tokens,
           (SELECT CAST(count(*) AS BIGINT) FROM firsts
            WHERE first_doc < c.prefix_docs) AS vocab_size
    FROM cut c
    """,
    doc="Heaps'-law vocabulary growth curve: distinct-vocabulary size "
    "at the 25/50/75/100% doc-id prefixes of the corpus next to the "
    "token counts — the collection statistic that pairs with "
    "vocab_zipf_fit (Zipf describes the frequency distribution, Heaps "
    "its growth V ≈ K·nᵝ) and the sizing input for hash-vocabulary "
    "widths and tokenizer budgets on a GROWING corpus (sublinear "
    "growth means yesterday's vocabulary table stays adequate; linear "
    "growth means open-vocabulary content — ids, hashes — is leaking "
    "into the token stream). ONE corpus pass: each token's FIRST-"
    "occurrence doc id aggregates once, then every prefix point is a "
    "conditional sum inside ONE aggregate per frame — the curve costs "
    "two small aggregates, not one scan per point and not a non-equi "
    "join (the r8 form's 4-row-cut LEFT joins compiled to a "
    "BroadcastNestedLoopJoin that must broadcast the CORPUS-sized "
    "right side — driver/executor OOM bait at scale; ADVICE r8 #3). "
    "The doc total is one bounded 1-row aggregate collected to the "
    "driver so the 4 thresholds ride as literals. All-integer output: "
    "engine-exact with no rounding contract needed.",
    tags=("llm", "text"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = load(spark, sf_dir, "documents")
    # bounded driver scalar (1 row): the 4 cut thresholds become plan
    # literals, so no frame ever joins on a non-equi cut condition.
    # ceil matches the oracle's double-domain ceil(total*q/100.0).
    total = docs.agg(F.count("*")).collect()[0][0]
    cuts = [(q, int(math.ceil(total * q / 100.0))) for q in (25, 50, 75, 100)]
    firsts = (
        docs.select(
            "doc_id",
            F.explode(nonempty_tokens("text")).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    toks = docs.select(
        "doc_id",
        F.size(nonempty_tokens("text")).alias("n_tok"),
    )
    # one conditional aggregate per frame; sum-of-NULLs (no F.otherwise)
    # reproduces SQL's NULL on an empty prefix exactly like the oracle's
    # scalar subqueries
    tok_agg = toks.agg(
        *[
            F.sum(F.when(F.col("doc_id") < F.lit(c), F.col("n_tok")))
            .cast("bigint")
            .alias(f"_t{q}")
            for q, c in cuts
        ]
    )
    first_agg = firsts.agg(
        *[
            F.sum(F.when(F.col("first_doc") < F.lit(c), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_v{q}")
            for q, c in cuts
        ]
    )
    # 1-row × 1-row scalar attach (intentional bounded BNLJ), then the
    # 4 curve points unfold from a literal struct array
    row = tok_agg.crossJoin(F.broadcast(first_agg))
    points = F.array(
        *[
            F.struct(
                F.lit(q).cast("int").alias("prefix_pct"),
                F.lit(c).cast("bigint").alias("prefix_docs"),
                F.col(f"_t{q}").alias("prefix_tokens"),
                F.col(f"_v{q}").alias("vocab_size"),
            )
            for q, c in cuts
        ]
    )
    return row.select(F.explode(points).alias("r")).select("r.*")


_WINNOW_K = 4
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2
_WINNOW_MAX_POSTINGS = 64

# Shared oracle CTE chain for the winnowing family: position-indexed
# word-k-gram md5 hashes → window min + rightmost-tie selection over
# ROWS frames → distinct (doc, pos, hash) fingerprints. Mirrors
# functions/winnow.py expression for expression.
_WINNOW_FPS_CTES = f"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, u.i AS i,
             CAST('0x' || substr(md5(u.g), 1, 8) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_WINNOW_K} + 2),
                      i -> struct_pack(i := i - 1,
                           g := array_to_string(
                               t[i:i+{_WINNOW_K - 1}], ' ')))) AS u
        FROM toks WHERE len(t) >= {_WINNOW_K}
      )
    ),
    ann AS (
      SELECT doc_id, i,
             min(struct_pack(h := h, ni := -i)) OVER wf AS m,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams
      WINDOW wf AS (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW
                         AND {_WINNOW_W - 1} FOLLOWING)
    ),
    fps AS (
      SELECT DISTINCT doc_id, -(m.ni) AS pos, m.h AS h
      FROM ann
      WHERE i <= greatest(n_grams - {_WINNOW_W}, 0)
    )"""


@register(
    "winnowing_fingerprint_summary",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES},
    counts AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM grams GROUP BY doc_id
    ),
    per AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_fingerprints,
             bit_xor(h) AS fp_xor
      FROM fps GROUP BY doc_id
    )
    SELECT c.doc_id, c.n_grams, p.n_fingerprints, p.fp_xor
    FROM counts c JOIN per p USING (doc_id)
    """,
    doc=f"Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "
    f"SIGMOD 2003 — the MOSS algorithm; functions/winnow.py): word "
    f"{_WINNOW_K}-gram md5 hashes, window-of-{_WINNOW_W} minimum "
    "selection with the rightmost-tie robust rule, per-document census "
    "of (gram count, selected-fingerprint count, order-independent "
    "BIT_XOR checksum of the fingerprint set). The winnowing theorem "
    f"guarantees any shared run of ≥ {_WINNOW_W + _WINNOW_K - 1} "
    "tokens between documents surfaces as a shared fingerprint, at an "
    f"expected density of 2/(w+1) ≈ {2 / (_WINNOW_W + 1):.2f} of the "
    "grams — local fingerprinting neither MinHash (global similarity) "
    "nor exact-substring spans (no sampling) provide. Plan: one gram "
    "explode + two window functions, all partitioned by doc_id — one "
    "document-keyed shuffle at any corpus size; the oracle replays "
    "hashing, window selection, tie-breaks, and the xor checksum.",
    tags=("llm", "dedup", "text", "bench"),
)
def winnowing_fingerprint_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.winnow import (
        winnow_summary,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    return winnow_summary(
        docs, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    )


@register(
    "winnowing_overlap_pairs",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES},
    hs AS (SELECT DISTINCT doc_id, h FROM fps),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
      FROM hs GROUP BY doc_id
    ),
    posting AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM hs
      ) WHERE df <= {_WINNOW_MAX_POSTINGS}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM posting a JOIN posting b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {_WINNOW_MIN_SHARED}
    )
    SELECT id_a, id_b, n_shared,
           CAST(round(CAST(CAST(n_shared AS DOUBLE)
                           / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE)
                      AS DECIMAL(38,15)), 6) AS DOUBLE) AS overlap_frac
    FROM pairs
    JOIN sizes sa ON sa.doc_id = pairs.id_a
    JOIN sizes sb ON sb.doc_id = pairs.id_b
    """,
    doc="MOSS-style partial-copy candidate pairs over the winnowing "
    "fingerprints: documents sharing ≥ "
    f"{_WINNOW_MIN_SHARED} distinct fingerprint hashes, scored with "
    "the overlap measure n_shared / min(|fp_a|, |fp_b|) (6-dp "
    "decimal-pinned). Stop-fingerprint cap: a hash present in more "
    f"than {_WINNOW_MAX_POSTINGS} documents is boilerplate and leaves "
    "pair generation (the MinHash max_bucket_size / n-gram max_df "
    "bounded-join device) — pair traffic ≤ cap × surviving postings, "
    "never corpus-quadratic; |fp| denominators still count every "
    "distinct hash so the fraction is a document property, not a cap "
    "artifact. The oracle replays fingerprinting, the cap, the pair "
    "join, and the rounded fraction end-to-end.",
    tags=("llm", "dedup", "bench"),
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_data_data_pipeline_spark.functions.winnow import (
        winnow_overlap_pairs,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED,
        max_postings=_WINNOW_MAX_POSTINGS,
    )


@register(
    "winnowing_index_probe",
    # The oracle recomputes BOTH sides' fingerprints from the source
    # table (there is no oracle-side index write), so the engine's
    # build→persist→probe round-trip is hash-checked end-to-end against
    # a pure recompute — same write-vs-recompute asymmetry as
    # snapshot_version_diff (adjudicated r10): the parquet write IS the
    # query's point, so its wall ratio is not compute waste.
    oracle=f"""
    WITH {_WINNOW_FPS_CTES},
    hs AS (SELECT DISTINCT doc_id, h FROM fps),
    ref AS (SELECT doc_id, h FROM hs WHERE doc_id % 3 <> 0),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
      FROM ref GROUP BY doc_id
    ),
    posting AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM ref
      ) WHERE df <= {_WINNOW_MAX_POSTINGS}
    ),
    fresh AS (SELECT doc_id, h FROM hs WHERE doc_id % 3 = 0),
    pairs AS (
      SELECT f.doc_id AS doc_id, p.doc_id AS match_id,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM fresh f JOIN posting p USING (h)
      GROUP BY 1, 2
      HAVING count(*) >= {_WINNOW_MIN_SHARED}
    )
    SELECT pairs.doc_id, pairs.match_id, pairs.n_shared,
           s.n_fp AS match_fp
    FROM pairs JOIN sizes s ON s.doc_id = pairs.match_id
    """,
    doc="The SERVING form of the winnowing family (functions/winnow.py:"
    "build_winnow_index / winnow_probe_index, the batch twin of the "
    "streaming winnow_match_sink): documents with doc_id % 3 <> 0 play "
    "the frozen reference corpus — their fingerprint postings (stop-"
    "fingerprint cap ≤ "
    f"{_WINNOW_MAX_POSTINGS} applied once at BUILD time, so probes "
    "never pay the per-hash frequency pass) and uncapped per-document "
    "sizes are WRITTEN to a parquet index — and the doc_id % 3 = 0 "
    "batch probes it: only the new batch is fingerprinted, the "
    "reference side costs a postings read. Output: (probe doc, matched "
    "reference doc, shared-fingerprint count ≥ "
    f"{_WINNOW_MIN_SHARED}, reference doc's uncapped fingerprint "
    "census from the index's sizes artifact). At 100 TB the index is "
    "two longs per kept fingerprint, bucketed by hash like any posting "
    "list, and an incoming batch costs its own fingerprints + one "
    "capped join — the decontamination / partial-copy gate shape. The "
    "oracle replays split, hashing, window selection, build-time cap, "
    "probe join, and the sizes join end-to-end.",
    tags=("llm", "dedup", "serving"),
)
def winnowing_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from weather_data_data_pipeline_spark.functions.winnow import (
        build_winnow_index,
        winnow_probe_index,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="winnow_index_")
    try:
        build_winnow_index(
            ref, tmp, "doc_id", "text",
            k=_WINNOW_K, w=_WINNOW_W,
            max_postings=_WINNOW_MAX_POSTINGS,
        )
        matches = winnow_probe_index(
            spark, tmp, batch, "doc_id", "text",
            k=_WINNOW_K, w=_WINNOW_W,
            min_shared=_WINNOW_MIN_SHARED,
        )
        sizes = spark.read.parquet(f"{tmp}/sizes").select(
            # canonical index columns since ADVICE r12: sizes = (id, n_fp)
            F.col("id").alias("match_id"),
            F.col("n_fp").alias("match_fp"),
        )
        out = matches.join(sizes, "match_id").select(
            "doc_id", "match_id", "n_shared", "match_fp"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
