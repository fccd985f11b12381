"""Null/empty-input robustness: at 100 TB every pathological value
exists somewhere in the corpus. Text and dedup operators must degrade
per-row (skip / neutral score), never throw or poison a partition."""

from __future__ import annotations

from weather_data_data_pipeline_spark.functions import dedup as D
from weather_data_data_pipeline_spark.functions.text import (
    language_id,
    quality_score,
    token_count,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, None), (3, ""), (4, "short"),
         (5, "the cat sat on the mat")],
        "doc_id long, text string",
    )


def test_dedup_operators_skip_null_and_short_texts(spark):
    df = _docs(spark)
    # only docs 1 and 5 have >= 3 tokens; they are identical
    sh = D.word_shingles(df, "doc_id", "text")
    assert {r["doc_id"] for r in sh.select("doc_id").distinct().collect()} == {1, 5}
    jp = D.jaccard_pairs(df, "doc_id", "text").collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in jp] == [(1, 5, 1.0)]
    mh = D.minhash_dedup_pairs(df, "doc_id", "text").collect()
    assert [(r["id_a"], r["id_b"]) for r in mh] == [(1, 5)]


def test_text_functions_neutral_on_null_and_empty(spark):
    rows = {
        r["doc_id"]: r
        for r in _docs(spark)
        .select(
            "doc_id",
            token_count("text").alias("tc"),
            quality_score("text").alias("q"),
            language_id("text").alias("lang"),
        )
        .collect()
    }
    assert rows[2]["tc"] is None and rows[2]["q"] == 0.0 and rows[2]["lang"] == "und"
    assert rows[3]["lang"] == "und"
    assert rows[1]["lang"] == "en" and rows[1]["q"] > 0.5


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3) + separate clique {10,11,12}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_exact_dedup_counts_null_digests_together(spark):
    df = _docs(spark)
    from pyspark.sql import functions as F

    out = D.exact_dedup(
        df.select(F.sha2("text", 256).alias("digest"), "doc_id"),
        ["digest"],
        "doc_id",
    )
    by_keep = {r["keep_doc_id"]: r["n_copies"] for r in out.collect()}
    assert by_keep[1] == 2  # docs 1 and 5 identical
    assert by_keep[2] == 1  # null text is its own (null-digest) group


def test_search_and_redact_null_safety(spark):
    from weather_data_data_pipeline_spark.functions.search import (
        bm25_scores,
        ngram_contamination,
    )
    from weather_data_data_pipeline_spark.functions.text import (
        PII_PATTERNS,
        match_count,
        redact,
    )

    df = _docs(spark)
    # BM25: null/empty/short docs simply don't match; no exceptions
    scored = bm25_scores(df, "doc_id", "text", ["cat", "mat"]).collect()
    assert {r.doc_id for r in scored} == {1, 5}
    # contamination: null/short eval docs come back with 0 grams, 0.0 frac
    got = {
        r.doc_id: (r.n_ngrams, r.contamination)
        for r in ngram_contamination(
            df.where("doc_id = 1"), df, "doc_id", "text"
        ).collect()
    }
    assert got[2] == (0, 0.0) and got[3] == (0, 0.0) and got[4] == (0, 0.0)
    assert got[1][1] == 1.0 and got[5][1] == 1.0
    # redaction: NULL propagates as NULL (never throws), empty stays empty
    pats = [PII_PATTERNS["number"]]
    rows = {
        r.doc_id: (r.red, r.n)
        for r in df.select(
            "doc_id",
            redact("text", pats).alias("red"),
            match_count("text", PII_PATTERNS["number"]).alias("n"),
        ).collect()
    }
    assert rows[2] == (None, None)
    assert rows[3] == ("", 0)


def test_round2_operators_on_empty_inputs(spark):
    """Empty builds/batches/corpora must yield empty-but-well-formed
    results, not crashes — the degenerate inputs every long-running
    pipeline eventually feeds its operators."""
    from weather_data_data_pipeline_spark.functions.bloom import (
        bloom_prune,
        build_bloom,
        might_contain,
    )
    from weather_data_data_pipeline_spark.functions.dedup import (
        incremental_near_dedup,
    )
    from weather_data_data_pipeline_spark.functions.text import (
        weighted_sample_portable,
    )
    from weather_data_data_pipeline_spark.operators.ranking import grouped_topk
    from weather_data_data_pipeline_spark.operators.sketches import (
        cms_point_estimate,
        count_min_sketch,
    )

    from pyspark.sql import functions as F

    empty_keys = spark.createDataFrame([], "k long")
    probe = spark.createDataFrame([(1,), (2,)], "k long")

    # bloom of an empty build side rejects every probe row
    words = build_bloom(empty_keys, "k")
    assert probe.where(might_contain(words, F.col("k"))).count() == 0
    assert bloom_prune(probe, empty_keys, "k", "k").count() == 0

    # CMS of empty input estimates 0 for every key
    sk = count_min_sketch(empty_keys, "k")
    est = cms_point_estimate(sk, probe, "k")
    assert {r["est_count"] for r in est.collect()} == {0}

    # empty new batch through incremental near-dedup keeps nothing
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    kept = spark.createDataFrame([(1, "some kept document text here")],
                                 "doc_id long, text string")
    assert incremental_near_dedup(empty_docs, kept, "doc_id", "text").count() == 0

    # grouped_topk and weighted sampling over empty frames stay empty
    ev = spark.createDataFrame([], "user_id long, event_id long, value double")
    assert grouped_topk(ev, ["user_id"], "value", 3,
                        tiebreak_cols=["event_id"]).count() == 0
    docs = spark.createDataFrame([], "doc_id long, lang string, n_chars long")
    assert weighted_sample_portable(docs, "n_chars", 5).count() == 0


def test_round3_operators_on_empty_and_degenerate_inputs(spark):
    """Round-3 additions must degrade cleanly on empty frames and
    pathological rows, same contract as everything else."""
    from pyspark.sql import functions as F

    from weather_data_data_pipeline_spark.functions.similarity import (
        semantic_dedup,
    )

    # semantic dedup: empty corpus → empty labeled frame, no throw
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cents = [[1.0] * 4, [-1.0] * 4]
    out = semantic_dedup(empty, cents, threshold=0.9)
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "cluster", "rep_id", "kept"}

    # singleton corpus: one vector is its own kept representative
    one = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    row = semantic_dedup(one, cents, threshold=0.9).collect()[0]
    assert row["kept"] and row["rep_id"] == 7

    # portable minhash: null/empty/short texts silently excluded
    from weather_data_data_pipeline_spark.functions.dedup import (
        minhash_dedup_pairs_portable,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat again"), (2, None), (3, ""), (4, "tiny"),
         (5, "the cat sat on the mat again")],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs_portable(docs, "doc_id", "text").collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 5, 1.0)]

    # paragraph dedup pathological branch on an EMPTY frame: both paths
    from weather_data_data_pipeline_spark.functions.text import dedup_paragraphs

    edocs = spark.createDataFrame([], "id long, body string")
    assert dedup_paragraphs(edocs, "body", "d").count() == 0


def test_round4_operators_on_null_empty_and_degenerate_inputs(spark):
    """span removal (stats + clean), holdout split, and the BPE trainer
    on null text, empty text, empty corpus, and all-duplicate corpus."""
    from weather_data_data_pipeline_spark.functions.bpe import bpe_train
    from weather_data_data_pipeline_spark.functions.text import holdout_split

    docs = _docs(spark)  # includes None and "" texts

    # stats: one row per input doc, no throw; null text -> null counts,
    # short/empty -> everything kept
    stats = {r["doc_id"]: r for r in
             D.span_dedup_stats(docs, "doc_id", "text", n=3).collect()}
    assert set(stats) == {1, 2, 3, 4, 5}
    assert stats[2]["n_tokens"] is None and stats[2]["dup_tokens"] == 0
    assert stats[3]["dup_tokens"] == 0 and stats[4]["dup_tokens"] == 0
    assert stats[1]["dup_tokens"] == stats[1]["n_tokens"]  # doc 5 twin

    clean = {r["doc_id"]: r for r in
             D.span_dedup_clean(docs, "doc_id", "text", n=3).collect()}
    assert set(clean) == {1, 2, 3, 4, 5}
    assert clean[1]["clean_text"] == "" and clean[5]["clean_text"] == ""
    assert clean[4]["clean_text"] == "short"

    # empty corpus: empty result frames, no throw
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert D.span_dedup_stats(empty, "doc_id", "text").count() == 0
    assert D.span_dedup_clean(empty, "doc_id", "text").count() == 0
    assert bpe_train(empty, "text", num_merges=3) == []

    # BPE skips null/empty texts (explode of null array yields nothing)
    merges = bpe_train(docs, "text", num_merges=3)
    assert all(f >= 2 for _, _, f in merges)

    # holdout on null id: md5(concat(salt, NULL)) is NULL -> rest bucket,
    # deterministic, no throw
    nulls = spark.createDataFrame([(None,), (7,)], "doc_id long")
    out = {r["doc_id"]: r["s"] for r in nulls.select(
        "doc_id", holdout_split("doc_id").alias("s")).collect()}
    assert out[7] in {"train", "val", "test"} and out[None] == "test"


def test_weekly_dup_rate_null_tuple_semantics_match_oracle(spark, tmp_path):
    """ADVICE r8 #2 close-out, exercised WITH actual NULLs: the engine's
    column-list count_distinct skips NULL-bearing tuples, and the
    registered oracle's FILTER (... IS NOT NULL) makes DuckDB do the
    same — proven here on a crafted events frame containing NULL
    user_id / event_type / value rows, not just asserted on NULL-free
    corpus data."""
    import duckdb

    from weather_data_data_pipeline_spark.plans.timeseries_queries import (
        weekly_event_dup_rate,
    )
    from weather_data_data_pipeline_spark.registry import get_query

    rows = [
        # week of 2024-01-01: 2 exact dup pairs + 1 NULL-user row +
        # 1 NULL-value row (the NULL rows must NOT join the distinct set)
        (0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (1, "2024-01-02 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-03 10:00:00", None, "view", 2.0, "{}"),
        (3, "2024-01-04 10:00:00", 2, "view", None, "{}"),
        (4, "2024-01-05 10:00:00", 3, None, 3.0, "{}"),
        # week of 2024-01-08: all distinct
        (5, "2024-01-08 10:00:00", 1, "click", 9.0, "{}"),
        (6, "2024-01-09 10:00:00", 2, "view", 8.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id",
        "CAST(ts AS TIMESTAMP) AS ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )
    src = str(tmp_path / "nulls")
    df.write.parquet(f"{src}/events.parquet")

    got = sorted(
        (
            str(r["week_start"]),
            r["n_events"],
            r["n_keyed"],
            r["n_distinct"],
            r["n_dupes"],
            r["dup_rate"],
        )
        for r in weekly_event_dup_rate(spark, src).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{src}/events.parquet/*.parquet')"
    )
    oracle = get_query("weekly_event_dup_rate").oracle
    want = sorted(
        (str(w), n, k, d, dup, rate)
        for w, n, k, d, dup, rate in con.execute(oracle).fetchall()
    )
    assert got == want
    # and the NULL rows are excluded from BOTH sides of the duplicate
    # arithmetic (ADVICE r9 #3): week-1 has 5 events total, but only 2
    # NULL-free tuples (the dup pair), so exactly 1 duplicate — a
    # NULL-keyed row no longer reads as a dup, and the rate is over
    # n_keyed, not n_events
    assert got[0] == ("2024-01-01", 5, 2, 1, 1, 0.5)


def test_snapshot_version_diff_null_keys_match_oracle(spark, tmp_path):
    """NULL-keyed events are excluded from the snapshot diff on BOTH
    engines (a NULL key never equality-joins to itself, so it would
    otherwise read as a phantom added+removed pair — and the oracle's
    old data-NULL classification would have diverged from Spark's
    join-side test). Proven on crafted events WITH NULL user_id /
    event_type rows spanning three weekly versions."""
    import duckdb

    from weather_data_data_pipeline_spark.plans.maintenance_queries import (
        snapshot_version_diff,
    )
    from weather_data_data_pipeline_spark.registry import get_query

    rows = [
        # week 0: base keys
        (0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (1, "2024-01-02 10:00:00", 2, "view", 2.0, "{}"),
        (2, "2024-01-03 10:00:00", None, "view", 3.0, "{}"),   # NULL key
        # week 1 (inside the v<=vmin+1 snapshot): update key (1, click)
        (3, "2024-01-08 10:00:00", 1, "click", 4.0, "{}"),
        (4, "2024-01-09 10:00:00", 3, None, 5.0, "{}"),        # NULL key
        # week 2 (inside v<=vmin+2 only): new key + update (2, view)
        (5, "2024-01-15 10:00:00", 4, "buy", 6.0, "{}"),
        (6, "2024-01-16 10:00:00", 2, "view", 7.0, "{}"),
        (7, "2024-01-17 10:00:00", None, None, 8.0, "{}"),     # NULL key
        # week 3 (outside both snapshots)
        (8, "2024-01-22 10:00:00", 9, "click", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    )
    src = str(tmp_path / "snapnull")
    df.write.parquet(f"{src}/events.parquet")

    got = sorted(map(tuple, snapshot_version_diff(spark, src).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{src}/events.parquet/*.parquet')"
    )
    want = sorted(
        map(tuple, con.execute(
            get_query("snapshot_version_diff").oracle).fetchall())
    )
    con.close()
    assert got == want
    by_type = {r[0]: r[1:] for r in got}
    # (added, changed, unchanged, removed): 'buy' added in week 2;
    # (2, view) changed; (1, click) unchanged between the snapshots
    # (its update happened in week 1, INSIDE both); nothing removed,
    # and no phantom rows from the NULL-keyed events
    assert by_type == {
        "buy": (1, 0, 0, 0),
        "view": (0, 1, 0, 0),
        "click": (0, 0, 1, 0),
    }


# --- r14 NULL-audit regressions (scripts/null_audit.py findings) ------


def test_rolling_fingerprint_null_does_not_poison_batch(spark):
    """One NULL text in an Arrow batch must not change its batch-mates'
    fingerprints: the old .map() path coerced the result series to
    float64 when a None was present, silently rounding every int64
    fingerprint in the batch to 1-in-2^53 precision (ulp 256 at 2^60)."""
    from weather_data_data_pipeline_spark.functions.text import (
        rolling_fingerprint,
    )

    text = "the quick brown fox jumps over the lazy dog" * 4
    MOD, BASE = (1 << 61) - 1, 257
    want = 0
    for b in text.encode("utf-8"):
        want = (want * BASE + b) % MOD

    df = spark.createDataFrame(
        [(1, text), (2, None), (3, text)], "doc_id long, text string"
    ).coalesce(1)  # one partition → one Arrow batch shares the None
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", rolling_fingerprint("text").alias("fp")
        ).collect()
    }
    assert got[1] == want and got[3] == want  # EXACT, not float-rounded
    assert got[2] is None


def test_mean_token_length_null_on_empty(spark):
    from weather_data_data_pipeline_spark.functions.text import (
        mean_token_length,
    )

    rows = {
        r["doc_id"]: r["wl"]
        for r in spark.createDataFrame(
            [(1, "ab abcd"), (2, ""), (3, None)],
            "doc_id long, text string",
        )
        .select("doc_id", mean_token_length("text").alias("wl"))
        .collect()
    }
    assert rows[1] == 3.0
    assert rows[2] is None  # was 0.0 — flipped band rules to False
    assert rows[3] is None


def test_doc_repetition_quality_survives_short_and_null_docs(spark, tmp_path):
    """sequence(1, size-1) descended for <2-token docs and slice(toks,
    0, 2) threw — the guarded form drops them like the oracle's empty
    range()."""
    import pandas as pd

    from weather_data_data_pipeline_spark import registry

    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a b a b", "solo", "", None],
            "lang": ["en"] * 4,
            "source": ["src1"] * 4,
            "n_chars": [7, 4, 0, 0],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    got = {
        r["doc_id"]: (r["n_tokens"], r["top_bigram_frac"])
        for r in registry.get_query("doc_repetition_quality")
        .fn(spark, str(d))
        .collect()
    }
    assert got == {1: (4, 0.6667)}  # "a b" fills 2 of 3 bigram slots


def test_multimodal_decode_and_frames_degrade_on_null_content(spark):
    from weather_data_data_pipeline_spark.multimodal.binary import (
        decode_features,
        sample_frames,
    )
    from pyspark.sql import functions as F

    media = spark.createDataFrame(
        [("m1", b"hello", "image", {"duration_ms": 3000}),
         ("m2", None, "video", {"duration_ms": 3000})],
        "media_id string, content binary, modality string, "
        "meta map<string,int>",
    )
    dec = {r["media_id"]: r for r in decode_features(media, fake=True).collect()}
    assert dec["m1"]["n_bytes"] == 5 and len(dec["m1"]["feature"]) == 16
    assert dec["m2"]["n_bytes"] is None and dec["m2"]["feature"] is None
    frames = sample_frames(media, every_ms=1000, fake=True).collect()
    assert {r["media_id"] for r in frames} == {"m1"}  # m2 emits nothing
    assert len([r for r in frames if r["media_id"] == "m1"]) == 3


def test_embedding_operators_survive_null_and_zero_vectors(spark):
    """r14 embeddings NULL audit: a NULL embedding (ragged Arrow batch)
    or a zero-norm vector (cosine division by zero — Spark ANSI throws
    where DuckDB yields NULL) must never crash an operator or enter a
    cosine ranking."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        brute_force_topk_gemm,
        cosine,
        cosine_near_dup_pairs,
        semantic_dedup,
    )
    from pyspark.sql import functions as F

    dim = 8
    base = [(i, [float(i == j) for j in range(dim)]) for i in range(4)]
    emb = spark.createDataFrame(
        base + [(90, [0.0] * dim), (91, None)],
        "vec_id long, embedding array<float>",
    )
    # Column-level cosine: NULL for NULL/zero inputs, no ANSI throw
    paired = emb.alias("a").crossJoin(emb.alias("b")).select(
        F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
    ).collect()
    for r in paired:
        if 90 in (r["ia"], r["ib"]) or 91 in (r["ia"], r["ib"]):
            assert r["c"] is None
    # GEMM top-k: pathological rows excluded, valid ones intact
    topk = brute_force_topk_gemm(emb, emb, k=3).collect()
    ids = {r["query_id"] for r in topk} | {r["neighbor_id"] for r in topk}
    assert ids <= {0, 1, 2, 3}
    # pair scorer: no pairs involving invalid vectors
    pairs = cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=-1.0)
    assert {r["id_a"] for r in pairs.collect()} <= {0, 1, 2, 3}
    # SemDeDup: invalid vectors still LABELED (kept, rep=self), no edges
    out = {
        r["vec_id"]: (r["kept"], r["rep_id"])
        for r in semantic_dedup(
            emb, [[1.0] + [0.0] * (dim - 1)], threshold=0.5
        ).collect()
    }
    assert len(out) == 6
    assert out[90] == (True, 90) and out[91] == (True, 91)
