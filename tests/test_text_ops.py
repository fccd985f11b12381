"""Property tests for chunking (coverage, overlap, tails) and
deterministic sampling (stability, monotonicity, proportions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from weather_data_data_pipeline_spark.functions.text import (
    chunk_documents,
    deterministic_sample,
)
from weather_data_data_pipeline_spark.sources.tables import load


def test_chunks_cover_text_exactly(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    rows = sorted(
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # stride 3: starts at 0,3,6 cover t0..t9; tail chunk keeps 4 remaining
    assert [r[0] for r in rows] == [0, 1, 2]
    assert rows[0][1] == "t0 t1 t2 t3"
    assert rows[1][1] == "t3 t4 t5 t6"
    assert rows[2][1] == "t6 t7 t8 t9"
    assert [r[2] for r in rows] == [4, 4, 4]
    # consecutive chunks share exactly `overlap` tokens
    assert rows[0][1].split()[-1] == rows[1][1].split()[0]


def test_short_doc_is_single_whole_chunk(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=128, overlap=32).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == "a b" and rows[0]["n_tokens"] == 2


def test_chunks_reconstruct_corpus_tokens(spark):
    docs = load(spark, SF_DIR, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=0)
    # zero overlap → chunk token counts sum back to each doc's token count
    got = (
        chunks.groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("n"))
        .orderBy("doc_id")
        .collect()
    )
    want = (
        docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"),
        )
        .where(F.col("n") > 0)
        .orderBy("doc_id")
        .collect()
    )
    assert [(r["doc_id"], r["n"]) for r in got] == [
        (r["doc_id"], r["n"]) for r in want
    ]


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_DIR, "documents")


def test_sample_is_deterministic_and_monotone(spark, docs):
    small = deterministic_sample(docs, {"en": 0.2})
    big = deterministic_sample(docs, {"en": 0.6})
    ids_small = {r["doc_id"] for r in small.select("doc_id").collect()}
    ids_small2 = {r["doc_id"] for r in small.select("doc_id").collect()}
    ids_big = {r["doc_id"] for r in big.select("doc_id").collect()}
    assert ids_small == ids_small2  # re-run stable
    assert ids_small <= ids_big  # growing the fraction only adds rows


def test_sample_proportions_and_strata(spark, docs):
    out = deterministic_sample(docs, {"en": 0.5, "fr": 0.25})
    by_lang = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(by_lang) <= {"en", "fr"}  # unlisted strata dropped
    for lang, frac in [("en", 0.5), ("fr", 0.25)]:
        got = by_lang.get(lang, 0) / totals[lang]
        assert abs(got - frac) < 0.15, (lang, got, frac)


def test_portable_sample_monotone_and_engine_free(spark, docs):
    from weather_data_data_pipeline_spark.functions.text import (
        deterministic_sample_portable,
        md5_threshold,
    )
    import hashlib

    small = deterministic_sample_portable(docs, {"en": 0.2})
    big = deterministic_sample_portable(docs, {"en": 0.6})
    ids_small = {r["doc_id"] for r in small.select("doc_id").collect()}
    ids_big = {r["doc_id"] for r in big.select("doc_id").collect()}
    assert ids_small <= ids_big  # monotone under fraction growth
    # the keep decision is re-derivable with nothing but python hashlib
    want = {
        r["doc_id"]
        for r in docs.where(F.col("lang") == "en").select("doc_id").collect()
        if hashlib.md5(f"v1{r['doc_id']}".encode()).hexdigest()
        < md5_threshold(0.2)
    }
    assert ids_small == want


def test_tfidf_top_terms_small_frame(spark):
    from weather_data_data_pipeline_spark.functions.text import tf_idf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    rows = tf_idf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["tf"]))
    # null/empty docs contribute no rows; every other doc gets <= k terms
    assert set(by_doc) == {1, 2, 3}
    assert sorted(by_doc[1]) == [(1, "apple", 2), (2, "banana", 1)]
    # doc 2 tie on tf=1: rarer term (df asc) ranks first — durian df=1 not in doc2;
    # banana df=2 == cherry df=2, alphabetical tie-break
    assert sorted(by_doc[2]) == [(1, "banana", 1), (2, "cherry", 1)]
    assert by_doc[3][0][1] == "cherry" and by_doc[3][0][2] == 3


def test_weighted_sample_portable_bias_and_determinism(spark):
    from tests.conftest import SF_DIR
    from weather_data_data_pipeline_spark.functions.text import (
        weighted_sample_portable,
    )
    from weather_data_data_pipeline_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    s1 = weighted_sample_portable(docs, "n_chars", k=25)
    rows = s1.collect()
    # exactly min(k, |stratum|) per language, ranks dense from 1
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["lang"]].append(r["rn"])
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, rns in per.items():
        assert sorted(rns) == list(range(1, min(25, sizes[lang]) + 1))

    # weighting by n_chars must bias the sample toward longer docs
    corpus_avg = docs.agg(F.avg("n_chars")).first()[0]
    sample_avg = s1.agg(F.avg("n_chars")).first()[0]
    assert sample_avg > corpus_avg

    # deterministic: identical output on re-run
    s2 = weighted_sample_portable(docs, "n_chars", k=25)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, s2.collect()))


def test_normalize_for_dedup_collapses_reformattings(spark):
    from weather_data_data_pipeline_spark.functions.text import (
        normalize_for_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "HELLO — world."),
            (4, "a genuinely different text"),
        ],
        "id long, text string",
    )
    out = df.select("id", normalize_for_dedup("text").alias("n"))
    vals = {r["id"]: r["n"] for r in out.collect()}
    assert vals[1] == vals[2] == vals[3] == "hello world"
    assert vals[4] != vals[1]


def test_dedup_paragraphs_first_occurrence_order(spark):
    from weather_data_data_pipeline_spark.functions.text import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "A\n\nB\n\nA\n\nC\n\nB"),
            (2, "same\n\nsame\n\nsame"),
            (3, "only one paragraph"),
        ],
        "id long, body string",
    )
    out = {
        r["id"]: r["d"]
        for r in dedup_paragraphs(df, "body", "d").collect()
    }
    assert out[1] == "A\n\nB\n\nC"
    assert out[2] == "same"
    assert out[3] == "only one paragraph"


def test_dedup_paragraphs_pathological_doc_bounded(spark):
    """VERDICT r2 #6: a planted 10⁴-paragraph document must not stall —
    above the HOF cap the row routes through the O(p)-per-doc pandas-UDF
    path, and both paths produce identical output."""
    import time

    from weather_data_data_pipeline_spark.functions.text import dedup_paragraphs

    # 10_000 paragraphs cycling through 100 distinct values
    body = "\n\n".join(f"para {i % 100}" for i in range(10_000))
    expect = "\n\n".join(f"para {i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, body), (2, "A\n\nB\n\nA"), (3, None)], "id long, body string"
    )
    t0 = time.perf_counter()
    out = {r["id"]: r["d"] for r in dedup_paragraphs(df, "body", "d").collect()}
    elapsed = time.perf_counter() - t0
    assert out[1] == expect
    assert out[2] == "A\n\nB"  # small doc: HOF path, unchanged semantics
    assert out[3] is None
    assert elapsed < 30, f"pathological doc took {elapsed:.1f}s — cap broken"

    # cross-path equality: force the SAME medium doc down each path
    # (300 paragraphs: above the default cap, still cheap for the HOF)
    med = spark.createDataFrame(
        [(1, "\n\n".join(f"p {i % 37}" for i in range(300))), (2, "A\n\nB\n\nA")],
        "id long, body string",
    )
    via_hof = {
        r["id"]: r["d"]
        for r in dedup_paragraphs(med, "body", "d", hof_max_paragraphs=10**6).collect()
    }
    via_udf = {
        r["id"]: r["d"]
        for r in dedup_paragraphs(med, "body", "d", hof_max_paragraphs=0).collect()
    }
    assert via_hof == via_udf


def test_dedup_paragraphs_cross_path_equality_nontrivial_sep(spark):
    """ADVICE r3: the Java-regex HOF path and the Python-re pandas
    fallback must agree on a NON-trivial (but dialect-portable) regex
    separator. Route the same documents down both paths by flipping
    hof_max_paragraphs."""
    from weather_data_data_pipeline_spark.functions.text import (
        dedup_paragraphs,
    )

    sep = "\n{2,}"
    docs = [
        (1, "a\n\nb\n\n\na\n\nc"),          # dup 'a' across 2- and 3-newline seps
        (2, "x\n\nx\n\nx"),
        (3, None),
        (4, "solo"),
        (5, "p\n\n\n\nq\n\np"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    via_hof = {
        r["doc_id"]: r["clean"]
        for r in dedup_paragraphs(
            df, "text", "clean", sep=sep, hof_max_paragraphs=256
        ).collect()
    }
    via_pandas = {
        r["doc_id"]: r["clean"]
        for r in dedup_paragraphs(
            df, "text", "clean", sep=sep, hof_max_paragraphs=0
        ).collect()
    }
    assert via_hof == via_pandas
    assert via_hof[1] == "a\n{2,}b\n{2,}c"  # sep is a LITERAL on rejoin
    assert via_hof[3] is None


def test_dedup_paragraphs_rejects_nonportable_sep(spark):
    import pytest

    from weather_data_data_pipeline_spark.functions.text import (
        dedup_paragraphs,
    )

    df = spark.createDataFrame([(1, "a\n\nb")], "doc_id long, text string")
    for bad in (r"\R", r"\h+", r"a*+", r"(?>ab)", r"(?P<x>a)"):
        with pytest.raises(ValueError, match="not portable"):
            dedup_paragraphs(df, "text", "clean", sep=bad)


def test_holdout_split_stable_under_growth(spark):
    """A document's split must be a pure function of its id: appending
    new documents (corpus growth) may never migrate an existing doc
    between train/val/test — the leakage mode random splits have."""
    from weather_data_data_pipeline_spark.functions.text import holdout_split

    small = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    grown = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    col = holdout_split("doc_id", "split-v1")
    before = {
        r["doc_id"]: r["s"] for r in small.select("doc_id", col.alias("s")).collect()
    }
    after = {
        r["doc_id"]: r["s"] for r in grown.select("doc_id", col.alias("s")).collect()
    }
    assert all(after[i] == s for i, s in before.items())
    # every split is populated and proportions are in the right ballpark
    from collections import Counter

    c = Counter(after.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.85 <= c["train"] / 2000 <= 0.95
    # a different salt reshuffles (the split is salt-keyed, not id-magic)
    other = {
        r["doc_id"]: r["s"]
        for r in grown.select(
            "doc_id", holdout_split("doc_id", "split-v2").alias("s")
        ).collect()
    }
    assert any(other[i] != after[i] for i in after)


def test_md5_threshold_boundary_fractions(spark):
    """fraction=1.0 must keep EVERYTHING: format(2**32) is 9 hex chars
    and the length mismatch silently broke the lexicographic compare
    (kept ~6%); the sentinel 'g…' sorts above every hex digest."""
    from weather_data_data_pipeline_spark.functions.text import (
        deterministic_sample_portable,
        holdout_split,
        md5_threshold,
    )

    t = md5_threshold(1.0)
    assert len(t) == 32 and t > "f" * 32
    assert md5_threshold(0.0) == "0" * 32
    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id").withColumn(
        "lang", F.lit("en")
    )
    assert deterministic_sample_portable(docs, {"en": 1.0}).count() == 300
    splits = docs.select(
        holdout_split("doc_id", "x", bounds=(("train", 1.0),)).alias("s")
    ).distinct().collect()
    assert [r["s"] for r in splits] == ["train"]


def test_holdout_split_validates_bounds(spark):
    """ADVICE r4 #2: mis-ordered/duplicate/out-of-range bounds silently
    made later splits unreachable — the function must refuse them."""
    import pytest

    from weather_data_data_pipeline_spark.functions.text import holdout_split

    for bad in (
        (("train", 0.95), ("val", 0.90)),  # descending
        (("train", 0.90), ("val", 0.90)),  # duplicate threshold
        (("train", 0.0),),                 # zero fraction
        (("train", 1.5),),                 # above 1
        (("train", -0.1), ("val", 0.5)),   # negative
    ):
        with pytest.raises(ValueError, match="ascending"):
            holdout_split("doc_id", bounds=bad)

    # NULL id: every when-arm compares NULL and falls through -> the row
    # lands in `rest`, i.e. never in train (documented routing)
    df = spark.createDataFrame(
        [(None,), ("d1",)], "doc_id string"
    ).select("doc_id", holdout_split("doc_id").alias("s"))
    got = {r["doc_id"]: r["s"] for r in df.collect()}
    assert got[None] == "test"


def test_token_balanced_shards_matches_global_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from weather_data_data_pipeline_spark.functions.text import (
        token_balanced_shards,
    )

    rows = [
        (i, " ".join(["w"] * ((i * 37) % 90 + 1))) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(tuple, token_balanced_shards(
            df, target_tokens=500, bucket_size=7
        ).collect())
    )
    # naive single-window form (the oracle's shape)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = (
        df.select(
            "doc_id", F.size(F.split("text", " ")).cast("long").alias("n")
        )
        .select(
            "doc_id", "n",
            F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cb"),
        )
        .select("doc_id", "n", (F.col("cb") / 500).cast("long").alias("s"))
        .groupBy("s")
        .agg(
            F.count("*").cast("long"), F.sum("n").cast("long"),
            F.min("doc_id"), F.max("doc_id"),
        )
    )
    assert got == sorted(map(tuple, naive.collect()))
    # shards tile the id range contiguously and conserve tokens
    ordered = sorted(map(tuple, got), key=lambda r: r[0])
    assert [r[0] for r in ordered] == list(range(len(ordered)))
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur[3] == prev[4] + 1
    assert sum(r[2] for r in ordered) == sum((i * 37) % 90 + 1 for i in range(200))


def test_unimax_allocation_matches_iterative_waterfill(spark):
    from weather_data_data_pipeline_spark.functions.text import (
        unimax_allocation,
    )

    def waterfill(caps, budget):
        """Reference: the paper's iterative form — equal share among
        remaining groups, cap-and-remove in ascending capacity order."""
        remaining = dict(caps)
        alloc = {}
        left = budget
        while remaining:
            share = left / len(remaining)
            capped = {k: c for k, c in remaining.items() if c <= share}
            if not capped:
                for k in remaining:
                    alloc[k] = share
                return alloc
            for k, c in capped.items():
                alloc[k] = float(c)
                left -= c
                del remaining[k]
        return alloc

    cases = [
        ({"a": 100, "b": 200, "c": 1000}, 600),   # a,b capped; c leftover
        ({"a": 100, "b": 200, "c": 1000}, 5000),  # all capped
        ({"a": 500, "b": 600, "c": 700}, 300),    # none capped
        ({"a": 90, "b": 90, "c": 90, "d": 5000}, 3000),  # ties
    ]
    for toks, budget in cases:
        df = spark.createDataFrame(
            [(k, v) for k, v in toks.items()], "k string, n long"
        )
        # epoch_cap=1 so cap == n and the reference caps are the inputs
        got = {
            r.k: (r.alloc_tokens, r.capped)
            for r in unimax_allocation(df, "k", "n", budget, 1).collect()
        }
        want = waterfill(toks, budget)
        for k in toks:
            assert abs(got[k][0] - round(want[k], 2)) < 1e-9, (
                toks, budget, k, got[k], want[k]
            )
            assert got[k][1] == (want[k] == toks[k])
        assert abs(
            sum(v for v, _ in got.values())
            - min(budget, sum(toks.values()))
        ) < 0.05


def test_leakage_free_split_components_never_straddle(spark, tmp_path):
    """The leakage_free_split contract: every near-dup component lands in
    exactly ONE split — planted near-duplicate pairs (Jaccard >= 0.5 on
    3-shingles) must inherit the SAME split as their representative,
    while a plain per-doc md5 split is free to scatter them."""
    import os

    from pyspark.sql import functions as F

    from weather_data_data_pipeline_spark.functions.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from weather_data_data_pipeline_spark.functions.text import holdout_split
    from weather_data_data_pipeline_spark.plans.curation_queries import (
        leakage_free_split,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(60):
        if i % 3 == 0:  # planted near-dup pair (i, i+1): one-word suffix diff
            rows.append((i, base + f" tail{i}", "en", "s0", 100))
            rows.append((1000 + i, base + f" tail{i} extra", "en", "s1", 100))
        else:
            rows.append(
                (i, f"unique doc number {i} with words " + " ".join(
                    f"w{i}x{j}" for j in range(8)
                ), "en", "s0", 100)
            )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(rows, schema)
    sf_dir = str(tmp_path / "sfL")
    os.makedirs(sf_dir, exist_ok=True)
    df.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    pairs = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs)
    # sanity: the planted pairs actually formed components
    assert labels.count() >= 2
    full = df.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    assigned = full.select(
        "cluster_id", holdout_split("cluster_id", "lsplit-v1").alias("split")
    )
    # the invariant: one split per component
    multi = (
        assigned.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert multi == 0
    # and the registered rollup is consistent: docs sum to the corpus
    out = {r["split"]: r for r in leakage_free_split(spark, sf_dir).collect()}
    assert sum(r["n_docs"] for r in out.values()) == len(rows)
    # every guarded doc is in a >=2-member component, counted with it
    assert sum(r["n_leak_guarded"] for r in out.values()) >= 2 * 20


def test_blocklist_token_exact_and_null_preserving(spark):
    """Blocklist matching is token-EXACT (never fires inside longer
    words — the classic badwords-regex false positive) and
    case-insensitive; redaction keeps surviving-token casing and a NULL
    text stays NULL (distinguishable from fully-masked)."""
    from weather_data_data_pipeline_spark.functions.text import (
        blocklist_hits,
        blocklist_redact_tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "the slow Dup query"),      # 'slow' + case-insensitive 'Dup'
            (2, "slowly duplicated text"),  # substrings must NOT match
            (3, None),
            (4, "SLOW slow dup"),           # all three masked
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["hits"], r["clean"])
        for r in df.select(
            "doc_id",
            blocklist_hits("text", ("slow", "dup")).alias("hits"),
            blocklist_redact_tokens("text", ("slow", "dup")).alias("clean"),
        ).collect()
    }
    assert rows[1] == (2, "the [REDACTED] [REDACTED] query")
    assert rows[2] == (0, "slowly duplicated text")
    assert rows[3] == (0, None)
    assert rows[4] == (3, "[REDACTED] [REDACTED] [REDACTED]")


def test_blocklist_quote_escaping_and_entry_validation(spark):
    """ADVICE r8 #1: real badwords lists contain apostrophes — the word
    must ship as a correctly-escaped literal (an unescaped quote breaks
    the parsed array expression or injects SQL into the plan), and a
    multi-word/empty entry raises instead of silently never matching."""
    import pytest as _pytest

    from weather_data_data_pipeline_spark.functions.text import (
        blocklist_hits,
        blocklist_redact_tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "don't panic"),
            (2, "dont panic"),
            (3, r"a back\slash token"),
        ],
        "doc_id long, text string",
    )
    words = ("don't", "back\\slash")
    rows = {
        r["doc_id"]: (r["hits"], r["clean"])
        for r in df.select(
            "doc_id",
            blocklist_hits("text", words).alias("hits"),
            blocklist_redact_tokens("text", words).alias("clean"),
        ).collect()
    }
    assert rows[1] == (1, "[REDACTED] panic")
    assert rows[2] == (0, "dont panic")
    assert rows[3] == (1, "a [REDACTED] token")

    for bad in ("two words", "", "tab\tsplit"):
        with _pytest.raises(ValueError):
            blocklist_hits("text", (bad,))


def test_ess_rollup_tiered_surface_large_sums(spark):
    """ADVICE r9 #1: the decimal->double surface cast is only measured
    engine-identical while the decimal's scaled mantissa < 2^53, so a
    per-group weight sum above ~9e6 re-enters the divergent class at
    the old always-9-dp scale. The TIERED surface re-rounds to 2 dp
    once the exact sum crosses 1e6; this pins (a) Spark == DuckDB
    bit-equality of every surfaced double in BOTH regimes on one
    frame, and (b) the small regime staying byte-identical to the
    legacy 9-dp form (no silent value drift for existing groups)."""
    import duckdb as _duckdb

    from weather_data_data_pipeline_spark.functions.text import (
        ess_rollup,
        tiered_sum_double_sql,
    )

    rows = [
        # big: sum_w = 3 x 500000.123456789 = 1500000.370370367 >= 1e6
        # -> 2-dp branch; sum_w2 = 7.5e11 also tiers
        *[("big", 500000.123456789)] * 3,
        # mid: sum just UNDER the tier point stays on the 9-dp branch
        ("mid", 999999.999999999),
        # small: tiny weights, deep in the 9-dp regime
        ("small", 0.000000123),
        ("small", 0.25),
        # neg: large NEGATIVE sum must tier on MAGNITUDE (the helper is
        # generic even though ESS weights are nonnegative)
        ("neg", -2000000.5),
        ("neg", 0.25),
    ]
    df = spark.createDataFrame(rows, "source string, final_weight double")
    got = {
        r["source"]: (r["sum_w"], r["sum_w2"], r["ess"], r["ess_ratio"])
        for r in ess_rollup(df, "source", "final_weight").collect()
    }

    con = _duckdb.connect()
    con.execute(
        "CREATE TABLE w AS SELECT * FROM (VALUES "
        + ", ".join(f"('{s}', {v!r})" for s, v in rows)
        + ") t(source, final_weight)"
    )
    sw = tiered_sum_double_sql("sum_w")
    sw2 = tiered_sum_double_sql("sum_w2")
    oracle = {
        s: (a, b, c, d)
        for s, a, b, c, d in con.execute(
            f"""
            WITH fw AS (
              SELECT source,
                     CAST(final_weight AS DECIMAL(18,9)) AS fwt
              FROM w),
            agg AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(fwt) AS DECIMAL(38,9)) AS sum_w,
                     CAST(sum(fwt * fwt) AS DECIMAL(38,18)) AS sum_w2
              FROM fw GROUP BY source)
            SELECT source, {sw}, {sw2},
                   CAST(CAST(round(CAST(({sw}) * ({sw}) / ({sw2})
                             AS DECIMAL(38,15)), 4) AS DECIMAL(38,4))
                        AS DOUBLE),
                   CAST(CAST(round(CAST(({sw}) * ({sw}) / ({sw2}) / n_docs
                             AS DECIMAL(38,15)), 4) AS DECIMAL(38,4))
                        AS DOUBLE)
            FROM agg
            """
        ).fetchall()
    }
    con.close()

    assert set(got) == {"big", "mid", "small", "neg"}
    for src in got:
        for g, o in zip(got[src], oracle[src]):
            assert g == o and str(g) == str(o), (src, got[src], oracle[src])

    # the big group actually took the 2-dp branch...
    assert got["big"][0] == 1500000.37
    # ...and the sub-tier groups kept the legacy 9-dp surface exactly
    assert got["mid"][0] == 999999.999999999
    assert got["small"][0] == 0.250000123
    # the negative group took the 2-dp branch via abs()
    assert got["neg"][0] == -2000000.25


def test_fuzz_normalize_twins_agree_in_contract(spark):
    """Seeded fuzz over the IN-CONTRACT alphabet (ASCII word/punct/space/
    tab/newline + non-ASCII letters): the Spark normalize_for_dedup and
    the DuckDB _NORM_SQL twin agree byte-for-byte on every input, incl.
    NULL and empty. Vertical tab (\\x0b) is deliberately absent — Java's
    \\s includes it, RE2's does not; that divergence is documented as
    out of contract in the kernel docstring."""
    import random

    import duckdb as _duckdb

    from weather_data_data_pipeline_spark.functions.text import (
        normalize_for_dedup,
    )
    from weather_data_data_pipeline_spark.plans.curation_queries import (
        _NORM_SQL,
    )

    rng = random.Random(20260816)
    alphabet = (
        "abcXYZ019 _-.,!?;:#@/()\"'\t\n"
        "äÉß汉…"
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(300)
    ] + ["", None, "  A  b\t\tC  ", "!!!", "\n\n"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", normalize_for_dedup("text").alias("n")).collect()
    }

    con = _duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT id, {_NORM_SQL} FROM t").fetchall())
    con.close()
    assert got == want, [
        (texts[k], got[k], want[k]) for k in got if got[k] != want[k]
    ][:5]


def test_fuzz_quality_and_token_twins_agree(spark):
    """Same fuzz discipline for the other shared (Column, SQL) kernels:
    composite quality_score vs curation's _quality_sql, whitespace token
    count vs _WS_TOKENS_SQL, and the BPE-ish subword count vs its
    regexp_extract_all SQL — byte/value agreement on 300 garbage texts
    (band boundaries included: the score's ratio comparisons are
    correctly-rounded doubles over the same ints on both engines)."""
    import random

    import duckdb as _duckdb

    from weather_data_data_pipeline_spark.functions.text import (
        bpe_ish_token_count,
        quality_score,
    )
    from weather_data_data_pipeline_spark.plans.curation_queries import (
        _WS_TOKENS_SQL,
        _quality_sql,
    )

    rng = random.Random(77)
    words = ["the", "a", "of", "slow", "zz", "x" * 13, "q", "table",
             "value", "!!", "..", "a-b", "汉字"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 60)))
        + rng.choice(["", " ", "  ", "!?"])
        for _ in range(300)
    ] + ["", "   ", "x" * 49, "x" * 50, "the " * 30, None]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (r["q"], r["ws"], r["bpe"])
        for r in df.select(
            "id",
            F.round(quality_score("text"), 6).alias("q"),
            F.size(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            ).alias("ws"),
            bpe_ish_token_count("text").alias("bpe"),
        ).collect()
    }
    con = _duckdb.connect()
    con.execute("CREATE TABLE documents(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        i: (q, ws, bpe)
        for i, q, ws, bpe in con.execute(
            f"""SELECT id, round({_quality_sql()}, 6), {_WS_TOKENS_SQL},
                       len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))
                FROM documents"""
        ).fetchall()
    }
    # Spark size(NULL array) yields -1/NULL vs DuckDB NULL: normalize
    def norm(v):
        return tuple(None if x in (None, -1) else x for x in v)

    mism = [
        (texts[k], norm(got[k]), norm(want[k]))
        for k in got
        if norm(got[k]) != norm(want[k])
    ]
    assert not mism, mism[:5]


def test_char_entropy_columns_edges_and_hof_equivalence(spark):
    """The r11 Arrow entropy kernel (char_entropy_columns) must agree
    bit-for-bit with the interpreted HOF fold it replaced — same 6-dp
    HALF_UP per-character terms, exact order-proof sum, 4-dp surface —
    and handle NULL text (NULL row values), empty text ((0, 0, NULL)),
    and passthrough columns."""
    from weather_data_data_pipeline_spark.functions.text import (
        char_entropy_columns,
    )

    docs = spark.createDataFrame(
        [
            (1, "aabbbbcc", "s1"),
            (2, "", "s1"),
            (3, None, "s2"),
            (4, "zzzzzzzz", "s2"),           # single-char alphabet → 0.0
            (5, "the quick brown fox", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: (
            r["n_chars_exact"], r["uniq_chars"], r["char_entropy"],
            r["source"],
        )
        for r in char_entropy_columns(
            docs, "text", passthrough=("doc_id", "source")
        ).collect()
    }
    assert got[2] == (0, 0, None, "s1")
    assert got[3] == (None, None, None, "s2")
    assert got[4] == (8, 1, 0.0, "s2")
    # the replaced HOF fold, reconstructed, as the equivalence oracle
    cs = F.split("text", "")
    n = F.size(cs)

    def _term(c):
        k = F.size(F.filter(cs, lambda x: x == c))
        p = k.cast("double") / n
        return F.round(-p * F.log(p), 6).cast("decimal(38,6)")

    entropy = F.aggregate(
        F.array_distinct(cs),
        F.lit(0).cast("decimal(38,6)"),
        lambda acc, c: acc + _term(c),
    )
    # HOF comparison excludes the empty doc: Spark's split('', '')
    # yields [''] (n=1, entropy 0.0) while DuckDB's string_split and
    # the kernel both yield [] → (0, 0, NULL) — the kernel follows the
    # ORACLE's semantics, which the HOF silently diverged from (never
    # hit: the corpora contain no empty texts)
    want = {
        r["doc_id"]: (
            r["n"], r["u"], r["e"]
        )
        for r in docs.where(
            F.col("text").isNotNull() & (F.length("text") > 0)
        ).select(
            "doc_id",
            n.cast("int").alias("n"),
            F.size(F.array_distinct(cs)).cast("int").alias("u"),
            F.when(n > 0, F.round(entropy, 4).cast("double")).alias("e"),
        ).collect()
    }
    for doc_id, (nn, uu, ee) in want.items():
        assert got[doc_id][:3] == (nn, uu, ee), (doc_id, got[doc_id], (nn, uu, ee))


def test_pmi_collocations_hand_computed(spark):
    """PMI against hand arithmetic: corpus 'a b a b' + 'a c' gives
    unigrams a:3 b:2 c:1 (N=6), bigrams (a,b):2 (b,a):1 (a,c):1 (B=4);
    PMI(a,b) = PMI(a,c) = ln 3, PMI(b,a) = ln 1.5 — and the (w1, w2)
    tie-break orders the ln-3 pair (a,b) before (a,c)."""
    import math

    from weather_data_data_pipeline_spark.functions.text import (
        pmi_collocations,
    )

    docs = spark.createDataFrame([("a b a b",), ("a c",)], ["text"])
    rows = [
        (r["w1"], r["w2"], r["pair_count"], r["pmi"], r["rn"])
        for r in pmi_collocations(docs, "text", min_count=1, k=10)
        .orderBy("rn")
        .collect()
    ]
    ln3 = round(math.log(3), 4)
    ln15 = round(math.log(1.5), 4)
    assert rows == [
        ("a", "b", 2, ln3, 1),
        ("a", "c", 1, ln3, 2),
        ("b", "a", 1, ln15, 3),
    ]
    # min_count floors rare pairs
    floored = pmi_collocations(docs, "text", min_count=2, k=10).collect()
    assert [(r["w1"], r["w2"]) for r in floored] == [("a", "b")]


def test_pmi_collocations_matches_counter_reference(spark):
    """Randomized pin: PMI, counts, ordering, and row_number against a
    pure-Python Counter reference on seeded random corpora from a
    4-token alphabet (dense bigrams, many exact PMI ties — the
    tie-break path is exercised for real)."""
    import math
    import random
    from collections import Counter

    from weather_data_data_pipeline_spark.functions.text import (
        pmi_collocations,
    )

    for seed in (3, 19):
        rng = random.Random(seed)
        docs = [
            (" ".join(
                rng.choice("a b c d".split())
                for _ in range(rng.randint(0, 30))
            ),)
            for _ in range(40)
        ]
        uni: Counter = Counter()
        bi: Counter = Counter()
        for (t,) in docs:
            # the engine filters empty tokens (the list_filter
            # convention of doc_bigram_logppl) — mirror it
            toks = [w for w in t.split(" ") if w != ""]
            uni.update(toks)
            bi.update(zip(toks, toks[1:]))
        n = sum(uni.values())
        b = sum(bi.values())
        want = []
        for (w1, w2), c2 in bi.items():
            if c2 < 2:
                continue
            pmi = round(
                math.log((c2 / b) / ((uni[w1] / n) * (uni[w2] / n))), 4
            )
            want.append((w1, w2, c2, pmi))
        want.sort(key=lambda r: (-r[3], r[0], r[1]))
        want = [
            (w1, w2, c2, pmi, i + 1)
            for i, (w1, w2, c2, pmi) in enumerate(want[:10])
        ]
        got = [
            (r["w1"], r["w2"], r["pair_count"], r["pmi"], r["rn"])
            for r in pmi_collocations(
                spark.createDataFrame(docs, ["text"]),
                "text", min_count=2, k=10,
            ).orderBy("rn").collect()
        ]
        assert got == want, f"seed {seed}"
