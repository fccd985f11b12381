"""ANN quality tests: the approximate paths (IVF, OR-amplified LSH) must
recover most of the exact brute-force top-k — recall is the contract an
ANN operator is sold on, so it is regression-tested, not eyeballed."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from weather_data_data_pipeline_spark.functions.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
    lsh_near_dup_pairs,
    lsh_recall_report,
    lsh_topk,
    seeded_sign_planes,
    semantic_dedup,
)
from weather_data_data_pipeline_spark.sources.tables import load

# the registered queries' planes: 16 tables × 4 sign planes over dim 64
PLANES = seeded_sign_planes(n_tables=16, n_planes=4, dim=64)


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_ann_recall_vs_brute_force(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = _pairs(brute_force_topk(emb, q, k=10))
    assert len(exact) == 100  # 10 queries × k=10

    ivf = _pairs(ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4))
    ivf_recall = len(exact & ivf) / len(exact)
    assert ivf_recall >= 0.7, f"IVF recall@10 collapsed: {ivf_recall}"

    lsh = _pairs(lsh_topk(emb, q, k=10, n_planes=4, planes=PLANES))
    lsh_recall = len(exact & lsh) / len(exact)
    assert lsh_recall >= 0.6, f"LSH recall@10 collapsed: {lsh_recall}"


def test_lsh_near_dup_recall_and_no_false_positives(spark):
    emb = load(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, threshold=0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(
            emb, threshold=0.35, n_planes=4, planes=PLANES
        ).collect()
    }
    assert lsh <= exact, "verification must kill every sub-threshold candidate"
    recall = len(exact & lsh) / max(1, len(exact))
    assert recall >= 0.8, f"LSH near-dup recall collapsed: {recall}"


def test_semantic_dedup_invariants(spark):
    """SemDeDup keep-set contract: (a) every row labeled, reps are
    members of their own component; (b) NO two kept rows in the same
    cluster are near-duplicates of each other (the defining guarantee);
    (c) dropped rows really do have a kept near-dup chain (their rep is
    kept)."""
    from weather_data_data_pipeline_spark.functions.similarity import cosine

    emb = load(spark, SF_DIR, "embeddings")
    seeds = emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    cents = [[float(x) for x in r["embedding"]] for r in seeds]
    out = semantic_dedup(emb, cents, threshold=0.35)
    rows = out.collect()
    assert len(rows) == emb.count()  # total function: every row labeled
    kept = {r["vec_id"] for r in rows if r["kept"]}
    rep_of = {r["vec_id"]: r["rep_id"] for r in rows}
    assert any(not r["kept"] for r in rows), "corpus should have semantic dups"
    # reps are kept, and every drop points at a kept rep
    for vid, rep in rep_of.items():
        assert rep in kept
        assert rep <= vid  # min-id representative
    # no two kept rows in one cluster may be near-dups: re-score them
    kept_df = emb.join(
        out.where(F.col("kept")).select("vec_id", "cluster"), "vec_id"
    )
    a = kept_df.select(
        F.col("vec_id").alias("id_a"), F.col("cluster"), F.col("embedding").alias("va")
    )
    b = kept_df.select(
        F.col("vec_id").alias("id_b"), F.col("cluster"), F.col("embedding").alias("vb")
    )
    offenders = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine(F.col("va"), F.col("vb")) >= 0.35)
        .count()
    )
    assert offenders == 0, f"{offenders} kept near-dup pairs survived"


def test_lsh_near_dup_chunked_verify_equals_unchunked(spark, monkeypatch):
    """The per-bucket GEMM verifier scores in O(chunk × m) row blocks so a
    degenerate bucket cannot demand an m×m matrix in one Python worker.
    Forcing a tiny chunk on real buckets must change NOTHING about the
    result — chunking is a memory shape, not a semantic."""
    import weather_data_data_pipeline_spark.functions.similarity as sim

    emb = load(spark, SF_DIR, "embeddings").limit(300)

    def run():
        return {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in lsh_near_dup_pairs(
                emb, threshold=0.35, n_planes=4, planes=PLANES
            ).collect()
        }

    baseline = run()
    assert baseline, "corpus has near-dup pairs at this threshold"
    monkeypatch.setattr(sim, "_VERIFY_CHUNK", 7)  # force many blocks per bucket
    assert run() == baseline


def test_ivf_full_probe_equals_exact(spark):
    # probing every cell degrades IVF to exact brute force — a structural
    # sanity check on the index (no candidates lost by the plumbing)
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = _pairs(brute_force_topk(emb, q, k=5))
    full = _pairs(ivf_topk(emb, q, k=5, n_centroids=8, n_probe=8))
    assert full == exact


def test_gemm_topk_equals_jvm_topk(spark):
    """The BLAS formulation must reproduce the pure-JVM one exactly:
    same neighbors, same ranks, same rounded scores — including on
    multi-partition input where per-batch top-k pruning is active."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        brute_force_topk_gemm,
    )

    emb = load(spark, SF_DIR, "embeddings").repartition(7)
    q = emb.where(F.col("vec_id") < 10)
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["rn"]): (r["neighbor_id"], r["cosine"])
        for r in df.collect()
    }
    assert key(brute_force_topk_gemm(emb, q, k=10)) == key(
        brute_force_topk(emb, q, k=10)
    )


def test_int8_quantization_roundtrip_and_recall(spark):
    """int8 quantization contract: per-component error ≤ absmax/254, and
    cosine top-k on reconstructed vectors keeps ≥90% of the exact
    neighbors (the storage transform must not break retrieval)."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load(spark, SF_DIR, "embeddings")
    q8 = quantize_embeddings(emb)
    rec = dequantize_embeddings(
        q8.drop("embedding"), out_col="embedding"
    ).select("vec_id", "embedding", "label")

    # per-component reconstruction error bound
    err = (
        q8.select(
            "q_scale",
            F.expr(
                "aggregate(zip_with(embedding, "
                "transform(q_vec, (q, i) -> CAST(q AS DOUBLE) * q_scale / 127), "
                "(x, xr) -> abs(CAST(x AS DOUBLE) - xr)), CAST(0.0 AS DOUBLE), "
                "(acc, e) -> greatest(acc, e))"
            ).alias("max_err"),
        )
        .where(F.col("max_err") > F.col("q_scale") / 254 + 1e-9)
        .count()
    )
    assert err == 0

    q = emb.where(F.col("vec_id") < 10)
    exact = _pairs(brute_force_topk(emb, q, k=10))
    rq = rec.where(F.col("vec_id") < 10)
    approx = _pairs(brute_force_topk(rec, rq, k=10))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"int8 retrieval recall collapsed: {recall}"


def test_persisted_ivf_index_matches_fresh_ivf(spark, tmp_path):
    from weather_data_data_pipeline_spark.functions.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
    )
    from weather_data_data_pipeline_spark.sources.tables import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.limit(30)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, n_centroids=8)
    got = sorted(
        map(tuple, ivf_topk_from_index(spark, path, queries, k=5, n_probe=3).collect())
    )
    want = sorted(
        map(tuple, ivf_topk(emb, queries, k=5, n_probe=3, n_centroids=8).collect())
    )
    assert got == want
    # Postings are laid out one directory per cell → probing prunes files.
    import os

    cells = [d for d in os.listdir(f"{path}/postings") if d.startswith("cell=")]
    assert len(cells) > 1


def test_group_mean_pairwise_cosine_matches_naive(spark):
    import itertools
    import math

    from weather_data_data_pipeline_spark.functions.similarity import (
        group_mean_pairwise_cosine,
    )

    groups = {
        "tight": [[1.0, 0.1, 0.0], [1.0, 0.0, 0.1], [0.9, 0.1, 0.05]],
        "spread": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0],
                   [-1.0, 0.0, 0.0]],
        "pair": [[1.0, 2.0, 3.0], [3.0, 2.0, 1.0]],
        "singleton": [[1.0, 1.0, 1.0]],
        "zeros": [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0]],
    }
    rows = [(g, [float(x) for x in v]) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, embedding array<float>")
    got = {
        r.grp: (r.n_vectors, r.mean_cosine)
        for r in group_mean_pairwise_cosine(df, "grp").collect()
    }

    def naive(vs):
        us = []
        for v in vs:
            n = math.sqrt(sum(x * x for x in v))
            if n > 0:
                us.append([round(x / n, 8) for x in v])
        pairs = [
            sum(a * b for a, b in zip(u, w))
            for u, w in itertools.permutations(us, 2)
        ]
        return len(us), round(sum(pairs) / len(pairs), 6)

    # singleton dropped (undefined); zeros group loses its zero vector
    # and drops below 2 usable vectors → also absent
    assert set(got) == {"tight", "spread", "pair"}
    for g in got:
        n, want = naive(groups[g])
        assert got[g][0] == n
        assert abs(got[g][1] - want) < 2e-6, (g, got[g], want)
    assert got["tight"][1] > 0.9 and got["spread"][1] < 0


def test_nearest_in_set_zero_norm_vectors_are_inert(spark):
    """ADVICE r7: a zero-norm vector must not poison the GEMM — a zero
    CORPUS vector scores cosine 0 against everything (not NaN), and a
    zero REFERENCE vector never wins an argmax over any ref with a
    positive cosine (np.argmax would otherwise return the NaN index)."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        nearest_in_set,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),  # zero-norm corpus vector
        ],
        "vec_id long, embedding array<double>",
    )
    ref = spark.createDataFrame(
        [
            (10, [0.0, 0.0]),  # zero-norm reference vector
            (11, [1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["nearest_id"], r["cosine_raw"])
        for r in nearest_in_set(corpus, ref).collect()
    }
    # corpus 1 aligns with ref 11 (cos 1.0); the zero ref scores 0 and
    # loses; the zero corpus vector scores 0 everywhere and ties break
    # to the LOWEST ref id
    assert got[1] == (11, 1.0)
    assert got[2] == (10, 0.0)
    assert all(v[1] == v[1] for v in got.values())  # no NaNs


def test_nearest_in_set_non_bigint_ids(spark):
    """ADVICE r7: id dtypes follow each side's own schema — int corpus
    ids and string reference ids must round-trip untouched (the old
    int64-hardcoded ref path would crash or corrupt either)."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        nearest_in_set,
    )

    corpus = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    ref = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    out = nearest_in_set(corpus, ref)
    assert out.schema["vec_id"].dataType.simpleString() == "int"
    assert out.schema["nearest_id"].dataType.simpleString() == "int"
    got = {r["vec_id"]: r["nearest_id"] for r in out.collect()}
    assert got == {7: 100, 8: 200}


def test_lsh_recall_report_equals_composition(spark):
    """The recall report (truth and approx ranked from ONE corpus GEMM
    pass) must equal the separate brute_force_topk_gemm + lsh_topk
    composition value-for-value."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        brute_force_topk_gemm,
    )

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    report = {
        r["query_id"]: (r["n_true"], r["n_hit"], r["recall"])
        for r in lsh_recall_report(
            emb, q, k=10, n_planes=4, planes=PLANES
        ).collect()
    }
    truth = _pairs(brute_force_topk_gemm(emb, q, k=10))
    approx = _pairs(lsh_topk(emb, q, k=10, n_planes=4, planes=PLANES))
    want = {}
    for qid, nid in truth:
        n_true, n_hit = want.get(qid, (0, 0))
        want[qid] = (n_true + 1, n_hit + ((qid, nid) in approx))
    assert report == {
        qid: (n, h, round(h / n, 4)) for qid, (n, h) in want.items()
    }


def test_lsh_refuses_planes_that_split_into_no_whole_tables(spark):
    """Buckets are packed from ``len(planes) // n_planes`` tables, both
    in Spark and in the oracle's SQL, so a plane list that is not a
    multiple of ``n_planes`` would silently drop its last planes. Every
    LSH entry point refuses that shape before it runs a job."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(64)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    for planes, n_planes in ((PLANES[:-1], 4), (PLANES, 3), (PLANES, 0)):
        with pytest.raises(ValueError, match="n_planes"):
            lsh_near_dup_pairs(emb, n_planes=n_planes, planes=planes)
        with pytest.raises(ValueError, match="n_planes"):
            lsh_topk(emb, emb, n_planes=n_planes, planes=planes)
        with pytest.raises(ValueError, match="n_planes"):
            lsh_recall_report(emb, emb, n_planes=n_planes, planes=planes)


def test_semantic_dedup_registered_caps_select_each_branch(spark):
    """The oracle parity of the two registered SemDeDup queries is the
    only reference for its two branches, so pin which branch each runs.
    At sf0.001 each of the 8 seed-centroid cells holds more than 40
    members: semantic_dedup_keep_capped (cap 40) takes the star branch
    in every cell, giving exactly what a cap of 1 gives, while
    semantic_dedup_keep (no cap) takes the dense branch, and the two
    answers differ."""
    from weather_data_data_pipeline_spark.plans.llm_queries import (
        semantic_dedup_keep,
        semantic_dedup_keep_capped,
    )

    def key(df):
        return sorted(
            (r["vec_id"], r["cluster"], r["rep_id"], r["kept"])
            for r in df.collect()
        )

    dense = key(semantic_dedup_keep(spark, SF_DIR))
    sizes = {}
    for _, cell, _, _ in dense:
        sizes[cell] = sizes.get(cell, 0) + 1
    assert sizes == {0: 68, 1: 53, 2: 63, 3: 71, 4: 62, 5: 64, 6: 60, 7: 59}
    assert min(sizes.values()) > 40

    emb = load(spark, SF_DIR, "embeddings")
    seeds = emb.orderBy("vec_id").limit(8).collect()
    cents = [[float(x) for x in r["embedding"]] for r in seeds]
    star = key(semantic_dedup_keep_capped(spark, SF_DIR))
    assert star == key(
        semantic_dedup(emb, cents, threshold=0.35, max_cell_size=1)
    )
    assert star != dense
