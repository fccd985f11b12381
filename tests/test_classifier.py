"""Learned quality classifier (functions/classifier.py): separable-
corpus accuracy, same-session determinism (the rows-only driver
contract), NULL-text survival, and scoring parity with a hand-computed
sigmoid over the fitted coefficients."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.functions.classifier import (
    quality_classifier_fit,
    quality_classifier_score,
    score_frozen_md5,
)

# linearly separable by construction: positives speak "code", negatives
# speak "prose", with zero vocabulary overlap
POS = [
    "def foo return x",
    "class bar def baz",
    "import os def main",
    "return self value def",
    "lambda x return x",
    "def method class init",
]
NEG = [
    "the cat sat on the mat",
    "a dog ran in the park",
    "rain falls on the hill",
    "the quick brown fox jumps",
    "birds sing in the morning",
    "waves crash on the shore",
]


def _corpus(spark):
    rows = [(i, t, 1.0) for i, t in enumerate(POS)] + [
        (100 + i, t, 0.0) for i, t in enumerate(NEG)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


def test_separable_corpus_is_learned(spark):
    docs = _corpus(spark)
    model = quality_classifier_fit(docs, "text", "label", num_features=256)
    scored = {
        r["doc_id"]: r
        for r in quality_classifier_score(
            model, docs, "doc_id", "text"
        ).collect()
    }
    assert all(scored[i]["pred"] == 1 for i in range(len(POS)))
    assert all(scored[100 + i]["pred"] == 0 for i in range(len(NEG)))
    # and with confidence — every positive above every negative
    assert min(scored[i]["prob_pos"] for i in range(len(POS))) > max(
        scored[100 + i]["prob_pos"] for i in range(len(NEG))
    )


def test_same_session_fit_and_scores_deterministic(spark):
    docs = _corpus(spark)
    a = quality_classifier_fit(docs, "text", "label", num_features=256)
    b = quality_classifier_fit(docs, "text", "label", num_features=256)
    ca = a.stages[-1].coefficients.toArray()
    cb = b.stages[-1].coefficients.toArray()
    assert (ca == cb).all()
    sa = sorted(
        map(tuple, quality_classifier_score(a, docs, "doc_id", "text").collect())
    )
    sb = sorted(
        map(tuple, quality_classifier_score(b, docs, "doc_id", "text").collect())
    )
    assert sa == sb


def test_null_text_scores_as_empty_doc(spark):
    docs = _corpus(spark)
    model = quality_classifier_fit(docs, "text", "label", num_features=256)
    with_null = docs.unionByName(
        spark.createDataFrame(
            [(999, None, 0.0)], "doc_id long, text string, label double"
        )
    )
    out = quality_classifier_score(model, with_null, "doc_id", "text")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 999 in rows  # the NULL row survived scoring
    # empty doc → zero feature vector → score is sigmoid(intercept)
    lr = model.stages[-1]
    expected = 1.0 / (1.0 + math.exp(-lr.intercept))
    assert abs(rows[999]["prob_pos"] - round(expected, 6)) <= 1e-6


def test_scores_match_hand_computed_sigmoid(spark):
    """The scoring pass is exactly sigmoid(w·tf(x) + b) over the
    HashingTF features — recompute one document's score from the raw
    coefficient vector and the model's own feature hashing."""
    docs = _corpus(spark)
    model = quality_classifier_fit(docs, "text", "label", num_features=256)
    feats = (
        model.stages[1]
        .transform(model.stages[0].transform(docs.limit(1)))
        .select("doc_id", "_features")
        .collect()[0]
    )
    lr = model.stages[-1]
    z = float(feats["_features"].dot(lr.coefficients)) + lr.intercept
    expected = round(1.0 / (1.0 + math.exp(-z)), 6)
    got = (
        quality_classifier_score(model, docs, "doc_id", "text")
        .where(F.col("doc_id") == feats["doc_id"])
        .collect()[0]["prob_pos"]
    )
    assert abs(got - expected) <= 1e-6


@pytest.mark.parametrize(
    "weights,intercept",
    [
        ([0.5, math.nan], 0.0),
        ([0.5, math.inf], 0.0),
        ([0.5, -0.25], -math.inf),
    ],
    ids=["nan_weight", "inf_weight", "inf_intercept"],
)
def test_frozen_md5_rejects_non_finite_coefficients(spark, weights, intercept):
    """A NaN or Inf literal would make from_json NULL the whole weight
    array and every score with it; the plan build must fail instead."""
    docs = _corpus(spark)
    with pytest.raises(ValueError, match="non-finite"):
        score_frozen_md5(docs, "doc_id", "text", weights, intercept)


def test_scores_survive_observed_write(spark, tmp_path):
    """VERDICT r5 #1 regression: after any observed write in the session
    the JVM ObservationManager is not Serializable; a fitted model that
    still holds its trainingSummary (→ SparkSession) dies with
    NotSerializableException on the first collect of model.transform
    output. quality_classifier_fit strips the summary via a write/load
    round-trip — scoring must survive an observe-first session."""
    from weather_data_data_pipeline_spark.sources.observability import (
        observed_append,
    )

    docs = _corpus(spark)
    metrics = observed_append(
        docs.select("doc_id", "label"),
        str(tmp_path / "audit_out"),
        [F.count("doc_id").alias("n")],
    )
    assert metrics["n"] == len(POS) + len(NEG)
    model = quality_classifier_fit(docs, "text", "label", num_features=256)
    rows = quality_classifier_score(model, docs, "doc_id", "text").collect()
    assert len(rows) == len(POS) + len(NEG)
    assert all(r["prob_pos"] is not None for r in rows)


def test_registered_query_shape(spark):
    from weather_data_data_pipeline_spark import registry

    df = registry.get_query("quality_classifier_scores").fn(
        spark, "/root/testdata/sf0.001"
    )
    assert [f.name for f in df.schema.fields] == [
        "doc_id",
        "label",
        "prob_pos",
        "pred",
    ]
    rows = df.collect()
    assert len(rows) == 500
    assert all(r["prob_pos"] is not None for r in rows)


def test_score_expr_bitwise_matches_mllib_transform(spark):
    """KNIFE-EDGE (VERDICT r15 #6): quality_classifier_score_expr must
    replay model.transform BIT-FOR-BIT — raw margin, 6-dp prob_pos and
    pred all byte-equal — on a corpus built to expose every drift
    class: repeated tokens (tf > 1 → the c_i·w_i multiply, not c_i
    additions), token orders that would drift a naive document-order
    sum, NULL/empty/whitespace docs (margin == intercept), tokens of
    every UTF-8 length % 4 (the HashingTF-vs-SQL-hash murmur tail
    split), and mixed-case (tokenizer lowercasing)."""
    import struct

    from weather_data_data_pipeline_spark.functions.classifier import (
        _strip_training_summary,
        _vector_element,
        quality_classifier_score_expr,
    )

    knife = [
        (1000, "a a a b a", 1.0),
        (1001, "b a a a a", 0.0),  # same bag, different order
        (1002, None, 1.0),
        (1003, "", 0.0),
        (1004, "   ", 1.0),  # whitespace-only → zero tokens
        (1005, "x xy xyz wxyz vwxyz the the the", 0.0),  # tail lengths
        (1006, "ÜBER über Mixed MIXED mixed", 1.0),  # lowercase + utf8
        (1007, " leading and trailing  spaces ", 0.0),
    ]
    docs = _corpus(spark).unionByName(
        spark.createDataFrame(
            knife, "doc_id long, text string, label double"
        )
    )
    model = quality_classifier_fit(docs, "text", "label", strip=False)
    # the transform side must score through a STRIPPED model: this test
    # runs after test_scores_survive_observed_write has attached an
    # observe to the shared session, so an unstripped model.transform
    # would die with NotSerializableException — the very hazard the
    # strip exists for (and proof the expr path, which never puts the
    # model in a closure, doesn't need it)
    stripped = _strip_training_summary(model)
    old = quality_classifier_score(
        stripped, docs, "doc_id", "text", keep_cols=("label",)
    ).collect()
    new = quality_classifier_score_expr(
        model, docs, "doc_id", "text", keep_cols=("label",)
    ).collect()
    o = {r["doc_id"]: r for r in old}
    n = {r["doc_id"]: r for r in new}
    assert set(o) == set(n)
    for k in o:
        assert struct.pack("<d", o[k]["prob_pos"]) == struct.pack(
            "<d", n[k]["prob_pos"]
        ), (k, o[k], n[k])
        assert o[k]["pred"] == n[k]["pred"] and o[k]["label"] == n[k]["label"]
    # raw (unrounded) margin byte-parity against MLlib's rawPrediction
    raw = stripped.transform(
        docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    ).select(
        "doc_id", _vector_element(F.col("rawPrediction"), 1).alias("m")
    )
    import json

    from pyspark.ml.functions import vector_to_array

    lr = model.stages[-1]
    warr = F.from_json(
        F.lit(json.dumps([float(x) for x in lr.coefficients.toArray()])),
        "array<double>",
    )
    feats = model.stages[1].transform(
        model.stages[0].transform(
            docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        )
    )
    em = feats.select(
        "doc_id",
        (
            F.aggregate(
                F.zip_with(
                    vector_to_array(F.col("_features")),
                    warr,
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            + F.lit(float(lr.intercept))
        ).alias("m"),
    )
    mm = {r["doc_id"]: r["m"] for r in raw.collect()}
    ee = {r["doc_id"]: r["m"] for r in em.collect()}
    for k in mm:
        assert struct.pack("<d", mm[k]) == struct.pack("<d", ee[k]), (
            k, mm[k], ee[k],
        )
