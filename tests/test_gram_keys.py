"""Contracts of the two shared gram-key helpers.

``importance.hashed_gram_buckets`` must give exactly the md5 buckets the
DuckDB oracle and the frozen DSIR model use, for every bucket count.
``dedup._positional_gram_hashes`` hashes token slots rather than the
joined gram string, so its ``h`` must group (id, pos) into exactly the
classes the gram text does. Both must build their keys without an
interpreted ``transform`` lambda. The MEM index that persists ``h``
must refuse an index written with the older gram-string hash, and the
stop-gram cuts must follow the AQE posture's broadcast guard.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.functions import dedup
from weather_data_data_pipeline_spark.functions.importance import (
    hashed_gram_buckets,
    md5_bucket,
)

# unicode tokens, double and leading/trailing spaces (empty tokens),
# docs of exactly 3 and exactly 8 tokens, a one-token doc, NULL text
_DOCS = [
    (1, "the cat sat on the mat the cat sat on the mat again"),
    (2, "naïve café  ünïcödé 東京 タワー  über  naïve café"),
    (3, " leading and trailing spaces "),
    (4, "a b c"),
    (5, "w0 w1 w2 w3 w4 w5 w6 w7"),
    (6, "solo"),
    (7, None),
    (8, "x  y  z x  y  z x  y  z"),
]

_DIVISORS_OF_256 = [1, 2, 4, 8, 16, 32, 64, 128, 256]


def _docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def _py_bucket(g: str, nb: int) -> int:
    return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % nb


def _py_grams(text):
    toks = [t for t in (text or "").split(" ") if t != ""]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_md5_bucket_matches_hashlib_for_every_bucket_count(spark):
    grams = sorted({g for _, t in _DOCS for g in _py_grams(t)})
    df = spark.createDataFrame([(g,) for g in grams] + [(None,)], "g string")
    counts = _DIVISORS_OF_256 + [3, 100, 1000, 1 << 20]
    rows = df.select(
        "g", *[md5_bucket(F.col("g"), nb).alias(f"b{nb}") for nb in counts]
    ).collect()
    assert len(rows) == len(grams) + 1
    for r in rows:
        for nb in counts:
            want = None if r["g"] is None else _py_bucket(r["g"], nb)
            assert r[f"b{nb}"] == want, (r["g"], nb)
    for nb in (64, 100):
        assert df.select(md5_bucket(F.col("g"), nb)).dtypes[0][1] == "bigint"


@pytest.mark.parametrize("nb", [64, 256, 100, 1000])
def test_hashed_gram_buckets_match_hashlib(spark, nb):
    got = Counter(
        (r["doc_id"], r["bucket"])
        for r in hashed_gram_buckets(
            _docs(spark), "doc_id", "text", num_buckets=nb
        ).collect()
    )
    want = Counter(
        (i, _py_bucket(g, nb)) for i, t in _DOCS for g in _py_grams(t)
    )
    assert got == want


def _py_positional(n):
    """(id, pos) → space-joined gram text, tokens split on ' ' as
    _span_toks does (empty tokens kept)."""
    out = {}
    for i, t in _DOCS:
        if t is None:
            continue
        toks = t.split(" ")
        for p in range(len(toks) - n + 1):
            out[(i, p)] = " ".join(toks[p : p + n])
    return out


def _classes(keyed: dict) -> set[frozenset]:
    groups: dict = {}
    for k, v in keyed.items():
        groups.setdefault(v, set()).add(k)
    return {frozenset(g) for g in groups.values()}


@pytest.mark.parametrize("n", [2, 3, 8])
def test_positional_hashes_group_like_gram_text(spark, n):
    toks = dedup._span_toks(_docs(spark), "doc_id", "text")
    got = {
        (r["doc_id"], r["pos"]): r["h"]
        for r in dedup._positional_gram_hashes(toks, "doc_id", n).collect()
    }
    want = _py_positional(n)
    assert set(got) == set(want)
    assert None not in got.values()
    assert _classes(got) == _classes(want)
    # exactly-n docs contribute one gram at pos 0; shorter and NULL none
    assert (5, 0) in got if n == 8 else (4, 0) in got
    assert not any(i in (6, 7) for i, _ in got)


def test_gram_helpers_build_keys_without_transform_lambda(spark):
    docs = _docs(spark)
    toks = dedup._span_toks(docs, "doc_id", "text")
    pos_plan = _optimized(dedup._positional_gram_hashes(toks, "doc_id", 8))
    assert "transform(" not in pos_plan
    assert "lambdafunction" not in pos_plan
    dsir_plan = _optimized(hashed_gram_buckets(docs, "doc_id", "text", 64))
    assert "transform(" not in dsir_plan
    assert "conv(" not in dsir_plan
    # a bucket count that does not divide 256 keeps the eight-digit conv
    assert "conv(" in _optimized(
        hashed_gram_buckets(docs, "doc_id", "text", 100)
    )


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_mem_probe_refuses_index_with_gram_string_hash(spark, tmp_path):
    """An index whose postings carry ``h`` = xxhash64 of the joined gram
    string (the layout before token-slot hashing) shares no key with a
    probe's token-slot hashes; probing it must fail loudly instead of
    returning no matches."""
    shared = _words("s", 15)
    ref = spark.createDataFrame(
        [(10, _words("r", 6) + " " + shared)], "doc_id long, text string"
    )
    n = 8
    toks = dedup._span_toks(ref, "doc_id", "text").where(F.col("_len") >= n)
    old = toks.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_len") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("_t", i, n)),
            )
        ).alias("pos", "gram"),
    ).select("id", "pos", F.xxhash64("gram").alias("h"))
    idx = str(tmp_path / "old_mem_idx")
    old.write.parquet(f"{idx}/postings")
    probe = spark.createDataFrame(
        [(1, shared + " " + _words("a", 5))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="rebuild it with build_mem_index"):
        dedup.mem_probe_index(spark, idx, probe, n=n, min_tokens=12)
    # the same corpus indexed by the current build is found
    dedup.build_mem_index(ref, str(tmp_path / "new_mem_idx"), n=n)
    rows = dedup.mem_probe_index(
        spark, str(tmp_path / "new_mem_idx"), probe, n=n, min_tokens=12
    ).collect()
    assert [(r["match_id"], r["start_a"], r["start_b"]) for r in rows] == [
        (10, 0, 6)
    ]


def test_stop_gram_cuts_follow_aqe_posture(spark, tmp_path, monkeypatch):
    """maximal_match_pairs, build_mem_index and the self-span cut hint
    the hot stop-gram set as broadcast only when AQE is off (the
    small-data posture); with AQE on the hot set is never hinted."""
    from pyspark.sql.readwriter import DataFrameWriter

    boiler = _words("b", 9)
    docs = spark.createDataFrame(
        [(i, f"{_words(f'u{i}_', 3)} {boiler} {boiler}") for i in range(4)],
        "doc_id long, text string",
    )
    written = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df._jdf.queryExecution().analyzed().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)

    def plans(tag):
        written.clear()
        dedup.build_mem_index(docs, str(tmp_path / tag), n=8, max_df=1)
        return [
            dedup.maximal_match_pairs(
                docs, "doc_id", "text", n=8, min_tokens=8, max_df=1
            )._jdf.queryExecution().analyzed().toString(),
            dedup._self_cut_islands(
                docs, "doc_id", "text", 8, 8, 1
            )._jdf.queryExecution().analyzed().toString(),
            *written,
        ]

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        on = plans("aqe_on")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off = plans("aqe_off")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    assert len(on) == len(off) == 3
    assert not any("ResolvedHint" in p for p in on)
    assert all("ResolvedHint (strategy=broadcast)" in p for p in off)
