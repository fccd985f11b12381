"""Structured Streaming tests: the streaming plans must reproduce their
batch twins when drained with availableNow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from weather_data_data_pipeline_spark.plans.reference_queries import (
    tumbling_window_daily,
)
from weather_data_data_pipeline_spark.sources.tables import load
from weather_data_data_pipeline_spark.streaming import incremental as S


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_windowed_counts_match_batch_twin(spark):
    stream_result = S.streaming_twin_matches_batch(spark, SF_DIR)
    batch_result = tumbling_window_daily(spark, SF_DIR)
    assert _rows(stream_result) == _rows(batch_result)


def test_dedup_stream_removes_duplicate_keys(spark, tmp_path):
    ev = load(spark, SF_DIR, "events")
    # craft a source with planted duplicates: every row twice
    dup_dir = str(tmp_path / "dup_src")
    ev.union(ev).write.parquet(dup_dir)
    schema = spark.read.parquet(dup_dir).schema
    stream = spark.readStream.schema(schema).format("parquet").load(dup_dir)
    deduped = S.dedup_stream(stream, ["event_id"], watermark="0 seconds")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_result")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_result")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_session_window_stream_matches_batch_sessionize(spark):
    stream = S.read_events_stream(spark, SF_DIR)
    out = S.session_window_counts(stream, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("session_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("session_windows")

    # batch twin via the window-function sessionizer: same session count
    # and same per-session event counts (session_window's end = last
    # event + gap, so compare on start + n_events)
    from weather_data_data_pipeline_spark.operators.timeseries import session_stats

    ev = load(spark, SF_DIR, "events")
    expected = session_stats(ev, ["user_id"], "ts", gap_seconds=1800).select(
        "user_id", F.col("session_start"), "n_events"
    )
    assert _rows(got.select("user_id", "session_start", "n_events")) == _rows(
        expected
    )


def test_stream_stream_join_matches_batch_range_join(spark):
    stream = S.read_events_stream(spark, SF_DIR)
    clicks = stream.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = stream.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    joined = S.stream_stream_join(clicks, views, horizon_minutes=30)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("ss_join")

    ev = load(spark, SF_DIR, "events")
    bc = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    bv = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("matched_ts"),
        "value",
    )
    expected = bc.join(
        bv,
        (bc.user_id == bv.v_user)
        & (F.col("matched_ts") <= bc.ts)
        & (F.col("matched_ts") >= bc.ts - F.expr("INTERVAL 30 MINUTES")),
    ).select("event_id", "user_id", "ts", "matched_ts", "value")
    assert _rows(got.select(expected.columns)) == _rows(expected)


def test_running_user_totals_keeps_state_across_microbatches(spark, tmp_path):
    ev = load(spark, SF_DIR, "events").select("user_id", "value").limit(200)
    src = str(tmp_path / "src")
    # two files → with maxFilesPerTrigger=1, two micro-batches; state must
    # carry the first batch's totals into the second
    ev.limit(100).write.parquet(src)
    ev.exceptAll(ev.limit(100)).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    out = S.running_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("running_totals")
    # the LAST emission per user must equal the batch aggregate
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    expected = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    assert _rows(final) == _rows(expected)


def test_idempotent_stream_append(spark, tmp_path):
    ev = load(spark, SF_DIR, "events").limit(100)
    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once(checkpoint: str):
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        writer = S.idempotent_stream_append(
            stream, dest, ["event_id"], checkpoint
        )
        S.run_available_now(writer)

    run_once(str(tmp_path / "ckpt1"))
    n1 = spark.read.parquet(dest).count()
    # fresh checkpoint → source replays from scratch; anti-join must
    # keep the destination duplicate-free (the reference's core contract)
    run_once(str(tmp_path / "ckpt2"))
    n2 = spark.read.parquet(dest).count()
    assert n1 == 100
    assert n2 == 100, "replayed batch appended duplicates"
    # SAME checkpoint → exactly-once resume: the source offset log knows
    # everything was processed, so nothing is re-emitted at all
    run_once(str(tmp_path / "ckpt1"))
    n3 = spark.read.parquet(dest).count()
    assert n3 == 100, "checkpoint resume reprocessed committed offsets"


def test_stream_static_enrich_matches_batch_join(spark):
    """Stream⋈static dim must equal the batch broadcast join, keep all
    stream rows (left join), and plan with zero streaming join state."""
    stream = S.read_events_stream(spark, SF_DIR)
    # static dim: per-user segment derived from a batch read
    dim = (
        load(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("int"))
    )
    enriched = S.stream_static_enrich(
        stream.select("event_id", "user_id"), dim, ["user_id"]
    )
    name = "stream_static_result"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rows(spark.sql(f"SELECT * FROM {name}"))
    want = _rows(
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id")
        .join(dim, "user_id", "left")
    )
    assert got == want and len(got) == 1000


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_tws_processor_matches_old_api_without_protocol(spark):
    """Protocol-free equivalence for the transformWithStateInPandas twin:
    drive the StatefulProcessor directly against a stub ValueState handle
    (its logic has no protobuf dependency) across two 'micro-batches' per
    key, and assert the carried state matches both the
    applyInPandasWithState operator run through the real streaming
    harness and the batch aggregate. This is the coverage that runs
    where google.protobuf is absent; the full-harness test below
    additionally runs wherever the TWS state server is available."""
    import pandas as pd

    from weather_data_data_pipeline_spark.streaming.incremental import (
        _running_totals_processor,
    )

    class StubValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class StubHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, StubValueState())

    ev = (
        load(spark, SF_DIR, "events")
        .select("user_id", "value")
        .limit(200)
        .toPandas()
    )
    half = len(ev) // 2
    batches = [ev.iloc[:half], ev.iloc[half:]]

    # one processor (with its own state) per key, two batches each —
    # exactly the per-key grouped delivery the TWS harness provides
    final: dict[int, tuple[int, float]] = {}
    processors: dict[int, object] = {}
    for batch in batches:
        for uid, g in batch.groupby("user_id"):
            p = processors.get(uid)
            if p is None:
                p = _running_totals_processor()
                p.init(StubHandle())
                processors[uid] = p
            out = pd.concat(list(p.handleInputRows((uid,), iter([g]), None)))
            assert list(out.columns) == ["user_id", "n_events", "total_value"]
            final[uid] = (
                int(out["n_events"].iloc[0]),
                float(out["total_value"].iloc[0]),
            )

    expected = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in (
            load(spark, SF_DIR, "events")
            .select("user_id", "value")
            .limit(200)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        ).collect()
    }
    assert final == expected

    # and the old-API operator through the real streaming harness agrees
    src_df = load(spark, SF_DIR, "events").select("user_id", "value").limit(200)
    got_old = _final_totals_via_apply_in_pandas(spark, src_df)
    assert got_old == expected


def _final_totals_via_apply_in_pandas(spark, src_df):
    """Run running_user_totals (applyInPandasWithState) over src_df via a
    rate-less availableNow stream and return {user_id: (n, total)}."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        src_df.write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).format("parquet").load(src)
        )
        out = S.running_user_totals(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("totals_old_api_fallback")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("totals_old_api_fallback")
        return {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in got.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value"),
            )
            .collect()
        }


def test_running_user_totals_tws_matches_old_api(spark, tmp_path):
    """transformWithStateInPandas twin: same final per-user totals as the
    applyInPandasWithState operator and as the batch aggregate, with
    state carried across micro-batches on the RocksDB provider.

    Where the TWS state-server protocol (google.protobuf) is absent the
    plan cannot EXECUTE, so this test degrades to asserting the operator
    still ANALYZES — streaming flag, exact output schema — while the
    semantics are covered protocol-free by
    test_tws_processor_matches_old_api_without_protocol. No skip either
    way."""
    if not _has_protobuf():
        src = str(tmp_path / "src_tws_plan")
        load(spark, SF_DIR, "events").select("user_id", "value").limit(
            10
        ).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        out = S.running_user_totals_tws(stream)
        assert out.isStreaming
        assert [
            (f.name, f.dataType.simpleString()) for f in out.schema.fields
        ] == [
            ("user_id", "bigint"),
            ("n_events", "bigint"),
            ("total_value", "double"),
        ]
        return
    ev = load(spark, SF_DIR, "events").select("user_id", "value").limit(200)
    src = str(tmp_path / "src_tws")
    ev.limit(100).write.parquet(src)
    ev.exceptAll(ev.limit(100)).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        out = S.running_user_totals_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("running_totals_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("running_totals_tws")
        final = got.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        expected = (
            spark.read.parquet(src)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        assert _rows(final) == _rows(expected)
    finally:
        if old_provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_near_dedup_stream_append_matches_sequential_batches(spark, tmp_path):
    """The streaming near-dedup sink must equal running
    incremental_near_dedup sequentially over the same batches: the
    destination corpus is the dedup state, so batch boundaries — not a
    watermark — define what each micro-batch dedups against."""
    from weather_data_data_pipeline_spark.functions.dedup import (
        incremental_near_dedup,
        jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    b1 = [(1, base), (2, "unrelated text about shuffle partitioning strategies in spark")]
    b2 = [
        (10, base + " again"),                     # near-dup of kept 1 → dropped
        (11, "fresh content about bloom filters pruning join probes early"),
        (12, "fresh content about bloom filters pruning join probes soon"),  # near-dup of 11
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src_neardedup")
    # one FILE per logical batch: maxFilesPerTrigger=1 batches per part
    # file, so a multi-file write would split the logical batches and
    # de-sync the sequential ground truth below
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    dest = str(tmp_path / "kept_corpus")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.near_dedup_stream_append(
            stream, dest, "doc_id", "text", str(tmp_path / "ckpt_nd")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    kept = spark.read.parquet(dest)
    got = sorted(r["doc_id"] for r in kept.collect())
    # sequential ground truth over the same two batches
    seq1 = incremental_near_dedup(
        spark.createDataFrame(b1, schema), None, "doc_id", "text"
    )
    seq2 = incremental_near_dedup(
        spark.createDataFrame(b2, schema), seq1, "doc_id", "text"
    )
    want = sorted(
        [r["doc_id"] for r in seq1.collect()] + [r["doc_id"] for r in seq2.collect()]
    )
    assert got == want
    # and the materialized corpus holds no near-dup pair
    assert jaccard_pairs(kept, "doc_id", "text", threshold=0.5).count() == 0


_ND_B1 = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "unrelated text about shuffle partitioning strategies in spark"),
]
_ND_B2 = [
    (10, _ND_B1[0][1] + " again"),  # near-dup of kept 1
    (11, "fresh content about bloom filters pruning join probes early"),
    (12, "fresh content about bloom filters pruning join probes soon"),  # of 11
]
_ND_SCHEMA = "doc_id long, text string"


def _index_ids(spark, dest):
    sigs = spark.read.parquet(f"{dest}_minhash_index/signatures")
    return sorted(r["doc_id"] for r in sigs.select("doc_id").collect())


def test_near_dedup_stream_append_keeps_band_partitioned_index(spark, tmp_path):
    """The near-dedup sink maintains its MinHash index beside the corpus
    (``<dest>_minhash_index``) as it appends: buckets one directory per
    band, signatures covering exactly the kept documents."""
    import os

    from weather_data_data_pipeline_spark.functions.dedup import jaccard_pairs

    schema = spark.createDataFrame([], _ND_SCHEMA).schema
    src = str(tmp_path / "src")
    _one_file_per_batch(spark, src, [_ND_B1, _ND_B2], schema)
    dest = str(tmp_path / "kept")
    S.run_available_now(
        S.near_dedup_stream_append(
            _file_stream(spark, src, schema),
            dest, "doc_id", "text", str(tmp_path / "ck"),
        )
    )
    kept = spark.read.parquet(dest)
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [1, 2, 11]
    assert jaccard_pairs(kept, "doc_id", "text", threshold=0.5).count() == 0
    buckets = f"{dest}_minhash_index/buckets"
    assert len([d for d in os.listdir(buckets) if d.startswith("band=")]) == 16
    assert _index_ids(spark, dest) == got


def test_near_dedup_stream_append_builds_a_missing_index(spark, tmp_path):
    """A corpus written without an index (as every destination of the
    earlier recompute-per-batch sink is) gets its index built from the
    corpus on the next batch, and that batch still drops a near-duplicate
    of a kept document."""
    dest = str(tmp_path / "kept")
    spark.createDataFrame(_ND_B1, _ND_SCHEMA).write.parquet(dest)
    src = str(tmp_path / "src")
    schema = spark.read.parquet(dest).schema
    _one_file_per_batch(spark, src, [_ND_B2], schema)
    S.run_available_now(
        S.near_dedup_stream_append(
            _file_stream(spark, src, schema),
            dest, "doc_id", "text", str(tmp_path / "ck"),
        )
    )
    got = sorted(r["doc_id"] for r in spark.read.parquet(dest).collect())
    assert got == [1, 2, 11]
    assert _index_ids(spark, dest) == got


def test_near_dedup_stream_append_after_a_batch_without_shingles(
    spark, tmp_path
):
    """A first batch whose documents are all shorter than one shingle
    leaves an index with no bucket file, which cannot be read back. The
    next batches must still run, probe once there are buckets, and index
    every document that has a signature."""
    schema = spark.createDataFrame([], _ND_SCHEMA).schema
    src = str(tmp_path / "src")
    short = [(100, "tiny"), (101, "two words")]
    _one_file_per_batch(spark, src, [short, _ND_B1, _ND_B2], schema)
    dest = str(tmp_path / "kept")
    S.run_available_now(
        S.near_dedup_stream_append(
            _file_stream(spark, src, schema),
            dest, "doc_id", "text", str(tmp_path / "ck"),
        )
    )
    got = sorted(r["doc_id"] for r in spark.read.parquet(dest).collect())
    assert got == [1, 2, 11, 100, 101]
    assert _index_ids(spark, dest) == [1, 2, 11]


def test_near_dedup_stream_append_replays_a_crashed_batch_once(
    spark, tmp_path, monkeypatch
):
    """A crash at any write of a micro-batch, then a restart on the same
    checkpoint, leaves each kept document once in the corpus and in the
    index. The sink writes the index before the corpus: index rows of a
    crashed batch have no corpus text and never verify, so the replay
    keeps that batch again; in the other order the replay would find no
    candidate in the stale index and append the batch a second time."""
    import itertools
    import shutil

    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    schema = spark.createDataFrame([], _ND_SCHEMA).schema
    src = str(tmp_path / "src")
    _one_file_per_batch(spark, src, [_ND_B1], schema)
    base = tmp_path / "after_batch0"
    S.run_available_now(
        S.near_dedup_stream_append(
            _file_stream(spark, src, schema),
            str(base / "kept"), "doc_id", "text", str(base / "ck"),
        )
    )
    _one_file_per_batch(spark, src, [_ND_B2], schema)

    real_parquet = DataFrameWriter.parquet
    for k in itertools.count(1):
        run = tmp_path / f"crash_at_write_{k}"
        shutil.copytree(base, run)
        dest, ck = str(run / "kept"), str(run / "ck")
        calls = []

        def parquet(self, *args, **kwargs):
            calls.append(args)
            if len(calls) == k:
                raise RuntimeError(f"injected failure of write {k}")
            return real_parquet(self, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        writer = S.near_dedup_stream_append(
            _file_stream(spark, src, schema), dest, "doc_id", "text", ck
        )
        try:
            S.run_available_now(writer)
            crashed = False
        except StreamingQueryException:
            crashed = True
        monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
        if crashed:
            S.run_available_now(
                S.near_dedup_stream_append(
                    _file_stream(spark, src, schema), dest, "doc_id", "text", ck
                )
            )
        got = sorted(r["doc_id"] for r in spark.read.parquet(dest).collect())
        assert got == [1, 2, 11], f"crash at write {k}"
        assert set(_index_ids(spark, dest)) >= set(got), f"crash at write {k}"
        if not crashed:
            break
    assert k > 2  # the batch wrote the index and the corpus


def test_drift_monitor_stream_matches_batch_psi(spark, tmp_path):
    """The streaming drift sink must emit, per micro-batch, exactly the
    PSI a batch computation of the same formula yields for that batch
    against the frozen reference histogram."""
    import math

    from pyspark.sql import functions as F

    from weather_data_data_pipeline_spark.sources.tables import load
    from tests.conftest import SF_DIR

    ev = load(spark, SF_DIR, "events")
    bound = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("b")
    ).collect()[0]["b"]
    base = ev.where(F.col("ts") < bound)
    cur = ev.where(F.col("ts") >= bound).select("ts", "value")

    # frozen reference histogram at bin width 50 (two-line recipe)
    counts = base.groupBy(
        F.floor(F.col("value") / 50).cast("int").alias("bin")
    ).agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    ref = counts.crossJoin(F.broadcast(tot)).select(
        "bin", (F.col("n") / F.col("t")).alias("p")
    )

    # two single-file micro-batches of the current window
    half = cur.count() // 2
    rows = cur.collect()
    src = str(tmp_path / "drift_src")
    spark.createDataFrame(rows[:half], cur.schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[half:], cur.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "drift_out")
    stream = (
        spark.readStream.schema(cur.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.drift_monitor_sink(
            stream, ref, out, str(tmp_path / "drift_ck"), bin_width=50.0
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["batch_id"]: (r["n_rows"], r["psi"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 2

    # batch ground truth per micro-batch (same eps-smoothed formula)
    ref_p = {r["bin"]: r["p"] for r in ref.collect()}
    for bid, batch_rows in ((0, rows[:half]), (1, rows[half:])):
        from collections import Counter

        c = Counter(int(math.floor(r["value"] / 50)) for r in batch_rows)
        t = sum(c.values())
        bins = set(ref_p) | set(c)
        psi = sum(
            (ref_p.get(b, 0.0) - c.get(b, 0) / t)
            * math.log((ref_p.get(b, 0.0) + 1e-6) / (c.get(b, 0) / t + 1e-6))
            for b in bins
        )
        n_rows, got_psi = got[bid]
        assert n_rows == len(batch_rows)
        assert abs(got_psi - round(psi, 5)) < 1e-9, (bid, got_psi, psi)


def test_dsir_score_stream_matches_batch_frozen_scoring(spark, tmp_path):
    """The streaming DSIR sink must score each micro-batch's documents
    bit-identically to the batch frozen-model scorer — the model is
    frozen and the weight sums are exact decimals, so the equality is
    exact, not approximate."""
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_model_ratios,
        dsir_score_frozen,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    ratios = dsir_model_ratios(
        docs, "doc_id", "text", F.col("lang") == "en"
    ).localCheckpoint()

    # two single-file micro-batches
    rows = docs.collect()
    half = len(rows) // 2
    src = str(tmp_path / "dsir_src")
    spark.createDataFrame(rows[:half], docs.schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[half:], docs.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "dsir_out")
    stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.dsir_score_sink(stream, ratios, out, str(tmp_path / "dsir_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["n_grams"], r["log_w"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["log_w"])
        for r in dsir_score_frozen(docs, ratios, "doc_id", "text").collect()
    }
    assert got == want
    # and the stream really ran as >1 micro-batch
    n_batches = (
        spark.read.parquet(out).select("batch_id").distinct().count()
    )
    assert n_batches >= 2


def test_quality_score_stream_matches_batch_frozen_scoring(spark, tmp_path):
    """The streaming frozen-classifier sink must score each micro-batch
    bit-identically to the batch query's scorer — the coefficients are
    literals and the margin folds only the document's own tokens, so
    the equality is exact."""
    from weather_data_data_pipeline_spark.functions.classifier import (
        score_frozen_md5,
    )
    from weather_data_data_pipeline_spark.plans.selection_queries import (
        FROZEN_QC_INTERCEPT,
        FROZEN_QC_WEIGHTS,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = docs.collect()
    half = len(rows) // 2
    src = str(tmp_path / "qc_src")
    spark.createDataFrame(rows[:half], docs.schema).coalesce(1).write.parquet(
        src
    )
    spark.createDataFrame(rows[half:], docs.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "qc_out")
    stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.quality_score_sink(
            stream,
            FROZEN_QC_WEIGHTS,
            FROZEN_QC_INTERCEPT,
            out,
            str(tmp_path / "qc_ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (str(r["margin"]), r["prob_pos"], r["pred"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (str(r["margin"]), r["prob_pos"], r["pred"])
        for r in score_frozen_md5(
            docs, "doc_id", "text", FROZEN_QC_WEIGHTS, FROZEN_QC_INTERCEPT
        ).collect()
    }
    assert got == want
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() >= 2
    )


def test_sampling_weight_sink_equals_batch_on_union(spark, tmp_path):
    """Frozen-mix streaming sampling weights == the registered batch
    doc_sampling_weights on (history ∪ batch): temperature weights are
    frozen literals collected from the batch mix query, duplicate
    counts come from the persisted digest index plus in-batch
    occurrences, and the weight arithmetic is the SAME shared
    expressions — so every decimal matches exactly."""
    from weather_data_data_pipeline_spark.functions.text import digest_counts
    from weather_data_data_pipeline_spark.plans.curation_queries import (
        doc_sampling_weights,
        temperature_mix_weights,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to a small town"
    )
    rows = []
    for i in range(40):
        src = f"s{i % 3}"
        if i in (7, 23):  # cross-half duplicate pair (7 ↔ 23)
            text = base + " dup one"
        elif i in (31, 35):  # within-second-half duplicate pair
            text = base + " dup two"
        else:
            text = f"{base} unique variation number {i} with extra words"
        rows.append((i, text, "en", src, len(text)))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    full = spark.createDataFrame(rows, schema)
    sf_dir = str(tmp_path / "sfX")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    full.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    expected = {
        r["doc_id"]: (
            str(r["dedup_weight"]),
            str(r["quality_weight"]),
            str(r["temp_weight"]),
            r["final_weight"],
        )
        for r in doc_sampling_weights(spark, sf_dir).collect()
    }
    temp_weights = {
        r["source"]: f"{r['temp_weight']:.6f}"
        for r in temperature_mix_weights(spark, sf_dir).collect()
    }

    first = full.where(F.col("doc_id") < 20)
    second = full.where(F.col("doc_id") >= 20)
    history = digest_counts(first).collect()
    history_df = spark.createDataFrame(history, "digest string, c_hist long")

    src_dir = str(tmp_path / "sw_src")
    second.coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "sw_out")
    stream = (
        spark.readStream.schema(full.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    q = (
        S.sampling_weight_sink(
            stream,
            temp_weights,
            history_df,
            out,
            str(tmp_path / "sw_ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (
            str(r["dedup_weight"]),
            str(r["quality_weight"]),
            str(r["temp_weight"]),
            r["final_weight"],
        )
        for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {i for i in range(20, 40)}
    for doc_id, vals in got.items():
        assert vals == expected[doc_id], (doc_id, vals, expected[doc_id])
    # the planted pairs actually exercised the two count paths
    # (weights surface as DOUBLE since the r9 gate fix: 1/2 → 0.5)
    assert got[23][0] == "0.5"  # cross-half: 1 in batch + 1 in index
    assert got[31][0] == "0.5"  # within-batch window pair


def test_packing_stream_append_equals_one_pass(spark, tmp_path):
    """Arrival-order streaming packing with the carried token offset ==
    one-pass packing of the union in the same order, bit-for-bit: the
    carry makes bin ids a pure function of the global prefix sum, so
    WHERE the batch boundary falls cannot move any document's bin —
    including a document that straddles a bin boundary across batches."""
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    third = len(rows) // 3
    src = str(tmp_path / "pk_src")
    for lo, hi in ((0, third), (third, 2 * third), (2 * third, len(rows))):
        spark.createDataFrame(rows[lo:hi], docs.schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    out = str(tmp_path / "pk_out")
    stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.packing_stream_append(
            stream,
            out,
            str(tmp_path / "pk_ck"),
            str(tmp_path / "pk_state"),
            context_tokens=512,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["bin"], r["n_tok"])
        for r in spark.read.parquet(out).collect()
    }
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    base = docs.select("doc_id", toks.cast("long").alias("n_tok"))
    rt = global_running_sum(base, ["doc_id"], "n_tok", out_col="rt")
    want = {
        r["doc_id"]: (r["bin"], r["n_tok"])
        for r in rt.select(
            "doc_id",
            "n_tok",
            F.floor(
                (F.col("rt") - F.col("n_tok")).cast("double") / 512
            )
            .cast("bigint")
            .alias("bin"),
        ).collect()
    }
    assert got == want
    # batches really were separate and the carry crossed a bin boundary
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() == 3
    )
    state = spark.read.parquet(str(tmp_path / "pk_state")).collect()
    assert state[0]["total_tokens"] == sum(v[1] for v in want.values())


def test_packing_stream_replay_converges(spark, tmp_path):
    """Kill-and-restart mid-stream: foreachBatch is at-least-once, so a
    micro-batch can be re-delivered after a failure. The carry state
    records (last_batch_id, total_before, total_tokens); a replayed
    batch re-packs against the offset it saw the first time and
    dynamic-overwrites its own output partition — output and state
    converge to the SAME bytes instead of double-counting tokens and
    shifting every later bin (ADVICE r6)."""
    from weather_data_data_pipeline_spark.streaming.incremental import (
        _packing_batch_writer,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    half = len(rows) // 2
    b0 = spark.createDataFrame(rows[:half], docs.schema)
    b1 = spark.createDataFrame(rows[half:], docs.schema)
    out = str(tmp_path / "rp_out")
    state = str(tmp_path / "rp_state")
    w = _packing_batch_writer(out, state, 512, "doc_id", "text")
    w(b0, 0)
    w(b1, 1)

    def snap():
        o = sorted(
            (r["doc_id"], r["batch_id"], r["n_tok"], r["bin"])
            for r in spark.read.parquet(out).collect()
        )
        s = spark.read.parquet(state).collect()[0]
        return o, (s["last_batch_id"], s["total_before"], s["total_tokens"])

    committed = snap()
    # crash after batch 1 committed -> the checkpoint re-delivers it
    w(b1, 1)
    assert snap() == committed
    # crash between batch 1's output write and its state write: state
    # still points at batch 0, the replay packs with the same offset
    spark.createDataFrame(
        [(0, 0, committed[1][1])],
        "last_batch_id long, total_before long, total_tokens long",
    ).coalesce(1).write.mode("overwrite").parquet(state)
    w(b1, 1)
    assert snap() == committed
    # a batch OLDER than last_batch_id is fully committed: no-op
    w(b0, 0)
    assert snap() == committed


def test_sampling_weight_sink_accumulates_cross_batch_dups(spark, tmp_path):
    """With index_path set the sink folds every processed batch's digest
    counts back into a persisted delta index, so a duplicate whose twin
    arrived in an EARLIER micro-batch of the same stream discounts
    exactly like the batch recompute over the full prefix (ADVICE r6:
    without this, cross-batch stream duplicates kept dedup_weight 1.0)."""
    from weather_data_data_pipeline_spark.plans.curation_queries import (
        temperature_mix_weights,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to a small town"
    )
    rows = []
    for i in range(40):
        src = f"s{i % 3}"
        if i in (7, 23):  # cross-BATCH duplicate pair (7 in b0, 23 in b1)
            text = base + " dup one"
        elif i in (31, 35):  # within-batch duplicate pair
            text = base + " dup two"
        else:
            text = f"{base} unique variation number {i} with extra words"
        rows.append((i, text, "en", src, len(text)))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    full = spark.createDataFrame(rows, schema)
    sf_dir = str(tmp_path / "sfY")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    full.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    temp_weights = {
        r["source"]: f"{r['temp_weight']:.6f}"
        for r in temperature_mix_weights(spark, sf_dir).collect()
    }

    src_dir = str(tmp_path / "swa_src")
    full.where(F.col("doc_id") < 20).coalesce(1).write.mode("append").parquet(
        src_dir
    )
    full.where(F.col("doc_id") >= 20).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    out = str(tmp_path / "swa_out")
    stream = (
        spark.readStream.schema(full.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    q = (
        S.sampling_weight_sink(
            stream,
            temp_weights,
            None,  # NO static history: the stream builds its own index
            out,
            str(tmp_path / "swa_ck"),
            index_path=str(tmp_path / "swa_idx"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: str(r["dedup_weight"])
        for r in spark.read.parquet(out).collect()
    }
    assert set(got) == set(range(40))
    # weights surface as DOUBLE since the r9 gate fix
    assert got[7] == "1.0"  # scored before its twin arrived
    assert got[23] == "0.5"  # cross-batch dup: 1 in batch + 1 indexed
    assert got[31] == "0.5"  # within-batch pair still counts
    assert got[35] == "0.5"
    # the delta index holds one partition per processed batch
    idx = spark.read.parquet(str(tmp_path / "swa_idx"))
    assert idx.select("v").distinct().count() == 2


def test_decontamination_sink_equals_batch(spark, tmp_path):
    """Streaming decontamination against a FROZEN eval set == the batch
    clean over the union: a document's cleaned form depends only on
    itself and the eval grams, so where the micro-batch boundary falls
    cannot change any output row."""
    from weather_data_data_pipeline_spark.functions.dedup import (
        decontamination_clean,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 7 == 0)
    train = docs.where(F.col("doc_id") % 7 != 0)
    rows = train.orderBy("doc_id").collect()
    half = len(rows) // 2
    src = str(tmp_path / "dc_src")
    for lo, hi in ((0, half), (half, len(rows))):
        spark.createDataFrame(rows[lo:hi], train.schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    out = str(tmp_path / "dc_out")
    stream = (
        spark.readStream.schema(train.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.decontamination_sink(
            stream, ev, out, str(tmp_path / "dc_ck"), n=5
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["kept_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["kept_tokens"])
        for r in decontamination_clean(
            train, ev, "doc_id", "text", n=5
        ).collect()
    }
    assert got == want
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() == 2
    )


def test_semantic_decontamination_sink_equals_batch(spark, tmp_path):
    """Streaming semantic decontamination against a FROZEN eval
    embedding set == the batch query over the union: a vector's max
    cosine depends only on itself and the eval set, so micro-batch
    boundaries cannot change any output row."""
    from weather_data_data_pipeline_spark.plans.llm_queries import (
        _SEMDECON_EVAL_MAX,
        semantic_decontamination,
    )

    emb = load(spark, SF_DIR, "embeddings")
    ev = emb.where(F.col("vec_id") < _SEMDECON_EVAL_MAX)
    train = emb.where(F.col("vec_id") >= _SEMDECON_EVAL_MAX)
    rows = train.orderBy("vec_id").collect()
    half = len(rows) // 2
    src = str(tmp_path / "sd_src")
    for lo, hi in ((0, half), (half, len(rows))):
        spark.createDataFrame(rows[lo:hi], train.schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    out = str(tmp_path / "sd_out")
    stream = (
        spark.readStream.schema(train.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.semantic_decontamination_sink(
            stream, ev, out, str(tmp_path / "sd_ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["vec_id"]: (r["nearest_eval_id"], r["max_cosine"], r["contaminated"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["vec_id"]: (r["nearest_eval_id"], r["max_cosine"], r["contaminated"])
        for r in semantic_decontamination(spark, SF_DIR).collect()
    }
    assert got == want
    assert (
        spark.read.parquet(out).select("batch_id").distinct().count() == 2
    )


def test_ess_monitor_stream_equals_batch_rollup(spark, tmp_path):
    """Per-batch streaming ESS == the batch ess_rollup over the same
    frozen weights on that batch's documents — scorer and rollup are
    the SAME shared expressions, so every decimal matches exactly."""
    import os

    from weather_data_data_pipeline_spark.functions.text import (
        doc_sampling_weights_frozen,
        ess_rollup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, f"{base} variation {i} with words w{i}a w{i}b", "en",
         f"s{i % 3}", 90)
        for i in range(30)
    ]
    rows[7] = (7, base + " dup pair", "en", "s1", 90)
    rows[19] = (19, base + " dup pair", "en", "s1", 90)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    full = spark.createDataFrame(rows, schema)
    temp_weights = {"s0": "0.400000", "s1": "0.350000", "s2": "0.250000"}

    src_dir = str(tmp_path / "ess_src")
    first = full.where(F.col("doc_id") < 15)
    second = full.where(F.col("doc_id") >= 15)
    first.coalesce(1).write.parquet(src_dir)
    second.coalesce(1).write.mode("append").parquet(src_dir)

    out = str(tmp_path / "ess_out")
    stream = (
        spark.readStream.schema(full.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    q = (
        S.ess_monitor_sink(
            stream, temp_weights, None, out, str(tmp_path / "ess_ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out).collect()
    batches = {r["batch_id"] for r in got}
    assert len(batches) == 2  # one rollup per micro-batch
    got_map = {
        (r["batch_id"], r["source"]): (
            r["n_docs"], str(r["sum_w"]), str(r["sum_w2"]),
            str(r["ess"]), str(r["ess_ratio"]),
        )
        for r in got
    }
    # batch ids follow file arrival order; recompute each batch's
    # expected rollup with the IDENTICAL shared fragments
    for bid, part in enumerate(
        (first, second) if min(batches) == 0 else (second, first)
    ):
        want = {
            r["source"]: (
                r["n_docs"], str(r["sum_w"]), str(r["sum_w2"]),
                str(r["ess"]), str(r["ess_ratio"]),
            )
            for r in ess_rollup(
                doc_sampling_weights_frozen(part, temp_weights)
            ).collect()
        }
        for src, vals in want.items():
            assert got_map[(bid, src)] == vals, (bid, src)
    # the ESS is real: the planted dup pair discounts s1's weights
    assert any(r["source"] == "s1" and r["ess_ratio"] is not None for r in got)


def test_ohlc_candle_stream_equals_batch_bit_for_bit(spark, tmp_path):
    """r10 (VERDICT r9 ask #5): merging the streaming sink's per-batch
    partial candles == the one-pass batch events_ohlc_15min aggregate,
    string-compared field-for-field (bit equality for the doubles) —
    INCLUDING candles whose bucket straddles a micro-batch boundary.
    Both sides compile the same shared fragment, and the partial state
    is associative, so nothing may differ."""
    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_bucket,
    )
    from weather_data_data_pipeline_spark.plans.timeseries_queries import (
        events_ohlc_15min,
    )

    ev = (
        load(spark, SF_DIR, "events")
        .select("ts", "event_id", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    n = len(rows)
    assert n > 30

    # choose split points that land MID-BUCKET: advance until the row
    # before and after the cut share a 15-min bucket, so the straddle
    # case is guaranteed by construction, not by luck
    def bucket(r):
        return int(r["ts"].timestamp() // 900)

    cuts = []
    for want in (n // 3, 2 * n // 3):
        k = want
        while k < n - 1 and bucket(rows[k - 1]) != bucket(rows[k]):
            k += 1
        cuts.append(k)
    c1, c2 = cuts
    assert 0 < c1 < c2 < n
    straddle_buckets = {bucket(rows[c1 - 1]), bucket(rows[c2 - 1])}

    src = str(tmp_path / "ohlc_src")
    chunks = [rows[:c1], rows[c1:c2], rows[c2:]]
    for chunk in chunks:
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "ohlc_out")
    stream = (
        spark.readStream.schema(ev.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        S.ohlc_candle_sink(stream, out, str(tmp_path / "ohlc_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    deltas = spark.read.parquet(out)
    assert deltas.select("v").distinct().count() == 3
    # the straddling buckets really produced partials in >= 2 batches
    per_bucket_batches = {
        r["b"]: r["nv"]
        for r in deltas.select(
            F.col("bucket_start").cast("long").alias("b"), "v"
        )
        .groupBy("b")
        .agg(F.count_distinct("v").alias("nv"))
        .collect()
    }
    for sb in straddle_buckets:
        assert per_bucket_batches[sb * 900] >= 2, (sb, per_bucket_batches)

    def key(df):
        return {
            (str(r["bucket_start"]), r["event_type"]): tuple(
                str(r[c])
                for c in ("n_events", "open", "high", "low", "close",
                          "sum_value")
            )
            for r in df.collect()
        }

    got = key(S.read_ohlc_candles(spark, out))
    want = key(events_ohlc_15min(spark, SF_DIR))
    assert got == want

    # replay convergence: a second drain over the SAME files with a
    # fresh checkpoint re-delivers every batch; dynamic partition
    # overwrite must converge to the same bytes, never double-count
    q2 = (
        S.ohlc_candle_sink(
            spark.readStream.schema(ev.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src),
            out,
            str(tmp_path / "ohlc_ck2"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert key(S.read_ohlc_candles(spark, out)) == want


def test_ohlc_compaction_preserves_candles_and_future_merges(spark, tmp_path):
    """compact_ohlc_candles rewrites the delta layout as ONE merged
    partial per candle at the max batch id: the serving read must be
    byte-identical before/after (the combiner is associative), absorbed
    partitions must be GONE, and a micro-batch arriving AFTER
    compaction must keep merging correctly."""
    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_bucket,
        ohlc_raw_aggs,
    )

    ev = (
        load(spark, SF_DIR, "events")
        .select("ts", "event_id", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    n = len(rows)
    out = str(tmp_path / "cand")
    # three "micro-batches" written directly as deltas (the sink's layout)
    for v, chunk in enumerate(
        (rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :])
    ):
        spark.createDataFrame(chunk, ev.schema).groupBy(
            ohlc_bucket().alias("bucket_start"), "event_type"
        ).agg(*ohlc_raw_aggs()).withColumn("v", F.lit(v)).write.mode(
            "append"
        ).partitionBy("v").parquet(out)

    def key(df):
        return sorted(
            (str(r["bucket_start"]), r["event_type"]) + tuple(
                str(r[c]) for c in ("n_events", "open", "high", "low",
                                    "close", "sum_value")
            )
            for r in df.collect()
        )

    before = key(S.read_ohlc_candles(spark, out))
    # the absorption bound is explicit since ADVICE r10 #2 — the caller
    # must name a checkpoint-committed batch id
    S.compact_ohlc_candles(spark, out, up_to=2)
    after = key(S.read_ohlc_candles(spark, out))
    assert after == before
    # absorbed v=* delta partitions are gone; the state lives in a
    # complete base generation carrying the covered watermark
    import os as _os

    assert not [d for d in _os.listdir(out) if d.startswith("v=")]
    assert _os.path.exists(f"{out}/_base/g=0/_SUCCESS")

    # a post-compaction batch still merges with the compacted state
    extra = spark.createDataFrame(rows[: n // 4], ev.schema)
    extra.groupBy(ohlc_bucket().alias("bucket_start"), "event_type").agg(
        *ohlc_raw_aggs()
    ).withColumn("v", F.lit(3)).write.mode("append").partitionBy(
        "v"
    ).parquet(out)
    both = spark.createDataFrame(rows + rows[: n // 4], ev.schema)
    want = key(
        __import__(
            "weather_data_data_pipeline_spark.operators.aggregates",
            fromlist=["ohlc_surface"],
        ).ohlc_surface(
            both.groupBy(
                ohlc_bucket().alias("bucket_start"), "event_type"
            ).agg(*ohlc_raw_aggs())
        )
    )
    assert key(S.read_ohlc_candles(spark, out)) == want


def test_url_blocklist_monitor_stream_equals_batch_rollup(spark, tmp_path):
    """Per-batch streaming domain rollup == the batch rollup expression
    over the same micro-batch's URLs — both compile the same
    functions/url.py kernels, so every share matches bit-for-bit."""
    from weather_data_data_pipeline_spark.functions.url import (
        canonical_host,
        registrable_domain,
    )

    urls = [
        "https://WWW.Good-Site.com/a?utm_source=x",
        "http://good-site.com:80/a",
        "http://evil.co.uk/x",
        "https://sub.evil.co.uk/y#f",
        "http://other.io/z?id=1",
        "http://another.com.au/w/",
    ]
    rows = [(i, urls[i % len(urls)] + f"&n={i}") for i in range(24)]
    full = spark.createDataFrame(rows, "req_id long, raw_url string")
    src = str(tmp_path / "url_src")
    first = full.where(F.col("req_id") < 12)
    second = full.where(F.col("req_id") >= 12)
    first.coalesce(1).write.parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "url_out")
    blocked = ("evil.co.uk", "another.com.au")
    q = (
        S.url_blocklist_monitor_sink(
            spark.readStream.schema(full.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src),
            blocked,
            out,
            str(tmp_path / "url_ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out).collect()
    assert {r["batch_id"] for r in got} == {0, 1}
    got_map = {
        (r["batch_id"], r["domain"]): (
            r["n_urls"], r["blocked"], str(r["batch_share"])
        )
        for r in got
    }
    order = (first, second) if min(
        r["batch_id"] for r in got) == 0 else (second, first)
    for bid, part in enumerate(order):
        dom = part.select(
            registrable_domain(canonical_host("raw_url")).alias("domain")
        )
        agg = dom.groupBy("domain").agg(
            F.count("*").cast("bigint").alias("n_urls")
        )
        tot = agg.agg(F.sum("n_urls").alias("total"))
        want = {
            r["domain"]: (
                r["n_urls"],
                r["domain"] in blocked,
                str(r["share"]),
            )
            for r in agg.crossJoin(F.broadcast(tot)).select(
                "domain",
                "n_urls",
                F.round(
                    (
                        F.col("n_urls").cast("double")
                        / F.col("total").cast("double")
                    ).cast("decimal(38,15)"),
                    6,
                )
                .cast("decimal(38,6)")
                .cast("double")
                .alias("share"),
            ).collect()
        }
        for d, vals in want.items():
            assert got_map[(bid, d)] == vals, (bid, d)
    # the blocklist actually fired on the subdomain form too
    assert any(r["blocked"] for r in got)
    assert {r["domain"] for r in got if r["blocked"]} == set(blocked)

    # replay convergence: a fresh-checkpoint drain re-delivers every
    # batch; dynamic batch_id-partition overwrite must converge to the
    # same rows, never append duplicates
    q2 = (
        S.url_blocklist_monitor_sink(
            spark.readStream.schema(full.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src),
            blocked,
            out,
            str(tmp_path / "url_ck2"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    again = spark.read.parquet(out).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))



def test_ohlc_compaction_replay_and_crash_windows_are_benign(spark, tmp_path):
    """The review-identified failure modes, pinned: (a) an at-least-once
    REPLAY of an already-compacted batch id (re-created v<=covered
    delta) must not change the serving read — the old in-place design
    destroyed the whole merged history here; (b) the crash window
    'base generation written, absorbed deltas not yet deleted' must
    read correctly and a compaction re-run must be idempotent; (c) an
    incomplete base generation (no _SUCCESS) is invisible."""
    import os
    import shutil

    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_bucket,
        ohlc_raw_aggs,
    )

    ev = (
        load(spark, SF_DIR, "events")
        .select("ts", "event_id", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    n = len(rows)
    out = str(tmp_path / "cand")
    chunks = (rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :])

    def write_delta(v, chunk):
        spark.createDataFrame(chunk, ev.schema).groupBy(
            ohlc_bucket().alias("bucket_start"), "event_type"
        ).agg(*ohlc_raw_aggs()).withColumn("v", F.lit(v)).write.mode(
            "append"
        ).partitionBy("v").parquet(out)

    for v, chunk in enumerate(chunks):
        write_delta(v, chunk)

    def key(df):
        return sorted(map(tuple, df.collect()))

    want = key(S.read_ohlc_candles(spark, out))
    S.compact_ohlc_candles(spark, out, up_to=2)
    assert key(S.read_ohlc_candles(spark, out)) == want

    # (a) replay of absorbed batch 1: the sink would dynamic-overwrite
    # v=1 with that batch's partials — recreate exactly that state
    write_delta(1, chunks[1])
    assert key(S.read_ohlc_candles(spark, out)) == want
    # (b) same leftover also models the deletion-crash window; a re-run
    # must be a no-op for the serving read (and clean the leftover up)
    S.compact_ohlc_candles(spark, out, up_to=2)
    assert key(S.read_ohlc_candles(spark, out)) == want
    assert not [d for d in os.listdir(out) if d.startswith("v=")]

    # a NEW batch after all of that still merges on top of the base
    write_delta(7, chunks[0])
    grown = key(S.read_ohlc_candles(spark, out))
    assert grown != want

    # (c) an incomplete (crashed) generation without _SUCCESS is
    # invisible: fabricate one by copying the latest gen and removing
    # its marker — the read must be unchanged
    gens = sorted(
        d for d in os.listdir(f"{out}/_base") if d.startswith("g=")
    )
    latest = f"{out}/_base/{gens[-1]}"
    broken = f"{out}/_base/g={int(gens[-1][2:]) + 5}"
    shutil.copytree(latest, broken)
    os.remove(f"{broken}/_SUCCESS")
    assert key(S.read_ohlc_candles(spark, out)) == grown


def test_ohlc_candles_as_of_batch(spark, tmp_path):
    """Time travel over the candle layout: as_of=N serves exactly the
    candles the first N+1 batches produced; an as_of below the
    compaction watermark raises instead of serving a wrong mixture."""
    import pytest as _pytest

    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_bucket,
        ohlc_raw_aggs,
    )

    ev = (
        load(spark, SF_DIR, "events")
        .select("ts", "event_id", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    n = len(rows)
    out = str(tmp_path / "cand")
    chunks = (rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :])
    for v, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, ev.schema).groupBy(
            ohlc_bucket().alias("bucket_start"), "event_type"
        ).agg(*ohlc_raw_aggs()).withColumn("v", F.lit(v)).write.mode(
            "append"
        ).partitionBy("v").parquet(out)

    def key(df):
        return sorted(map(tuple, df.collect()))

    full = key(S.read_ohlc_candles(spark, out))
    as_of_1 = key(S.read_ohlc_candles(spark, out, as_of=1))
    # recompute truth for batches 0..1 from the shared batch fragment
    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_surface,
    )

    two = spark.createDataFrame(chunks[0] + chunks[1], ev.schema)
    want_1 = key(
        ohlc_surface(
            two.groupBy(
                ohlc_bucket().alias("bucket_start"), "event_type"
            ).agg(*ohlc_raw_aggs())
        )
    )
    assert as_of_1 == want_1 and as_of_1 != full
    assert key(S.read_ohlc_candles(spark, out, as_of=2)) == full

    # compaction through batch 1 destroys the as_of=0 state: raise
    S.compact_ohlc_candles(spark, out, up_to=1)
    assert key(S.read_ohlc_candles(spark, out, as_of=1)) == want_1
    assert key(S.read_ohlc_candles(spark, out)) == full
    with _pytest.raises(ValueError, match="compacted away"):
        S.read_ohlc_candles(spark, out, as_of=0)


def test_ohlc_compaction_bound_and_generation_retention(spark, tmp_path):
    """ADVICE r10 #1/#2: (a) compaction REFUSES to run without an
    absorption bound; (b) the bound derives from a checkpoint's commit
    log, so a delta whose files landed but whose checkpoint commit
    hasn't is NOT absorbed; (c) superseded base generations are swept
    lazily — each compaction keeps the newest one as a concurrent-
    reader grace window and deletes it only a full cycle later."""
    import os

    import pytest as _pytest

    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_bucket,
        ohlc_raw_aggs,
    )

    ev = (
        load(spark, SF_DIR, "events")
        .select("ts", "event_id", "event_type", "value")
        .orderBy("ts", "event_id")
        .limit(300)
    )
    rows = ev.collect()
    out = str(tmp_path / "cand")
    ck = str(tmp_path / "ck")

    def write_delta(v, chunk):
        spark.createDataFrame(chunk, ev.schema).groupBy(
            ohlc_bucket().alias("bucket_start"), "event_type"
        ).agg(*ohlc_raw_aggs()).withColumn("v", F.lit(v)).write.mode(
            "append"
        ).partitionBy("v").parquet(out)

    def commit(batch_id):
        os.makedirs(f"{ck}/commits", exist_ok=True)
        with open(f"{ck}/commits/{batch_id}", "w") as f:
            f.write("v1\n{}")

    def key(df):
        return sorted(map(tuple, df.collect()))

    # (a) no bound, no checkpoint → refuse, layout untouched
    write_delta(0, rows[:100])
    with _pytest.raises(ValueError, match="absorption bound"):
        S.compact_ohlc_candles(spark, out)
    assert [d for d in os.listdir(out) if d.startswith("v=")] == ["v=0"]

    # (b) v=1 committed, v=2 on disk but NOT in the commit log (the
    # files-landed-before-checkpoint window): only v<=1 is absorbed
    write_delta(1, rows[100:200])
    write_delta(2, rows[200:])
    commit(0)
    commit(1)
    full = key(S.read_ohlc_candles(spark, out))
    S.compact_ohlc_candles(spark, out, checkpoint=ck)
    assert [d for d in os.listdir(out) if d.startswith("v=")] == ["v=2"]
    assert key(S.read_ohlc_candles(spark, out)) == full
    # the uncommitted batch can still be replayed with different
    # content and the reader picks the replay up (v=2 > covered)
    assert os.path.exists(f"{out}/_base/g=0/_SUCCESS")

    # (c) lazy retention: the next compaction supersedes g=0 but KEEPS
    # it (keep_gens=1 grace window); a no-op re-run keeps it too —
    # only a LATER compaction that pushes it out of the newest-1
    # superseded window sweeps it
    commit(2)
    S.compact_ohlc_candles(spark, out, checkpoint=ck)
    gens = sorted(
        d for d in os.listdir(f"{out}/_base") if d.startswith("g=")
    )
    assert gens == ["g=0", "g=1"]
    assert key(S.read_ohlc_candles(spark, out)) == full
    S.compact_ohlc_candles(spark, out, up_to=2)  # no-op: within window
    assert sorted(
        d for d in os.listdir(f"{out}/_base") if d.startswith("g=")
    ) == ["g=0", "g=1"]
    write_delta(3, rows[:50])
    commit(3)
    S.compact_ohlc_candles(spark, out, checkpoint=ck)
    gens = sorted(
        d for d in os.listdir(f"{out}/_base") if d.startswith("g=")
    )
    assert gens == ["g=1", "g=2"]
    grown = key(S.read_ohlc_candles(spark, out))
    assert grown != full  # batch 3's events merged in


def _one_file_per_batch(spark, src, chunks, schema):
    """Write each chunk of rows as one parquet file under ``src``, with
    increasing modification times, so a ``maxFilesPerTrigger=1`` stream
    delivers chunk i as micro-batch i (an empty chunk becomes an empty
    micro-batch)."""
    import os
    import time

    def part_files():
        if not os.path.isdir(src):
            return set()
        return {f for f in os.listdir(src) if f.endswith(".parquet")}

    t0 = time.time() - 100 * len(chunks)
    for i, chunk in enumerate(chunks):
        before = part_files()
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        added = part_files() - before
        assert len(added) == 1, added
        os.utime(os.path.join(src, added.pop()), (t0 + i, t0 + i))


def _file_stream(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )


def _sorted_rows(rows):
    # str() per value: a multiset of rows that sorts with NULLs and
    # mixed types, and keeps duplicates (unlike a dict keyed by id)
    return sorted(tuple(str(v) for v in r) for r in rows)


def _dsir_replay_case(spark):
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_model_ratios,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    ratios = dsir_model_ratios(
        docs, "doc_id", "text", F.col("lang") == "en"
    ).localCheckpoint()
    return docs, lambda s, out, ck: S.dsir_score_sink(s, ratios, out, ck)


def _quality_replay_case(spark):
    from weather_data_data_pipeline_spark.plans.selection_queries import (
        FROZEN_QC_INTERCEPT,
        FROZEN_QC_WEIGHTS,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    return docs, lambda s, out, ck: S.quality_score_sink(
        s, FROZEN_QC_WEIGHTS, FROZEN_QC_INTERCEPT, out, ck
    )


def _drift_replay_case(spark):
    ev = load(spark, SF_DIR, "events").select("ts", "value")
    counts = ev.groupBy(
        F.floor(F.col("value") / 50).cast("int").alias("bin")
    ).agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    ref = counts.crossJoin(F.broadcast(tot)).select(
        "bin", (F.col("n") / F.col("t")).alias("p")
    )
    return ev, lambda s, out, ck: S.drift_monitor_sink(
        s, ref, out, ck, bin_width=50.0
    )


def _sampling_replay_case(spark):
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    temp_weights = {
        r["source"]: "0.500000"
        for r in docs.select("source").distinct().collect()
    }
    return docs, lambda s, out, ck: S.sampling_weight_sink(
        s, temp_weights, None, out, ck, index_path=None
    )


@pytest.mark.parametrize(
    "make_case",
    [
        _dsir_replay_case,
        _quality_replay_case,
        _drift_replay_case,
        _sampling_replay_case,
    ],
    ids=["dsir", "quality", "drift", "sampling"],
)
def test_per_batch_sinks_converge_when_the_stream_is_redrained(
    spark, tmp_path, make_case
):
    """foreachBatch is at-least-once: draining the same two files again
    under a fresh checkpoint re-delivers batches 0 and 1. Each sink must
    rewrite its own batch partitions, so the output row multiset is the
    same after the second drain, not doubled."""
    frame, sink = make_case(spark)
    rows = frame.orderBy(frame.columns[0]).limit(40).collect()
    src = str(tmp_path / "src")
    _one_file_per_batch(spark, src, [rows[:20], rows[20:]], frame.schema)
    out = str(tmp_path / "out")

    def drain(ck):
        stream = _file_stream(spark, src, frame.schema)
        S.run_available_now(sink(stream, out, str(tmp_path / ck)))
        return _sorted_rows(spark.read.parquet(out).collect())

    first = drain("ck1")
    batch_ids = spark.read.parquet(out).select("batch_id").distinct()
    assert sorted(r[0] for r in batch_ids.collect()) == [0, 1]
    assert drain("ck2") == first


@pytest.mark.parametrize(
    "sink",
    ["idempotent_stream_append", "near_dedup_stream_append", "packing_state"],
)
def test_unreadable_destination_stops_the_query(spark, tmp_path, sink):
    """A destination (or carry-state) directory that exists but cannot
    be read is not "nothing written yet": the query must fail, and
    append nothing, rather than skip the anti-join against it."""
    import os

    from pyspark.errors import StreamingQueryException

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    _one_file_per_batch(
        spark, src, [docs.orderBy("doc_id").limit(20).collect()], docs.schema
    )
    dest = str(tmp_path / "dest")
    state = str(tmp_path / "state")
    planted = state if sink == "packing_state" else dest
    os.makedirs(planted)
    with open(os.path.join(planted, "part-0.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file\n")
    before = sorted(os.listdir(planted))

    stream = _file_stream(spark, src, docs.schema)
    ck = str(tmp_path / "ck")
    if sink == "idempotent_stream_append":
        writer = S.idempotent_stream_append(stream, dest, ["doc_id"], ck)
    elif sink == "near_dedup_stream_append":
        writer = S.near_dedup_stream_append(stream, dest, "doc_id", "text", ck)
    else:
        writer = S.packing_stream_append(stream, dest, ck, state)
    with pytest.raises(StreamingQueryException):
        S.run_available_now(writer)
    assert sorted(os.listdir(planted)) == before


def test_empty_micro_batch_writes_nothing(spark, tmp_path):
    """A source whose first file has zero rows delivers an empty batch
    0: no sink may write anything for it, and the next batch must still
    read the destination normally. (A zero-row partitioned write leaves
    a directory without data files, which the next batch's read of a
    delta index cannot infer a schema from.)"""
    import os

    import pyarrow.parquet as pq

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    doc_rows = docs.orderBy("doc_id").limit(20).collect()
    doc_src = str(tmp_path / "doc_src")
    _one_file_per_batch(spark, doc_src, [[], doc_rows], docs.schema)
    ev = load(spark, SF_DIR, "events").select(
        "ts", "event_id", "event_type", "value"
    )
    ev_rows = ev.orderBy("ts", "event_id").limit(40).collect()
    ev_src = str(tmp_path / "ev_src")
    _one_file_per_batch(spark, ev_src, [[], ev_rows], ev.schema)

    from weather_data_data_pipeline_spark.plans.selection_queries import (
        FROZEN_QC_INTERCEPT,
        FROZEN_QC_WEIGHTS,
    )

    qc_out = str(tmp_path / "qc_out")
    S.run_available_now(
        S.quality_score_sink(
            _file_stream(spark, doc_src, docs.schema),
            FROZEN_QC_WEIGHTS,
            FROZEN_QC_INTERCEPT,
            qc_out,
            str(tmp_path / "qc_ck"),
        )
    )
    assert [d for d in os.listdir(qc_out) if "=" in d] == ["batch_id=1"]
    assert spark.read.parquet(qc_out).count() == len(doc_rows)

    sw_out = str(tmp_path / "sw_out")
    sw_idx = str(tmp_path / "sw_idx")
    S.run_available_now(
        S.sampling_weight_sink(
            _file_stream(spark, doc_src, docs.schema),
            {r["source"]: "0.500000" for r in doc_rows},
            None,
            sw_out,
            str(tmp_path / "sw_ck"),
            index_path=sw_idx,
        )
    )
    assert [d for d in os.listdir(sw_out) if "=" in d] == ["batch_id=1"]
    assert [d for d in os.listdir(sw_idx) if "=" in d] == ["v=1"]

    ohlc_out = str(tmp_path / "ohlc_out")
    S.run_available_now(
        S.ohlc_candle_sink(
            _file_stream(spark, ev_src, ev.schema),
            ohlc_out,
            str(tmp_path / "ohlc_ck"),
        )
    )
    assert [d for d in os.listdir(ohlc_out) if "=" in d] == ["v=1"]

    dest = str(tmp_path / "dest")
    S.run_available_now(
        S.idempotent_stream_append(
            _file_stream(spark, ev_src, ev.schema),
            dest,
            ["event_id"],
            str(tmp_path / "dest_ck"),
        )
    )
    got = spark.read.parquet(dest).select(*ev.columns)
    assert _sorted_rows(got.collect()) == _sorted_rows(ev_rows)
    data_files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    assert data_files
    for f in data_files:
        assert pq.read_metadata(os.path.join(dest, f)).num_rows > 0, f
