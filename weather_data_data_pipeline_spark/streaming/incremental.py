"""Structured Streaming: the scale-up path for the reference's
incremental pattern (SURVEY.md §2.6, §7 phase 3).

The reference approximates streaming with an @hourly Airflow re-run +
last-hour filter + anti-join dedup (inc_load:86-95, 179-183,
inc_dag:101). Structured Streaming generalizes exactly that micro-batch
loop natively:

- readStream (file source here; Kafka at deployment) = the re-run
- withWatermark + window = the recency filter, with correct late-data
  semantics instead of a wall-clock heuristic
- dropDuplicates within the watermark = the anti-join for in-stream dups
- foreachBatch anti-join append = cross-batch idempotency against the
  destination table

State store size is bounded by the watermark horizon — the property that
makes this run forever on a cluster where "re-read the whole destination"
(the reference's approach, full:160) cannot.

The sink contract, shared by every ``foreachBatch`` sink below (all of
them are wired through :func:`_foreach_batch`):

- **At-least-once delivery.** A micro-batch can be re-delivered with
  the same ``batch_id`` after a failure, or re-drained from batch 0
  under a fresh checkpoint; every sink must converge to the same rows.
- **Empty micro-batches are skipped.** A zero-row batch writes
  nothing. A zero-row partitioned write leaves a directory without
  data files, and the next ``spark.read.parquet`` of it (a sink that
  reads its own deltas back) fails with ``UNABLE_TO_INFER_SCHEMA``; a
  zero-row append adds an empty file.
- **Replay-safe layout.** The per-batch sinks write their rows as the
  partition ``batch_id=<id>`` (``v=<id>`` for the OHLC candles) under
  dynamic partition overwrite (``sources/layout.py:write_versioned``),
  so a re-delivered batch rewrites exactly its own partition instead
  of appending a second copy. A reader of the output directory sees
  ``batch_id`` as an int partition column. The destination-anti-join
  sinks (:func:`idempotent_stream_append` and the near-dedup sink)
  append survivors instead; the anti-join against the destination is
  what makes their replays no-ops.
- **Frozen state ⇒ stream equals batch.** A sink's model, eval set or
  index is built once, at sink construction, and a row's output depends
  only on the row and that frozen state. Batch boundaries therefore
  cannot change a row, and the stream's output equals the batch
  operator over the union of its inputs (pinned by the stream == batch
  tests).
- **A destination that cannot be read is an error.** Only a missing
  path means "nothing written yet" (:func:`_read_parquet_or_none`);
  any other read failure stops the query rather than appending rows
  that were never checked against the destination.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from weather_data_data_pipeline_spark.operators.joins import anti_join_dedup
from weather_data_data_pipeline_spark.sources.layout import write_versioned
from weather_data_data_pipeline_spark.sources.tables import load, normalize_ntz


def _foreach_batch(
    stream: DataFrame,
    checkpoint: str,
    write_batch: Callable[[DataFrame, int], None],
) -> DataStreamWriter:
    """The one ``foreachBatch`` wiring of the module: checkpointed,
    update output mode, and ``write_batch`` never sees an empty
    micro-batch (see the sink contract in the module docstring)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_batch(batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def _per_batch_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    per_batch: Callable[[DataFrame], DataFrame],
    version_col: str = "batch_id",
) -> DataStreamWriter:
    """A sink whose output for a micro-batch is ``per_batch(batch_df)``,
    written as that batch's ``<version_col>=<batch_id>`` partition of
    ``out_path`` (the replay-safe layout)."""
    return _foreach_batch(
        stream,
        checkpoint,
        lambda batch_df, batch_id: write_versioned(
            per_batch(batch_df), out_path, batch_id, version_col
        ),
    )


def _read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when the path does not
    exist yet. Every other error re-raises: treating an unreadable
    destination or state file as "nothing there yet" would skip the
    anti-join or restart carried state at zero."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema declared from a
    batch read — streaming sources require explicit schemas). The nanos
    ts normalization matches sources/tables.py."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # The streaming file source requires a directory; filter to the one
    # table file inside sf_dir.
    stream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if dict(batch.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(stream)


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the tumbling_window_daily batch query: watermarked
    tumbling-window count/avg per event_type. Append-mode compatible —
    a window finalizes when the watermark passes its end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 2).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def session_window_counts(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows on a stream: Spark merges events into
    variable-length sessions that close after ``gap`` of inactivity —
    the streaming form of operators/timeseries.py:sessionize. Session
    state finalizes (and is emitted/evicted) once the watermark passes
    the session end, so state stays bounded by the activity horizon."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame, keys: Sequence[str], watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """In-stream exact dedup on the composite key — the streaming
    analogue of the reference's anti-join for duplicates arriving
    within the horizon.

    State-bounding subtlety: plain ``dropDuplicates`` only evicts state
    when the event-time column is PART OF the dedup key; deduping on a
    key without it keeps every key seen forever — unbounded state, the
    silent 100 TB killer. For key-only dedup Spark's
    ``dropDuplicatesWithinWatermark`` evicts each key once the
    watermark passes its first sighting + delay, which is the intended
    "same key re-sent within the horizon" semantics."""
    s = stream.withWatermark(ts_col, watermark)
    if ts_col in keys:
        return s.dropDuplicates(list(keys))
    return s.dropDuplicatesWithinWatermark(list(keys))


def idempotent_stream_append(
    stream: DataFrame,
    dest_path: str,
    keys: Sequence[str],
    checkpoint: str,
) -> DataStreamWriter:
    """foreachBatch sink reproducing the reference's cross-run
    idempotency (full:160-171) per micro-batch: anti-join each batch
    against the destination, append survivors. Combined with
    exactly-once checkpointing this gives idempotent delivery even
    across restarts."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        dest = _read_parquet_or_none(batch_df.sparkSession, dest_path)
        out = batch_df if dest is None else anti_join_dedup(batch_df, dest, keys)
        out.write.mode("append").parquet(dest_path)

    return _foreach_batch(stream, checkpoint, write_batch)


def near_dedup_stream_append(
    stream: DataFrame,
    dest_path: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    threshold: float = 0.5,
) -> DataStreamWriter:
    """Streaming twin of :func:`idempotent_stream_append` for NEAR
    duplicates: each micro-batch probes the kept corpus's persisted
    MinHash index (``functions.dedup.incremental_near_dedup_indexed``)
    and appends only the survivors — a continuously ingesting,
    continuously deduplicated training corpus.

    The index lives at ``<dest_path>_minhash_index``, beside the corpus
    and not inside it. Each batch (1) joins its band buckets with the
    index's, (2) exact-verifies candidates against kept text, (3) near-dedups
    within itself, then (4) appends the survivors to the index and
    then to the corpus. The index is written first: a crash between
    the two leaves index rows without corpus text, which never verify,
    so the replayed batch is kept again and written once. A corpus
    whose index is missing or unreadable (one written before the index
    existed) gets it built from the corpus before the probe.

    Per-batch signature work is O(batch): the kept corpus is not
    re-hashed. The corpus+index pair IS the streaming state; no state
    store, no watermark horizon on dedup history.
    """
    from weather_data_data_pipeline_spark.functions.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_near_dedup_indexed,
    )

    index_path = dest_path.rstrip("/") + "_minhash_index"

    def index_readable(spark: SparkSession) -> bool:
        try:
            spark.read.parquet(f"{index_path}/buckets").schema
            return True
        except Exception:
            return False

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        kept = _read_parquet_or_none(spark, dest_path)
        if kept is not None and not index_readable(spark):
            build_minhash_index(kept, index_path, id_col, text_col)
        # a corpus of documents shorter than one shingle leaves no bucket file
        idx = index_path if kept is not None and index_readable(spark) else None
        out = incremental_near_dedup_indexed(
            batch_df, kept, idx, id_col, text_col, threshold=threshold
        )
        out = out.localCheckpoint(eager=True)  # two sinks share the lineage
        append_to_minhash_index(out, index_path, id_col, text_col)
        out.write.mode("append").parquet(dest_path)

    return _foreach_batch(stream, checkpoint, write_batch)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    horizon_minutes: int = 30,
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each left event
    joins right events of the same key from the preceding
    ``horizon_minutes``. Both sides carry watermarks, so join state
    expires once the watermark passes the bound — O(events within
    horizon) state, the property that lets two unbounded streams join
    forever. Without the time bound Spark would (correctly) refuse:
    unbounded state.

    Output columns: left columns + ``matched_{right_ts}`` + right
    non-key columns.
    """
    horizon = f"{horizon_minutes} minutes"
    r = right.select(
        F.col(key).alias("_rkey"),
        F.col(right_ts).alias("_rts"),
        *[c for c in right.columns if c not in (key, right_ts)],
    ).withWatermark("_rts", horizon)
    l = left.withWatermark(left_ts, horizon)
    cond = F.expr(
        f"{key} = _rkey AND _rts BETWEEN {left_ts} - INTERVAL {horizon_minutes} "
        f"MINUTES AND {left_ts}"
    )
    return l.join(r, cond).drop("_rkey").withColumnRenamed(
        "_rts", f"matched_{right_ts}"
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach (slowly-changing) dimension
    attributes to a stream — the streaming twin of a broadcast dim join.

    The static side is re-evaluated per micro-batch (so an updated
    dimension table is picked up on the next trigger, no restart), needs
    no watermark, and keeps NO join state: only the stream side is
    unbounded. At scale the dim side should be broadcastable or
    bucketed; Catalyst plans the same broadcast-hash join it would for
    the batch query.
    """
    return stream.join(F.broadcast(dim), on=keys, how=how)


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count and value
    sum maintained ACROSS micro-batches with ``applyInPandasWithState``.

    This is the operator class Structured Streaming's built-ins don't
    cover (windowed aggs reset per window; this state never resets):
    arbitrary per-key accumulators — think per-user quotas, running
    feature aggregates, online token budgets for a training-data feed.

    State is one (count, total) pair per user: O(distinct keys) in the
    state store, partitioned by key hash across executors, checkpointed
    exactly-once. Arrow moves each key-group batch to Python in one
    block — vectorized, not per-row.
    """
    import pandas as pd  # local: executors import lazily
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _running_totals_processor():
    """The ``StatefulProcessor`` behind :func:`running_user_totals_tws`,
    exposed as a factory so tests can drive ``init`` /
    ``handleInputRows`` directly against a stub handle when the TWS
    state-server protocol (google.protobuf) is unavailable — the
    processor logic itself has no protobuf dependency."""
    import pandas as pd  # local: executors import lazily
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (0, 0.0)
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, float(total)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """The :func:`running_user_totals` operator on the NEW stateful API
    (``transformWithStateInPandas``, Spark 4): a ``StatefulProcessor``
    class with typed ValueState instead of the (py)tuple-state
    ``applyInPandasWithState`` callback.

    Same semantics and same state size — one (count, total) pair per
    user — but the new API adds lifecycle hooks, multiple named state
    variables, TTL, and timers, and is the forward path Spark documents
    for custom stateful operators; the engine keeps both until the old
    API is retired. Requires the RocksDB state store provider (set in
    the caller/test), which is also the right provider at 100 TB state.
    Runtime dependency: the TWS state-server protocol needs
    ``google.protobuf``; where that is absent the unit test drives the
    processor directly (see :func:`_running_totals_processor`) and
    asserts equivalence with :func:`running_user_totals`.
    """
    return stream.groupBy("user_id").transformWithStateInPandas(
        _running_totals_processor(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def run_available_now(writer: DataStreamWriter) -> None:
    """Drain everything currently available and stop — the batch-like
    trigger used in tests and backfills."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def streaming_twin_matches_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convenience: run the windowed count over the stream with
    availableNow into an in-memory sink and return the result frame —
    used by tests to assert stream == batch."""
    out = windowed_event_counts(read_events_stream(spark, sf_dir), watermark="0 seconds")
    name = "stream_twin_result"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def dsir_score_sink(
    stream: DataFrame,
    ratios: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
    include_bigrams: bool = True,
) -> DataStreamWriter:
    """Streaming DSIR scoring: score arriving documents against a
    FROZEN importance model (the (bucket, r) ratio table from
    functions/importance.py:dsir_model_ratios) and write
    (doc_id, n_grams, log_w) as each micro-batch's partition — the live
    twin of the batch ``dsir_importance_weights`` scoring pass, i.e. how a
    serving pipeline admits fresh crawl against the model it fit at
    training time.

    Because the model is frozen and the per-doc weight is an exact
    decimal Σ count_b·r_b (the importance-module contract), a
    document's score is independent of WHICH micro-batch carried it:
    stream output == batch output on the same rows, bit-for-bit — the
    equivalence tests/test_streaming.py pins. State is the broadcast
    256-row model; nothing grows with the stream.
    """
    from weather_data_data_pipeline_spark.functions.importance import (
        dsir_score_frozen,
    )

    # the model is frozen for the stream's lifetime: collect it ONCE at
    # sink construction so each micro-batch scores against driver-side
    # literals instead of paying a 64-row collect job per batch (r11)
    frozen = [
        (row["bucket"], row["r"])
        for row in ratios.select("bucket", "r").collect()
    ]

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: dsir_score_frozen(
            batch_df,
            frozen,
            id_col,
            text_col,
            num_buckets=num_buckets,
            include_bigrams=include_bigrams,
        ).select(id_col, "n_grams", "log_w"),
    )


def quality_score_sink(
    stream: DataFrame,
    weights: list[float],
    intercept: float,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming FROZEN-classifier quality scoring: score arriving
    documents with the literal pinned coefficients
    (functions/classifier.py:score_frozen_md5) and write
    (id, margin, prob_pos, pred) as each micro-batch's partition — the
    live twin of the batch ``quality_classifier_frozen_scores`` query, i.e.
    how a serving pipeline quality-gates fresh crawl with the filter it
    fit at training time.

    The margin is a per-document decimal fold over that document's own
    tokens — no corpus state at all — so a document's score is
    independent of WHICH micro-batch carried it: stream output == batch
    output on the same rows, bit-for-bit (pinned in
    tests/test_streaming.py). State is the coefficient literals baked
    into the plan; nothing grows with the stream.
    """
    from weather_data_data_pipeline_spark.functions.classifier import (
        score_frozen_md5,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: score_frozen_md5(
            batch_df, id_col, text_col, weights, intercept
        ).select(id_col, "margin", "prob_pos", "pred"),
    )


def drift_monitor_sink(
    stream: DataFrame,
    reference_hist: DataFrame,
    out_path: str,
    checkpoint: str,
    value_col: str = "value",
    bin_width: float = 50.0,
    eps: float = 1e-6,
) -> DataStreamWriter:
    """Streaming distribution-drift monitor: per micro-batch, bin the
    arriving values on the SAME fixed-width grid as a frozen reference
    histogram and write one PSI row per batch — the live twin of the
    batch ``corpus_drift_psi`` query, i.e. the alert signal a serving
    pipeline watches between retrains.

    ``reference_hist`` must hold (bin INT, p DOUBLE) — build it once
    from the training window with the same ``bin_width`` (see
    tests/test_streaming.py for the two-line recipe). Per batch: one
    conditional aggregate over the batch (bins), a broadcast join to
    the (tiny) reference, and a one-row reduce to (n_rows, psi), the
    batch's partition. Bins present in only one side contribute
    through the eps-smoothed terms, matching the batch query's
    formula. State is just the frozen reference; nothing grows.
    """
    ref = reference_hist.select(
        F.col("bin").cast("int").alias("bin"), F.col("p").alias("p")
    )

    def psi(batch_df: DataFrame) -> DataFrame:
        binned = batch_df.select(
            F.floor(F.col(value_col) / bin_width).cast("int").alias("bin")
        )
        q = binned.groupBy("bin").agg(F.count("*").alias("n"))
        tot = q.agg(F.sum("n").alias("t"))
        qn = q.crossJoin(F.broadcast(tot)).select(
            "bin", (F.col("n") / F.col("t")).alias("q"), "t"
        )
        joined = ref.join(qn, "bin", "full_outer").select(
            F.coalesce("p", F.lit(0.0)).alias("p"),
            F.coalesce("q", F.lit(0.0)).alias("q"),
            "t",
        )
        # t is the batch's row count on every bin the batch holds
        return joined.agg(
            F.max("t").cast("long").alias("n_rows"),
            F.round(
                F.sum(
                    (F.col("p") - F.col("q"))
                    * F.log((F.col("p") + eps) / (F.col("q") + eps))
                ),
                5,
            ).alias("psi"),
        )

    return _per_batch_sink(stream, out_path, checkpoint, psi)


def sampling_weight_sink(
    stream: DataFrame,
    temp_weights: dict[str, str],
    history: DataFrame | None,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    index_path: str | None = None,
) -> DataStreamWriter:
    """Streaming FROZEN-mix sampling weights: score arriving documents
    with the fit-time artifacts — literal per-source temperature
    weights and a persisted normalized-digest duplicate-count index —
    and write (id, weight triple, final weight) as each micro-batch's
    partition; the live twin of the batch ``doc_sampling_weights``
    query, i.e. how a serving pipeline prices fresh crawl into the
    training mix without recomputing corpus state.

    Duplicate counts are the index's c_hist plus the document's
    occurrences WITHIN its own micro-batch, so on (history ∪ batch)
    the count — and therefore every weight — equals the batch
    recompute bit-for-bit (pinned in tests/test_streaming.py). The
    weight arithmetic is functions/text.py:sampling_weight_columns,
    the same expressions the batch query compiles, so the two paths
    cannot drift.

    ``index_path=None`` keeps only the static ``history`` index:
    duplicates that arrived in EARLIER micro-batches of this same
    stream are not counted, so the index must be refreshed externally
    between runs (ADVICE r6). Pass ``index_path`` to make the sink
    self-maintaining: each batch writes its own digest counts as a
    delta partition (``v=<batch_id>``), and every batch's history is
    ``history ∪ Σ deltas with v < batch_id`` — so cross-batch stream
    duplicates discount exactly like the batch recompute over the full
    prefix. Both writes are versioned partitions, so a replay rewrites
    its own delta as well as its own output. At real scale, compact the
    delta partitions periodically; the per-batch read is one groupBy
    over them.
    """
    from weather_data_data_pipeline_spark.functions.text import (
        digest_counts,
        doc_sampling_weights_frozen,
    )

    def _accumulated_history(spark, batch_id: int) -> DataFrame | None:
        if index_path is None:
            return history
        deltas = _read_parquet_or_none(spark, index_path)
        if deltas is not None:
            deltas = deltas.where(F.col("v") < F.lit(int(batch_id))).select(
                "digest", "c_hist"
            )
        frames = [f for f in (history, deltas) if f is not None]
        if not frames:
            return None
        acc = frames[0] if len(frames) == 1 else frames[0].unionByName(
            frames[1]
        )
        return acc.groupBy("digest").agg(
            F.sum("c_hist").cast("long").alias("c_hist")
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = doc_sampling_weights_frozen(
            batch_df,
            temp_weights,
            history=_accumulated_history(batch_df.sparkSession, batch_id),
            id_col=id_col,
            text_col=text_col,
            source_col=source_col,
        )
        write_versioned(
            scored.select(
                id_col,
                "dedup_weight",
                "quality_weight",
                "temp_weight",
                "final_weight",
            ),
            out_path,
            batch_id,
            "batch_id",
        )
        if index_path is not None:
            write_versioned(
                digest_counts(batch_df, text_col), index_path, batch_id
            )

    return _foreach_batch(stream, checkpoint, write_batch)


def _read_carry_state(spark, state_path: str) -> tuple[int, int, int]:
    """(last_batch_id, total_before, total_tokens) from the packing
    carry-state file; (-1, 0, 0) ONLY when the path does not exist yet
    (a fresh stream). Any other read error re-raises: treating a
    transient listing/IO failure as "fresh stream" would silently
    restart the offset at 0 and corrupt every later bin assignment
    (ADVICE r6)."""
    state = _read_parquet_or_none(spark, state_path)
    if state is None:
        return -1, 0, 0
    row = state.collect()[0]
    return (
        int(row["last_batch_id"]),
        int(row["total_before"]),
        int(row["total_tokens"]),
    )


def packing_stream_append(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    state_path: str,
    context_tokens: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming arrival-order sequence packing: documents are packed
    into ``context_tokens``-token bins IN ARRIVAL ORDER, with the
    running token total carried across micro-batches through a tiny
    parquet state file — the live form of shard assembly, where a
    packer cannot re-sort history and must extend the last open bin.

    Within a batch the bin ids come from the distributed prefix sum
    (operators/ranking.py: global_running_sum over the arrival key),
    offset by the carried total; a document belongs to the bin where it
    STARTS, exactly like the batch ``sequence_packing`` contract. The
    carried offset makes the composition exact: packing batches
    [B1, B2] separately with the carry equals packing (B1 ∪ B2) in one
    pass over the same order — bit-for-bit, pinned in
    tests/test_streaming.py. State is one tiny parquet row; nothing
    grows with the stream.

    REPLAY SAFETY (foreachBatch is at-least-once): the state row
    carries (last_batch_id, total_before, total_tokens). A replayed
    batch — same ``batch_id`` re-delivered after a failure — packs
    against ``total_before`` (the offset it saw the first time) and
    REWRITES its own output partition (dynamic partition overwrite on
    batch_id) and the state row to the identical values, so a crash
    anywhere between output and state commit converges to the same
    bytes instead of double-counting tokens and shifting every later
    bin. A batch older than ``last_batch_id`` is fully committed and
    becomes a no-op.
    """
    write_batch = _packing_batch_writer(
        out_path, state_path, context_tokens, id_col, text_col
    )
    return _foreach_batch(stream, checkpoint, write_batch)


def _packing_batch_writer(
    out_path: str,
    state_path: str,
    context_tokens: int,
    id_col: str,
    text_col: str,
):
    """The foreachBatch body of :func:`packing_stream_append`, exposed
    so tests can drive a kill-and-replay sequence directly (call with
    the same batch_id twice and assert the bytes converge)."""
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last_id, before, after = _read_carry_state(spark, state_path)
        if batch_id < last_id:
            return  # older than the last committed batch: already done
        offset = before if batch_id == last_id else after
        toks = F.size(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        )
        base = batch_df.select(
            F.col(id_col), toks.cast("long").alias("n_tok")
        )
        rt = global_running_sum(base, [id_col], "n_tok", out_col="rt")
        packed = rt.select(
            id_col,
            "n_tok",
            F.floor(
                (F.col("rt") + F.lit(int(offset)) - F.col("n_tok")).cast(
                    "double"
                )
                / context_tokens
            )
            .cast("bigint")
            .alias("bin"),
        )
        # overwrite of ONLY this batch's partition: a replay rewrites
        # its own rows instead of appending duplicates
        write_versioned(packed, out_path, batch_id, "batch_id")
        new_total = int(offset) + int(
            base.agg(F.sum("n_tok")).collect()[0][0] or 0
        )
        spark.createDataFrame(
            [(int(batch_id), int(offset), new_total)],
            "last_batch_id long, total_before long, total_tokens long",
        ).coalesce(1).write.mode("overwrite").parquet(state_path)

    return write_batch


def ess_monitor_sink(
    stream: DataFrame,
    temp_weights: dict[str, str],
    history: DataFrame | None,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataStreamWriter:
    """Streaming effective-sample-size monitor: every micro-batch is
    scored with the FROZEN sampling-weight artifacts
    (functions/text.py:doc_sampling_weights_frozen — literal
    temperature weights + optional persisted duplicate index) and
    rolled up to per-source Kish ESS via the SHARED
    functions/text.py:ess_rollup fragment, writing
    (source, n_docs, sum_w, sum_w2, ess, ess_ratio) per batch — the
    live twin of the batch ``sampling_ess_by_source`` query, i.e. the
    dashboard row a serving pipeline watches to catch a crawl source
    whose weight mass is collapsing onto a handful of documents
    (ess_ratio → 1/n) BEFORE that source poisons a training mix.
    Because the scorer and the rollup are the same compiled
    expressions as the batch path, per-batch output equals the batch
    recompute on that batch's documents bit-for-bit (pinned in
    tests/test_streaming.py)."""
    from weather_data_data_pipeline_spark.functions.text import (
        doc_sampling_weights_frozen,
        ess_rollup,
    )

    def rollup(batch_df: DataFrame) -> DataFrame:
        scored = doc_sampling_weights_frozen(
            batch_df,
            temp_weights,
            history=history,
            id_col=id_col,
            text_col=text_col,
            source_col=source_col,
        )
        return ess_rollup(scored, source_col, "final_weight").select(
            source_col, "n_docs", "sum_w", "sum_w2", "ess", "ess_ratio"
        )

    return _per_batch_sink(stream, out_path, checkpoint, rollup)


def decontamination_sink(
    stream: DataFrame,
    eval_df: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataStreamWriter:
    """Streaming decontamination CLEANING: every arriving train document
    has its eval-overlapping n-gram spans removed
    (functions/dedup.py:decontamination_clean) and the cleaned rows
    land as (id, clean_text, n_tokens, kept_tokens) — the
    live form of the batch ``decontamination_clean_corpus`` query, i.e.
    how fresh crawl is scrubbed against a FROZEN eval set before it can
    enter the training mix.

    Because the eval set is frozen, a document's cleaned form depends
    only on itself — batch boundaries are trivially irrelevant and the
    stream equals the batch run over the union bit-for-bit (pinned in
    tests/test_streaming.py).

    The eval set is FROZEN, so its gram hashes, the bloom sizing count,
    and the filter literal are computed ONCE here at sink construction
    and reused by every micro-batch — rebuilding them per batch cost
    two extra driver actions plus a full bloom rebuild for an input
    that never changes (ADVICE r7)."""
    from weather_data_data_pipeline_spark.functions.dedup import (
        decontamination_clean,
        decontamination_eval_state,
    )

    eval_state = decontamination_eval_state(eval_df, id_col, text_col, n=n)

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: decontamination_clean(
            batch_df, None, id_col, text_col, n=n, eval_state=eval_state
        ).select(id_col, "clean_text", "n_tokens", "kept_tokens"),
    )


def semantic_decontamination_sink(
    stream: DataFrame,
    eval_df: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataStreamWriter:
    """Streaming SEMANTIC decontamination: every arriving train vector
    is scored by its max cosine against the FROZEN eval embedding set
    (the shared functions/similarity.py:nearest_in_set GEMM kernel,
    so batch and stream cannot drift)
    and written as (id, nearest_eval_id, max_cosine, contaminated) —
    the live twin of the batch ``semantic_decontamination`` query. A
    vector's score depends only on itself and the frozen eval set, so
    the stream equals the batch run over the union bit-for-bit (pinned
    in tests/test_streaming.py)."""
    from weather_data_data_pipeline_spark.functions.similarity import (
        nearest_in_set,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: nearest_in_set(
            batch_df, eval_df, id_col, vec_col
        ).select(
            id_col,
            F.col("nearest_id").alias("nearest_eval_id"),
            F.round("cosine_raw", 4).alias("max_cosine"),
            (F.col("cosine_raw") >= F.lit(threshold)).cast("int").alias(
                "contaminated"
            ),
        ),
    )


def ohlc_candle_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    interval_sec: int = 900,
) -> DataStreamWriter:
    """Streaming OHLC candle upsert (r10, VERDICT r9 ask #5): the live
    twin of the batch ``events_ohlc_15min`` query. Each micro-batch is
    aggregated to PARTIAL candles with the SAME shared raw-agg fragment
    the batch query compiles (operators/aggregates.py:ohlc_raw_aggs),
    then written as a ``v=<batch_id>`` delta partition (the module's
    replay-safe layout, so a re-delivered batch never double-counts a
    candle).

    The merge on (bucket_start, event_type) happens at READ
    (:func:`read_ohlc_candles`) with the associative combiner fragment:
    min/max of the (ts, id, value) open/close carrier structs and the
    exact decimal volume sum merge per-batch partials into candles
    BIT-EQUAL to the one-pass batch aggregate — including candles that
    straddle a micro-batch boundary (pinned in tests/test_streaming.py).
    At real scale the serving read is one small aggregate over candle
    partials (bounded by buckets × types × batches, not events);
    compact the delta partitions periodically with the same merge."""
    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_bucket,
        ohlc_raw_aggs,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: batch_df.groupBy(
            ohlc_bucket(interval_sec=interval_sec).alias("bucket_start"),
            "event_type",
        ).agg(*ohlc_raw_aggs()),
        version_col="v",
    )


def _ohlc_fs(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI.create(path if "://" in path else f"file://{path}")
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf), jvm


def _ohlc_base_gens(spark, out_path: str) -> list[tuple[int, str]]:
    """COMPLETE base generations under ``{out_path}/_base`` (underscore
    dirs are invisible to the delta parquet reader), ascending. A
    generation counts only with its _SUCCESS marker — a compaction that
    died mid-write never becomes visible."""
    fs, jvm = _ohlc_fs(spark, out_path)
    base_dir = jvm.org.apache.hadoop.fs.Path(f"{out_path}/_base")
    if not fs.exists(base_dir):
        return []
    gens = []
    for st in fs.listStatus(base_dir):
        name = st.getPath().getName()
        if not name.startswith("g="):
            continue
        ok = fs.exists(
            jvm.org.apache.hadoop.fs.Path(str(st.getPath()) + "/_SUCCESS")
        )
        if ok:
            gens.append((int(name[2:]), str(st.getPath())))
    return sorted(gens)


def _ohlc_state(spark, out_path: str):
    """(base_partials|None, covered_v, deltas|None): the latest complete
    base generation, the batch-id watermark it covers, and the raw
    delta frame (None when no v=* partition exists)."""
    gens = _ohlc_base_gens(spark, out_path)
    base, covered = None, -1
    if gens:
        base = spark.read.parquet(gens[-1][1])
        covered = int(
            base.agg(F.max("covered_v").alias("m")).collect()[0]["m"]
        )
    try:
        deltas = spark.read.parquet(out_path)
    except AnalysisException:
        deltas = None
    return base, covered, deltas


def read_ohlc_candles(
    spark: SparkSession, out_path: str, as_of: int | None = None
) -> DataFrame:
    """Serving view over :func:`ohlc_candle_sink`'s layout: merge the
    latest COMPLETE compacted base (if any) with every delta NEWER than
    the base's covered watermark, on (bucket_start, event_type), with
    the shared associative combiner — then surface the final candle
    columns (the exact schema the batch ``events_ohlc_15min`` query
    returns). Deltas at or below the watermark are ignored: they are
    either compaction leftovers (deletion is the LAST step and may not
    have happened yet) or an at-least-once replay of an already-
    compacted batch — both read-safe by construction.

    ``as_of`` = time travel over the candle layout itself: the candles
    as of batch id ``as_of`` (deltas above it ignored). Like every
    log-structured store, history is bounded by compaction — an
    ``as_of`` BELOW the base's covered watermark no longer exists as a
    distinct state and raises (the Delta/Iceberg retention semantic),
    rather than silently serving a wrong mixture."""
    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_merge_aggs,
        ohlc_surface,
    )

    base, covered, deltas = _ohlc_state(spark, out_path)
    if as_of is not None and as_of < covered:
        raise ValueError(
            f"candle state as of batch {as_of} was compacted away "
            f"(base covers through {covered}); compact less often or "
            "snapshot the layout before compaction to keep history"
        )
    parts = []
    if base is not None:
        parts.append(base.drop("covered_v"))
    if deltas is not None:
        d = deltas.where(F.col("v") > F.lit(covered))
        if as_of is not None:
            d = d.where(F.col("v") <= F.lit(int(as_of)))
        parts.append(d.drop("v"))
    if not parts:
        raise FileNotFoundError(f"no candle state under {out_path}")
    acc = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    merged = acc.groupBy("bucket_start", "event_type").agg(
        *ohlc_merge_aggs()
    )
    return ohlc_surface(merged)


def _ohlc_sweep_deltas(spark, out_path: str, up_to: int) -> None:
    """Delete delta partitions with v <= up_to — only ever called with
    an up_to the latest COMPLETE base generation already covers, so the
    reader cannot need them."""
    fs, jvm = _ohlc_fs(spark, out_path)
    root = jvm.org.apache.hadoop.fs.Path(out_path)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v="):
            try:
                if int(name[2:]) <= up_to:
                    fs.delete(st.getPath(), True)
            except ValueError:
                continue


def _checkpoint_committed_max(spark, checkpoint: str) -> int | None:
    """Highest batch id with a COMMIT marker under ``<checkpoint>/
    commits`` — the only batch ids a foreachBatch sink is guaranteed
    never to replay with different content. Files are named by batch id
    (Structured Streaming's CommitLog); ``.tmp``/non-numeric entries
    are in-flight or metadata and don't count."""
    fs, jvm = _ohlc_fs(spark, checkpoint)
    cdir = jvm.org.apache.hadoop.fs.Path(f"{checkpoint}/commits")
    if not fs.exists(cdir):
        return None
    best: int | None = None
    for st in fs.listStatus(cdir):
        name = st.getPath().getName()
        try:
            b = int(name)
        except ValueError:
            continue
        best = b if best is None else max(best, b)
    return best


def _ohlc_sweep_gens(
    spark, out_path: str, superseded: list[tuple[int, str]], keep_gens: int
) -> None:
    """Delete superseded base generations EXCEPT the newest
    ``keep_gens`` of them (ADVICE r10 #1): a reader that listed
    generations just before a compaction may still be mid-read on the
    previous latest generation, so superseded generations get a lazy
    retention window — each compaction keeps the last ``keep_gens``
    and sweeps the rest, so an old generation survives exactly
    ``keep_gens`` further compaction cycles before deletion."""
    fs, jvm = _ohlc_fs(spark, out_path)
    doomed = superseded[:-keep_gens] if keep_gens > 0 else superseded
    for _g, gpath in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(gpath), True)


def compact_ohlc_candles(
    spark: SparkSession,
    out_path: str,
    up_to: int | None = None,
    checkpoint: str | None = None,
    keep_gens: int = 1,
) -> None:
    """Periodic compaction for :func:`ohlc_candle_sink`'s delta layout,
    crash- and replay-safe by GENERATION, not in-place rewrite:

    1. merge the current base (if any) with deltas in
       ``covered < v <= up_to`` into one partial per candle;
    2. write it as a NEW base generation ``_base/g=<k+1>`` carrying
       ``covered_v = up_to`` (visible only once its _SUCCESS lands —
       a compaction that dies mid-write changes nothing);
    3. only then delete the absorbed ``v <= up_to`` delta partitions
       and superseded base generations beyond the ``keep_gens``
       retention window.

    Every failure window is benign: base written but deltas not yet
    deleted → the reader's ``v > covered`` filter ignores the
    leftovers, and a re-run is idempotent (it reads ``v > covered``,
    which excludes them too). An at-least-once replay of an absorbed
    batch id re-creates a ``v <= covered`` delta that the reader
    likewise ignores — the state it carried is already in the base. A
    LIVE sink may keep writing newer deltas concurrently: they sort
    above ``up_to`` and are neither merged nor deleted.

    The absorption bound is REQUIRED (ADVICE r10 #2): pass either an
    explicitly checkpoint-committed ``up_to`` batch id, or the sink's
    ``checkpoint`` directory to derive it (the highest batch id in the
    checkpoint's commit log). Deriving the bound from the deltas on
    disk was the old default and is unsafe beside a live stream — a
    batch whose files landed but whose checkpoint commit hasn't would
    be absorbed, and its replay would then be invisible behind the
    ``v > covered`` filter forever.

    ``keep_gens`` is the concurrent-reader grace window (ADVICE r10
    #1): superseded base generations are swept LAZILY, each compaction
    keeping the newest ``keep_gens`` of them, so a reader that listed
    generations just before this compaction can finish reading the
    previous generation. ``keep_gens=0`` restores eager deletion for
    single-process layouts. The merged rows keep the PARTIAL-state
    schema, so the associative combiner guarantees compaction can
    never change what :func:`read_ohlc_candles` returns (pinned in
    tests)."""
    if up_to is None:
        if checkpoint is None:
            raise ValueError(
                "compact_ohlc_candles needs an absorption bound: pass "
                "up_to=<checkpoint-committed batch id> or checkpoint="
                "<the sink's checkpoint dir> to derive it; absorbing "
                "whatever is on disk can swallow a batch whose "
                "checkpoint commit hasn't landed yet"
            )
        committed = _checkpoint_committed_max(spark, checkpoint)
        if committed is None:
            return
        up_to = committed
    base, covered, deltas = _ohlc_state(spark, out_path)
    if deltas is None:
        return
    if up_to <= covered:
        # nothing new to absorb — but sweep any absorbed-delta leftovers
        # (deletion-crash residue or replays of compacted batch ids) and
        # superseded generations that have aged out of the retention
        # window; the reader already ignores both, pure housekeeping
        _ohlc_sweep_deltas(spark, out_path, covered)
        _ohlc_sweep_gens(
            spark, out_path, _ohlc_base_gens(spark, out_path)[:-1], keep_gens
        )
        return
    from weather_data_data_pipeline_spark.operators.aggregates import (
        ohlc_merge_aggs,
    )

    fresh = deltas.where(
        (F.col("v") > F.lit(covered)) & (F.col("v") <= F.lit(int(up_to)))
    ).drop("v")
    acc = fresh if base is None else base.drop("covered_v").unionByName(
        fresh
    )
    merged = (
        acc.groupBy("bucket_start", "event_type")
        .agg(*ohlc_merge_aggs())
        .withColumn("covered_v", F.lit(int(up_to)))
    )
    gens = _ohlc_base_gens(spark, out_path)
    next_gen = (gens[-1][0] + 1) if gens else 0
    merged.write.mode("overwrite").parquet(
        f"{out_path}/_base/g={next_gen}"
    )
    # absorbed deltas (and aged-out superseded generations) go LAST —
    # the reader never needs them once g=<next_gen>'s _SUCCESS exists;
    # the newest keep_gens superseded generations stay for readers
    # already holding a pre-compaction listing
    _ohlc_sweep_deltas(spark, out_path, up_to)
    _ohlc_sweep_gens(spark, out_path, gens, keep_gens)


def url_blocklist_monitor_sink(
    stream: DataFrame,
    blocked_domains: tuple[str, ...],
    out_path: str,
    checkpoint: str,
    url_col: str = "raw_url",
) -> DataStreamWriter:
    """Live twin of the batch ``domain_blocklist_rollup`` policy
    preview: per micro-batch, canonicalize the arriving URLs with the
    SAME kernels the batch query compiles (functions/url.py), roll up
    per registrable domain, flag blocklisted domains, and write
    (domain, n_urls, blocked, batch_share) per batch — the monitor a
    crawl front-end runs so a blocked domain surging to 30% of a fetch
    batch pages someone BEFORE the batch lands in the corpus. The
    share is per-BATCH by construction (a monitor alarms on the
    arriving traffic, not the accumulated corpus; the batch query
    remains the corpus-wide view). Decimal-pinned shares, so the
    stream==batch equality test compares bits."""
    from weather_data_data_pipeline_spark.functions.url import (
        canonical_host,
        domain_share_rollup,
        registrable_domain,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: domain_share_rollup(
            batch_df.select(
                registrable_domain(canonical_host(url_col)).alias("domain")
            ),
            blocked_domains,
            "batch_share",
        ),
    )


def winnow_match_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
) -> DataStreamWriter:
    """Streaming partial-copy screening against a FROZEN winnowing
    fingerprint index (functions/winnow.py:build_winnow_index) — the
    live twin of the batch ``winnowing_overlap_pairs`` family for the
    serving shape where one side is a reference corpus: every arriving
    document is fingerprinted and probed against the index's postings,
    and matches land as (id, match_id, n_shared).

    Because the index is frozen and winnowing fingerprints a document
    in isolation, a document's matches depend only on itself — batch
    boundaries are irrelevant and the stream equals the batch probe
    over the union bit-for-bit (pinned in tests/test_winnow.py).
    State never grows with the stream — it IS the index, and the
    stop-fingerprint cap was already applied at index build."""
    from weather_data_data_pipeline_spark.functions.winnow import (
        winnow_probe_index,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: winnow_probe_index(
            batch_df.sparkSession,
            index_path,
            batch_df,
            id_col,
            text_col,
            k=k,
            w=w,
            min_shared=min_shared,
        ).select(id_col, "match_id", "n_shared"),
    )


def mem_match_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_tokens: int = 12,
) -> DataStreamWriter:
    """Streaming maximal-exact-match screening against a FROZEN
    positional-gram index (functions/dedup.py:build_mem_index) — the
    live twin of the batch ``exact_substring_mems`` family for the
    serving shape where one side is a reference corpus: every arriving
    document's MEMs against the index land as (id, match_id, start_a,
    start_b, match_tokens). Same contract as
    :func:`winnow_match_sink`, exact spans instead of sampled
    fingerprints: the index is frozen and a document's positional grams
    depend only on itself, so batch boundaries cannot change a MEM row
    and the stream equals the batch probe over the union bit-for-bit
    (pinned in tests/test_span_removal.py). State never grows with the
    stream — it IS the index, and the stop-gram cap was already applied
    at index build."""
    from weather_data_data_pipeline_spark.functions.dedup import (
        mem_probe_index,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: mem_probe_index(
            batch_df.sparkSession,
            index_path,
            batch_df,
            id_col,
            text_col,
            n=n,
            min_tokens=min_tokens,
        ).select(id_col, "match_id", "start_a", "start_b", "match_tokens"),
    )


def mem_clean_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_tokens: int = 12,
) -> DataStreamWriter:
    """Streaming decontamination CLEANING against a FROZEN positional-
    gram index (functions/dedup.py:build_mem_index) — the live twin of
    the batch ``exact_substring_clean`` family for the serving shape
    where one side is a frozen reference/training corpus: every
    arriving document has its maximal >=min_tokens-token spans shared
    with the index CUT (the reference keeps its copy) and lands
    reassembled as (id, clean_text, n_tokens, kept_tokens).
    Same contract as :func:`mem_match_sink`, with the rebuild executed
    instead of reported: the index is frozen and a document's grams,
    cut islands, and rebuilt text depend only on itself, so batch
    boundaries cannot change a cleaned row and the stream equals the
    batch :func:`~weather_data_data_pipeline_spark.functions.dedup.
    mem_probe_clean` over the union bit-for-bit (pinned in
    tests/test_span_removal.py). State never grows with the stream —
    it IS the index, and the stop-gram cap was already applied at index
    build."""
    from weather_data_data_pipeline_spark.functions.dedup import (
        mem_probe_clean,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: mem_probe_clean(
            batch_df.sparkSession,
            index_path,
            batch_df,
            id_col,
            text_col,
            n=n,
            min_tokens=min_tokens,
        ).select(id_col, "clean_text", "n_tokens", "kept_tokens"),
    )


def ccnet_clean_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming CCNet line-level boilerplate CLEANING against a FROZEN
    :func:`~weather_data_data_pipeline_spark.functions.text.
    build_line_index` head (VERDICT r14 ask #8) — the live twin of the
    batch ``ccnet_line_clean`` for the serving shape where the
    boilerplate frequency state is frozen from a reference crawl: every
    arriving document has its reference-boilerplate lines dropped and
    lands reassembled as (id, clean_text, n_lines, kept_lines).
    Completes the index/probe/sink trio for the CCNet
    family (MinHash, winnow, and MEM already have theirs).

    A document's cleaned form depends only on itself and the frozen
    head, so batch boundaries cannot change a row and the stream equals
    the batch :func:`~weather_data_data_pipeline_spark.functions.text.
    line_boilerplate_probe_clean` over the union bit-for-bit (pinned in
    tests/test_line_dedup.py). State never grows with the stream — it
    IS the Zipf-bounded index head, broadcast into every micro-batch."""
    from weather_data_data_pipeline_spark.functions.text import (
        line_boilerplate_probe_clean,
    )

    return _per_batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch_df: line_boilerplate_probe_clean(
            batch_df.sparkSession, index_path, batch_df, id_col, text_col
        ).select(id_col, "clean_text", "n_lines", "kept_lines"),
    )
