"""Incremental / streaming operators over the events stream.

The reference's entire streaming story is an Airflow cron re-running
batch every 6 h (crypto_etl_pipeline.py:370, ``catchup=False``) — no
state, no watermark, no late-data policy. The faithful Spark mapping
of THAT is ``Trigger.AvailableNow`` on a file source: each run
incrementally processes exactly the files that arrived since the last
checkpoint, then stops — a batch cadence with exactly-once bookkeeping
the cron never had.

On top of that this module adds the true streaming operators the
extension surface mandates (BASELINE.json north star): watermarked
tumbling-window aggregation, watermarked stream dedup, and a custom
stateful sessionizer via ``applyInPandasWithState`` (Arrow-batched;
state is a per-user running session).

Scale posture: every operator keys its state by a high-cardinality
column (user_id / event_id), so state partitions across executors;
watermarks bound state size; no operator ever collects to the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# File-stream schema: ts arrives as raw ns-long under
# spark.sql.legacy.parquet.nanosAsLong (session.py) — converted below.
_EVENT_FILE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

#: seconds an AvailableNow drain may take before it is stopped and
#: reported as a TimeoutError (a partially-drained sink is never returned)
DRAIN_TIMEOUT_SEC = 120


def read_event_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of event parquet files landing in a directory.

    New files are discovered per micro-batch; with AvailableNow the
    query drains whatever is present and stops (the reference's 6-hourly
    batch cadence, minus the from-scratch recompute).
    """
    # A stream needs its schema up front; probe the landed files with a
    # one-off batch read (parquet footers only — no data scan) so the
    # same pipeline accepts all three physical encodings of `ts` the
    # driver testdata has shipped: TIMESTAMP(NANOS) surfaced as ns-long
    # (legacy.parquet.nanosAsLong), TIMESTAMP_NTZ (no-timezone us), and
    # plain TIMESTAMP.
    ts_kind = dict(spark.read.parquet(input_dir).dtypes).get("ts", "timestamp")
    file_schema = StructType(
        [
            StructField(
                "ts",
                {"bigint": LongType(), "timestamp_ntz": TimestampNTZType()}.get(
                    ts_kind, TimestampType()
                ),
            )
            if f.name == "ts"
            else f
            for f in _EVENT_FILE_SCHEMA.fields
        ]
    )
    raw = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    if ts_kind == "bigint":
        # Integer `div`, not `/`: float division of ns epochs (> 2^53)
        # jitters low bits (see sources/tables.py).
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_kind == "timestamp_ntz":
        # Session tz is UTC (session.py): NTZ -> LTZ keeps wall clock
        # and instant identical to DuckDB's naive-in-UTC reading.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def hourly_rollup_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-hour rollup by event type.

    The 2-hour watermark bounds aggregation state: windows older than
    (max event time - 2 hours) are finalized and their state dropped.

    '_sentinel' rows (the watermark-sentinel files a drain appends) are
    filtered AFTER the watermark node, so they still advance event time
    but never create window state.
    """
    # The vacuous ts-null disjunct REFERENCES the watermark column,
    # which pins this filter ABOVE the EventTimeWatermark node:
    # Catalyst pushes ts-free deterministic predicates below it
    # (PushPredicateThroughNonJoin), and a sentinel filtered below
    # the node never advances the watermark (measured: the last
    # 2 h of windows never emit).
    keep = ~F.col("event_type").isin("_sentinel") | F.col("ts").isNull()
    src = events.withWatermark("ts", "2 hours").filter(keep)
    return (
        src
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps the first occurrence per key
    and expires key-state once the watermark passes — bounded state,
    unlike a global dropDuplicates on a stream.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _fold_sessions(pdfs, cur, gap_us: int):
    """Shared per-key session fold: consume Arrow batches, return
    (closed_sessions, open_state) where state is [start_us, end_us, n,
    sum_value]. Used by BOTH stateful APIs (applyInPandasWithState and
    transformWithStateInPandas) so their semantics cannot drift."""
    if cur is not None:
        start_us, end_us, n, sv = cur
    else:
        start_us = end_us = n = 0
        sv = 0.0
    closed: list[tuple[int, int, int, float]] = []
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for ts, value in zip(pdf["ts"], pdf["value"]):
            t_us = ts.value // 1000
            v = float(value) if pd.notna(value) else 0.0
            if n == 0:
                start_us, end_us, n, sv = t_us, t_us, 1, v
            elif t_us - end_us > gap_us:
                closed.append((start_us, end_us, n, sv))
                start_us, end_us, n, sv = t_us, t_us, 1, v
            else:
                end_us, n, sv = max(end_us, t_us), n + 1, sv + v
    return closed, [start_us, end_us, n, sv]


def _session_frame(user_id, closed):
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(closed),
            "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in closed],
            "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in closed],
            "n_events": [c for _, _, c, _ in closed],
            "sum_value": [v for _, _, _, v in closed],
        }
    )


def _sessionize_fn(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cur = tuple(state.get) if state.exists else None
        closed, new_state = _fold_sessions(pdfs, cur, gap_us)
        state.update(tuple(new_state))
        if closed:
            yield _session_frame(user_id, closed)

    return fn


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful operator: gap-based sessionization per user.

    ``applyInPandasWithState`` — Arrow batches in, per-key mutable state
    (session accumulator). This is the §2.13 'custom stateful streaming
    operator' pattern the built-in windowing cannot express (session
    windows keyed on inter-event gaps with custom accumulators).

    A session closes when a later event for the same user arrives past
    the gap; state keeps each user's open session, including the final
    one, which is never emitted. There is no timeout: output is a pure
    function of the input — identical across replays and micro-batch
    layouts, which is what the oracle checks. (An event-time timeout
    would bound state for users that go quiet, at the cost of output
    depending on how far the watermark advanced during a replay.)
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn(gap_seconds),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_stream_tws(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap sessionization on ``transformWithStateInPandas`` — Spark 4's
    successor to applyInPandasWithState (SPARK-46815, arbitrary
    stateful processing v2): state is a NAMED typed variable on a
    StatefulProcessor handle instead of one opaque per-key tuple, the
    processor can hold several independent state variables with
    per-variable TTL, and the operator REQUIRES the RocksDB state-store
    provider (callers pass it via run_available_now(extra_confs=...)).

    Registered in the deterministic no-timer mode (timeMode="none"),
    the same contract as the applyInPandasWithState oracle mode: output
    is a pure function of the input, final open sessions stay in state.
    The per-key accumulation is the SAME _fold_sessions kernel the v1
    operator uses, so the two APIs are differential twins by
    construction — one oracle pins both.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_seconds * 1_000_000

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._session = handle.getValueState("session", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            cur = self._session.get() if self._session.exists() else None
            closed, cur = _fold_sessions(rows, cur, gap_us)
            self._session.update(tuple(cur))
            if closed:
                yield _session_frame(user_id, closed)

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        SessionProcessor(),
        outputStructType=SESSION_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


#: conf the TWS operator needs: transformWithState mandates RocksDB.
TWS_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    progress_out: dict | None = None,
    state_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink.

    ``state_partitions``: number of state-store partitions for the
    query's stateful operators. Structured Streaming pins this from
    ``spark.sql.shuffle.partitions`` at FIRST-batch planning and it can
    never change for the checkpoint's lifetime — so it should be sized
    to the stateful operator's KEY CARDINALITY and write throughput,
    not inherited from the batch shuffle default (measured here: a
    ~3.4k-window aggregate pays ~1.6 s/drain of pure per-partition
    HDFSBackedStateStore commit overhead at 32 partitions vs 8). The
    conf is scoped around the drain and restored after; drains in this
    package are serial, and a production deployment sets the session
    value once at startup instead.

    Returns the sink table as a batch DataFrame. The sink runs in
    'append' mode: it emits only watermark-finalized rows and drops
    their state.

    ``progress_out``: optional dict populated with the drained query's
    ``lastProgress``/``recentProgress`` so callers (tests) can assert
    state-store behavior (e.g. that a watermark swept the state empty).

    Raises TimeoutError if the drain does not finish within
    ``DRAIN_TIMEOUT_SEC`` — a partially-drained sink is WRONG data, never
    silently returned (the query is stopped before raising).
    """
    spark = stream_df.sparkSession
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    restore: dict[str, str | None] = {}
    for k, v in (extra_confs or {}).items():
        try:
            restore[k] = spark.conf.get(k)
        except Exception:
            restore[k] = None
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(DRAIN_TIMEOUT_SEC)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"stream {query_name!r} did not drain within {DRAIN_TIMEOUT_SEC}s; "
                "sink is partial — refusing to return it"
            )
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if progress_out is not None:
        progress_out["lastProgress"] = q.lastProgress
        progress_out["recentProgress"] = q.recentProgress
    return spark.table(query_name)


def interval_join_streams(
    purchases: DataFrame,
    clicks: DataFrame,
    how: str = "inner",
    keep_sentinels: bool = False,
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    clicks from the preceding 24 hours (86,400 s).

    The canonical attribution shape. Both sides carry watermarks and the
    join condition bounds event-time distance, so the state store can
    evict rows once the other side's watermark passes their ts +
    interval — without the time bound a stream-stream join would keep
    BOTH sides' full history in state forever. Inner-join output is a
    pure function of the inputs (every in-bound match is emitted
    regardless of watermark pacing), which is what the batch oracle
    checks; the watermark only governs state eviction.

    ``how="left_outer"``: unmatched purchases additionally emit with
    null click columns — but only once the GLOBAL watermark (min over
    both sides' nodes) proves no in-bound click can still arrive, the
    same watermark-closed discipline as append-mode windows. A bounded
    drain therefore needs far-future sentinels visible to BOTH sides'
    watermark nodes: ``keep_sentinels`` lets '_sentinel' rows through
    the event-type pre-filters (they advance event time; callers drop
    their join output by key sign). Each side's filter ALSO keeps its
    watermark column referenced upstream, so the per-side pre-filter
    sits below its own watermark node harmlessly — the sentinel rows
    themselves are what must survive to the node.

    ``how="full_outer"``: BOTH directions of absence — unmatched clicks
    additionally emit with null purchase columns under the identical
    watermark proof. Same state bounds; the only structural delta is
    that click-side eviction now emits the evicted row (with nulls)
    instead of dropping it.
    """
    p_keep = F.col("event_type") == "purchase"
    c_keep = F.col("event_type") == "click"
    if keep_sentinels:
        p_keep = p_keep | (F.col("event_type") == "_sentinel")
        c_keep = c_keep | (F.col("event_type") == "_sentinel")
    p = (
        purchases.where(p_keep)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("user_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "35 days")
    )
    c = (
        clicks.where(c_keep)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.col("user_id").alias("c_user_id"),
        )
        .withWatermark("c_ts", "35 days")
    )
    cond = (
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 86400 SECOND"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p.join(c, cond, how).select(
        "purchase_id",
        "click_id",
        # full_outer emits click-only rows whose purchase-side user_id is
        # null — surface whichever side is present (equal on matches).
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "p_ts",
        "c_ts",
        "purchase_value",
    )


def _prune_versions(base_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` newest ``v{n}`` snapshot directories.

    Retention discipline for the versioned-snapshot sinks: without it
    the ``v{n}`` chain grows with stream lifetime (unbounded storage).
    Deleting is safe for replay because Structured Streaming can only
    replay batch ids AFTER the last checkpoint commit, whose
    strictly-below base is the newest surviving version — keeping the
    top ``keep >= 2`` versions always preserves it.

    Crash safety mirrors compact_parquet's swap discipline: each doomed
    version is atomically RENAMED to a ``_gc_`` name first (invisible to
    the ``v*`` glob readers use), then deleted — a crash mid-delete can
    never leave a half-deleted directory that looks like a valid
    version. Stale ``_gc_`` leftovers from a previous crash are swept at
    entry.
    """
    import glob as _glob
    import os
    import shutil

    for t in _glob.glob(f"{base_dir}/_gc_v*"):
        shutil.rmtree(t, ignore_errors=True)
    keep = max(keep, 2)
    versions = sorted(
        _glob.glob(f"{base_dir}/v*"), key=lambda p: int(p.rsplit("v", 1)[1])
    )
    for p in versions[:-keep]:
        trash = os.path.join(os.path.dirname(p), "_gc_" + os.path.basename(p))
        os.rename(p, trash)
        shutil.rmtree(trash, ignore_errors=True)


def _run_versioned_merge_stream(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    reduce_batch,
    merge,
    empty_base=None,
    retain_versions: int = 3,
    label: str = "stream",
    finalize=None,
) -> DataFrame:
    """THE versioned-snapshot foreachBatch driver, shared by every
    mergeable-state stream in this module (CDC snapshot, histogram
    sketch, Misra-Gries, KMV). One implementation of the scaffold that
    must never diverge between them:

    - ``_latest(below=batch_id)``: strictly-below-batch-id recovery —
      a replayed batch rebuilds v{batch_id} from v{batch_id-1}, never
      from its own possibly-torn output (parquet overwrite is not
      atomic);
    - idempotent versioned overwrite + :func:`_prune_versions`
      retention (crash-safe _gc_ rename-then-delete);
    - ``trigger(availableNow=True)`` drain with a hard timeout.

    Per-stream behavior plugs in as callables: ``reduce_batch(df)``
    maps a micro-batch to its delta state, ``merge(base, delta)``
    combines states (must be associative + commutative — the replay-
    order argument), ``empty_base()`` optionally supplies the state
    for batch 0 (CDC's seed snapshot; default None -> first delta IS
    the state), ``finalize(state)`` optionally post-processes the
    drained state into the returned frame.
    """
    import glob as _glob

    spark = stream.sparkSession

    def _latest(below: int | None = None):
        versions = sorted(
            _glob.glob(f"{store_dir}/v*"), key=lambda p: int(p.rsplit("v", 1)[1])
        )
        if below is not None:
            versions = [p for p in versions if int(p.rsplit("v", 1)[1]) < below]
        if versions:
            return spark.read.parquet(versions[-1])
        return empty_base() if empty_base is not None else None

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = reduce_batch(batch_df)
        base = _latest(below=batch_id)
        merged = delta if base is None else merge(base, delta)
        merged.write.mode("overwrite").parquet(f"{store_dir}/v{batch_id}")
        _prune_versions(store_dir, retain_versions)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_SEC):
        q.stop()
        raise TimeoutError(f"{label} did not drain within {DRAIN_TIMEOUT_SEC}s")
    final = _latest()
    if empty_base is None:
        assert final is not None, f"{label} produced no batches"
    return finalize(final) if finalize is not None else final



def run_cdc_stream(
    changes_stream: DataFrame,
    snapshot_seed: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    retain_versions: int = 3,
) -> DataFrame:
    """Maintain a parquet snapshot from a stream of CDC changesets.

    ``foreachBatch`` + :func:`operators.cdc.apply_changeset`: each
    micro-batch applies its changes, keyed on ``k``, to the latest snapshot version and
    writes ``{snapshot_dir}/v{batch_id}``. Versioned directories make
    the sink idempotent — a replayed batch_id overwrites its own
    version, which together with the checkpoint gives exactly-once
    snapshot maintenance (the lakehouse MERGE loop, minus a table
    format). Returns the final snapshot as a batch DataFrame.

    ``retain_versions`` bounds snapshot storage: after each batch the
    chain is pruned to the newest K versions (min 2 — the replay base
    must survive; see :func:`_prune_versions`).
    """
    from crypto_etl_pipeline_spark.operators.cdc import apply_changeset

    return _run_versioned_merge_stream(
        changes_stream,
        snapshot_dir,
        checkpoint_dir,
        reduce_batch=lambda batch_df: batch_df,
        merge=lambda base, delta: apply_changeset(base, delta, key="k"),
        empty_base=lambda: snapshot_seed,
        retain_versions=retain_versions,
        label="CDC stream",
    )


def run_sketch_rollup_stream(
    events: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Continuous aggregate over a stream via MERGEABLE sketch state.

    Each micro-batch reduces to fixed-bin histogram counts
    (``bin = clamp(floor(value / 5.0), 0, 99)``) and MERGES
    them into the running sketch by per-(event_type, bin) ADDITION —
    the property that makes histogram sketches (and HLL, and count-min)
    the right state representation for streaming aggregates: state
    size is bounded by entities x bins regardless of stream length,
    and merge is associative + commutative, so replay order cannot
    change the result. Versioned snapshots + strictly-below-batch-id
    recovery give the same exactly-once discipline as run_cdc_stream.
    Fixed bins (not data-dependent bounds) are deliberate: a stream
    cannot know the global min/max up front, and fixed bins keep every
    batch's sketch mergeable with every other's. Returns the final
    merged (event_type, bin, c) sketch as a batch DataFrame.
    """
    from crypto_etl_pipeline_spark.operators.sketch import (
        fixed_bin,
        histogram_sketch,
        merge_sketches,
    )

    return _run_versioned_merge_stream(
        events,
        sketch_dir,
        checkpoint_dir,
        reduce_batch=lambda batch_df: histogram_sketch(
            batch_df.where(F.col("value").isNotNull()),
            fixed_bin(F.col("value")),
        ),
        merge=lambda base, delta: merge_sketches(base, delta),
        label="sketch rollup stream",
    )


def run_mg_stream(events: DataFrame, store_dir: str, checkpoint_dir: str) -> DataFrame:
    """Streaming frequent items via a MERGEABLE Misra-Gries store.

    Each micro-batch reduces to its MG(k=5) summary (per-partition
    partials summed and pruned); the running store merges summaries by
    weight addition + prune-to-(k-1) — the Agarwal et al. mergeable-
    summaries property, the frequency-domain sibling of the histogram
    sketch rollup above. State is <= k-1 rows FOREVER, whatever the
    stream length or key domain, and merge is associative, so replay
    order cannot change the result. Versioned snapshots +
    strictly-below-batch-id recovery + retention follow
    run_sketch_rollup_stream exactly.

    Returns the final merged summary: a candidate SUPERSET of every
    term with global count > n/k (errors add across merges, so
    w(t) >= count(t) - n/k end to end). The read side
    (queries/streaming.stream_heavy_hitters) runs the exact verify
    pass against the hypertable — the same candidate-verify discipline
    as the batch operator (operators/sketch.heavy_hitters_exact).
    """
    from crypto_etl_pipeline_spark.operators.sketch import (
        merge_mg_summaries,
        misra_gries_partials,
    )

    spark = events.sparkSession
    return _run_versioned_merge_stream(
        events,
        store_dir,
        checkpoint_dir,
        reduce_batch=lambda batch_df: misra_gries_partials(batch_df, "event_type", 5),
        merge=lambda base, delta: merge_mg_summaries(base, delta, 5),
        empty_base=lambda: spark.createDataFrame([], "term string, w long"),
        label="MG stream",
    )


def run_kmv_distinct_stream(
    events: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 64,
) -> DataFrame:
    """Streaming distinct-user estimation via MERGEABLE KMV state
    (the run_sketch_rollup_stream discipline applied to cardinality):
    each micro-batch reduces to its per-event_type k-minimum-hash
    sketch, merges with the running sketch by min-k-of-union (see
    operators/sketch.kmv_merge — associative + commutative, so replay
    order cannot change the result), and writes a versioned snapshot
    with strictly-below-batch-id recovery (exactly-once). State is
    bounded at groups x k hashes no matter how long the stream runs —
    the property that lets a 100 TB event firehose serve distinct-user
    dashboards from kilobytes of state. Returns the final
    (grp, sketch_size, distinct_est) estimates as a batch frame.
    """
    from crypto_etl_pipeline_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    return _run_versioned_merge_stream(
        events,
        store_dir,
        checkpoint_dir,
        reduce_batch=lambda batch_df: kmv_sketch(batch_df, "event_type", k),
        merge=lambda base, delta: kmv_merge(base, delta, k),
        label="KMV distinct stream",
        finalize=lambda final: kmv_estimate(final, k),
    )


def run_mv_rollup_stream(
    events: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming materialized-view maintenance for the hourly rollup:
    the EXACT-aggregate twin of run_sketch_rollup_stream, and the
    streaming form of queries.timeseries.incremental_rollup_merge.

    Each micro-batch reduces to (hour, event_type) partials —
    count / sum / min / max, the four classic algebraic aggregates —
    and merges into the running MV: counts and sums ADD, min/max FOLD
    (least/greatest). All four merges are associative + commutative,
    so replay order cannot change the result and the drained MV must
    equal one batch GROUP BY over the whole stream — the correctness
    contract the oracle replays. State size is hours x types
    regardless of stream length; versioned snapshots + strictly-
    below-batch-id recovery give the exactly-once discipline shared
    by every store in this module.
    """

    def _reduce(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    def _merge(base: DataFrame, delta: DataFrame) -> DataFrame:
        b, d = base.alias("b"), delta.alias("d")
        j = b.join(
            d,
            (F.col("b.hour") == F.col("d.hour"))
            & (F.col("b.event_type") == F.col("d.event_type")),
            "full_outer",
        )
        return j.select(
            F.coalesce(F.col("b.hour"), F.col("d.hour")).alias("hour"),
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias("event_type"),
            (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
            # NULL-sum SQL semantics: a partial is NULL either because
            # the side is absent from the outer join OR because every
            # value in its group was NULL — in both cases only coalesce
            # to 0 when at least one side carries a real partial, so an
            # all-NULL group drains as NULL exactly like the oracle's
            # single-batch GROUP BY (batch-equivalence contract).
            F.when(
                F.col("b.s").isNull() & F.col("d.s").isNull(), F.lit(None)
            )
            .otherwise(
                F.coalesce(F.col("b.s"), F.lit(0.0))
                + F.coalesce(F.col("d.s"), F.lit(0.0))
            )
            .alias("s"),
            F.least(
                F.coalesce(F.col("b.mn"), F.col("d.mn")),
                F.coalesce(F.col("d.mn"), F.col("b.mn")),
            ).alias("mn"),
            F.greatest(
                F.coalesce(F.col("b.mx"), F.col("d.mx")),
                F.coalesce(F.col("d.mx"), F.col("b.mx")),
            ).alias("mx"),
        )

    def _finalize(state: DataFrame) -> DataFrame:
        return state.select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            F.col("n").alias("n_events"),
            F.round("s", 4).alias("sum_value"),
            F.round("mn", 6).alias("min_value"),
            F.round("mx", 6).alias("max_value"),
        )

    return _run_versioned_merge_stream(
        events,
        store_dir,
        checkpoint_dir,
        reduce_batch=_reduce,
        merge=_merge,
        label="mv rollup stream",
        finalize=_finalize,
    )
