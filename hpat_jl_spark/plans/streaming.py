"""Driver-gated streaming queries: Structured Streaming plans executed
to completion inside a registered query via an ``availableNow`` trigger,
so the streaming layer gets DuckDB-oracle CORRECTNESS rows instead of
resting on tests alone.

``availableNow`` processes every file present at start and terminates —
the streaming micro-batch engine runs the real stateful operators
(window aggregation state store, watermarks), but the result is a
deterministic function of the fixture, so a plain batch GROUP BY is an
exact oracle. This IS the stream==batch equivalence the tests pin,
promoted to the driver gate. Reference analogue: none (SURVEY §2.8 —
the reference has no streaming); this is the new-surface layer.

At scale the same plan runs unbounded (Kafka source, append mode with
watermark eviction bounding state); the memory sink + complete mode here
are the bounded-replay twin — complete mode because the final windows
would otherwise sit unemitted behind the watermark at end-of-stream.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql import functions as F

from hpat_jl_spark.registry import register
from hpat_jl_spark.session import scan_split_count
from hpat_jl_spark.streaming.sources import stream_events
from hpat_jl_spark.tables import load_table
from hpat_jl_spark.workdirs import session_workdir, staged
from hpat_jl_spark.streaming.windows import (
    sessionize_stream,
    sliding_counts,
    stream_stream_purchase_after_view,
    tumbling_counts,
)


def _stage_events_dir(sf_dir: str, copies: int = 1) -> str:
    """File-source streams watch directories; symlink the fixture
    parquet into a staged dir (no copy), built once per process for
    each (sf_dir, copies), so the sweeps and the bench's reps reuse it.
    ``copies`` > 1 stages the same data under several names — an
    exact-duplicate replay for dedup tests. Handles both fixture
    layouts: a single events.parquet FILE (driver testdata) and a
    DIRECTORY of part-files (real lake layout / the scaling probe's
    staged tables) — the file source lists files, not subdirectories,
    so directory sources are staged per part-file."""
    # the links resolve from the staged dir, not the working directory
    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")

    def build(d: str) -> None:
        if os.path.isdir(src):
            parts = sorted(
                f for f in os.listdir(src)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            for i in range(copies):
                for p in parts:
                    os.symlink(
                        os.path.join(src, p), os.path.join(d, f"events_{i}_{p}")
                    )
        else:
            for i in range(copies):
                os.symlink(src, os.path.join(d, f"events_{i}.parquet"))

    return staged(f"stage_events{copies}", sf_dir, build)


# Spark's checkpoint manager over Hadoop's FileSystem API. Spark's
# default, the FileContext-based manager, checks renames and existence
# with getFileLinkStatus, which Hadoop's RawLocalFileSystem answers
# without the native library by forking `readlink`.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_WIDTH_KEY = "spark.sql.shuffle.partitions"

# Serializes the conf overrides in _start_bounded, so two replays
# started from different threads cannot restore each other's overrides
# as the session's values.
_START_LOCK = threading.Lock()

# how long _start_bounded waits for the stream thread to initialize
_INIT_TIMEOUT_MS = 60_000


def _start_bounded(
    spark: SparkSession, writer: DataStreamWriter, source_dir: str | None = None
) -> StreamingQuery:
    """Start a bounded replay: a stream with a fresh temporary checkpoint
    (no ``checkpointLocation``) that runs to completion. Two session
    confs are set from just before ``writer.start()`` until the stream
    thread has initialized the query (``awaitInitialization``), then
    restored, or unset again, in ``finally``. The query keeps both for
    its life (it clones the session conf and creates its logs in that
    window), so neither reaches the caller. Waiting for initialization
    matters: the stream thread builds the file source's ``sources/0``
    log from the caller's session after ``start()`` returns, and a
    restore right after ``start()`` gave that log the default manager
    in 5 of 8 ``stream_foreach_batch_upsert`` calls.

    - The checkpoint manager is ``FileSystemBasedCheckpointFileManager``
      unless the session already names one. Spark's default manager
      makes Hadoop's local filesystem fork ``readlink`` twice for each
      checkpoint path it renames or checks: 64 of the 89 processes a
      ``stream_tumbling_counts`` replay forked, ~3.5 ms each on a 4-core
      Xeon VM. A temporary checkpoint is a fresh local directory with
      one writer, so a plain ``File.renameTo`` is all it needs; the
      ``.crc`` sidecars and the state store checksums stay. The 25
      ``chmod`` forks that remain (``RawLocalFileSystem.setPermission``
      on each file, sidecar and directory) need the native Hadoop
      library to go.
    - With ``source_dir`` (the directory the stream reads) the query
      also starts with ``min(spark.sql.shuffle.partitions,
      scan_split_count(source_dir))`` state partitions. AQE is off for
      stateful streams, so the shuffle setting is an exact fan-out, not
      a ceiling: a one-row-group replay would otherwise pay for 8-32
      state-store tasks that each mostly wait on checkpoint file I/O.
      A split-rich input at scale gets back the full setting. Leave it
      out where the width would change other plans (foreachBatch
      bodies run without AQE too).

    A stream with a persistent checkpoint must not start here: its
    state width is fixed by the checkpoint, and the checkpoint may sit
    on HDFS or an object store, where the default manager's atomic
    rename matters."""
    overrides = {}
    with _START_LOCK:
        if spark.conf.get(_MANAGER_KEY, None) is None:
            overrides[_MANAGER_KEY] = _FS_CHECKPOINT_MANAGER
        if source_dir is not None:
            width = min(
                int(spark.conf.get(_WIDTH_KEY)), scan_split_count(spark, source_dir)
            )
            overrides[_WIDTH_KEY] = str(width)
        prev = {key: spark.conf.get(key, None) for key in overrides}
        try:
            for key, value in overrides.items():
                spark.conf.set(key, value)
            q = writer.start()
            try:
                q._jsq.streamingQuery().awaitInitialization(_INIT_TIMEOUT_MS)
            except Py4JJavaError:
                pass  # the query died; awaitTermination raises its error
            return q
        finally:
            for key, value in prev.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)


def _run_to_memory(
    stream_df: DataFrame, mode: str, prefix: str, source_dir: str
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    uniquely-named memory sink and return the sink as a batch DataFrame.
    Unique names: the determinism sweep runs every query twice.

    ``source_dir`` is the directory the stream reads (the one
    ``_stage_events_dir`` returned); ``_start_bounded`` narrows the
    state width to its splits. The sink's temp view is dropped once the
    returned DataFrame is analyzed: the DataFrame keeps the sink's rows,
    and the session's catalog does not grow by one view per call."""
    spark = stream_df.sparkSession
    sink = f"{prefix}_{uuid.uuid4().hex[:12]}"
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    _start_bounded(spark, writer, source_dir).awaitTermination()
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


_stream_tumbling_oracle = """
SELECT date_trunc('hour', ts) AS win_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


@register(
    "stream_tumbling_counts",
    oracle=_stream_tumbling_oracle,
    tags=("streaming", "headline", "not_same_work"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour per-event-type counts computed BY THE STREAMING
    ENGINE (state store, micro-batches) over a bounded replay of the
    events fixture; the oracle is the equivalent batch GROUP BY — the
    hash match proves the streaming window operator agrees with batch
    semantics exactly (hour-aligned windows == date_trunc).

    The memory-sink table name is unique per invocation so repeated
    runs (the determinism sweep runs every query twice) never collide.
    """
    staged = _stage_events_dir(sf_dir)
    ev = stream_events(spark, staged)
    out = _run_to_memory(
        tumbling_counts(ev, window="1 hour", watermark="2 hours"),
        mode="complete",
        prefix="stream_tumbling",
        source_dir=staged,
    )
    return out.select(
        F.col("start").alias("win_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "total_value",
    )


# Sliding 1h/15m windows: every event lands in exactly window/slide = 4
# epoch-aligned windows, so the batch twin materializes the 4 window
# starts per event with UNNEST and aggregates — same state-store math,
# zero streaming machinery on the oracle side.
_stream_sliding_oracle = """
SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000
                      - k::BIGINT * 900000000) AS win_start,
       event_type,
       count(*)::BIGINT AS n_events
FROM events, UNNEST([0, 1, 2, 3]) AS u(k)
GROUP BY 1, 2
"""


@register("stream_sliding_counts", oracle=_stream_sliding_oracle, tags=("streaming",))
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 hour window, 15 minute slide) per-event-type
    counts computed by the streaming engine over a bounded replay. Each
    event belongs to 4 overlapping windows; the oracle expands that
    membership explicitly. Proves the overlapping-window state logic
    (one state row per (window, type), not per event) against batch."""
    staged = _stage_events_dir(sf_dir)
    ev = stream_events(spark, staged)
    out = _run_to_memory(
        sliding_counts(ev, window="1 hour", slide="15 minutes", watermark="2 hours"),
        mode="complete",
        prefix="stream_sliding",
        source_dir=staged,
    )
    return out.select(
        F.col("start").alias("win_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# session_window merges an event into the current session while
# ts < prev_end (= prev_ts + gap), i.e. a NEW session starts when the
# gap is >= 30 min — note the boundary differs from the batch
# sessionize_events oracle (strict >): half-open session intervals.
_stream_session_oracle = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS session_value
FROM numbered
GROUP BY user_id, sid
"""


@register(
    "stream_session_windows", oracle=_stream_session_oracle, tags=("streaming",)
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via the streaming
    engine's merging session_window state — the reference's designed q02
    sessionization (examples/queries_devel/q02.jl) in streaming form.
    The oracle rebuilds sessions with the lag/gap-island construction;
    session_end is last-event + gap (session_window's half-open end)."""
    staged = _stage_events_dir(sf_dir)
    ev = stream_events(spark, staged)
    out = _run_to_memory(
        sessionize_stream(ev, gap="30 minutes", watermark="2 hours"),
        mode="complete",
        prefix="stream_session",
        source_dir=staged,
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
        "session_value",
    )


_stream_join_oracle = """
SELECT p.event_id AS p_event_id,
       p.user_id AS p_user,
       p.ts AS p_ts,
       v.ts AS v_ts,
       v.value AS v_value
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


@register(
    "stream_stream_join_purchases", oracle=_stream_join_oracle, tags=("streaming",)
)
def stream_stream_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's views in the preceding hour. Both sides buffer watermark-
    bounded state; the time-range predicate lets Spark evict rows that
    can no longer match. The bounded replay emits exactly the batch
    inequality join (the oracle), proving no matches are lost or
    duplicated by the state machinery."""
    staged = _stage_events_dir(sf_dir)
    ev = stream_events(spark, staged)
    out = _run_to_memory(
        stream_stream_purchase_after_view(ev, watermark="1 hour"),
        mode="append",
        prefix="stream_join",
        source_dir=staged,
    )
    return out.select("p_event_id", "p_user", "p_ts", "v_ts", "v_value")


# The stream replays the fixture TWICE (two staged copies), so every
# event_id arrives exactly twice; the single-copy batch aggregate is the
# oracle — dedup must collapse the doubled input perfectly.
_stream_dedup_oracle = """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type
"""


@register("stream_dedup_events", oracle=_stream_dedup_oracle, tags=("streaming",))
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark) on
    event_id over a DOUBLED replay of the fixture: per-type aggregates
    of the deduped stream must hash-match the single-copy batch
    aggregate. State per key lives only `delay` of event time past
    first occurrence — the 100 TB contract plain dropDuplicates lacks
    (unbounded key set → state-store death)."""
    from hpat_jl_spark.streaming.dedup import dedup_within_watermark

    staged = _stage_events_dir(sf_dir, copies=2)
    ev = stream_events(spark, staged)
    deduped = dedup_within_watermark(ev, keys=["event_id"], delay="1 hour")
    out = _run_to_memory(
        deduped, mode="append", prefix="stream_dedup", source_dir=staged
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_stream_stateful_oracle = """
SELECT user_id,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
"""


@register(
    "stream_running_user_totals", oracle=_stream_stateful_oracle, tags=("streaming",)
)
def stream_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) computing
    per-user running totals; the update-mode sink may hold one row per
    (user, micro-batch), so the final state per user is selected with
    max_by on the monotonically-growing event count. Must hash-match
    the plain batch GROUP BY — the Arrow-batched Python state kernel
    agrees with JVM aggregation exactly."""
    from hpat_jl_spark.streaming.stateful import running_user_totals

    staged = _stage_events_dir(sf_dir)
    ev = stream_events(spark, staged)
    out = _run_to_memory(
        running_user_totals(ev),
        mode="update",
        prefix="stream_stateful",
        source_dir=staged,
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.round(F.max_by("total_value", "n_events"), 2).alias("total_value"),
    )


_stream_enrich_oracle = """
SELECT c.c_mktsegment AS segment,
       e.event_type,
       count(*)::BIGINT AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register(
    "stream_static_enrichment", oracle=_stream_enrich_oracle, tags=("streaming",)
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched per micro-batch
    with the customer dimension (streaming/windows.enrich_with_dim —
    the static side is re-resolved each batch and broadcast by Catalyst
    when small), then aggregated per (segment, event_type). Oracle is
    the batch join + GROUP BY: the stream-side join machinery must be
    semantically invisible. At 100 TB the same plan holds — the
    dimension is the broadcast side and the stream never reshuffles for
    the join, only for the windowless aggregation."""
    from hpat_jl_spark.streaming.windows import enrich_with_dim

    staged = _stage_events_dir(sf_dir)
    ev = stream_events(spark, staged)
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = enrich_with_dim(ev, dim, on="user_id").filter(
        F.col("segment").isNotNull()
    )
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = _run_to_memory(
        agg, mode="complete", prefix="stream_enrich", source_dir=staged
    )
    return out.select("segment", "event_type", "n_events", "total_value")


_foreach_batch_oracle = """
WITH ranked AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS last_value
FROM ranked WHERE rn = 1
"""


@register(
    "stream_foreach_batch_upsert",
    oracle=_foreach_batch_oracle,
    tags=("streaming",),
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink surface: per micro-batch, UPSERT latest-state-
    per-user into a versioned parquet target (merge = one max-struct
    aggregate over prev ∪ batch; write-new-version-then-repoint, the
    same crash-ordering as checkpointed_loop's snapshots — a stand-in
    for Delta/Hudi MERGE INTO, which is what this becomes on a lake).

    The replay stages the fixture TWICE with maxFilesPerTrigger=1, so
    the engine delivers ≥2 micro-batches with every event duplicated
    across them — the oracle (batch arg-max over the ORIGINAL events)
    matching proves the upsert is idempotent under at-least-once
    redelivery, which is the property foreachBatch sinks must have.
    Deterministic tiebreak: (ts, event_id) struct max == ORDER BY ts
    DESC, event_id DESC.

    The versions land in a session workdir, cleared at the start of
    every call as ``checkpointed_pagerank`` clears its snapshots, so a
    call's frame must be read before the next call of the query."""
    ev = stream_events(
        spark, _stage_events_dir(sf_dir, copies=2), max_files_per_trigger=1
    )
    root = os.path.join(session_workdir("stream_upsert", sf_dir), "versions")
    shutil.rmtree(root, ignore_errors=True)
    state: dict[str, str] = {}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        latest = batch_df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "value")).alias("s")
        )
        if "dir" in state:
            prev = spark.read.parquet(state["dir"])
            latest = (
                prev.unionByName(latest)
                .groupBy("user_id")
                .agg(F.max("s").alias("s"))
            )
        new_dir = os.path.join(root, f"v{batch_id:05d}")
        latest.write.mode("overwrite").parquet(new_dir)
        state["dir"] = new_dir

    writer = ev.writeStream.foreachBatch(upsert).trigger(availableNow=True)
    _start_bounded(spark, writer).awaitTermination()
    return spark.read.parquet(state["dir"]).select(
        "user_id",
        F.col("s.event_id").alias("last_event_id"),
        F.col("s.ts").alias("last_ts"),
        F.col("s.value").alias("last_value"),
    )
