"""Streaming sources over the fixture `events` table.

The file source replays a parquet directory as a stream (schema must be
declared — streaming reads don't infer). In production the same
transformations run over Kafka/Kinesis sources; the query code below is
source-agnostic because it only sees the DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hpat_jl_spark.tables import SCHEMAS, normalize_timestamp, pin_timestamp_confs

# events_dir → probed parquet encoding of `ts` (see stream_events).
# The probe is a batch spark.read.parquet per invocation (~80-110 ms of
# driver-side listing + footer reads, the r6 per-call cost) and the
# fixture's encoding cannot change under a running process — the staged
# dirs are themselves memoized symlink farms — so probe once per dir.
_PROBED_TS: dict[str, T.DataType] = {}


def stream_events(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a directory of events parquet files.

    ``events_dir`` is a directory containing events parquet part-files
    (tests stage the fixture file into a tmp dir — the file source
    watches directories, not single files).

    Streaming reads don't infer, so the declared schema must match the
    physical encoding — and the driver fixtures have shipped `ts` as BOTH
    raw ns-int64 and timestamp[us] (TIMESTAMP_NTZ) across regenerations.
    Declaring the wrong one is not an error but a silent 1000x timestamp
    shrink (the round-2 `stream_tumbling_counts` wrong-answer). So the
    encoding is PROBED from the parquet footers with a one-off batch read
    (driver-side, metadata only); the declared schema is
    ``tables.SCHEMAS["events"]`` with the probed `ts` type, normalized
    by ``tables.normalize_timestamp`` as ``load_table`` does.
    """
    pin_timestamp_confs(spark)
    key = os.path.abspath(events_dir)
    probed = _PROBED_TS.get(key)
    if probed is None:
        probed = spark.read.parquet(events_dir).schema["ts"].dataType
        _PROBED_TS[key] = probed
    schema = T.StructType(
        [
            T.StructField(f.name, probed if f.name == "ts" else f.dataType)
            for f in SCHEMAS["events"].fields
        ]
    )
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_timestamp(reader.load(events_dir), "ts", probed, "events stream")
