"""Event-stream operators over the synthetic `events` table.

Batch/stream parity: `tumbling_counts` on a stream with AvailableNow gives
the same rows as q36_tumbling_window in batch (modulo late-data dropped by
the watermark).  All aggregations are built-in windowed aggs — state store
managed by Spark, no custom state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The streaming source needs an explicit schema, and the right one depends
# on how the events parquet stores `ts`: TIMESTAMP(NANOS) (older driver
# generations — Spark's vectorized reader rejects it, so read raw int64
# nanos and convert) vs TIMESTAMP(MICROS) (current generations — read as a
# timestamp directly).  _events_schema probes one file's footer to decide,
# mirroring what the batch path (session.load_table) does by dtype check.


def _events_schema(sample_file: str):
    """(schema, needs_nanos_conversion) chosen from the parquet footer.

    Raises with an actionable message when the footer cannot be probed —
    a silently-assumed unit would build the stream with the wrong schema
    and fail far downstream with an opaque vectorized-reader error.
    A mixed-generation directory (some NANOS files, some MICROS) is
    schema'd from the single probed file and is NOT supported; regenerate
    or split such a directory."""
    from pyspark.sql.types import TimestampNTZType

    try:
        import pyarrow.parquet as pq
    except ImportError as e:  # pragma: no cover - pyarrow is baked in
        raise RuntimeError(
            "read_events_stream needs pyarrow to probe the events parquet "
            "timestamp unit (NANOS vs MICROS); the streaming source cannot "
            "safely assume one"
        ) from e
    try:
        ts_arrow = pq.read_schema(sample_file).field("ts").type
    except (OSError, KeyError) as e:
        raise RuntimeError(
            f"cannot probe the parquet footer of {sample_file!r} for the "
            f"events timestamp unit: {e}"
        ) from e
    # TIMESTAMP(NANOS) — and raw-int64 nanos from the oldest generation —
    # must be read as long + converted; everything else reads as timestamp
    is_raw_int64 = str(ts_arrow) == "int64"
    if is_raw_int64:
        # a raw int64 column carries no unit — verify the nanos assumption
        # against one actual value instead of silently misscaling a
        # micros/millis column by 1000×+ downstream (ADVICE r4)
        try:
            sample_vals = (
                pq.ParquetFile(sample_file).read_row_group(0, columns=["ts"])
                .column("ts").to_pylist()
            )
        except Exception as e:
            raise RuntimeError(
                f"cannot read a sample ts value from {sample_file!r} to "
                f"validate the raw-int64 nanosecond assumption: {e}"
            ) from e
        probe_ts = next((v for v in sample_vals if v is not None), None)
        # plausible ns-since-epoch: 1973..2200 ≈ [1e17, 7.3e18]; micros,
        # millis, and seconds epochs are 3+ orders of magnitude below
        if probe_ts is not None and not (10**17 <= probe_ts < 7.3 * 10**18):
            raise RuntimeError(
                f"events ts column is raw int64 but sample value {probe_ts} "
                "is not a plausible nanosecond epoch (expected ~1e18 for "
                "current dates); the file likely stores micros/millis/"
                "seconds — regenerate with a typed timestamp or convert "
                "explicitly"
            )
    is_nanos = getattr(ts_arrow, "unit", None) == "ns" or is_raw_int64
    ts_type = LongType() if is_nanos else TimestampNTZType()
    return (
        StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", ts_type),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("props", StringType()),
            ]
        ),
        is_nanos,
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events parquet.  `path` may be a directory of
    files (production layout) or a single file (test fixture) — a file is
    turned into (parent dir + glob filter) since the streaming source
    requires a directory."""
    import glob
    import os

    if os.path.isfile(path):
        sample = path
    else:
        # recursive: partitioned/nested layouts keep their files below
        # key=value subdirectories, not at the top level
        found = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not found:
            raise FileNotFoundError(
                f"read_events_stream: no *.parquet files under {path!r} "
                "(searched recursively) — cannot probe the timestamp unit"
            )
        sample = found[0]
    schema, from_nanos = _events_schema(sample)
    if from_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 8)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    if from_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # watermarks demand TIMESTAMP (LTZ); under the pinned-UTC session
        # the NTZ→LTZ cast is value-identical
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "15 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows (gap-based), the streaming dual of q24_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            "user_id",
            "n_events",
        )
    )


def run_available_now(
    result: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "complete"
) -> None:
    """Run one incremental batch over all available files, then stop — the
    Structured-Streaming mirror of the reference's CI path-trigger
    incrementality (SURVEY §2.10).  output_mode: 'complete' for windowed
    aggregations, 'append' for row-level streams (dedup, filters)."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
