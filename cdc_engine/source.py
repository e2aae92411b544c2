"""S1/S2: WAL sources (SURVEY.md §2.1).

The WAL is a directory of immutable parquet segment files
``<wal>/v{schema_version}/segment-{first_seq:012d}.parquet`` (FIXTURES.md §2)
— the file-based stand-in for a Kafka topic the reference tails [UPSTREAM].
On a real cluster the same pipeline reads
``spark.readStream.format("kafka")`` + ``from_json``; only this module
changes (SURVEY.md §7.2).

* ``open_stream``: Structured Streaming file source, one segment per
  micro-batch (``maxFilesPerTrigger=1``) — resumable via Spark's own
  checkpointed file-source log (S9).
* ``read_seq_range``: bounded batch read of a seq window for deterministic
  replay; the seq predicate pushes down to the parquet scan.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from cdc_engine.schemas import WAL_SCHEMA_LATEST

_SEG_RE = re.compile(r"v(\d+)[/\\]segment-(\d+)\.parquet$")


def list_segments(wal_dir: str) -> list[tuple[int, int, str]]:
    """[(first_seq, schema_version, path)] over all version subdirs,
    seq-ordered. The directory name IS the per-segment schema-version
    marker (FIXTURES.md §2)."""
    out = []
    for p in glob.glob(os.path.join(wal_dir, "v*", "segment-*.parquet")):
        m = _SEG_RE.search(p)
        if m:
            out.append((int(m.group(2)), int(m.group(1)), p))
    return sorted(out)


def read_segments(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType = WAL_SCHEMA_LATEST,
) -> DataFrame:
    """Batch-read WAL segments under the LATEST schema: v1 files get
    NULL-filled added columns and int->long widening from the parquet
    reader itself — no per-file branching."""
    return spark.read.schema(schema).parquet(*paths)


def read_seq_range(
    spark: SparkSession,
    wal_dir: str,
    lo: int,
    hi: int,
) -> DataFrame:
    """Events with lo <= seq < hi (S2 bounded replay source).

    Each segment is read under ITS OWN declared schema version, so a batch
    from a v1 segment reaches apply_epoch with genuinely-v1 columns and the
    mid-stream schema change flows through evolve_schema exactly when the
    WAL switches versions — the Iceberg schema-merge moment.
    """
    from cdc_engine.normalize import union_conformed
    from cdc_engine.schemas import WAL_SCHEMAS

    segs = list_segments(wal_dir)
    # prune whole segments by filename before Spark ever lists them
    by_version: dict[int, list[str]] = {}
    for i, (first, ver, p) in enumerate(segs):
        nxt = segs[i + 1][0] if i + 1 < len(segs) else None
        if (nxt is None or nxt > lo) and first < hi:
            by_version.setdefault(ver, []).append(p)
    if not by_version:
        return spark.createDataFrame([], WAL_SCHEMAS[min(WAL_SCHEMAS)])
    frames = [
        read_segments(spark, paths, WAL_SCHEMAS[ver])
        for ver, paths in sorted(by_version.items())
    ]
    if len(frames) == 1:
        df = frames[0]
    else:  # epoch straddles the schema change: union under the widest schema
        widest_ver = max(by_version)
        df = union_conformed(frames, WAL_SCHEMAS[widest_ver])
    return df.where((F.col("seq") >= lo) & (F.col("seq") < hi))


def open_stream(
    spark: SparkSession,
    wal_dir: str,
    schema: T.StructType = WAL_SCHEMA_LATEST,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming WAL tail (S1)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "segment-*.parquet")
        .parquet(wal_dir)
    )


# --- Kafka source (the real-cluster S1 backend) -----------------------------
# The sandbox has no Kafka jars (SURVEY.md §7.1), so ``open_kafka_stream``
# cannot run here — but the value-parsing path is pure Catalyst and fully
# testable on a static DataFrame shaped like Kafka's wire schema
# (tests/test_kafka_source.py). On a cluster: add
# --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>.

# JSON envelope for one change event on the wire. ``html`` travels base64
# (JSON has no binary type); ``warc_ts`` is an ISO-8601 / Spark-parseable
# timestamp string.
KAFKA_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html_b64", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source_partition", T.LongType()),
        T.StructField("fetch_status", T.IntegerType()),
    ]
)


def parse_kafka_records(records: DataFrame) -> DataFrame:
    """Kafka wire rows (key/value/topic/partition/offset/timestamp) ->
    WAL_SCHEMA_LATEST rows, pure Catalyst:

      * value bytes -> from_json under KAFKA_VALUE_SCHEMA (older producers
        that omit v2 fields simply yield NULLs — the same widening the
        parquet WAL gets from the explicit read schema);
      * html restored from base64;
      * seq falls back to the Kafka offset, source_partition to the Kafka
        topic-partition, when the payload omits them;
      * malformed JSON -> NULL struct -> NULL url, which the P4 guard in
        apply_epoch quarantines (never a crashed epoch).
    """
    j = F.from_json(F.col("value").cast("string"), KAFKA_VALUE_SCHEMA).alias("j")
    p = records.select(
        j,
        F.col("partition").cast("long").alias("_kp"),
        F.col("offset").cast("long").alias("_ko"),
    )
    return p.select(
        F.coalesce(F.col("j.seq"), F.col("_ko")).alias("seq"),
        F.col("j.op").alias("op"),
        F.col("j.url").alias("url"),
        F.col("j.warc_ts").alias("warc_ts"),
        F.unbase64(F.col("j.html_b64")).alias("html"),
        F.col("j.text").alias("text"),
        F.col("j.lang").alias("lang"),
        F.coalesce(F.col("j.source_partition"), F.col("_kp")).alias("source_partition"),
        F.col("j.fetch_status").alias("fetch_status"),
    )


def open_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Kafka tail parsed to WAL rows (cluster-only: requires the
    spark-sql-kafka package). Offsets are tracked by the streaming
    checkpoint; the ledger + LWW merge provide the exactly-once guarantee
    exactly as with the file WAL."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "true")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_kafka_records(reader.load())


def _footer_minmax(md, col_name: str) -> tuple[int, int] | None:
    """(min, max) of an integer column across one file's row groups from
    parquet FOOTER statistics. Returns None — meaning "cannot bound" — when
    the column is absent, any row-group stats are missing, or any row group
    reports (or cannot rule out) NULLs: NULL values are legal data (the
    apply path routes a NULL source_partition to a pid=None lineage slot)
    but invisible to a min/max bound, and claiming completeness over
    [mn, mx] would trip merge's sum(seen) != total consistency check after
    the write (round-4 ADVICE, source.py)."""
    mn = mx = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            if c.path_in_schema != col_name:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                return None
            if not st.has_null_count or st.null_count > 0:
                return None
            mn = int(st.min) if mn is None else min(mn, int(st.min))
            mx = int(st.max) if mx is None else max(mx, int(st.max))
    return None if mn is None else (mn, mx)


def partition_pid_bounds(wal_dir: str, lo: int, hi: int) -> tuple[int, int] | None:
    """Driver-side (min, max) bound on ``source_partition`` values inside
    the seq window [lo, hi), read from parquet FOOTER statistics only — no
    Spark job. It selects apply's Observation route for the input
    accounting (``lake.EpochInputs.observe``), which unrolls per-partition
    aggregates without a pids-discovery job; the bound is a conservative
    SUPERSET (absent pids produce all-zero rows that are dropped). Returns
    None when stats are missing, any overlapping row group holds (or
    cannot rule out) NULL pids, or the bound is too wide to unroll —
    callers then fall back to the stats-job route."""
    import pyarrow.parquet as pq

    mn = mx = None
    for first, _ver, path in list_segments(wal_dir):
        md = pq.ParquetFile(path).metadata
        if first >= hi or first + md.num_rows <= lo:
            continue
        b = _footer_minmax(md, "source_partition")
        if b is None:
            return None
        mn = b[0] if mn is None else min(mn, b[0])
        mx = b[1] if mx is None else max(mx, b[1])
    if mn is None or mx - mn >= 64:
        return None
    return mn, mx


def trigger_files(checkpoint_dir: str, batch_id: int) -> list[str]:
    """The files a file-source micro-batch reads, from the streaming
    checkpoint's source metadata log (``<ckpt>/sources/0/<batchId>`` — one
    JSON line per file; Spark writes it during batch PLANNING, so it is
    on disk before foreachBatch runs). Every N batches Spark compacts the
    log into ``<batchId>.compact`` holding all entries so far, each tagged
    with its batchId — filter to this batch's. Returns [] when the log is
    absent/unreadable (caller falls back to the stats-job path).

    This exists because ``batch_df.inputFiles()`` returns [] for a
    streaming-relation DataFrame — the micro-batch is not backed by a file
    index the way a batch read is."""
    import json

    base = os.path.join(checkpoint_dir, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(base, name)
        if not os.path.exists(p):
            continue
        out = []
        try:
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    e = json.loads(line)
                    if int(e.get("batchId", batch_id)) == batch_id:
                        out.append(e["path"])
        except (OSError, ValueError):
            return []
        return out
    return []


def footer_epoch_bounds(
    paths: list[str],
) -> tuple[tuple[int, int] | None, tuple[int, int] | None]:
    """Driver-side ((min_seq, max_seq), pid_bounds) for an explicit list of
    WAL segment files — the streaming foreachBatch analog of
    ``partition_pid_bounds``: a file-source micro-batch IS a file list
    (``batch_df.inputFiles()``), so its seq window and pid universe come
    straight from parquet footers with no Spark job, which is what lets a
    *streaming* epoch take the same Observation route as replay
    (round-4 verdict task 2 — the pre-commit stats barrier was the largest
    remaining serial term on the tail-mode path).

    Returns (None, None) when any file's seq stats are unusable (the
    caller then runs the stats-job path); pid bounds independently degrade
    to None (stats-job route, exact-window ledger check still available)."""
    import pyarrow.parquet as pq
    from urllib.parse import urlparse

    seq_b = pid_b = None
    pids_ok = True
    for p in paths:
        if p.startswith("file:"):
            p = urlparse(p).path
        try:
            md = pq.ParquetFile(p).metadata
        except Exception:
            return None, None
        s = _footer_minmax(md, "seq")
        if s is None:
            return None, None
        seq_b = s if seq_b is None else (min(seq_b[0], s[0]), max(seq_b[1], s[1]))
        b = _footer_minmax(md, "source_partition")
        if b is None:
            pids_ok = False
        elif pids_ok:
            pid_b = b if pid_b is None else (min(pid_b[0], b[0]), max(pid_b[1], b[1]))
    if seq_b is None:
        return None, None
    if not pids_ok or pid_b is None or pid_b[1] - pid_b[0] >= 64:
        pid_b = None
    return seq_b, pid_b
