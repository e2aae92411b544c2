"""Schemas for the pages table and the change-event WAL.

Binding shapes come from BASELINE.json:15 (input_hint): pages =
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string);
WAL adds (seq:long, op:string, source_partition) and, from schema version 2
onward, fetch_status:int with source_partition widened int->long
(mid-stream schema change per BASELINE.json:6).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- pages table (lake target), schema v1 --------------------------------
PAGES_SCHEMA_V1 = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# pages schema v2 (after mid-stream evolution): +fetch_status:int
PAGES_SCHEMA_V2 = T.StructType(
    list(PAGES_SCHEMA_V1.fields) + [T.StructField("fetch_status", T.IntegerType(), True)]
)

# --- change-event WAL -----------------------------------------------------
# WAL metadata columns that never become pages-table columns.
WAL_META_COLS = ("seq", "op", "source_partition")

WAL_SCHEMA_V1 = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source_partition", T.IntegerType(), True),
    ]
)

WAL_SCHEMA_V2 = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source_partition", T.LongType(), True),  # widened
        T.StructField("fetch_status", T.IntegerType(), True),  # added
    ]
)

WAL_SCHEMAS = {1: WAL_SCHEMA_V1, 2: WAL_SCHEMA_V2}
WAL_SCHEMA_LATEST = WAL_SCHEMA_V2

# internal columns SnapLake stores alongside user columns
INTERNAL_SEQ = "_seq"
INTERNAL_DELETED = "_deleted"
