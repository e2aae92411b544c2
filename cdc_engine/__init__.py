"""cdc_engine — a brand-new PySpark-native CDC / incremental-ingest engine.

Replaces the capability of the reference (Tiihott/cfe_39, a Java/Maven
Kafka->HDFS ingestion daemon — evidenced by /root/reference/.gitignore:1-17
Maven boilerplate and /root/reference/.github/ISSUE_TEMPLATE/config.yml:7
pointing at teragrep/cfe_39) with an idiomatic Spark design:

    WAL tail (Structured Streaming / bounded replay)
      -> schema normalize (unionByName + cast widening)
      -> last-writer-wins dedup (url keyed, ordered by (warc_ts, seq);
         its window shuffle hash-partitions on url)
      -> MERGE into a snapshot-versioned lake table (SnapLake: bucketed
         parquet data files + atomic JSON manifest commits, the in-sandbox
         stand-in for Iceberg; IcebergLake wraps real Iceberg SQL when jars
         are present)
      -> offset ledger + per-partition lineage, committed atomically with
         the data snapshot (exactly-once).

Everything is pyspark.sql DataFrame + vectorized pandas/Arrow UDFs; no RDDs,
no per-row Python UDFs (see SURVEY.md §2.10).
"""

from cdc_engine.config import CdcConfig
from cdc_engine.lake import SnapLake
from cdc_engine.apply import apply_epoch
from cdc_engine.runner import replay, ingest_stream

__all__ = ["CdcConfig", "SnapLake", "apply_epoch", "replay", "ingest_stream"]
__version__ = "0.1.0"
