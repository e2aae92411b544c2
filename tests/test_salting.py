"""J6: repartitioning on hash(url) defuses hot-domain skew."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_engine.salt import partition_balance
from cdc_engine.source import list_segments, read_segments
from cdc_engine.schemas import WAL_SCHEMA_V1


def _wal_df(spark, wal_basic):
    wal_dir, _, _ = wal_basic
    paths = [p for _, _, p in list_segments(wal_dir)]
    return read_segments(spark, paths, WAL_SCHEMA_V1)


def test_hash_url_defuses_domain_skew(spark, wal_basic):
    """The WAL's domains are zipf(1.3): partitioning by domain melts, while
    pmod(xxhash64(url), P) stays balanced."""
    df = _wal_df(spark, wal_basic)
    P = 16
    # domain partitioning (the naive choice): hot domain -> hot partition
    dom = df.select(F.regexp_extract("url", r"^https://([^/]+)", 1).alias("d"))
    by_dom = dom.groupBy(F.pmod(F.xxhash64("d"), F.lit(P)).alias("b")).count().collect()
    dom_counts = [r["count"] for r in by_dom]
    dom_ratio = max(dom_counts) / (sum(dom_counts) / len(dom_counts))
    # url-hash partitioning: spread
    url_ratio, url_counts = partition_balance(df, "url", P)
    assert url_ratio < 1.5, f"url-hash partitions skewed: {url_counts}"
    assert url_ratio < dom_ratio, "salting should beat domain partitioning"

