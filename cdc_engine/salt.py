"""J6: hash(url) partitioning against hot-domain skew (SURVEY.md §2.3).

A Common-Crawl CDC tail is zipf-skewed by domain; partitioning raw events by
domain (or by Spark's default partitioner on a low-cardinality key) melts a
few reducers. The engine's shuffles key on the full url, not the domain, so
a hot domain's pages spread across partitions: the LWW dedup window
partitions by url and the lake buckets by pmod(xxhash64(url), n). This
module holds that bucket function and a skew probe that measures achieved
balance (it doubles as the lineage skew sensor, SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bucket_expr(key_col: str, n: int):
    """Deterministic bucket id: pmod(xxhash64(key), n)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n))


def spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spreading (optimization guide §2.5, "input
    skew": one small or unsplittable input file — a single parquet row
    group cannot be split — serializes every in-row map above it:
    tokenize, md5, dot products all run on ONE core until the first
    exchange). When the physical scan yields fewer partitions than the
    cluster's core count, round-robin repartition to defaultParallelism
    so the map work uses the whole cluster; when the input already has
    >= core-count partitions (any real-scale table) the input is
    returned UNCHANGED — no exchange is ever added at scale. Result
    rows are identical either way (round-robin placement only).

    Measured (sf0.1, local[32]): ivf_assign 1.67 -> 0.48 s; the
    embeddings/documents parquet files are single-row-group and scanned
    as exactly one partition, so every per-row operator was serial.

    The partition-count probe forces physical planning — ~0.2-0.4 s of
    pure driver time per call on this VM, which measurably taxed every
    sub-second query when the probe ran per ``t()`` load. So the probe
    runs at most ONCE per DataFrame object: the decision is memoized on
    the instance (``_cdc_spread``), and callers that already know the
    answer (contract.t's file-size gate) pre-mark their outputs instead
    of probing at all. The probe reads the JVM plan's partition count
    directly (queryExecution().toRdd() — metadata only, no job, and no
    Python-conversion layer in the probed plan)."""
    memo = getattr(df, "_cdc_spread", None)
    if memo is True:
        return df  # this DataFrame is itself already spread
    if memo is not None:
        return memo  # previously computed spread version of this object
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        nparts = df._jdf.queryExecution().toRdd().getNumPartitions()
        out = df.repartition(par) if nparts < par else df
        out._cdc_spread = True
        df._cdc_spread = out
        return out
    except Exception:
        return df


def hot_domains(df: DataFrame, key_col: str = "url", k: int = 20, sample: float = 0.0) -> DataFrame:
    """A5: top-k heavy-hitter domains — the skew sensor feeding salt/bucket
    decisions (and an ops dashboard). Optionally sampled: at 10^10 events a
    1e-4 sample ranks hot domains to well within top-k accuracy for zipf
    traffic, at 1/10000 of the scan."""
    src = df.sample(sample, seed=42) if sample else df
    dom = F.regexp_extract(F.col(key_col), r"^https?://([^/]+)", 1)
    return (
        src.groupBy(dom.alias("domain"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "domain")
        .limit(k)
    )


def partition_balance(df: DataFrame, key_col: str = "url", num_partitions: int = 32):
    """(max/mean, sizes) of the partition histogram the salted shuffle yields.

    Coefficient used by tests: perfectly balanced -> 1.0; a hot-key melt
    shows up as max/mean >> 1.
    """
    sizes = (
        df.select(bucket_expr(key_col, num_partitions).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    mean = sum(counts) / max(len(counts), 1)
    return (max(counts) / mean if mean else 0.0), counts
