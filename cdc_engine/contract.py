"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each as (a) an idiomatic PySpark DataFrame builder and
(b) an exactly-equivalent DuckDB oracle SQL string.

Cross-engine determinism rules (see also textops.py):
  * every aggregate over doubles is quantized to bigint milli-units
    BEFORE summing (integer sums are order-insensitive and exact);
  * every DuckDB integer SUM gets an OUTER cast back to BIGINT — DuckDB
    promotes SUM(BIGINT) to HUGEINT, which pandas renders as float64 and
    the driver's dtype-sensitive value-hash rejects (the round-1 lesson);
  * every computed column is aliased identically on both sides;
  * regexp_replace in DuckDB gets the 'g' flag (Spark is global by default);
  * hashing is md5-based only;
  * contract projections are scalar-only (arrays/binary crash or drift in
    the driver's pandas canonicalizer — fingerprint them instead);
  * sketches (HLL, percentile_approx) are checked as booleans against
    exactly-computed bands, so they stay falsifiable without requiring
    bit-identical sketch internals.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cdc_engine.dedup import lww_dedup
from cdc_engine.dedup_text import (
    delta_lsh_candidates,
    doc_tokens,
    exact_dedup_canonical,
    exact_dedup_stats,
    jaccard_on_lsh,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
    simhash_fingerprints,
)
from cdc_engine.multimodal import (
    blob_meta,
    media_features,
    sample_frames,
    synth_media_blobs,
)
from cdc_engine.retrieval import rrf_fuse
from cdc_engine.salt import spread
from cdc_engine.sketch import cms_heavy_hitters
from cdc_engine.sampling import (
    corpus_shuffle,
    dataset_splits,
    permille_bucket,
    stratified_sample,
)
from cdc_engine.simsearch import (
    brute_topk,
    ivf_assign,
    ivf_query_topk,
    kmeans_refine,
    pq_adc_topk,
    pq_encode,
    semdedup,
    srp_bucket_sql,
    srp_buckets,
)
from cdc_engine.textops import (
    STOPWORDS,
    bm25_topk,
    classifier_scores,
    doc_fingerprint,
    dup_ngram_share,
    lang_id,
    quality_funnel,
    quality_score,
    tfidf_topk,
    token_count,
    unigram_logprob,
    winnow_fingerprint,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table loader. Small fact tables (documents/events/lineitem/... are
    single-row-group parquet here, i.e. ONE scan partition) are spread to
    core-count partitions so in-row map work parallelizes (guide §2.5);
    tiny dims (region/nation/...) stay as-is — they ride broadcasts and a
    32-way exchange under a 5-row table is pure scheduling overhead. The
    size gate makes this scale-adaptive: a production-size table scans as
    many partitions already and is left alone. The gate is pure file-stat
    arithmetic — no partition probe (that forces physical planning,
    ~0.2-0.4 s of driver time per call; measured as a uniform tax on every
    sub-second bench entry) — and the result is marked so downstream
    operators' spread() is a free no-op."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # Attach the spread decision WITHOUT a partition probe (that forces
    # physical planning — ~0.2-0.4 s driver time per call) and WITHOUT
    # force-spreading: only operators whose per-row map work is heavy
    # (regex scrub, in-row n-grams, vector math) opt in via salt.spread();
    # everything else keeps the bare scan — its first shuffle
    # parallelizes anyway, and an unconditional exchange measurably taxed
    # every sub-second query. Interleaved A/B showed the minhash chain is
    # ~0.3-0.5 s FASTER unspread (its md5 work rides the post-exchange
    # vocab side), while pii/ngram/ANN operators are 0.5-1.6 s faster
    # spread — so the choice must be per-operator, not per-table.
    try:
        size = os.path.getsize(path)
        if name in ("documents", "embeddings") and 200_000 <= size < (32 << 20):
            # provably narrower than core count (single file below
            # maxPartitionBytes): pre-build the lazy spread variant
            spread_df = df.repartition(spark.sparkContext.defaultParallelism)
            spread_df._cdc_spread = True
            df._cdc_spread = spread_df
        else:
            df._cdc_spread = True  # real scale or tiny dim: never spread
    except OSError:
        df._cdc_spread = True
    return df


# Vectorized grouped-aggregate UDAF (Arrow series -> scalar; SURVEY.md §2.10
# listed UDAFs as not-needed, but the surface is cheap to prove): milli-
# quantized sum with HALF_AWAY rounding to match Spark F.round / DuckDB
# ROUND exactly, so the oracle is bit-exact.
def _sum_milli_agg():
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG functionType: the type-hint inference route can't
    # resolve stringified annotations under `from __future__ import annotations`
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def sum_milli(v):
        import numpy as np

        x = v.to_numpy(dtype="float64") * 1000.0
        q = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype("int64")
        return int(q.sum())

    return sum_milli


def _milli(col) -> F.Column:
    return F.round(col * 1000).cast("long")


def _p(df: DataFrame, *cols) -> DataFrame:
    """PRESENTATION sort, chained via .transform(_p, ...): a no-op unless
    CDC_CONTRACT_ORDER=1. The driver's value-hash and the local DuckDB
    mirror are both order-insensitive, so the trailing global sort every
    query used to end in was a full extra exchange+sort per query that a
    scaled harness run would pay for nothing (round-3 verdict finding #4).
    Set the env var to get deterministic row order back for eyeballing.
    Top-k queries (orderBy + limit) keep their REAL sort — that one is
    semantic, not presentation."""
    if os.environ.get("CDC_CONTRACT_ORDER") == "1":
        return df.orderBy(*cols)
    return df


def _with_op(events: DataFrame) -> DataFrame:
    """CDC op mapping for the events-as-WAL analog: 'error' events are
    tombstones, everything else upserts."""
    return events.withColumn(
        "op", F.when(F.col("event_type") == "error", "delete").otherwise("upsert")
    )


# --------------------------------------------------------------------------
# Spark query builders — (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

def q_lww_dedup_latest(spark, sf):
    ev = t(spark, sf, "events")
    return (
        lww_dedup(ev, key="user_id", ts="ts", seq="event_id")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
        .transform(_p, "user_id")
    )


def q_cdc_final_state(spark, sf):
    ev = _with_op(t(spark, sf, "events"))
    win = lww_dedup(ev, key="user_id", ts="ts", seq="event_id")
    return (
        win.where(F.col("op") != "delete")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
        )
        .transform(_p, "user_id")
    )


def q_cdc_merge_outcomes(spark, sf):
    ev = _with_op(t(spark, sf, "events")).select("event_id", "user_id", "ts", "op")
    state = lww_dedup(ev.where(F.col("event_id") % 2 == 0), key="user_id", ts="ts", seq="event_id")
    batch = lww_dedup(ev.where(F.col("event_id") % 2 == 1), key="user_id", ts="ts", seq="event_id")
    j = batch.alias("b").join(state.alias("s"), F.col("b.user_id") == F.col("s.user_id"), "full_outer")
    late = (F.col("b.ts") < F.col("s.ts")) | (
        (F.col("b.ts") == F.col("s.ts")) & (F.col("b.event_id") < F.col("s.event_id"))
    )
    outcome = (
        F.when(F.col("b.user_id").isNull(), "carried")
        .when(F.col("s.user_id").isNotNull() & late, "late_ignored")
        .when(F.col("b.op") == "delete", "deleted")
        .when(F.col("s.user_id").isNull(), "inserted")
        .otherwise("updated")
    )
    return (
        j.select(outcome.alias("outcome"))
        .where(F.col("outcome") != "carried")
        .groupBy("outcome")
        .count()
        .withColumnRenamed("count", "n")
        .transform(_p, "outcome")
    )


def q_ledger_anti_join(spark, sf):
    ev = t(spark, sf, "events")
    odd = ev.where(F.col("event_id") % 2 == 1).select("user_id")
    even = ev.where(F.col("event_id") % 2 == 0).select("user_id")
    return odd.join(even, "user_id", "left_anti").distinct().transform(_p, "user_id")


def q_epoch_stats(spark, sf):
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.floor(F.col("event_id") / 1000.0).cast("long").alias("epoch"))
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_seq"),
            F.max("event_id").alias("last_seq"),
            F.sum(_milli(F.col("value"))).alias("value_milli"),
        )
        .transform(_p, "epoch")
    )


def q_hot_keys_topk(spark, sf):
    ev = t(spark, sf, "events")
    return (
        ev.groupBy("user_id").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )


def q_distinct_exact(spark, sf):
    ev = t(spark, sf, "events")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


def q_running_window(spark, sf):
    ev = t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("rn"),
        F.sum(_milli(F.col("value"))).over(w).alias("run_milli"),
    ).transform(_p, "user_id", "event_id")


def q_lag_gap_audit(spark, sf):
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # testdata ts is TIMESTAMP_NTZ; cast for unix_micros (session TZ is UTC
    # and the subtraction cancels any offset anyway)
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    return ev.select(
        "user_id",
        "event_id",
        (us(F.col("ts")) - us(F.lag("ts").over(w))).alias("gap_us"),
    ).transform(_p, "user_id", "event_id")


def q_asof_prior_click(spark, sf):
    """J7 as-of lookup: for every purchase, the most recent STRICTLY PRIOR
    click of the same user (event-time as-of semantics as a conditional
    last-value window — no join explosion, one shuffle on the key)."""
    ev = t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.select("user_id", "event_id", "event_type", prior.alias("prior_click_id"))
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "prior_click_id")
        .transform(_p, "user_id", "event_id")
    )


def q_union_schema_merge(spark, sf):
    ev = t(spark, sf, "events")
    signup = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts", F.lit(None).cast("long").alias("value_milli")
    )
    purchase = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", _milli(F.col("value")).alias("value_milli")
    )
    return signup.unionByName(purchase).transform(_p, "event_id")


def q_except_diff(spark, sf):
    ev = t(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.exceptAll(buys).transform(_p, "user_id")


def q_intersect_users(spark, sf):
    """U3 intersect: users seen both clicking and purchasing."""
    ev = t(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.intersect(buys).transform(_p, "user_id")


def q_time_bucket_hourly(spark, sf):
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count("*").alias("n"))
        .transform(_p, "bucket")
    )


def q_sliding_window_counts(spark, sf):
    """Sliding event-time window (2h wide, 1h slide) — each event lands in
    two overlapping windows. Batch form of the streaming T4 family."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum(_milli(F.col("value"))).alias("value_milli"))
        .select(F.col("w.start").alias("w_start"), "n", "value_milli")
        .transform(_p, "w_start")
    )


def q_session_windows(spark, sf):
    """Per-user session windows with a 30-minute inactivity gap
    (gaps-and-islands): session count, span, and event count per user.
    Batch equivalent of streaming session_window()."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("_new", new_sess)
        .withColumn("sess_id", F.sum("_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
        )
        .transform(_p, "user_id", "sess_id")
    )


def q_json_props_extract(spark, sf):
    ev = t(spark, sf, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("long").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("n"))
        .transform(_p, "k_val")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_daily_event_types(spark, sf):
    """Pivot: one row per day, one count column per event type (explicit
    value list so the plan is a single pass, no type-discovery job)."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside Pivot
        .select(
            "day", *[F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}") for c in _EVENT_TYPES]
        )
        .transform(_p, "day")
    )


def q_approx_quantiles_value(spark, sf):
    """Approximate quantile sketch checked against exact percentiles: the
    approx p50 must land within the exact [p40, p60] band (cross-engine
    exact-median comparison is representation-fragile; the bound check is
    robust and still falsifiable)."""
    ev = t(spark, sf, "events")
    r = ev.agg(
        F.percentile_approx("value", 0.5, 10_000).alias("ap50"),
        F.expr("percentile(value, 0.4)").alias("p40"),
        F.expr("percentile(value, 0.6)").alias("p60"),
        F.count("*").alias("n"),
    )
    return r.select(
        "n",
        ((F.col("ap50") >= F.col("p40")) & (F.col("ap50") <= F.col("p60"))).alias(
            "p50_within_band"
        ),
    )


def q_udaf_value_by_type(spark, sf):
    """Grouped-agg pandas UDAF (Arrow-vectorized, never per-row Python)."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(_sum_milli_agg()(F.col("value")).alias("value_milli"))
        .transform(_p, "event_type")
    )


def q_broadcast_dim_join(spark, sf):
    orders = t(spark, sf, "orders")
    cust = t(spark, sf, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n"), F.sum(_milli(F.col("o_totalprice"))).alias("total_milli"))
        .transform(_p, "mktsegment")
    )


def q_semi_join_customers(spark, sf):
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_customers_with_orders"))
    )


def q_tpch_q1_pricing(spark, sf):
    li = t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_milli(F.col("l_quantity"))).alias("sum_qty_milli"),
            F.sum(_milli(F.col("l_extendedprice"))).alias("sum_price_milli"),
            F.count("*").alias("n"),
        )
        .transform(_p, "l_returnflag", "l_linestatus")
    )


def q_scalar_url_extract(spark, sf):
    docs = t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    with_url = docs.select("doc_id", "lang", url.alias("url"))
    return with_url.select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"^https://([^/]+)", 1).alias("domain"),
        F.length("url").alias("url_len"),
        F.upper("lang").alias("lang_uc"),
    ).transform(_p, "doc_id")


def q_window_rank_sources(spark, sf):
    docs = t(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), "source")
    return counts.select("source", "n", F.rank().over(w).cast("int").alias("rnk")).transform(_p, 
        "rnk", "source"
    )


def q_tpch_q3_topk(spark, sf):
    """Q3-style shipping-priority: 3-way join, revenue agg, top-k."""
    cust = t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = t(spark, sf, "lineitem").where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    rev = _milli(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_milli"))
        .orderBy(F.desc("revenue_milli"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_orderdate", "revenue_milli")
    )


def q_tpch_q5_region(spark, sf):
    """Q5-style local-supplier volume: 6-way join keyed through region."""
    rev = _milli(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        t(spark, sf, "customer")
        .join(t(spark, sf, "orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(t(spark, sf, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t(spark, sf, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t(spark, sf, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t(spark, sf, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).alias("revenue_milli"), F.count("*").alias("n"))
        .transform(_p, "r_name", "n_name")
    )


def q_tpch_q14_promo(spark, sf):
    """Q14-style promo revenue: conditional aggregation over a part join
    (exercises the `part` dimension + CASE-inside-SUM)."""
    li = t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-03-01").cast("timestamp"))
    )
    part = t(spark, sf, "part")
    rev = _milli(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))).alias(
                "promo_milli"
            ),
            F.sum(rev).alias("total_milli"),
            F.count("*").alias("n"),
        )
    )


def q_rollup_pricing(spark, sf):
    """Multi-level ROLLUP aggregate (grouping-sets family)."""
    li = t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum(_milli(F.col("l_quantity"))).alias("qty_milli"))
        .transform(_p, 
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_NEARDUP_SRP_BITS = 4
_NEARDUP_PROBE_MASKS = (0, 1, 2, 4, 8)  # self + every Hamming-1 neighbor


def q_embedding_neardup_pairs(spark, sf):
    """Near-duplicate embedding pairs, SRP-bucket blocked (round-2 verdict
    task 5 — the old form blocked on `label`, a quadratic block under a hot
    label at 100 TB): candidates are generated by exploding each vector's
    4-bit sign-random-projection bucket into itself + its 4 Hamming-1
    probes and EQUI-joining probe == bucket, so the join is bucketed —
    never all-pairs — and scoring (integer-exact quantized cosine^2 >=
    0.35^2, bit-identical in DuckDB) runs only on candidates.

    Measured on sf0.01 (500 vectors): 39 645 of 124 750 possible pairs
    become candidates; the result keeps 140 of the 271 exhaustive
    cos>=0.35 pairs (recall 0.52), including 14 of the 26 pairs the old
    label-blocked form found. Recall at this LOW demo threshold is the
    honest SRP tradeoff — the synthetic embeddings' max cosine is ~0.475,
    and a random hyperplane agrees on a 0.35-cosine pair with p~=0.61/bit.
    At true near-dup thresholds the same plan keeps recall while the
    buckets shard: p(bit agree) at cos 0.95 is ~0.90, so 16-bit buckets +
    Hamming-1 probing retain the overwhelming majority of real duplicates;
    n_bits scales as ~log2(n/target_bucket_size) with the corpus."""
    from cdc_engine.simsearch import dot_q, srp_buckets

    emb = t(spark, sf, "embeddings")
    b = srp_buckets(emb, n_bits=_NEARDUP_SRP_BITS, dim=64)
    e = emb.join(b, "vec_id").select("vec_id", "embedding", "srp_bucket")
    probes = e.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.explode(
            F.array(
                *[
                    F.col("srp_bucket").bitwiseXOR(F.lit(m))
                    for m in _NEARDUP_PROBE_MASKS
                ]
            )
        ).alias("p"),
    )
    base = e.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("srp_bucket").alias("bb"),
    )
    # each ham<=1 pair matches exactly one probe, so no dedup is needed
    j = probes.join(base, (F.col("p") == F.col("bb")) & (F.col("va") < F.col("vb")))
    d = j.select(
        "va", "vb",
        dot_q("ea", "eb").alias("dot_q"),
        dot_q("ea", "ea").alias("na2"),
        dot_q("eb", "eb").alias("nb2"),
    )
    # cos >= 0.35 (and dot > 0):  400*dot^2 >= 49*na2*nb2
    return (
        d.where((F.col("dot_q") > 0) & (400 * F.col("dot_q") * F.col("dot_q") >= 49 * F.col("na2") * F.col("nb2")))
        .select("va", "vb", "dot_q")
        .transform(_p, "va", "vb")
    )


# --- training-data / text / similarity ------------------------------------

def q_dedup_exact_stats(spark, sf):
    return exact_dedup_stats(t(spark, sf, "documents"))


def q_dedup_canonical_map(spark, sf):
    return _p(exact_dedup_canonical(t(spark, sf, "documents")), "doc_id")


def q_jaccard_on_lsh(spark, sf):
    return _p(
        jaccard_on_lsh(t(spark, sf, "documents"), k=8, band_rows=4, threshold_milli=300),
        "da", "db",
    )


def q_ngram_jaccard(spark, sf):
    return _p(ngram_jaccard_pairs(t(spark, sf, "documents"), threshold_milli=300), "da", "db")


def q_minhash_signatures(spark, sf):
    return _p(minhash_signatures(t(spark, sf, "documents"), k=8), "doc_id", "i")


def q_lsh_candidates(spark, sf):
    return _p(lsh_candidate_pairs(t(spark, sf, "documents"), k=8, band_rows=4), "da", "db")


def q_minhash_jaccard_est(spark, sf):
    """Signature-agreement Jaccard estimate over LSH candidates
    (dedup_text.minhash_jaccard_est): the O(k)-per-pair rescore a pipeline
    uses when exact re-tokenization is too expensive — candidates join the
    k-long signature vectors, agreement counted in-row via zip_with."""
    from cdc_engine.dedup_text import minhash_jaccard_est

    return _p(
        minhash_jaccard_est(t(spark, sf, "documents"), k=8, band_rows=4),
        "da",
        "db",
    )


def q_classifier_scores(spark, sf):
    return _p(classifier_scores(t(spark, sf, "documents")), "doc_id")


def q_bigram_lm_stats(spark, sf):
    from cdc_engine.textops import bigram_kn_stats

    return bigram_kn_stats(t(spark, sf, "documents"), k=30)


def q_neardup_survivors(spark, sf):
    """Quality-aware survivorship composed over the full near-dup chain:
    LSH candidates -> Levenshtein rescore -> O(log n) components -> keep
    the LONGEST member per component (ties -> min doc_id)."""
    from cdc_engine.dedup_text import connected_components, quality_survivors

    labels = connected_components(_scored_pairs(spark, sf), src="da", dst="db")
    return _p(
        quality_survivors(labels, t(spark, sf, "documents")), "node"
    )


def q_dedup_delta(spark, sf):
    """Incremental near-dup: the per-mille 'epoch:' split models a CDC
    batch (top 20% of the hash range = this epoch's new docs); candidates
    are delta-only — new×index plus new×new, old×old never revisited. The
    oracle runs the FULL-corpus LSH chain and filters to ≥1-new pairs,
    proving the incremental pair set equals the batch recompute."""
    docs = t(spark, sf, "documents")
    b = permille_bucket(F.col("doc_id"), "epoch:")
    pairs = delta_lsh_candidates(
        docs.where(b < 800), docs.where(b >= 800), k=8, band_rows=4
    )
    n_new = (
        (permille_bucket(F.col("da"), "epoch:") >= 800).cast("int")
        + (permille_bucket(F.col("db"), "epoch:") >= 800).cast("int")
    ).cast("int")
    return _p(pairs.select("da", "db", n_new.alias("n_new")), "da", "db")


def q_simsearch_brute_topk(spark, sf):
    return brute_topk(t(spark, sf, "embeddings"), query_vec_id=0, k=10)


def q_ann_ivf_assign(spark, sf):
    return _p(ivf_assign(t(spark, sf, "embeddings"), n_cells=16), "vec_id")


def q_ann_ivf_query_topk(spark, sf):
    return ivf_query_topk(t(spark, sf, "embeddings"), query_vec_id=0, n_cells=16, k=10)


def q_ann_recall_at_k(spark, sf):
    """IVF recall@10 vs brute-force ground truth over a 20-query panel
    (simsearch.ann_recall_at_k) — the eval every ANN index is tuned by;
    the oracle re-derives truth, assignment, cell re-rank and the overlap
    from the same quantized-dot arithmetic."""
    from cdc_engine.simsearch import ann_recall_at_k

    return _p(
        ann_recall_at_k(t(spark, sf, "embeddings"), n_cells=16, k=10, n_queries=20),
        "qid",
    )


def q_ann_srp_buckets(spark, sf):
    return _p(srp_buckets(t(spark, sf, "embeddings"), n_bits=16, dim=64), "vec_id")


def q_lang_id(spark, sf):
    return _p(
        lang_id(t(spark, sf, "documents")).select("doc_id", "lang", "pred_lang"), "doc_id"
    )


def q_quality_scores(spark, sf):
    return _p(quality_score(t(spark, sf, "documents")), "doc_id")


def q_token_counts(spark, sf):
    return _p(token_count(t(spark, sf, "documents")), "doc_id")


def q_doc_fingerprints(spark, sf):
    return _p(doc_fingerprint(t(spark, sf, "documents")), "doc_id")


def q_winnow_fingerprints(spark, sf):
    return _p(winnow_fingerprint(t(spark, sf, "documents"), k=5, w=4), "doc_id")


def q_edit_distance_rescore(spark, sf):
    """Near-dup rescoring: exact Levenshtein distance over 64-char prefixes
    of LSH candidate pairs (the cheap post-filter after candidate
    generation — never all-pairs). Keeps pairs with prefix distance <= 16.

    Feeds the shared DISTINCT token relation into the signature stage
    (round-4 verdict #2) — semantically the right single tokenization
    codepath, though the measured A/B (BENCH/ANALYSIS_r5.md §1) shows the
    entry's cost was never tokenization: this synthetic corpus is so
    self-similar that LSH banding barely discriminates (10.6M candidate
    pairs of 12.5M possible at sf0.1), so the wall is the levenshtein over
    the candidate explosion. The effective lever is the THRESHOLDED
    levenshtein (Ukkonen banded DP, early exit past the cutoff): for kept
    rows it returns the true distance, so `lev(a,b,16) >= 0` is
    row-for-row identical to `lev(a,b) <= 16` and the plain-levenshtein
    DuckDB oracle is unchanged. Measured: 25.1 -> 13.8 s at sf0.1."""
    return _scored_pairs(spark, sf).transform(_p, "da", "db")


# rescored near-dup pairs, MATERIALIZED once per (session, sf dir): three
# contract queries consume this relation (edit_distance_rescore,
# neardup_components, neardup_survivors) and the chain behind it —
# tokenize -> MinHash -> LSH banding -> thresholded Levenshtein — is the
# most expensive stage in the repo, while its OUTPUT is a few dozen rows.
# r5 verdict "what's wrong" #2: at 100x you materialize the scored-pairs
# relation once and every downstream consumer (clustering, survivorship,
# audits) reads the materialization; this memo is that handoff in-process.
# Whichever query runs first pays the chain (bench numbers stay honest);
# the persisted result is tiny, so it is never unpersisted.
_SCORED_PAIRS_MEMO: dict = {}


def _scored_pairs(spark, sf):
    # keyed on a session-LIFETIME identifier + the resolved dir (round-7
    # advice: id(spark) can be reused after a stopped session is GC'd,
    # serving a persisted DataFrame bound to a dead session)
    key = (spark.sparkContext.applicationId, os.path.realpath(sf))
    df = _SCORED_PAIRS_MEMO.get(key)
    if df is None:
        docs = t(spark, sf, "documents")
        cand = lsh_candidate_pairs(docs, k=8, band_rows=4, tok=doc_tokens(docs))
        pre = docs.select("doc_id", F.substring("text", 1, 64).alias("p"))
        a, b = pre.alias("a"), pre.alias("b")
        df = (
            cand.join(a, F.col("da") == F.col("a.doc_id"))
            .join(b, F.col("db") == F.col("b.doc_id"))
            .select(
                "da", "db",
                F.levenshtein(F.col("a.p"), F.col("b.p"), 16).alias("prefix_edit"),
            )
            .where(F.col("prefix_edit") >= 0)
            .persist()
        )
        df.count()
        _SCORED_PAIRS_MEMO[key] = df
    return df


def q_cube_pricing(spark, sf):
    """CUBE grouping sets (every subset of the two keys — completes the
    grouping-sets family next to rollup_pricing's hierarchy)."""
    li = t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum(_milli(F.col("l_quantity"))).alias("qty_milli"))
        .transform(_p, 
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def q_stats_moments_value(spark, sf):
    """Statistical-moment aggregates (stddev/variance/corr/covar) per
    event type, milli/micro-quantized so the DuckDB oracle matches on
    integers. One hash aggregate with map-side combine — scales like any
    A1 aggregate."""
    ev = t(spark, sf, "events")
    uid = F.col("user_id").cast("double")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.stddev_samp("value") * 1000).cast("long").alias("stddev_milli"),
            F.round(F.var_samp("value") * 1000).cast("long").alias("var_milli"),
            F.round(F.corr(F.col("value"), uid) * 1000000).cast("long").alias("corr_micro"),
            F.round(F.covar_samp(F.col("value"), uid) * 1000).cast("long").alias("covar_milli"),
        )
        .transform(_p, "event_type")
    )


def q_range_join_clicks(spark, sf):
    """Event-time RANGE join (J-family widening past as-of): for every
    purchase, count the same user's clicks in the preceding hour. The join
    key is the user equi-pair plus a time-interval predicate — Spark plans
    the equi part as a hash/sort-merge join and applies the range as a
    post-filter, so it shuffles on user_id, never cross-products. At 100 TB
    the standard hardening is bucketing both sides by (user_id,
    time_bucket) so each range probe touches two adjacent buckets."""
    ev = t(spark, sf, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") < F.col("pts")),
        "left",
    )
    return (
        j.groupBy("purchase_id", "user_id")
        .agg(F.count("cts").alias("n_prior_clicks"))
        .transform(_p, "purchase_id")
    )


_DENYLIST_RE = r"\b(customer|value|table)\b"


def q_denylist_scrub(spark, sf):
    """Denylist redaction (training-data hygiene): count and replace
    denylisted terms per document, report the redaction count and the
    scrubbed length. Pure Catalyst regex — the same shape as a
    bad-word/PII scrub pass over a webtext corpus (regex chosen to be
    Java-regex/RE2 portable so the oracle is exact)."""
    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_DENYLIST_RE)).cast("int").alias("n_redacted"),
        F.length(F.regexp_replace(F.col("text"), _DENYLIST_RE, "[TERM]")).cast("int").alias("clean_len"),
    ).transform(_p, "doc_id")


def q_repetition_stats(spark, sf):
    """Repetition / type-token-ratio quality signal: distinct-token share
    per document (low TTR = boilerplate/spam — a standard webtext quality
    filter). Pure Catalyst array ops, no explode, no shuffle."""
    docs = t(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    total = F.size(toks)
    distinct = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        total.alias("n_tokens"),
        distinct.alias("n_distinct_tokens"),
        F.when(total > 0, F.round(F.lit(1000.0) * distinct / total).cast("long")).alias("ttr_milli"),
    ).transform(_p, "doc_id")


def q_median_by_type(spark, sf):
    """Exact interpolated median (percentile) per group — the exact
    counterpart of approx_quantiles_value's sketch. Exact percentile
    requires a per-group sort; at 100 TB the approx sketch is the scale
    path and this is the audit form."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)") * 1000).cast("long").alias("p50_milli"),
        )
        .transform(_p, "event_type")
    )


def q_vocab_df_topk(spark, sf):
    """Document-frequency vocabulary top-k (corpus vocab building)."""
    from cdc_engine.textops import vocab_df_topk

    return vocab_df_topk(t(spark, sf, "documents"), k=20)


def q_boilerplate_share(spark, sf):
    """Cross-document boilerplate share per doc (shingle-level CCNet-style
    paragraph-dedup signal)."""
    from cdc_engine.textops import boilerplate_share

    return _p(boilerplate_share(t(spark, sf, "documents"), k=5, min_df=2), "doc_id")


def q_neardup_components(spark, sf):
    """Near-duplicate CLUSTERS (connected components over the
    LSH->Levenshtein-rescored pair graph): pairs don't partition a corpus,
    components do — survivorship keeps min(doc_id) per component. The
    iterative min-label propagation runs distributed joins per round with
    only a bounded convergence count on the driver (see
    dedup_text.connected_components for the O(log n) scale variant)."""
    from cdc_engine.dedup_text import connected_components

    edges = _scored_pairs(spark, sf)
    return _p(connected_components(edges, src="da", dst="db"), "node")


def q_text_extract_invariant(spark, sf):
    """F1, driver-checked: wrap every document text in the fixed html
    envelope, run the REAL extract_text pandas UDF (Arrow, bytes-safe),
    and count rows violating extract_text(html) == text. The oracle
    recomputes the extraction independently with string slicing — both
    sides must independently arrive at zero violations over the same
    corpus (BASELINE.json's byte-identical extracted-text invariant)."""
    from cdc_engine.textex import extract_text

    docs = t(spark, sf, "documents")
    html = F.encode(
        F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
        "utf-8",
    )
    ok = extract_text(html).eqNullSafe(F.col("text"))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias("n_violations"),
    )


def q_dataset_splits(spark, sf):
    return _p(dataset_splits(t(spark, sf, "documents")), "doc_id")


def q_stratified_sample(spark, sf):
    docs = t(spark, sf, "documents")
    return (
        stratified_sample(docs, {"en": 100, "de": 500, "fr": 1000}, default_permille=0)
        .select("doc_id", "lang")
        .transform(_p, "doc_id")
    )


def q_multimodal_blob_meta(spark, sf):
    return _p(blob_meta(t(spark, sf, "documents")), "doc_id")


def q_multimodal_frame_sample(spark, sf):
    return sample_frames(t(spark, sf, "documents")).transform(_p, "doc_id", "frame_idx")


def q_approx_distinct_users(spark, sf):
    """A4 HLL++ sketch, cross-engine checkable: the query returns the EXACT
    distinct count plus a boolean asserting the sketch landed within 3x its
    configured rsd of it — the oracle recomputes the exact count and expects
    TRUE, so a broken sketch (or exact count) fails the driver hash."""
    rsd = 0.02
    ev = t(spark, sf, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd).alias("approx"),
    ).select(
        "n_users_exact",
        (
            F.abs(F.col("approx") - F.col("n_users_exact"))
            <= 3 * rsd * F.col("n_users_exact")
        ).alias("within_bound"),
    )


def q_simhash_fingerprints(spark, sf):
    return _p(simhash_fingerprints(t(spark, sf, "documents")), "doc_id")


def q_kmeans_refine(spark, sf):
    """Lloyd-refined k-means assignment (2 rounds, 16 seed cells) over the
    embeddings table — the iterative counterpart of ann_ivf_assign, with
    an exact 2-round-unrolled DuckDB oracle (milli-quantized integer
    distances; centroid means are single divisions of exact integer
    sums)."""
    return _p(kmeans_refine(t(spark, sf, "embeddings"), n_cells=16, rounds=2), "vec_id")


def q_tfidf_topk(spark, sf):
    """Top-5 TF-IDF terms per document (tf x ln(N/df), milli-quantized;
    the quantized score is the sort key in both engines so a last-ulp
    double divergence cannot reorder the top-k)."""
    return _p(tfidf_topk(t(spark, sf, "documents"), k=5), "doc_id", "rank")


def q_bm25_topk(spark, sf):
    """BM25 top-10 documents for a fixed 5-term query (textops.bm25_topk):
    lexical retrieval completing the search family next to TF-IDF term
    extraction and the embedding ANN path. Per-term contributions are
    milli-quantized longs summed per doc, so the ranking is bit-stable
    cross-engine."""
    return bm25_topk(
        t(spark, sf, "documents"),
        terms=["hash", "join", "stream", "vector", "window"],
        k=10,
    )


def q_unigram_logprob(spark, sf):
    """Corpus-unigram LM cross-entropy per document (textops.unigram_logprob)
    — the deterministic relational stand-in for the CCNet/KenLM perplexity
    quality filter. ln quantized once per vocab type; everything downstream
    is exact integer arithmetic."""
    return _p(unigram_logprob(t(spark, sf, "documents")), "doc_id")


def q_quality_funnel(spark, sf):
    """Gopher-style 5-rule quality funnel (textops.quality_funnel): per-doc
    pass flags + first failing stage, all integer/milli comparisons in one
    narrow shuffle-free projection."""
    return _p(quality_funnel(t(spark, sf, "documents")), "doc_id")


def q_cms_heavy_hitters(spark, sf):
    """Count-Min-Sketch heavy hitters (sketch.cms_heavy_hitters): 4x64
    md5-derived counters — fixed memory regardless of key cardinality —
    probed for the exact top-20 users; est >= exact one-sided guarantee
    holds per row and the whole sketch is bit-reproducible in DuckDB."""
    return _p(cms_heavy_hitters(t(spark, sf, "events"), "user_id", d=4, w=64, k=20), "key")


def q_dup_ngram_share(spark, sf):
    """Within-doc duplicated 3-gram share (textops.dup_ngram_share): the
    Gopher repetition rule in its exact form — surplus gram occurrences
    beyond each distinct gram's first; entirely in-row, zero shuffles."""
    return _p(dup_ngram_share(t(spark, sf, "documents"), n=3), "doc_id")


def q_corpus_shuffle(spark, sf):
    """Deterministic distributed corpus shuffle (sampling.corpus_shuffle):
    stable md5(seed:key)-ordered position 0..N-1 via the two-pass prefix
    sum (256 hash buckets) — never a global single-task window; oracle is
    the naive global row_number."""
    return _p(corpus_shuffle(t(spark, sf, "documents"), seed="s0"), "doc_id")


def q_pq_encode(spark, sf):
    """Product-quantization codes (simsearch.pq_encode): 8 subspaces x 16
    codewords, exact integer squared distances on milli-quantized
    components — the 32x-compression encoding a 100 TB vector store
    persists instead of raw floats."""
    return _p(pq_encode(t(spark, sf, "embeddings"), m=8, dsub=8, k=16), "vec_id", "sub")


def q_pq_adc_topk(spark, sf):
    """Asymmetric-distance top-10 over PQ codes (simsearch.pq_adc_topk):
    broadcast 128-row per-query LUT + code-only scan — reads 8 bytes per
    vector instead of 256 at scale."""
    return pq_adc_topk(t(spark, sf, "embeddings"), query_vec_id=0, k=10)


def q_hybrid_rrf(spark, sf):
    """Hybrid retrieval (retrieval.rrf_fuse): reciprocal-rank fusion of
    the BM25 lexical top-20 and the embedding brute-force semantic top-20
    (query = the bm25 term set / vector 0), fused by exact integer
    1e6//(60+rank) contributions — bit-identical cross-engine."""
    docs = t(spark, sf, "documents")
    emb = t(spark, sf, "embeddings")
    lex = bm25_topk(docs, terms=["hash", "join", "stream", "vector", "window"], k=20)
    sem = brute_topk(emb, query_vec_id=0, k=20)
    return rrf_fuse(lex, sem, k=10, c=60)


def q_semdedup(spark, sf):
    """SemDeDup-style semantic dedup screen [Abbas et al. 2023]: IVF-cell
    cluster assignment, then within each cell drop every vector whose
    cosine to a lower-id cell member clears tau=0.9. Cosine threshold is
    evaluated in pure int64 (centi-quantized components, squared
    comparison — simsearch.semdedup docstring has the overflow bound), so
    the DuckDB oracle is bit-exact."""
    return _p(semdedup(t(spark, sf, "embeddings"), n_cells=16, tau_milli=900), "vec_id")


def q_simhash_candidates(spark, sf):
    """Banded SimHash Hamming-ball candidate join (4 bands x 12 bits,
    Hamming <= 3 — exact recall by pigeonhole). Completes the simhash
    family: fingerprints -> candidates, parallel to minhash -> LSH."""
    return _p(
        simhash_candidate_pairs(t(spark, sf, "documents"), bands=4, max_hamming=3),
        "da", "db",
    )


def q_scd2_history(spark, sf):
    """SCD Type-2 history table from the change stream: every version of
    every key with a validity interval and a current-row marker — the
    companion product to the type-1 current-state table the lake keeps
    (cdc_engine/scd.py; one keyed window shuffle, the same exchange as
    LWW dedup). Timestamps are emitted as epoch micros (bigint) for the
    driver's dtype-stable hash; is_current as int 1/0."""
    from cdc_engine.scd import scd2_history

    ev = _with_op(t(spark, sf, "events"))
    return scd2_history(
        ev, key="user_id", ts="ts", seq="event_id", op_col="op"
    ).select(
        "user_id",
        "version_n",
        "event_id",
        # testdata ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is
        # the identity mapping DuckDB's epoch_us applies to naive ts
        F.unix_micros(F.col("ts").cast("timestamp")).alias("from_us"),
        F.unix_micros(F.col("effective_to").cast("timestamp")).alias("to_us"),
        F.col("is_current").cast("int").alias("is_current"),
    ).transform(_p, "user_id", "version_n")


def q_contamination_check(spark, sf):
    """Benchmark decontamination audit: per training doc, the share of
    its distinct 3-gram shingles that collide with the held-out benchmark
    slice (doc_id % 50 == 0). Benchmark shingles broadcast (eval suites
    are tiny against the corpus); training side is one explode + broadcast
    left join + hash agg — never pairwise (textops.contamination_share)."""
    from cdc_engine.textops import contamination_share

    return _p(
        contamination_share(t(spark, sf, "documents"), k=3, bench_mod=50), "doc_id"
    )


def q_seq_packing(spark, sf):
    """Concat-and-chunk sequence packing into 256-token bins via the
    scalable two-pass prefix sum (per-range sums -> tiny broadcast offset
    relation -> parallel intra-range cumsum; sampling.pack_sequences).
    The oracle is the naive single-window global cumsum — identical bins,
    different physical plan."""
    from cdc_engine.sampling import pack_sequences

    return _p(
        pack_sequences(t(spark, sf, "documents"), capacity=256, range_width=128),
        "bin_id",
    )


def q_mixture_weights(spark, sf):
    """Corpus mixture stats + tau=2 temperature-resampling weights per
    source (sampling.mixture_weights): ONE map-side-combinable hash agg
    on the stratum, ratio math on the tiny per-stratum relation vs a
    broadcast 1-row totals relation. Floor-milli integer quantization and
    pre-floored sqrt keep both engines bit-identical."""
    from cdc_engine.sampling import mixture_weights

    return _p(mixture_weights(t(spark, sf, "documents"), stratum="source"), "source")


def q_stratified_topn(spark, sf):
    """Exact-count deterministic subsample: the first 50 docs per source
    in content-stable md5(key) order (sampling.stratified_topn) — one
    window shuffle keyed on the stratum, membership invariant to
    partitioning and ingestion order."""
    from cdc_engine.sampling import stratified_topn

    return _p(
        stratified_topn(t(spark, sf, "documents"), stratum="source", n=50),
        "source",
        "rank",
    )


def q_multimodal_features(spark, sf):
    """Real-decoder multimodal featurization (round-3 verdict task 5): a
    REAL BMP / WAV container is synthesized per document (payload bytes =
    md5(text) digest cycled), then struct-parsed back by the real decoders
    in cdc_engine.multimodal — stride pad, bottom-up rows, RIFF chunk
    walk, signed int16 — into integer stats. The DuckDB oracle recomputes
    every stat from md5(text) HEX ARITHMETIC alone (it never sees the
    binary), so a decoder that mishandles padding, row order, or sample
    signedness hash-mismatches."""
    return _p(media_features(synth_media_blobs(t(spark, sf, "documents"))), "doc_id")


def q_video_frame_features(spark, sf):
    """REAL RIFF/AVI round-trip (r5 closed the last decode stub; this is
    its contract query): a spec-shaped AVI container is synthesized per
    document (4 uncompressed bottom-up DIB frames, JUNK alignment chunk,
    idx1 index; frame f pixel byte j = md5(text) digest[(f+j) % 16]), then
    DEMUXED back — chunk-tree walk, stride/row-order decode, idx1
    cross-check — and every 2nd frame reduces to integer pixel stats. The
    DuckDB oracle recomputes the stats from md5 hex arithmetic alone (it
    never sees the container), so a demuxer that mishandles word alignment,
    the bottom-up row order, stride padding, or frame indexing
    hash-mismatches."""
    from cdc_engine.multimodal import synth_video_blobs, video_frame_features

    return _p(
        video_frame_features(
            synth_video_blobs(t(spark, sf, "documents")), sample_every=2
        ),
        "doc_id",
        "frame_idx",
    )


# Replay-oracle handoff dir: the Spark query (which knows sf_dir)
# materializes the independent pandas-oracle final state into ONE FILE PER
# SF DIR (md5(realpath(sf_dir)) in the name, written via atomic rename), so
# concurrent harness runs at different sf dirs can never race (round-2
# verdict finding #5). The oracle SQL stays fully STATIC — it globs the dir
# and self-selects the matching run via a tag both engines derive
# independently from the `documents` view (row count + md5(min||max text)):
# the SQL never needs to know sf_dir, so it is correct no matter whether
# the harness fetches oracle_sql() before or after running the queries.
REPLAY_ORACLE_DIR = "/tmp/spark_graft_replay_oracle"
_REPLAY_GLOB = f"{REPLAY_ORACLE_DIR}/state_v2_*.parquet"
_REPLAY_COLS = ["url", "warc_ts_us", "html_fp", "text", "lang", "fetch_status"]
# the same tag expression, evaluated by DuckDB over its `documents` view
_SF_TAG_SQL = (
    "(SELECT CAST(COUNT(*) AS VARCHAR) || ':' || md5(MIN(text) || MAX(text)) "
    "FROM documents)"
)


def replay_oracle_path(sf_dir: str) -> str:
    import hashlib
    import os

    h = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    return f"{REPLAY_ORACLE_DIR}/state_v2_{h}.parquet"


def _sf_tag(sf_dir: str) -> str:
    """count:md5(min_text || max_text) over this sf's documents — matches
    _SF_TAG_SQL byte-for-byte (UTF-8 byte order == code-point order, so
    pandas min/max on str agrees with DuckDB VARCHAR MIN/MAX)."""
    import hashlib

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    texts = docs["text"].dropna()
    return (
        f"{len(docs)}:"
        + hashlib.md5((texts.min() + texts.max()).encode("utf-8")).hexdigest()
    )


def ensure_replay_oracle_bootstrap() -> None:
    """Guarantee the oracle glob matches >=1 file so read_parquet never
    errors if the harness evaluates the SQL before the flagship query has
    run (the bootstrap file is empty and tagged unmatched, so it only ever
    contributes zero rows).

    The empty file is written with an EXPLICIT arrow schema (round-7 fix):
    an empty pandas object Series lands in parquet as the `null` logical
    type, which DuckDB's multi-file reader unifies as INTEGER when the
    bootstrap happens to be the glob's first file — making the oracle SQL
    die on a VARCHAR->INTEGER cast the moment a real state file sits next
    to it. Typed-string columns make the multi-file schema union exact
    regardless of file order. The write is unconditional (atomic replace)
    so a stale null-typed bootstrap from an older build self-heals."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(REPLAY_ORACLE_DIR, exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts_us", pa.int64()),
            ("html_fp", pa.string()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("fetch_status", pa.int64()),
            ("sf_tag", pa.string()),
        ]
    )
    empty = pa.table({f.name: pa.array([], type=f.type) for f in schema}, schema=schema)
    tmp = f"{REPLAY_ORACLE_DIR}/.bootstrap.tmp.{os.getpid()}"
    pq.write_table(empty, tmp)
    os.replace(tmp, f"{REPLAY_ORACLE_DIR}/state_v2_bootstrap.parquet")


def _replayed_mini_lake(spark, sf):
    """Shared fixture for the replay-derived driver queries: generate the
    seed-deterministic 3k-event mini WAL from this sf's documents (schema
    change at epoch 2), emit the sequential pandas oracle's comparable
    projection to replay_oracle_path(sf) for the DuckDB side (atomic
    rename; see REPLAY_ORACLE_DIR notes on concurrency), and replay into a
    fresh COW lake. Identical config in every caller => identical final
    state => one oracle file serves them all.
    Projection notes: timestamps as unix micros (no tz ambiguity), html as
    an md5 fingerprint (binary cells are driver-unhashable), fetch_status
    null-coalesced to -1 (nullable-int pandas dtype drift)."""
    import hashlib
    import os
    import tempfile

    from cdc_engine import CdcConfig, SnapLake, replay
    from cdc_engine.schemas import PAGES_SCHEMA_V1
    from gen.walgen import WalConfig, generate_wal

    base = tempfile.mkdtemp(prefix="cdc_entry_")
    wal_dir = f"{base}/wal"
    oracle = generate_wal(
        wal_dir,
        WalConfig(
            n_events=3_000,
            events_per_epoch=1_000,
            schema_change_at_epoch=2,
            docs_parquet=f"{sf}/documents.parquet",
        ),
    )

    o = oracle.copy()
    o["warc_ts_us"] = o["warc_ts"].astype("int64") // 1000
    o["html_fp"] = o["html"].map(
        lambda b: None if b is None else hashlib.md5(b).hexdigest()
    )
    o["fetch_status"] = o["fetch_status"].fillna(-1).astype("int64")
    o["sf_tag"] = _sf_tag(sf)
    dest = replay_oracle_path(sf)
    os.makedirs(REPLAY_ORACLE_DIR, exist_ok=True)
    tmp = f"{dest}.tmp.{os.getpid()}"
    o[_REPLAY_COLS + ["sf_tag"]].to_parquet(tmp, index=False)
    os.replace(tmp, dest)

    lake = SnapLake.create(f"{base}/lake", PAGES_SCHEMA_V1, n_buckets=8)
    replay(spark, lake, wal_dir, CdcConfig(events_per_epoch=1_000))
    return lake


def q_cdc_replay_mini(spark, sf):
    """The flagship: the actual CDC engine end-to-end on a WAL derived from
    this sf's documents — generate, replay, scan (_replayed_mini_lake)."""
    lake = _replayed_mini_lake(spark, sf)
    return lake.scan(spark).select(
        "url",
        F.unix_micros(F.col("warc_ts")).alias("warc_ts_us"),
        F.md5("html").alias("html_fp"),
        "text",
        "lang",
        F.coalesce(F.col("fetch_status").cast("long"), F.lit(-1).cast("long")).alias(
            "fetch_status"
        ),
    ).transform(_p, "url")


def q_line_dedup(spark, sf):
    """C4-style cross-document line dedup with reconstruction
    (textops.line_dedup). The synthetic documents carry no newlines, so
    the query first reflows each doc into 8-token lines (pure Catalyst:
    token array -> slice windows -> array_join) — template-drawn docs
    share aligned token runs, so reflowed lines recur across near-dups
    and the df >= 3 boilerplate rule actually fires. Empty/NULL texts map
    to NULL (no lines) so both engines agree on degenerate docs."""
    docs = t(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    docs2 = docs.select("doc_id", toks.alias("tk"))
    reflow = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size("tk") - 1) / 8).cast("int")),
            lambda i: F.array_join(F.slice("tk", i * F.lit(8) + 1, 8), " "),
        ),
        "\n",
    )
    lined = docs2.select(
        "doc_id",
        F.when(F.size("tk") > 0, reflow).otherwise(F.lit(None).cast("string")).alias(
            "text"
        ),
    )
    from cdc_engine.textops import line_dedup

    return line_dedup(lined, min_df=3).transform(_p, "doc_id")


def q_dup_passage_scrub(spark, sf):
    """Exact-substring passage dedup at 8-token granularity
    (dedup_text.dup_passage_stats — the Lee et al. ExactSubstr operation
    in relational form): any token covered by a k-gram occurring more
    than once corpus-wide is scrubbed; emits per-doc token/coverage
    counts and the md5 of the rebuilt survivor text. Tokenization,
    k-gram hashing, coverage mask, and rebuild are all in-row; the only
    corpus-sized exchange carries 16-byte k-gram hashes."""
    from cdc_engine.dedup_text import dup_passage_stats

    return dup_passage_stats(t(spark, sf, "documents"), k=8).transform(_p, "doc_id")


def q_pagerank_domains(spark, sf):
    """2-round integer PageRank (graphops.pagerank) over a 40-node link
    graph derived deterministically from events (src = user_id%40,
    dst = (user_id*7 + event_id)%40, self-loops dropped, edges distinct).
    Floor integer divisions everywhere => bit-identical to the oracle's
    statically unrolled rounds."""
    from cdc_engine.graphops import pagerank

    ev = t(spark, sf, "events")
    edges = ev.select(
        (F.col("user_id") % 40).alias("src"),
        ((F.col("user_id") * 7 + F.col("event_id")) % 40).alias("dst"),
    )
    return pagerank(edges, iterations=2).transform(_p, "node")


def q_bpe_pair_topk(spark, sf):
    """Top-30 BPE merge candidates over documents (textops.bpe_pair_topk):
    corpus -> word-frequency relation -> weighted adjacent-char-pair
    counts. Exact integers, total (count DESC, pair ASC) order."""
    from cdc_engine.textops import bpe_pair_topk

    return bpe_pair_topk(t(spark, sf, "documents"), k=30)


def q_bpe_encode(spark, sf):
    """BPE encode with the frozen 16-merge artifact (textops.bpe_encode,
    Sennrich-style replace-all-in-rank-order): per-doc word/char/subtoken
    counts; merge chain runs over the distinct vocabulary only."""
    from cdc_engine.textops import bpe_encode

    return bpe_encode(t(spark, sf, "documents"))


def q_bpe_train(spark, sf):
    """The full BPE vocabulary-induction LOOP (textops.bpe_train, 8
    merges): count pairs over the persisted word-frequency relation, merge
    the argmax (ties pair-ascending), re-segment via the chained marker
    replace, repeat. Iterative exact-oracle family (kmeans_refine /
    pagerank precedent): the DuckDB oracle unrolls the same 8 rounds as
    chained CTEs generated from the SAME round structure, so argmax
    tie-breaks and re-segmentation semantics cannot drift."""
    from cdc_engine.textops import bpe_train

    return bpe_train(t(spark, sf, "documents"), n_merges=8)


def q_changes_feed(spark, sf):
    """Change data feed (SnapLake.changes — the CDC-OUT surface): build a
    lake from documents (epoch 0 inserts every doc; epoch 1 deletes
    doc_id%10==0, updates %10 in {1,2} with a 'rev:' text prefix, and
    inserts fresh urls for %10==3), then emit the v1->v2 feed. The oracle
    reconstructs the exact expected feed from the same %10 rules."""
    import tempfile

    from cdc_engine import SnapLake
    from cdc_engine.schemas import PAGES_SCHEMA_V1

    docs = t(spark, sf, "documents")
    ts0 = F.to_timestamp(F.lit("2025-01-01 00:00:00"))
    ts1 = F.to_timestamp(F.lit("2025-01-02 00:00:00"))
    url = F.concat(F.lit("https://cdf/"), F.col("doc_id").cast("string"))

    def wal(seq, op, u, ts, text, lang):
        return [
            seq.cast("long").alias("seq"),
            op.alias("op"),
            u.alias("url"),
            ts.alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            text.alias("text"),
            lang.alias("lang"),
            F.lit(0).alias("source_partition"),
        ]

    e0 = docs.select(*wal(F.col("doc_id"), F.lit("upsert"), url, ts0, F.col("text"), F.col("lang")))
    m = F.col("doc_id") % 10
    e1 = (
        docs.where(m.isin(0, 1, 2))
        .select(
            *wal(
                F.col("doc_id") + 100000,
                F.when(m == 0, F.lit("delete")).otherwise(F.lit("upsert")),
                url,
                ts1,
                F.when(m == 0, F.lit(None).cast("string")).otherwise(
                    F.concat(F.lit("rev:"), F.col("text"))
                ),
                F.when(m == 0, F.lit(None).cast("string")).otherwise(F.col("lang")),
            )
        )
        .unionByName(
            docs.where(m == 3).select(
                *wal(
                    F.col("doc_id") + 200000,
                    F.lit("upsert"),
                    F.concat(F.lit("https://cdf/new/"), F.col("doc_id").cast("string")),
                    ts1,
                    F.col("text"),
                    F.col("lang"),
                )
            )
        )
    )
    lake = SnapLake.create(
        tempfile.mkdtemp(prefix="cdf_lake_") + "/lake", PAGES_SCHEMA_V1, n_buckets=8
    )
    lake.merge(spark, e0, epoch_id=0)
    lake.merge(spark, e1, epoch_id=1)
    return lake.changes(spark, 1, 2).select(
        "url",
        "change_type",
        "seq_before",
        "seq_after",
        "before_text",
        "after_text",
        "before_lang",
        "after_lang",
    ).transform(_p, "url")


def q_url_canonicalize(spark, sf):
    """URL canonicalization (textops.url_canonicalize) over five messy
    deterministic variants synthesised from documents (mixed-case host,
    default ports, tracking params out of order, fragments, trailing and
    missing slashes). Variants 0 and 1 canonicalize identically, so
    n_variants (count over canonical_url) proves the dedup collision."""
    from pyspark.sql import Window

    from cdc_engine.textops import url_canonicalize

    docs = t(spark, sf, "documents")
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("https://WWW."), F.col("source"), F.lit(".Example.COM:443/a/b?utm_source=x&q=1#frag")))
        .when(v == 1, F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com/a/b?q=1")))
        .when(v == 2, F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com:80/a/b/")))
        .when(v == 3, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/?ref=tw&b=2&a=1")))
        .otherwise(F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com")))
    )
    out = url_canonicalize(docs.select("doc_id", url.alias("url")))
    return out.withColumn(
        "n_variants",
        F.count(F.lit(1)).over(Window.partitionBy("canonical_url")).cast("long"),
    ).transform(_p, "doc_id")


def q_pii_scrub(spark, sf):
    """PII redaction (textops.pii_scrub) over a deterministic PII-bearing
    corpus derived from events (emails, IPv4s, phone numbers synthesised
    from event/user ids; 'view' rows are benign so zero-counts are
    exercised). Counts computed against the original text; redaction in
    the fixed email -> ip -> phone order in both engines."""
    from cdc_engine.textops import pii_scrub

    ev = t(spark, sf, "events")
    pii_txt = (
        F.when(
            F.col("event_type") == "view",
            F.concat(F.lit("benign note "), F.col("event_id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("contact u"),
                F.col("user_id").cast("string"),
                F.lit("@mail"),
                (F.col("event_id") % 7).cast("string"),
                F.lit(".example.com from 10."),
                (F.col("user_id") % 200).cast("string"),
                F.lit("."),
                (F.col("event_id") % 250).cast("string"),
                F.lit(".7 or call +358-40-"),
                F.lpad((F.col("event_id") % 100000).cast("string"), 5, "0"),
                F.lit(" end"),
            )
        )
    )
    src = ev.select("event_id", pii_txt.alias("text"))
    return pii_scrub(src, "text").transform(_p, "event_id")


def q_incremental_mv(spark, sf):
    """Incrementally-maintained materialized GROUP BY over the replayed
    mini lake (mview.IncrementalAggView): sync the view at lake version 1
    (one epoch in, BEFORE the mid-stream schema change introduces
    fetch_status), then catch up to head with the telescoped two-scan
    touched-bucket delta — never a full rescan. The returned view must
    equal a fresh GROUP BY over the final LWW state, which is exactly what
    the DuckDB oracle computes over the replay-oracle parquet."""
    from cdc_engine.mview import AggSpec, IncrementalAggView

    lake = _replayed_mini_lake(spark, sf)
    mv = IncrementalAggView(
        lake,
        "by_lang",
        ["lang"],
        [
            AggSpec("n_pages", "count"),
            AggSpec("n_fetched", "count", "fetch_status"),
            AggSpec("status_sum", "sum", "fetch_status"),
        ],
    )
    mv.full_refresh(spark, version=1)
    # route= pins the delta path: these epochs carry ~1k distinct urls, so
    # auto's cost model would (correctly) prefer a recompute at 8 buckets
    st = mv.incremental_refresh(spark, route="incremental")
    if st["mode"] != "incremental":  # the query exists to prove this path
        raise RuntimeError(f"expected incremental refresh, got {st['mode']}")
    return mv.df(spark).transform(_p, "lang")


# --------------------------------------------------------------------------
# DuckDB oracle SQL (views: region nation customer supplier part orders
# lineitem events documents embeddings)
# --------------------------------------------------------------------------

_TOK_CTE = (
    "tok AS (SELECT DISTINCT doc_id, lang, w FROM (SELECT doc_id, lang, "
    "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w FROM documents) "
    "WHERE w <> '')"
)

# outer CAST: DuckDB SUM(BIGINT) returns HUGEINT, which pandas renders as
# float64 — the driver's value-hash is dtype-sensitive, so every integer SUM
# must be cast back to BIGINT to match Spark's int64 (round-1 lesson: this
# one artifact caused all 10 hash mismatches)
_DOT_SQL = (
    "CAST(SUM(CAST(ROUND(CAST({a}[i] AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(ROUND(CAST({b}[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)"
)

_STOP_EN = STOPWORDS["en"]

# MinHash-LSH CTE chain shared by the lsh_candidates and jaccard_on_lsh
# oracles (spliced in after the dict literal — f-string nesting would
# otherwise make the entries unreadable)
_LSH_CTES = f"""{_TOK_CTE},
        sig AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
                       MIN(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || w), 1, 12))::BIGINT) AS minhash
                FROM tok, range(0, 8) t(i) GROUP BY doc_id, i),
        banded AS (SELECT doc_id, CAST(FLOOR(i / 4.0) AS INTEGER) AS band,
                          md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                   FROM sig GROUP BY 1, 2),
        cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
                 FROM banded x JOIN banded y
                   ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)"""

# 48-bit SimHash in SQL: one sign-sum per bit, then recompose the fingerprint.
# (DuckDB SUM returns HUGEINT but the sums are only compared, never output.)
_SIMHASH_H = "('0x' || substring(md5(w), 1, 12))::BIGINT"
_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN (({_SIMHASH_H} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(48)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN s{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END" for i in range(48)
)

ORACLE_SQL: dict[str, str] = {
    "lww_dedup_latest": """
        SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1 ORDER BY user_id
    """,
    "cdc_final_state": """
        WITH ev AS (SELECT *, CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op FROM events)
        SELECT user_id, ts AS last_ts, event_id AS last_event_id
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
        WHERE rn = 1 AND op <> 'delete' ORDER BY user_id
    """,
    "cdc_merge_outcomes": """
        WITH ev AS (SELECT event_id, user_id, ts,
                           CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
                    FROM events),
        state AS (SELECT user_id, ts, event_id, op FROM
                   (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                    FROM ev WHERE event_id % 2 = 0) WHERE rn = 1),
        batch AS (SELECT user_id, ts, event_id, op FROM
                   (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                    FROM ev WHERE event_id % 2 = 1) WHERE rn = 1),
        m AS (SELECT b.user_id AS bu, s.user_id AS su, b.ts AS bts, s.ts AS sts,
                     b.event_id AS bid, s.event_id AS sid, b.op AS bop
              FROM batch b FULL OUTER JOIN state s ON b.user_id = s.user_id)
        SELECT outcome, COUNT(*) AS n FROM (
            SELECT CASE WHEN bu IS NULL THEN 'carried'
                        WHEN su IS NOT NULL AND (bts < sts OR (bts = sts AND bid < sid)) THEN 'late_ignored'
                        WHEN bop = 'delete' THEN 'deleted'
                        WHEN su IS NULL THEN 'inserted'
                        ELSE 'updated' END AS outcome
            FROM m)
        WHERE outcome <> 'carried' GROUP BY outcome ORDER BY outcome
    """,
    "ledger_anti_join": """
        SELECT DISTINCT user_id FROM events
        WHERE event_id % 2 = 1
          AND user_id NOT IN (SELECT user_id FROM events WHERE event_id % 2 = 0)
        ORDER BY user_id
    """,
    "epoch_stats": """
        SELECT CAST(FLOOR(event_id / 1000.0) AS BIGINT) AS epoch, COUNT(*) AS n,
               MIN(event_id) AS first_seq, MAX(event_id) AS last_seq,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "hot_keys_topk": """
        SELECT user_id, COUNT(*) AS n FROM events
        GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
    """,
    "distinct_exact": """
        SELECT COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT event_type) AS n_types FROM events
    """,
    "running_window": """
        SELECT user_id, event_id,
               COUNT(*) OVER w AS rn,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) OVER w AS BIGINT) AS run_milli
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
    """,
    "lag_gap_audit": """
        SELECT user_id, event_id,
               date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events ORDER BY user_id, event_id
    """,
    "asof_prior_click": """
        SELECT user_id, event_id, prior_click_id FROM (
            SELECT user_id, event_id, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click_id
            FROM events)
        WHERE event_type = 'purchase' ORDER BY user_id, event_id
    """,
    "union_schema_merge": """
        SELECT event_id, user_id, ts, CAST(NULL AS BIGINT) AS value_milli
        FROM events WHERE event_type = 'signup'
        UNION ALL
        SELECT event_id, user_id, ts, CAST(ROUND(value * 1000) AS BIGINT) AS value_milli
        FROM events WHERE event_type = 'purchase'
        ORDER BY event_id
    """,
    "except_diff": """
        SELECT user_id FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ) ORDER BY user_id
    """,
    "intersect_users": """
        SELECT user_id FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ) ORDER BY user_id
    """,
    "time_bucket_hourly": """
        SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "sliding_window_counts": """
        WITH exploded AS (
            SELECT date_trunc('hour', ts) AS w_start, value FROM events
            UNION ALL
            SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w_start, value FROM events)
        SELECT w_start, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        FROM exploded GROUP BY 1 ORDER BY 1
    """,
    "session_windows": """
        WITH o AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
            SELECT user_id, ts,
                   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
            FROM o)
        SELECT user_id, sess_id, COUNT(*) AS n_events,
               MIN(ts) AS sess_start, MAX(ts) AS sess_end
        FROM s GROUP BY 1, 2 ORDER BY user_id, sess_id
    """,
    "json_props_extract": """
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val, COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "pivot_daily_event_types": """
        SELECT date_trunc('day', ts) AS day,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
               CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "approx_quantiles_value": """
        SELECT COUNT(*) AS n, TRUE AS p50_within_band FROM events
    """,
    "udaf_value_by_type": """
        SELECT event_type,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "broadcast_dim_join": """
        SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 1000) AS BIGINT)) AS BIGINT) AS total_milli
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1 ORDER BY 1
    """,
    "semi_join_customers": """
        SELECT COUNT(*) AS n_customers_with_orders FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "tpch_q1_pricing": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(ROUND(l_quantity * 1000) AS BIGINT)) AS BIGINT) AS sum_qty_milli,
               CAST(SUM(CAST(ROUND(l_extendedprice * 1000) AS BIGINT)) AS BIGINT) AS sum_price_milli,
               COUNT(*) AS n
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "scalar_url_extract": """
        SELECT doc_id, url, regexp_extract(url, '^https://([^/]+)', 1) AS domain,
               length(url) AS url_len, upper(lang) AS lang_uc
        FROM (SELECT doc_id, lang,
                     'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents)
        ORDER BY doc_id
    """,
    "window_rank_sources": """
        SELECT source, n, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT source, COUNT(*) AS n,
                   rank() OVER (ORDER BY COUNT(*) DESC, source) AS rnk
            FROM documents GROUP BY source)
        ORDER BY rnk, source
    """,
    "tpch_q3_topk": """
        SELECT o_orderkey, o_orderdate,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000) AS BIGINT)) AS BIGINT) AS revenue_milli
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
             JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue_milli DESC, o_orderkey LIMIT 10
    """,
    "tpch_q5_region": """
        SELECT r_name, n_name,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000) AS BIGINT)) AS BIGINT) AS revenue_milli,
               COUNT(*) AS n
        FROM customer c
          JOIN orders o ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE c.c_nationkey = s.s_nationkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
    "tpch_q14_promo": """
        SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                             THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 1000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS promo_milli,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 1000) AS BIGINT)) AS BIGINT) AS total_milli,
               COUNT(*) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-03-01'
    """,
    "rollup_pricing": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity * 1000) AS BIGINT)) AS BIGINT) AS qty_milli
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "embedding_neardup_pairs": f"""
        WITH srp AS ({srp_bucket_sql(n_bits=_NEARDUP_SRP_BITS, dim=64)}),
        e AS (SELECT x.vec_id, x.embedding, s.srp_bucket
              FROM embeddings x JOIN srp s ON x.vec_id = s.vec_id),
        pr AS (SELECT vec_id AS va, embedding AS ea,
                      unnest([{", ".join(f"xor(srp_bucket, {m}::BIGINT)" for m in _NEARDUP_PROBE_MASKS)}]) AS p
               FROM e),
        cand AS (SELECT pr.va, e2.vec_id AS vb, pr.ea, e2.embedding AS eb
                 FROM pr JOIN e e2 ON pr.p = e2.srp_bucket AND pr.va < e2.vec_id),
        d AS (SELECT va, vb,
                     {_DOT_SQL.format(a='ea', b='eb')} AS dot_q,
                     {_DOT_SQL.format(a='ea', b='ea')} AS na2,
                     {_DOT_SQL.format(a='eb', b='eb')} AS nb2
              FROM cand, range(1, 65) t(i) GROUP BY va, vb)
        SELECT va, vb, dot_q FROM d
        WHERE dot_q > 0 AND 400 * dot_q * dot_q >= 49 * na2 * nb2
        ORDER BY va, vb
    """,
    "dedup_exact_stats": """
        SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique FROM documents
    """,
    "ngram_jaccard": f"""
        WITH {_TOK_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        ov AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
               FROM tok a JOIN tok b
                 ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
        SELECT da, db, inter, sa.n AS na, sb.n AS nb,
               CAST(ROUND(1000.0 * inter / (sa.n + sb.n - inter)) AS BIGINT) AS jacc_milli
        FROM ov JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
        WHERE CAST(ROUND(1000.0 * inter / (sa.n + sb.n - inter)) AS BIGINT) >= 300
        ORDER BY da, db
    """,
    "minhash_signatures": f"""
        WITH {_TOK_CTE}
        SELECT doc_id, CAST(i AS INTEGER) AS i,
               MIN(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || w), 1, 12))::BIGINT) AS minhash
        FROM tok, range(0, 8) t(i)
        GROUP BY doc_id, i ORDER BY doc_id, i
    """,
    "lsh_candidates": f"""
        WITH {{LSH}}
        SELECT da, db FROM cand ORDER BY da, db
    """,
    # MinHash component-agreement estimate: candidates join the signature
    # relation on both sides, per-component equality summed
    "minhash_jaccard_est": """
        WITH {LSH},
        m AS (
            SELECT c.da, c.db,
                   CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.da
            JOIN sig sb ON sb.doc_id = c.db AND sb.i = sa.i
            GROUP BY c.da, c.db)
        SELECT da, db, n_match,
               CAST(FLOOR(1000 * n_match / 8.0) AS BIGINT) AS est_milli
        FROM m ORDER BY da, db
    """,
    # Kneser-Ney bigram statistics: parallel-unnest zip = Spark's in-row
    # position transform; both KN stats re-aggregate the counts relation
    "bigram_lm_stats": """
        WITH b AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                   FROM documents),
        bg AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN list_slice(toks, 1, len(toks) - 1) ELSE [] END) AS w1,
                      unnest(CASE WHEN len(toks) >= 2 THEN list_slice(toks, 2, len(toks)) ELSE [] END) AS w2
               FROM b),
        counts AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2)
        SELECT w1, w2, n,
               CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS n_w1,
               CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n_cont
        FROM counts
        ORDER BY n DESC, w1, w2 LIMIT 30
    """,
    # components + per-component argmax(n_chars, min doc_id) survivor
    "neardup_survivors": """
        WITH RECURSIVE {LSH},
        pre AS (SELECT doc_id, substring(text, 1, 64) AS p FROM documents),
        edge AS (SELECT c.da, c.db
                 FROM cand c JOIN pre a ON c.da = a.doc_id JOIN pre b ON c.db = b.doc_id
                 WHERE levenshtein(a.p, b.p) <= 16),
        und AS (SELECT da AS a, db AS b FROM edge UNION SELECT db AS a, da AS b FROM edge),
        reach(s, n) AS (
            SELECT a, a FROM und
            UNION
            SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a
        ),
        comp AS (SELECT s AS node, MIN(n) AS component FROM reach GROUP BY s)
        SELECT c.node, c.component, d.n_chars,
               (row_number() OVER (PARTITION BY c.component
                                   ORDER BY d.n_chars DESC, c.node ASC) = 1) AS is_survivor
        FROM comp c JOIN documents d ON c.node = d.doc_id
        ORDER BY c.node
    """,
    # hashing-trick linear inference: weight table = range CTE, bag-of-words
    # multiset features (non-distinct tok), all-integer score
    "classifier_scores": """
        WITH w AS (SELECT CAST(i AS INTEGER) AS j,
                          CAST(('0x' || substring(md5('w:' || CAST(i AS VARCHAR)), 1, 12))::BIGINT % 2001 - 1000 AS BIGINT) AS wt
                   FROM range(0, 256) t(i)),
        tokm AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tk
                 FROM documents),
        feat AS (SELECT doc_id,
                        CAST(('0x' || substring(md5(tk), 1, 12))::BIGINT % 256 AS INTEGER) AS j
                 FROM tokm)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(wt) AS BIGINT) AS score_sum,
               CASE WHEN CAST(SUM(wt) AS BIGINT) >= 0 THEN 'keep' ELSE 'drop' END AS label
        FROM feat JOIN w USING (j)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # full-corpus chain + >=1-new filter == the incremental new×index ∪
    # new×new pair set (signatures are per-doc, corpus-independent)
    "dedup_delta": """
        WITH {LSH}
        SELECT da, db,
               CAST((CASE WHEN ('0x' || substring(md5('epoch:' || CAST(da AS VARCHAR)), 1, 12))::BIGINT % 1000 >= 800 THEN 1 ELSE 0 END)
                  + (CASE WHEN ('0x' || substring(md5('epoch:' || CAST(db AS VARCHAR)), 1, 12))::BIGINT % 1000 >= 800 THEN 1 ELSE 0 END) AS INTEGER) AS n_new
        FROM cand
        WHERE ('0x' || substring(md5('epoch:' || CAST(da AS VARCHAR)), 1, 12))::BIGINT % 1000 >= 800
           OR ('0x' || substring(md5('epoch:' || CAST(db AS VARCHAR)), 1, 12))::BIGINT % 1000 >= 800
        ORDER BY da, db
    """,
    "jaccard_on_lsh": f"""
        WITH {{LSH}},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        ov AS (SELECT c.da, c.db, COUNT(*) AS inter
               FROM cand c
                 JOIN tok a ON c.da = a.doc_id
                 JOIN tok b ON c.db = b.doc_id AND a.w = b.w
               GROUP BY 1, 2)
        SELECT da, db, inter, sa.n AS na, sb.n AS nb,
               CAST(ROUND(1000.0 * inter / (sa.n + sb.n - inter)) AS BIGINT) AS jacc_milli
        FROM ov JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
        WHERE CAST(ROUND(1000.0 * inter / (sa.n + sb.n - inter)) AS BIGINT) >= 300
        ORDER BY da, db
    """,
    "dedup_canonical_map": """
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        FROM documents ORDER BY doc_id
    """,
    "simsearch_brute_topk": f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        d AS (SELECT e.vec_id, {_DOT_SQL.format(a='e.embedding', b='q.qe')} AS dot_q
              FROM embeddings e, q, range(1, 65) t(i)
              WHERE e.vec_id <> 0 GROUP BY e.vec_id)
        SELECT vec_id, dot_q FROM d ORDER BY dot_q DESC, vec_id LIMIT 10
    """,
    "ann_ivf_assign": f"""
        WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
        s AS (SELECT e.vec_id, c.cell, {_DOT_SQL.format(a='e.embedding', b='c.ce')} AS cell_dot_q
              FROM embeddings e, c, range(1, 65) t(i) GROUP BY e.vec_id, c.cell),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_dot_q DESC, cell) AS rn FROM s)
        SELECT vec_id, cell, cell_dot_q FROM r WHERE rn = 1 ORDER BY vec_id
    """,
    "ann_ivf_query_topk": f"""
        WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
        s AS (SELECT e.vec_id, c.cell, {_DOT_SQL.format(a='e.embedding', b='c.ce')} AS cell_dot_q
              FROM embeddings e, c, range(1, 65) t(i) GROUP BY e.vec_id, c.cell),
        r AS (SELECT vec_id, cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_dot_q DESC, cell) AS rn FROM s)
              WHERE rn = 1),
        qcell AS (SELECT cell FROM r WHERE vec_id = 0),
        members AS (SELECT r.vec_id FROM r JOIN qcell ON r.cell = qcell.cell WHERE r.vec_id <> 0),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        d AS (SELECT e.vec_id, {_DOT_SQL.format(a='e.embedding', b='q.qe')} AS dot_q
              FROM embeddings e JOIN members m ON e.vec_id = m.vec_id, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
        SELECT vec_id, dot_q FROM d ORDER BY dot_q DESC, vec_id LIMIT 10
    """,
    # recall@10 of the IVF path vs brute truth over the 20-query panel
    # (qids 16..35): same quantized-dot arithmetic on both sides
    "ann_recall_at_k": f"""
        WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                    WHERE vec_id >= 16 AND vec_id < 36),
        d AS (SELECT e.vec_id, q.qid, {_DOT_SQL.format(a='e.embedding', b='q.qe')} AS dq
              FROM embeddings e, qs q, range(1, 65) t(i)
              WHERE e.vec_id <> q.qid GROUP BY e.vec_id, q.qid),
        truth AS (SELECT qid, vec_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dq DESC, vec_id) AS rn FROM d)
                  WHERE rn <= 10),
        c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
        s AS (SELECT e.vec_id, c.cell, {_DOT_SQL.format(a='e.embedding', b='c.ce')} AS cd
              FROM embeddings e, c, range(1, 65) t(i) GROUP BY e.vec_id, c.cell),
        r AS (SELECT vec_id, cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) AS rn FROM s)
              WHERE rn = 1),
        qc AS (SELECT q.qid, r.cell FROM qs q JOIN r ON r.vec_id = q.qid),
        mem AS (SELECT qc.qid, r.vec_id FROM r JOIN qc ON r.cell = qc.cell
                WHERE r.vec_id <> qc.qid),
        ad AS (SELECT m.qid, m.vec_id, {_DOT_SQL.format(a='e.embedding', b='q.qe')} AS dq
               FROM mem m JOIN embeddings e ON e.vec_id = m.vec_id
                          JOIN qs q ON q.qid = m.qid, range(1, 65) t(i)
               GROUP BY m.qid, m.vec_id),
        approx AS (SELECT qid, vec_id FROM
                    (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dq DESC, vec_id) AS rn FROM ad)
                   WHERE rn <= 10),
        ov AS (SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS n
               FROM truth t JOIN approx a ON t.qid = a.qid AND t.vec_id = a.vec_id
               GROUP BY t.qid)
        SELECT q.qid, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
               CAST(FLOOR(1000 * COALESCE(ov.n, 0) / 10.0) AS BIGINT) AS recall_milli
        FROM qs q LEFT JOIN ov ON ov.qid = q.qid ORDER BY q.qid
    """,
    "cms_heavy_hitters": """
        WITH cells AS (SELECT t.j,
                              ('0x' || substring(md5(CAST(t.j AS VARCHAR) || ':'
                                  || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS col
                       FROM events, range(0, 4) t(j)),
        counters AS (SELECT j, col, CAST(COUNT(*) AS BIGINT) AS n
                     FROM cells GROUP BY j, col),
        top AS (SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS exact_n
                FROM events GROUP BY user_id
                ORDER BY exact_n DESC, key ASC LIMIT 20),
        probes AS (SELECT key, exact_n, t.j,
                          ('0x' || substring(md5(CAST(t.j AS VARCHAR) || ':'
                              || CAST(key AS VARCHAR)), 1, 8))::BIGINT % 64 AS col
                   FROM top, range(0, 4) t(j)),
        est AS (SELECT key, exact_n, CAST(MIN(c.n) AS BIGINT) AS cms_est
                FROM probes p JOIN counters c USING (j, col)
                GROUP BY key, exact_n)
        SELECT key, exact_n, cms_est,
               CAST(cms_est - exact_n AS BIGINT) AS overcount
        FROM est ORDER BY key
    """,
    "dup_ngram_share": """
        WITH b AS (SELECT doc_id,
                          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS toks
                   FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(range(1, len(toks) - 3 + 2),
                               i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                          ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM b)
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_grams,
               CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup,
               CASE WHEN len(grams) > 0
                    THEN CAST(ROUND(1000.0 * (len(grams) - len(list_distinct(grams)))
                                    / len(grams)) AS BIGINT)
                    END AS dup_milli
        FROM g ORDER BY doc_id
    """,
    "corpus_shuffle": """
        SELECT doc_id,
               CAST(row_number() OVER (
                        ORDER BY md5('s0:' || CAST(doc_id AS VARCHAR)), doc_id)
                    - 1 AS BIGINT) AS pos
        FROM documents ORDER BY doc_id
    """,
    "pq_encode": """
        WITH qe AS (SELECT vec_id,
                           list_transform(embedding,
                               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
                    FROM embeddings),
        sv AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
                      list_slice(qe, t.sub * 8 + 1, t.sub * 8 + 8) AS v
               FROM qe, range(0, 8) t(sub)),
        cb AS (SELECT CAST(vec_id AS INTEGER) AS code, sub, v AS cw
               FROM sv WHERE vec_id < 16),
        dist AS (SELECT s.vec_id, s.sub, c.code,
                        (SELECT CAST(SUM((s.v[i] - c.cw[i]) * (s.v[i] - c.cw[i])) AS BIGINT)
                         FROM range(1, 9) t(i)) AS d
                 FROM sv s JOIN cb c USING (sub))
        SELECT vec_id, sub, code FROM
         (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
          FROM dist)
        WHERE rn = 1 ORDER BY vec_id, sub
    """,
    "pq_adc_topk": """
        WITH qe AS (SELECT vec_id,
                           list_transform(embedding,
                               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
                    FROM embeddings),
        sv AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
                      list_slice(qe, t.sub * 8 + 1, t.sub * 8 + 8) AS v
               FROM qe, range(0, 8) t(sub)),
        cb AS (SELECT CAST(vec_id AS INTEGER) AS code, sub, v AS cw
               FROM sv WHERE vec_id < 16),
        dist AS (SELECT s.vec_id, s.sub, c.code,
                        (SELECT CAST(SUM((s.v[i] - c.cw[i]) * (s.v[i] - c.cw[i])) AS BIGINT)
                         FROM range(1, 9) t(i)) AS d
                 FROM sv s JOIN cb c USING (sub)),
        enc AS (SELECT vec_id, sub, code FROM
                 (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
                  FROM dist)
                WHERE rn = 1),
        lut AS (SELECT c.sub, c.code,
                       (SELECT CAST(SUM((q.v[i] - c.cw[i]) * (q.v[i] - c.cw[i])) AS BIGINT)
                        FROM range(1, 9) t(i)) AS d
                FROM cb c JOIN sv q ON q.sub = c.sub AND q.vec_id = 0)
        SELECT e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist_q
        FROM enc e JOIN lut l USING (sub, code)
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id ORDER BY adc_dist_q ASC, e.vec_id ASC LIMIT 10
    """,
    "hybrid_rrf": f"""
        WITH tokm AS (
            SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
                FROM documents) WHERE w <> ''),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM tokm GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                         CAST(SUM(dl) AS DOUBLE) AS sumdl FROM dl),
        q AS (SELECT doc_id, w FROM tokm
              WHERE w IN ('hash','join','stream','vector','window')),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM q GROUP BY doc_id, w),
        dfc AS (SELECT w, COUNT(*) AS df
                FROM (SELECT DISTINCT doc_id, w FROM q) GROUP BY w),
        contrib AS (SELECT tf.doc_id,
                           CAST(ROUND(
                               ln((stats.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                               * (tf.tf * (1.2 + 1.0))
                               / (tf.tf + 1.2 * (1.0 - 0.75
                                   + 0.75 * dl.dl / (stats.sumdl / stats.n)))
                               * 1000) AS BIGINT) AS s_milli
                    FROM tf JOIN dfc USING (w)
                    JOIN dl ON tf.doc_id = dl.doc_id, stats),
        lex AS (SELECT doc_id, CAST(SUM(s_milli) AS BIGINT) AS score_milli
                FROM contrib GROUP BY doc_id
                ORDER BY score_milli DESC, doc_id ASC LIMIT 20),
        lr AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC)
                           AS INTEGER) AS lex_rank
               FROM lex),
        qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        d AS (SELECT e.vec_id, {_DOT_SQL.format(a='e.embedding', b='q.qe')} AS dot_q
              FROM embeddings e, qv q, range(1, 65) t(i)
              WHERE e.vec_id <> 0 GROUP BY e.vec_id),
        sem AS (SELECT vec_id, dot_q FROM d
                ORDER BY dot_q DESC, vec_id ASC LIMIT 20),
        sr AS (SELECT vec_id AS doc_id,
                      CAST(row_number() OVER (ORDER BY dot_q DESC, vec_id ASC)
                           AS INTEGER) AS sem_rank
               FROM sem),
        fused AS (SELECT COALESCE(lr.doc_id, sr.doc_id) AS doc_id,
                         CAST(COALESCE(lr.lex_rank, 0) AS INTEGER) AS lex_rank,
                         CAST(COALESCE(sr.sem_rank, 0) AS INTEGER) AS sem_rank
                  FROM lr FULL OUTER JOIN sr ON lr.doc_id = sr.doc_id)
        SELECT doc_id, lex_rank, sem_rank,
               CAST((CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank) ELSE 0 END)
                    + (CASE WHEN sem_rank > 0 THEN 1000000 // (60 + sem_rank) ELSE 0 END)
                    AS BIGINT) AS rrf_ppm
        FROM fused
        ORDER BY rrf_ppm DESC, doc_id ASC LIMIT 10
    """,
    "unigram_logprob": """
        WITH tokm AS (SELECT doc_id, w FROM
                (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
                 FROM documents) WHERE w <> ''),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM tokm GROUP BY doc_id, w),
        cnt AS (SELECT w, COUNT(*) AS cnt FROM tokm GROUP BY w),
        tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS _tot FROM tokm),
        lp AS (SELECT w, CAST(ROUND(1000.0 * ln(_tot / cnt)) AS BIGINT) AS lp_milli
               FROM cnt, tot)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * lp_milli) AS BIGINT) AS lp_total_milli,
               CAST(ROUND(SUM(tf * lp_milli) / SUM(tf)) AS BIGINT) AS avg_lp_milli
        FROM tf JOIN lp USING (w) GROUP BY doc_id ORDER BY doc_id
    """,
    "quality_funnel": f"""
        WITH m AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '') AS toks,
                length(text) AS n_chars,
                len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
                len(regexp_extract_all(lower(text), '\\b({_STOP_EN})\\b')) AS stop
            FROM documents),
        f AS (SELECT doc_id,
                CAST(len(toks) AS INTEGER) AS n_words,
                CAST(len(toks) >= 25 AND len(toks) <= 90 AS INTEGER) AS r1_len,
                CAST(CAST(ROUND(1000.0 * COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                                / GREATEST(len(toks), 1)) AS BIGINT)
                     BETWEEN 3000 AND 10000 AS INTEGER) AS r2_wordlen,
                CAST(stop >= 2 AS INTEGER) AS r3_stop,
                CAST(CAST(ROUND(1000.0 * punct / GREATEST(n_chars, 1)) AS BIGINT)
                     <= 150 AS INTEGER) AS r4_punct,
                CAST(CAST(ROUND(1000.0 * len(list_distinct(toks))
                                / GREATEST(len(toks), 1)) AS BIGINT)
                     > 200 AS INTEGER) AS r5_ttr
            FROM m)
        SELECT doc_id, n_words, r1_len, r2_wordlen, r3_stop, r4_punct, r5_ttr,
               CASE WHEN r1_len = 0 THEN 'r1_len'
                    WHEN r2_wordlen = 0 THEN 'r2_wordlen'
                    WHEN r3_stop = 0 THEN 'r3_stop'
                    WHEN r4_punct = 0 THEN 'r4_punct'
                    WHEN r5_ttr = 0 THEN 'r5_ttr'
                    ELSE 'pass' END AS first_fail,
               r1_len * r2_wordlen * r3_stop * r4_punct * r5_ttr AS passed
        FROM f ORDER BY doc_id
    """,
    "semdedup": f"""
        WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
        s AS (SELECT e.vec_id, c.cell, {_DOT_SQL.format(a='e.embedding', b='c.ce')} AS cell_dot_q
              FROM embeddings e, c, range(1, 65) t(i) GROUP BY e.vec_id, c.cell),
        a AS (SELECT vec_id, cell FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_dot_q DESC, cell) AS rn FROM s)
              WHERE rn = 1),
        qe AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qe
               FROM embeddings),
        v AS (SELECT a.vec_id, a.cell, q.qe,
                     (SELECT CAST(SUM(q.qe[i] * q.qe[i]) AS BIGINT)
                      FROM range(1, 65) t(i)) AS n2
              FROM a JOIN qe q USING (vec_id)),
        hits AS (SELECT b.vec_id AS vb, CAST(COUNT(*) AS BIGINT) AS n_near
                 FROM v x JOIN v b ON x.cell = b.cell AND x.vec_id < b.vec_id,
                      LATERAL (SELECT CAST(SUM(x.qe[i] * b.qe[i]) AS BIGINT) AS dot
                               FROM range(1, 65) t(i)) d
                 WHERE d.dot > 0
                   AND 1000000 * d.dot * d.dot >= 810000 * x.n2 * b.n2
                 GROUP BY b.vec_id)
        SELECT v.vec_id, v.cell,
               CAST(COALESCE(h.n_near, 0) AS BIGINT) AS n_near,
               CAST(CASE WHEN COALESCE(h.n_near, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS dropped
        FROM v LEFT JOIN hits h ON v.vec_id = h.vb
        ORDER BY v.vec_id
    """,
    "ann_srp_buckets": srp_bucket_sql(n_bits=16, dim=64),
    "lang_id": """
        SELECT doc_id, lang,
               CASE WHEN s_en > 0 AND s_en = GREATEST(0, s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de > 0 AND s_de = GREATEST(0, s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr > 0 AND s_fr = GREATEST(0, s_en, s_de, s_fr, s_es) THEN 'fr'
                    WHEN s_es > 0 AND s_es = GREATEST(0, s_en, s_de, s_fr, s_es) THEN 'es'
                    ELSE 'und' END AS pred_lang
        FROM (SELECT doc_id, lang,
                     len(regexp_extract_all(lower(text), '\\b(%(en)s)\\b')) AS s_en,
                     len(regexp_extract_all(lower(text), '\\b(%(de)s)\\b')) AS s_de,
                     len(regexp_extract_all(lower(text), '\\b(%(fr)s)\\b')) AS s_fr,
                     len(regexp_extract_all(lower(text), '\\b(%(es)s)\\b')) AS s_es
              FROM documents)
        ORDER BY doc_id
    """ % STOPWORDS,
    "quality_scores": f"""
        SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, n_chars_measured,
               CAST(ROUND(1000.0 * punct / GREATEST(n_chars_measured, 1)) AS BIGINT) AS punct_milli,
               CAST(ROUND(1000.0 * stop / GREATEST(n_tokens, 1)) AS BIGINT) AS stopword_milli,
               CAST(ROUND(1000.0 * (0.5 * LEAST(n_tokens, 100) / 100.0
                                    + 0.5 * stop / GREATEST(n_tokens, 1))) AS BIGINT) AS quality_milli
        FROM (SELECT doc_id,
                     len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens,
                     length(text) AS n_chars_measured,
                     len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
                     len(regexp_extract_all(lower(text), '\\b({_STOP_EN})\\b')) AS stop
              FROM documents)
        ORDER BY doc_id
    """,
    "token_counts": """
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
        FROM documents ORDER BY doc_id
    """,
    "doc_fingerprints": """
        SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
        FROM documents ORDER BY doc_id
    """,
    "approx_distinct_users": """
        SELECT COUNT(DISTINCT user_id) AS n_users_exact, TRUE AS within_bound
        FROM events
    """,
    "simhash_fingerprints": f"""
        WITH {_TOK_CTE},
        s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tok GROUP BY doc_id)
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE CAST({_SIMHASH_FP} AS BIGINT) END AS simhash
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
        ORDER BY d.doc_id
    """,
    "kmeans_refine": """
        WITH qe AS (SELECT vec_id,
                           list_transform(embedding,
                               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
                    FROM embeddings),
        c0 AS (SELECT vec_id AS cell, qe AS ce FROM qe WHERE vec_id < 16),
        s1 AS (SELECT q.vec_id, c.cell, CAST(SUM((q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])) AS BIGINT) AS dist_q
               FROM qe q, c0 c, range(1, 65) t(i) GROUP BY q.vec_id, c.cell),
        a1 AS (SELECT vec_id, cell FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, cell) rn FROM s1)
               WHERE rn = 1),
        comp AS (SELECT a1.cell, t.i, CAST(ROUND(AVG(q.qe[t.i])) AS BIGINT) AS cv
                 FROM a1 JOIN qe q USING (vec_id), range(1, 65) t(i) GROUP BY a1.cell, t.i),
        c1n AS (SELECT cell, list(cv ORDER BY i) AS ce FROM comp GROUP BY cell),
        c1 AS (SELECT c0.cell, COALESCE(c1n.ce, c0.ce) AS ce FROM c0 LEFT JOIN c1n USING (cell)),
        s2 AS (SELECT q.vec_id, c.cell, CAST(SUM((q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])) AS BIGINT) AS dist_q
               FROM qe q, c1 c, range(1, 65) t(i) GROUP BY q.vec_id, c.cell)
        SELECT vec_id, cell, dist_q FROM
         (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, cell) rn FROM s2)
        WHERE rn = 1 ORDER BY vec_id
    """,
    "bm25_topk": """
        WITH tokm AS (
            SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
                FROM documents) WHERE w <> ''),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM tokm GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                         CAST(SUM(dl) AS DOUBLE) AS sumdl FROM dl),
        q AS (SELECT doc_id, w FROM tokm
              WHERE w IN ('hash','join','stream','vector','window')),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM q GROUP BY doc_id, w),
        dfc AS (SELECT w, COUNT(*) AS df
                FROM (SELECT DISTINCT doc_id, w FROM q) GROUP BY w),
        contrib AS (SELECT tf.doc_id,
                           CAST(ROUND(
                               ln((stats.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                               * (tf.tf * (1.2 + 1.0))
                               / (tf.tf + 1.2 * (1.0 - 0.75
                                   + 0.75 * dl.dl / (stats.sumdl / stats.n)))
                               * 1000) AS BIGINT) AS s_milli
                    FROM tf JOIN dfc USING (w)
                    JOIN dl ON tf.doc_id = dl.doc_id, stats),
        agg AS (SELECT doc_id, CAST(SUM(s_milli) AS BIGINT) AS score_milli,
                       CAST(COUNT(*) AS INTEGER) AS n_terms
                FROM contrib GROUP BY doc_id)
        SELECT doc_id, score_milli, n_terms FROM agg
        ORDER BY score_milli DESC, doc_id ASC LIMIT 10
    """,
    "tfidf_topk": """
        WITH tokm AS (
            SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
                FROM documents) WHERE w <> ''),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM tokm GROUP BY doc_id, w),
        dfc AS (SELECT w, COUNT(*) AS df
                FROM (SELECT DISTINCT doc_id, w FROM tokm) GROUP BY w),
        n AS (SELECT CAST(COUNT(text) AS DOUBLE) AS n FROM documents),
        scored AS (SELECT tf.doc_id, tf.w, tf.tf,
                          CAST(ROUND(tf.tf * ln(n.n / dfc.df) * 1000) AS BIGINT)
                              AS score_milli
                   FROM tf JOIN dfc USING (w), n),
        ranked AS (SELECT *,
                          CAST(row_number() OVER (
                              PARTITION BY doc_id
                              ORDER BY score_milli DESC, w ASC) AS INTEGER) AS rank
                   FROM scored)
        SELECT doc_id, w, tf, score_milli, rank
        FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
    """,
    "scd2_history": """
        SELECT user_id,
               CAST(ROW_NUMBER() OVER w AS INTEGER) AS version_n,
               event_id,
               epoch_us(ts) AS from_us,
               epoch_us(LEAD(ts) OVER w) AS to_us,
               CAST(CASE WHEN LEAD(ts) OVER w IS NULL
                          AND event_type <> 'error' THEN 1 ELSE 0 END
                    AS INTEGER) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, version_n
    """,
    "contamination_check": """
        WITH b AS (SELECT doc_id,
                          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS toks
                   FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(range(1, len(toks) - 3 + 2),
                               i -> ('0x' || substring(md5(array_to_string(
                                    list_slice(toks, i, i + 2), ' ')), 1, 12))::BIGINT)
                          ELSE CAST([] AS BIGINT[]) END AS hashes
              FROM b),
        shing AS (SELECT doc_id, unnest(list_distinct(hashes)) AS sh FROM g),
        bench AS (SELECT DISTINCT sh FROM shing WHERE doc_id % 50 = 0),
        per AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
                       CAST(SUM(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_contam
                FROM shing s LEFT JOIN bench ON s.sh = bench.sh
                WHERE s.doc_id % 50 <> 0
                GROUP BY s.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(per.n_contam, 0) AS BIGINT) AS n_contam,
               CASE WHEN per.n_shingles > 0
                    THEN CAST(ROUND(1000.0 * per.n_contam / per.n_shingles) AS BIGINT)
                    END AS contam_milli
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        WHERE d.doc_id % 50 <> 0
        ORDER BY d.doc_id
    """,
    "seq_packing": """
        WITH tk AS (SELECT doc_id,
                           CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                                x -> x <> '')) AS BIGINT) AS n_tok
                    FROM documents),
        pl AS (SELECT doc_id, n_tok,
                      COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS start_off
               FROM tk)
        SELECT CAST(FLOOR(start_off / 256) AS BIGINT) AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM pl GROUP BY 1 ORDER BY 1
    """,
    "mixture_weights": """
        WITH per AS (SELECT source,
                            CAST(COUNT(*) AS BIGINT) AS n_docs,
                            CAST(SUM(len(list_filter(
                                string_split_regex(text, '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY source),
        q AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS sqrt_q FROM per),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
                       CAST(SUM(sqrt_q) AS BIGINT) AS ts FROM q)
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(1000 * n_tokens / tt) AS BIGINT) AS share_milli,
               CAST(FLOOR(1000 * sqrt_q / ts) AS BIGINT) AS weight_milli
        FROM q, tot ORDER BY source
    """,
    "stratified_topn": """
        WITH r AS (SELECT source, doc_id,
                          CAST(ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                               AS INTEGER) AS rank
                   FROM documents)
        SELECT source, doc_id, rank FROM r WHERE rank <= 50
        ORDER BY source, rank
    """,
    "simhash_candidates": f"""
        WITH {_TOK_CTE},
        s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tok GROUP BY doc_id),
        fp AS (SELECT d.doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash
               FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
               WHERE d.text IS NOT NULL),
        b AS (SELECT doc_id, simhash, k.band,
                     (simhash >> (12 * k.band)) & 4095 AS key
              FROM fp, (SELECT UNNEST(range(0, 4)) AS band) k),
        p AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                     x.simhash AS fa, y.simhash AS fb
              FROM b x JOIN b y ON x.band = y.band AND x.key = y.key
                                AND x.doc_id < y.doc_id)
        SELECT da, db, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
        FROM p WHERE bit_count(xor(fa, fb)) <= 3
        ORDER BY da, db
    """,
    # static, path-free: self-selects the right run via the data-derived sf
    # tag; DISTINCT collapses the (identical) rows if two sf-dir aliases of
    # the same dataset both materialized oracle files
    "cdc_replay_mini": f"""
        SELECT DISTINCT url, warc_ts_us, html_fp, text, lang, fetch_status
        FROM read_parquet('{_REPLAY_GLOB}')
        WHERE sf_tag = {_SF_TAG_SQL}
        ORDER BY url
    """,
    # 2 statically-unrolled integer power-iteration rounds; // is DuckDB
    # floor integer division = Spark DIV on these non-negative operands
    "pagerank_domains": """
        WITH e AS (
            SELECT DISTINCT user_id % 40 AS src, (user_id * 7 + event_id) % 40 AS dst
            FROM events WHERE user_id % 40 <> (user_id * 7 + event_id) % 40
        ),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1000 AS BIGINT) AS r FROM n),
        c1 AS (SELECT e.dst AS node, SUM(r0.r // deg.deg) AS s
               FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
               GROUP BY e.dst),
        r1 AS (SELECT n.node, CAST(150 + (850 * COALESCE(c1.s, 0)) // 1000 AS BIGINT) AS r
               FROM n LEFT JOIN c1 ON n.node = c1.node),
        c2 AS (SELECT e.dst AS node, SUM(r1.r // deg.deg) AS s
               FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
               GROUP BY e.dst),
        r2 AS (SELECT n.node, CAST(150 + (850 * COALESCE(c2.s, 0)) // 1000 AS BIGINT) AS r
               FROM n LEFT JOIN c2 ON n.node = c2.node)
        SELECT node, r AS rank_milli FROM r2 ORDER BY node
    """,
    # word-frequency compression then weighted in-word pair enumeration,
    # mirroring textops.bpe_pair_topk; range(1, len) is end-exclusive =
    # Spark's sequence(1, len-1)
    "bpe_pair_topk": """
        WITH wf AS (
            SELECT w, COUNT(*) AS wfreq FROM (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
                FROM documents)
            GROUP BY w
        ),
        pairs AS (
            SELECT wfreq,
                   unnest(list_transform(range(1, length(w)),
                          i -> substring(w, CAST(i AS INTEGER), 2))) AS pair
            FROM wf
        )
        SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 30
    """,
    # bpe_encode: built below from the SAME textops.BPE_MERGES constant the
    # Spark query applies, so the two replace chains cannot drift (see
    # _bpe_encode_oracle after this dict)
    # the %10 epoch rules of q_changes_feed replayed as pure SQL: the feed
    # is fully determined by the rules, so the oracle needs no engine
    "changes_feed": """
        SELECT 'https://cdf/' || CAST(doc_id AS VARCHAR) AS url,
               CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'update' END AS change_type,
               CAST(doc_id AS BIGINT) AS seq_before,
               CASE WHEN doc_id % 10 = 0 THEN NULL
                    ELSE CAST(doc_id + 100000 AS BIGINT) END AS seq_after,
               text AS before_text,
               CASE WHEN doc_id % 10 = 0 THEN NULL ELSE 'rev:' || text END AS after_text,
               lang AS before_lang,
               CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS after_lang
        FROM documents WHERE doc_id % 10 IN (0, 1, 2)
        UNION ALL
        SELECT 'https://cdf/new/' || CAST(doc_id AS VARCHAR),
               'insert',
               CAST(NULL AS BIGINT),
               CAST(doc_id + 200000 AS BIGINT),
               CAST(NULL AS VARCHAR), text,
               CAST(NULL AS VARCHAR), lang
        FROM documents WHERE doc_id % 10 = 3
        ORDER BY url
    """,
    # url variant CASE + canonicalization mirrored from q_url_canonicalize /
    # textops.url_canonicalize (shared regex constants, substituted below)
    "url_canonicalize": """
        WITH src AS (
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 0 THEN 'https://WWW.' || source || '.Example.COM:443/a/b?utm_source=x&q=1#frag'
                     WHEN 1 THEN 'https://www.' || source || '.example.com/a/b?q=1'
                     WHEN 2 THEN 'http://' || source || '.example.com:80/a/b/'
                     WHEN 3 THEN 'https://' || source || '.example.com/?ref=tw&b=2&a=1'
                     ELSE 'https://' || source || '.example.com'
                   END AS url
            FROM documents),
        parts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url, '{SCHEME}', 1)) AS scheme,
                   lower(regexp_extract(url, '{HOST}', 1)) AS host0,
                   regexp_replace(regexp_extract(url, '{PATH}', 1), '/+$', '') AS p0,
                   list_filter(string_split(regexp_extract(url, '{QUERY}', 1), '&'),
                               x -> x <> '') AS nonempty
            FROM src),
        canon AS (
            SELECT doc_id, url,
                   CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                        WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                        ELSE host0 END AS host,
                   CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path,
                   scheme,
                   list_sort(list_filter(nonempty,
                       x -> NOT regexp_matches(string_split(x, '=')[1], '{TRACK}'))) AS kept,
                   CAST(len(nonempty) AS BIGINT) AS n_nonempty
            FROM parts)
        SELECT doc_id, url,
               scheme || '://' || host || path ||
                 CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
                 AS canonical_url,
               CAST(n_nonempty - len(kept) AS BIGINT) AS n_tracking_dropped,
               CAST(COUNT(*) OVER (PARTITION BY
                   scheme || '://' || host || path ||
                   CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
               ) AS BIGINT) AS n_variants
        FROM canon ORDER BY doc_id
    """,
    # PII corpus + scrub mirrored from q_pii_scrub / textops.pii_scrub; the
    # regexes are the shared module constants (Java-regex / RE2 portable)
    "pii_scrub": """
        WITH src AS (
            SELECT event_id,
                   CASE WHEN event_type = 'view'
                        THEN 'benign note ' || CAST(event_id AS VARCHAR)
                        ELSE 'contact u' || CAST(user_id AS VARCHAR)
                          || '@mail' || CAST(event_id % 7 AS VARCHAR)
                          || '.example.com from 10.' || CAST(user_id % 200 AS VARCHAR)
                          || '.' || CAST(event_id % 250 AS VARCHAR)
                          || '.7 or call +358-40-'
                          || lpad(CAST(event_id % 100000 AS VARCHAR), 5, '0')
                          || ' end'
                   END AS text
            FROM events)
        SELECT event_id,
               CAST(len(regexp_extract_all(text, '{EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{IPV4}')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(text, '{PHONE}')) AS BIGINT) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(
                   text, '{EMAIL}', '[EMAIL]', 'g'), '{IPV4}', '[IP]', 'g'),
                   '{PHONE}', '[PHONE]', 'g') AS clean_text
        FROM src ORDER BY event_id
    """,
    # reflow-to-8-token-lines mirror of q_line_dedup; df grouped on the line
    # text (Spark groups on md5(line) — same partition of the line space)
    "line_dedup": """
        WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ),
        tl AS (
            SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS idx
            FROM tk
        ),
        ln AS (
            SELECT doc_id, CAST(floor((idx - 1) / 8) AS BIGINT) AS lpos,
                   string_agg(tok, ' ' ORDER BY idx) AS line
            FROM tl GROUP BY doc_id, lpos
        ),
        dfq AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM ln GROUP BY line),
        kept AS (
            SELECT l.doc_id, l.lpos, l.line
            FROM ln l JOIN dfq d ON l.line = d.line WHERE d.df < 3
        ),
        reb AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY lpos) AS clean_text
            FROM kept GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM ln GROUP BY doc_id)
        SELECT t0.doc_id,
               CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
               CAST(COALESCE(tot.n_lines, 0) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
               CASE WHEN tot.n_lines IS NULL THEN NULL
                    ELSE COALESCE(reb.clean_text, '') END AS clean_text
        FROM tk t0
        LEFT JOIN tot ON t0.doc_id = tot.doc_id
        LEFT JOIN reb ON t0.doc_id = reb.doc_id
        ORDER BY t0.doc_id
    """,
    # exact-substring passage scrub: k=8 token grams, duplicated iff the
    # gram occurs >1 times corpus-wide; COALESCE on the rebuilt string --
    # DuckDB's array_to_string([]) is NULL where Spark's concat_ws is ''
    "dup_passage_scrub": """
        WITH toks AS (
            SELECT doc_id,
                   COALESCE(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                        x -> x <> ''), []) AS t
            FROM documents
        ), occ AS (
            SELECT doc_id, t,
                   UNNEST(CASE WHEN len(t) >= 8 THEN range(0, len(t)-8+1)
                               ELSE [] END) AS start
            FROM toks
        ), g AS (
            SELECT doc_id, start,
                   md5(array_to_string(t[start+1 : start+8], chr(1))) AS h
            FROM occ
        ), dup AS (
            SELECT h FROM g GROUP BY h HAVING count(*) > 1
        ), ds AS (
            SELECT doc_id, list(DISTINCT start) AS ds
            FROM g WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
        ), m AS (
            SELECT t.doc_id, t.t, COALESCE(d.ds, []) AS ds
            FROM toks t LEFT JOIN ds d USING (doc_id)
        ), km AS (
            SELECT doc_id, t,
                   list_filter(range(0, len(t)),
                               p -> len(list_filter(ds, s -> s <= p AND p < s + 8)) = 0) AS kept
            FROM m
        )
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(t) - len(kept) AS BIGINT) AS dup_tokens,
               md5(COALESCE(array_to_string(list_transform(kept, p -> t[p+1]), ' '),
                            '')) AS scrub_hash
        FROM km ORDER BY doc_id
    """,
    # same oracle parquet as the flagship (identical WAL config => identical
    # final state); -1 is the projection's NULL sentinel for fetch_status,
    # unmapped before aggregating so COUNT/SUM see real NULLs
    "incremental_mv": f"""
        WITH st AS (
            SELECT DISTINCT url, lang, fetch_status
            FROM read_parquet('{_REPLAY_GLOB}')
            WHERE sf_tag = {_SF_TAG_SQL}
        )
        SELECT lang,
               COUNT(*) AS n_pages,
               COUNT(CASE WHEN fetch_status <> -1 THEN 1 END) AS n_fetched,
               CAST(SUM(CASE WHEN fetch_status <> -1 THEN fetch_status END) AS BIGINT) AS status_sum
        FROM st GROUP BY lang ORDER BY lang
    """,
    "edit_distance_rescore": """
        WITH {LSH},
        pre AS (SELECT doc_id, substring(text, 1, 64) AS p FROM documents)
        SELECT c.da, c.db, CAST(levenshtein(a.p, b.p) AS INTEGER) AS prefix_edit
        FROM cand c JOIN pre a ON c.da = a.doc_id JOIN pre b ON c.db = b.doc_id
        WHERE levenshtein(a.p, b.p) <= 16
        ORDER BY da, db
    """,
    "cube_pricing": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity * 1000) AS BIGINT)) AS BIGINT) AS qty_milli
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "stats_moments_value": """
        SELECT event_type, COUNT(*) AS n,
               CAST(ROUND(stddev_samp(value) * 1000) AS BIGINT) AS stddev_milli,
               CAST(ROUND(var_samp(value) * 1000) AS BIGINT) AS var_milli,
               CAST(ROUND(corr(value, CAST(user_id AS DOUBLE)) * 1000000) AS BIGINT) AS corr_micro,
               CAST(ROUND(covar_samp(value, CAST(user_id AS DOUBLE)) * 1000) AS BIGINT) AS covar_milli
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "range_join_clicks": """
        SELECT p.event_id AS purchase_id, p.user_id, COUNT(c.ts) AS n_prior_clicks
        FROM events p LEFT JOIN events c
          ON c.user_id = p.user_id AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1
    """,
    "denylist_scrub": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\\b(customer|value|table)\\b')) AS INTEGER) AS n_redacted,
               CAST(length(regexp_replace(text, '\\b(customer|value|table)\\b', '[TERM]', 'g')) AS INTEGER) AS clean_len
        FROM documents ORDER BY doc_id
    """,
    "repetition_stats": """
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                    FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
               CASE WHEN len(toks) > 0
                    THEN CAST(ROUND(1000.0 * len(list_distinct(toks)) / len(toks)) AS BIGINT)
                    ELSE NULL END AS ttr_milli
        FROM tk ORDER BY doc_id
    """,
    "median_by_type": """
        SELECT event_type, COUNT(*) AS n,
               CAST(ROUND(quantile_cont(value, 0.5) * 1000) AS BIGINT) AS p50_milli
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "vocab_df_topk": """
        WITH tok AS (SELECT doc_id,
                            unnest(list_distinct(list_filter(
                                string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> ''))) AS w
                     FROM documents)
        SELECT w, COUNT(*) AS df FROM tok
        GROUP BY w ORDER BY df DESC, w ASC LIMIT 20
    """,
    "boilerplate_share": """
        WITH b AS (SELECT doc_id,
                          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS toks
                   FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 5
                          THEN list_transform(range(1, len(toks) - 5 + 2),
                               i -> ('0x' || substring(md5(array_to_string(
                                    list_slice(toks, i, i + 4), ' ')), 1, 12))::BIGINT)
                          ELSE CAST([] AS BIGINT[]) END AS hashes
              FROM b),
        shing AS (SELECT doc_id, unnest(list_distinct(hashes)) AS sh FROM g),
        dfc AS (SELECT sh, COUNT(*) AS df FROM shing GROUP BY sh),
        per AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
                       CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
                FROM shing s JOIN dfc ON s.sh = dfc.sh GROUP BY s.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(per.n_boiler, 0) AS BIGINT) AS n_boiler,
               CASE WHEN per.n_shingles > 0
                    THEN CAST(ROUND(1000.0 * per.n_boiler / per.n_shingles) AS BIGINT)
                    END AS boiler_milli
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        ORDER BY d.doc_id
    """,
    "neardup_components": """
        WITH RECURSIVE {LSH},
        pre AS (SELECT doc_id, substring(text, 1, 64) AS p FROM documents),
        edge AS (SELECT c.da, c.db
                 FROM cand c JOIN pre a ON c.da = a.doc_id JOIN pre b ON c.db = b.doc_id
                 WHERE levenshtein(a.p, b.p) <= 16),
        und AS (SELECT da AS a, db AS b FROM edge UNION SELECT db AS a, da AS b FROM edge),
        reach(s, n) AS (
            SELECT a, a FROM und
            UNION
            SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a
        )
        SELECT s AS node, MIN(n) AS component FROM reach GROUP BY s ORDER BY node
    """,
    "text_extract_invariant": """
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN text IS NULL THEN 0
                             WHEN substring('<html><body>' || text || '</body></html>',
                                            13, length(text)) = text THEN 0
                             ELSE 1 END) AS BIGINT) AS n_violations
        FROM documents
    """,
    "dataset_splits": """
        SELECT doc_id,
               CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000 AS INTEGER) AS bucket,
               CASE WHEN ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000 < 100 THEN 'test'
                    WHEN ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000 < 200 THEN 'val'
                    ELSE 'train' END AS split
        FROM documents ORDER BY doc_id
    """,
    "stratified_sample": """
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000
              < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 500 WHEN 'fr' THEN 1000 ELSE 0 END
        ORDER BY doc_id
    """,
    "winnow_fingerprints": """
        WITH b AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
          FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 5
                      THEN list_transform(range(1, len(toks) - 5 + 2),
                           i -> ('0x' || substring(md5(array_to_string(
                                list_slice(toks, i, i + 4), ' ')), 1, 12))::BIGINT)
                      ELSE CAST([] AS BIGINT[]) END AS hashes
          FROM b),
        m AS (
          SELECT doc_id, len(hashes) AS n_grams,
                 CASE WHEN len(hashes) >= 4
                      THEN list_transform(range(1, len(hashes) - 4 + 2),
                           i -> list_min(list_slice(hashes, i, i + 3)))
                      ELSE CAST([] AS BIGINT[]) END AS mins
          FROM g),
        f AS (SELECT doc_id, n_grams, list_sort(list_distinct(mins)) AS fps FROM m)
        SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
               CAST(len(fps) AS INTEGER) AS n_fps,
               md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',')) AS fp_hash
        FROM f ORDER BY doc_id
    """,
    "multimodal_frame_sample": """
        WITH i AS (
            SELECT doc_id, text,
                   unnest(range(0, GREATEST(1, CAST(CEIL(length(text) / 1024.0) AS BIGINT)))) AS fi
            FROM documents WHERE text IS NOT NULL),
        f AS (
            SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
                   substring(text, 1 + CAST(fi AS INTEGER) * 1024, 1024) AS frame
            FROM i)
        SELECT doc_id, frame_idx, CAST(length(frame) AS INTEGER) AS frame_chars,
               md5(frame) AS frame_fp
        FROM f ORDER BY doc_id, frame_idx
    """,
    "multimodal_blob_meta": """
        SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS blob_bytes,
               md5(text) AS content_fp,
               CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'image'
                    WHEN octet_length(encode(text)) % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS modality
        FROM documents ORDER BY doc_id
    """,
    # Recomputes the BMP pixel / WAV sample stats from md5(text) HEX ALONE:
    # image logical pixel byte j (0..44) = digest byte j%16; audio sample i
    # (0..31) = signed int16 from digest bytes (2i)%16 (lo) and (2i+1)%16
    # (hi). The Spark side must round-trip the same numbers through real
    # BMP/WAV binary encode + parse (stride pad, bottom-up rows, RIFF walk,
    # signed samples) to match.
    "multimodal_features": """
        WITH m AS (
            SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL
        ),
        img AS (
            SELECT doc_id, 'image' AS modality,
                   102::BIGINT AS blob_bytes, 5::BIGINT AS dim_x, 3::BIGINT AS dim_y,
                   45::BIGINT AS n_values,
                   (SELECT CAST(SUM(('0x' || substring(h, (j % 16) * 2 + 1, 2))::BIGINT) AS BIGINT)
                      FROM range(0, 45) t(j)) AS val_sum,
                   (SELECT CAST(MIN(('0x' || substring(h, j * 2 + 1, 2))::BIGINT) AS BIGINT)
                      FROM range(0, 16) t(j)) AS val_min,
                   (SELECT CAST(MAX(('0x' || substring(h, j * 2 + 1, 2))::BIGINT) AS BIGINT)
                      FROM range(0, 16) t(j)) AS val_max,
                   ('0x' || substring(h, 1, 2))::BIGINT AS first_val,
                   ('0x' || substring(h, 25, 2))::BIGINT AS last_val
            FROM m WHERE doc_id % 2 = 0
        ),
        samp AS (
            SELECT doc_id, i,
                   CASE WHEN hi >= 128 THEN lo + 256 * hi - 65536
                        ELSE lo + 256 * hi END AS s
            FROM (
                SELECT doc_id, i,
                       ('0x' || substring(h, ((2 * i) % 16) * 2 + 1, 2))::BIGINT AS lo,
                       ('0x' || substring(h, ((2 * i + 1) % 16) * 2 + 1, 2))::BIGINT AS hi
                FROM m, range(0, 32) t(i) WHERE doc_id % 2 = 1
            )
        ),
        aud AS (
            SELECT m.doc_id, 'audio' AS modality,
                   108::BIGINT AS blob_bytes, 0::BIGINT AS dim_x, 0::BIGINT AS dim_y,
                   32::BIGINT AS n_values,
                   (SELECT CAST(SUM(s) AS BIGINT) FROM samp WHERE samp.doc_id = m.doc_id) AS val_sum,
                   (SELECT CAST(MIN(s) AS BIGINT) FROM samp WHERE samp.doc_id = m.doc_id) AS val_min,
                   (SELECT CAST(MAX(s) AS BIGINT) FROM samp WHERE samp.doc_id = m.doc_id) AS val_max,
                   (SELECT s FROM samp WHERE samp.doc_id = m.doc_id AND i = 0) AS first_val,
                   (SELECT s FROM samp WHERE samp.doc_id = m.doc_id AND i = 31) AS last_val
            FROM m WHERE doc_id % 2 = 1
        )
        SELECT * FROM img UNION ALL SELECT * FROM aud ORDER BY doc_id
    """,
    # Recomputes the sampled AVI frame stats from md5(text) HEX ALONE:
    # frame f pixel byte j (j in 0..44, 5x3 RGB) = digest byte (f+j)%16;
    # 4 frames per container, every 2nd sampled -> frames {0, 2}. The Spark
    # side must round-trip the same numbers through a real RIFF/AVI encode +
    # chunk-walk demux (word alignment, JUNK skip, bottom-up stride rows,
    # idx1 cross-check) to match.
    "video_frame_features": """
        WITH m AS (
            SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL
        ),
        fr AS (SELECT doc_id, h, unnest([0, 2]) AS f FROM m)
        SELECT doc_id,
               CAST(f AS INTEGER) AS frame_idx,
               4::INTEGER AS n_frames,
               (SELECT CAST(SUM(('0x' || substring(h, ((f + j) % 16) * 2 + 1, 2))::BIGINT) AS BIGINT)
                  FROM range(0, 45) t(j)) AS px_sum,
               (SELECT CAST(MIN(('0x' || substring(h, ((f + j) % 16) * 2 + 1, 2))::BIGINT) AS BIGINT)
                  FROM range(0, 45) t(j)) AS px_min,
               (SELECT CAST(MAX(('0x' || substring(h, ((f + j) % 16) * 2 + 1, 2))::BIGINT) AS BIGINT)
                  FROM range(0, 45) t(j)) AS px_max,
               ('0x' || substring(h, (f % 16) * 2 + 1, 2))::BIGINT AS first_px,
               ('0x' || substring(h, ((f + 44) % 16) * 2 + 1, 2))::BIGINT AS last_px
        FROM fr ORDER BY doc_id, frame_idx
    """,
}

for _k in ("lsh_candidates", "minhash_jaccard_est", "dedup_delta", "jaccard_on_lsh", "edit_distance_rescore", "neardup_components", "neardup_survivors"):
    ORACLE_SQL[_k] = ORACLE_SQL[_k].replace("{LSH}", _LSH_CTES)

from cdc_engine.textops import PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE  # noqa: E402

ORACLE_SQL["pii_scrub"] = (
    ORACLE_SQL["pii_scrub"]
    .replace("{EMAIL}", PII_EMAIL_RE)
    .replace("{IPV4}", PII_IPV4_RE)
    .replace("{PHONE}", PII_PHONE_RE)
)

from cdc_engine.textops import (  # noqa: E402
    URL_HOST_RE,
    URL_PATH_RE,
    URL_QUERY_RE,
    URL_SCHEME_RE,
    URL_TRACKING_KEY_RE,
)

ORACLE_SQL["url_canonicalize"] = (
    ORACLE_SQL["url_canonicalize"]
    .replace("{SCHEME}", URL_SCHEME_RE)
    .replace("{HOST}", URL_HOST_RE)
    .replace("{PATH}", URL_PATH_RE)
    .replace("{QUERY}", URL_QUERY_RE)
    .replace("{TRACK}", URL_TRACKING_KEY_RE)
)


def _bpe_encode_oracle() -> str:
    """bpe_encode oracle, generated from the SAME textops.BPE_MERGES constant
    the Spark query applies — the two replace chains cannot drift. DuckDB's
    replace() is left-to-right non-overlapping replace-all, exactly Spark's
    F.replace, so the chain is value-identical by construction."""
    from cdc_engine.textops import BPE_MERGES

    rep = r"regexp_replace(w, '(.)', '_\1', 'g')"
    for _a, _b in BPE_MERGES:
        rep = f"replace({rep}, '_{_a}_{_b}', '_{_a}{_b}')"
    return f"""
        WITH words AS (
            SELECT doc_id, w, COUNT(*) AS cnt FROM (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
                FROM documents)
            GROUP BY doc_id, w
        ),
        enc AS (
            SELECT w, length(r) - length(replace(r, '_', '')) AS n_sub FROM (
                SELECT w, {rep} AS r FROM (SELECT DISTINCT w FROM words))
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_words,
               CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
               CAST(SUM(cnt * n_sub) AS BIGINT) AS n_subtokens
        FROM words JOIN enc USING (w)
        GROUP BY doc_id
    """


ORACLE_SQL["bpe_encode"] = _bpe_encode_oracle()


def _bpe_train_oracle(n_merges: int = 8) -> str:
    """bpe_train oracle: the Sennrich loop UNROLLED as chained CTEs — round
    r's word relation w{r} applies the argmax merge b{r} (scalar
    subqueries) to w{r-1}; pair counting mirrors textops.bpe_train exactly
    (symbols = marker-split, pair key = a || '_' || b, argmax = count DESC
    then pair ASC). Generated from the same round structure the Spark loop
    executes, so the two cannot drift. Every round's CTEs are MATERIALIZED:
    inlined, each round would re-evaluate the whole chain below it (w{r-1}
    is read by p{r} and w{r}, b{r} by two scalar subqueries), exponential
    in the round count."""
    ctes = [
        """w0 AS MATERIALIZED (
            SELECT regexp_replace(w, '(.)', '_\\1', 'g') AS r, COUNT(*) AS wf
            FROM (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
                FROM documents)
            GROUP BY 1
        )"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(f"""p{k} AS MATERIALIZED (
            SELECT p, CAST(SUM(wf) AS BIGINT) AS n FROM (
                SELECT wf, unnest(list_transform(range(1, len(s)),
                       i -> s[i] || '_' || s[i + 1])) AS p
                FROM (SELECT wf, list_filter(string_split(r, '_'), x -> x <> '') AS s
                      FROM w{k - 1}))
            GROUP BY p
        )""")
        ctes.append(f"""b{k} AS MATERIALIZED (SELECT p, n FROM p{k} ORDER BY n DESC, p ASC LIMIT 1)""")
        if k < n_merges:
            ctes.append(f"""w{k} AS MATERIALIZED (
            SELECT replace(r, (SELECT '_' || p FROM b{k}),
                              (SELECT '_' || replace(p, '_', '') FROM b{k})) AS r, wf
            FROM w{k - 1}
        )""")
    rows = "\n            UNION ALL ".join(
        f"SELECT {k}::INT AS rank, string_split(p, '_')[1] AS a, "
        f"string_split(p, '_')[2] AS b, n AS cnt FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + f"\n        SELECT * FROM ({rows}) ORDER BY rank"


ORACLE_SQL["bpe_train"] = _bpe_train_oracle()

# Dict ORDER is deliberate: the driver harness records exactly the first 50
# entries per round. Rotation policy (round-3 verdict task 6, applied every
# round since): every query must have a driver row dated within the last two
# rounds. Round-5 window: flagship (always) + simhash_candidates (NEW — needs
# its first driver row) + the 14 entries whose latest driver row is r03
# (rotated back in) + the rest; tail = 15 entries with fresh r04 driver rows
# that sit out exactly one round, each with a family-coverage reason:
#   * minhash_signatures  — lsh_candidates runs the signature stage end-to-end
#   * ngram_jaccard       — jaccard_on_lsh keeps Jaccard scoring (ngram is
#                           the documented audit form)
#   * winnow_fingerprints — doc_fingerprints keeps the fingerprint family
#   * token_counts        — repetition_stats + quality_scores keep
#                           token-level text stats
#   * scalar_url_extract  — json_props_extract keeps string-extraction scalars
#   * time_bucket_hourly  — sliding_window_counts keeps event-time bucketing
#   * approx_quantiles_value — median_by_type rotates back in (percentiles)
#   * stratified_sample   — dataset_splits keeps deterministic sampling
#   * ann_srp_buckets     — embedding_neardup_pairs exercises SRP bucketing
#   * simsearch_brute_topk — ann_ivf_query_topk keeps vector top-k
#   * lag_gap_audit       — window_rank_sources + running_window rotate back in
#   * dedup_exact_stats   — distinct_exact rotates back in;
#                           dedup_canonical_map keeps exact dedup
#   * pivot_daily_event_types — cube_pricing rotates back in (wide grouping)
#   * boilerplate_share   — vocab_df_topk keeps shingle/DF aggregation
#   * asof_prior_click    — range_join_clicks rotates back in (time joins)
#   * vocab_df_topk       — tfidf_topk (NEW, in-window) subsumes the DF
#                           aggregation shape
#   * ann_ivf_assign      — kmeans_refine (NEW, in-window) iterates the
#                           same argmin assignment; ann_ivf_query_topk
#                           keeps the probe path
#   * simhash_fingerprints — simhash_candidates (in-window) runs the
#                           fingerprint stage end-to-end
#   * lsh_candidates      — jaccard_on_lsh / edit_distance_rescore /
#                           neardup_components all run the LSH candidate
#                           stage in-window
#   * multimodal_blob_meta — multimodal_features (real decode) +
#                           multimodal_frame_sample keep the family;
#                           blob_meta is its narrow metadata projection
# Session-close swap: the four last-landed round-5 queries (dedup_delta,
# classifier_scores, bigram_lm_stats, neardup_survivors) moved INTO the
# window, displacing four untouched r04-green contract fillers
# (union_schema_merge, broadcast_dim_join, tpch_q1_pricing, tpch_q3_topk)
# whose code is bit-identical to what the r04 driver hashed; every r5-new
# query therefore gets a real driver row this round.
# Late-round-5 displacements (all r04-green, each with an in-window
# coverage stand-in):
#   * neardup_components  — components stay pytest-covered (test_components);
#                           edit_distance_rescore runs the LSH chain in-window
#   * jaccard_on_lsh      — same chain via edit_distance_rescore
#   * rollup_pricing      — cube_pricing (in-window) keeps grouping sets
#   * sliding_window_counts / session_windows — event-time windowing;
#                           time_bucket_hourly family, rotate back in r06
#   * tpch_q5_region      — tpch_q3_topk keeps the multi-join SMJ shape
#   * json_props_extract  — scalar extraction family (scalar_url_extract note)
#   * dedup_canonical_map — distinct_exact + dedup survivorship in CLI tests
#   * embedding_neardup_pairs — semdedup (NEW, in-window) keeps embedding
#                           near-dup screening
# All queries (window + tail) remain covered by the local dtype-sensitive DuckDB mirror
# (tests/test_contract.py) regardless of the driver cap.
# The external driver records only the FIRST 50 entries each round.
# Window discipline (the two-round-green invariant): every query must have
# a green driver row within the last two rounds, so each round the window
# is (flagship) + (queries green only in round N-2) + (new queries needing
# their first row); everything green in round N-1 rides the tail.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_replay_mini": q_cdc_replay_mini,  # flagship, always in-window
    # ---- r05-only driver rows, rotated back into the r07 window -----------
    # (two-round-green invariant: 1 flagship + 49 queries whose last green
    # row is CORRECTNESS_r05 = exactly the 50-entry driver cap; everything
    # green in r06 rides the tail and is due back in r08)
    "simhash_candidates": q_simhash_candidates,
    "incremental_mv": q_incremental_mv,
    "line_dedup": q_line_dedup,
    "dup_passage_scrub": q_dup_passage_scrub,
    "pii_scrub": q_pii_scrub,
    "url_canonicalize": q_url_canonicalize,
    "changes_feed": q_changes_feed,
    "bpe_pair_topk": q_bpe_pair_topk,
    "bpe_encode": q_bpe_encode,
    "pagerank_domains": q_pagerank_domains,
    "tfidf_topk": q_tfidf_topk,
    "bm25_topk": q_bm25_topk,
    "semdedup": q_semdedup,
    "unigram_logprob": q_unigram_logprob,
    "quality_funnel": q_quality_funnel,
    "hybrid_rrf": q_hybrid_rrf,
    "pq_encode": q_pq_encode,
    "pq_adc_topk": q_pq_adc_topk,
    "dup_ngram_share": q_dup_ngram_share,
    "corpus_shuffle": q_corpus_shuffle,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "scd2_history": q_scd2_history,
    "contamination_check": q_contamination_check,
    "seq_packing": q_seq_packing,
    "mixture_weights": q_mixture_weights,
    "stratified_topn": q_stratified_topn,
    "cube_pricing": q_cube_pricing,
    "median_by_type": q_median_by_type,
    "range_join_clicks": q_range_join_clicks,
    "lww_dedup_latest": q_lww_dedup_latest,
    "hot_keys_topk": q_hot_keys_topk,
    "distinct_exact": q_distinct_exact,
    "running_window": q_running_window,
    "except_diff": q_except_diff,
    "intersect_users": q_intersect_users,
    "udaf_value_by_type": q_udaf_value_by_type,
    "semi_join_customers": q_semi_join_customers,
    "tpch_q14_promo": q_tpch_q14_promo,
    "window_rank_sources": q_window_rank_sources,
    "stats_moments_value": q_stats_moments_value,
    "cdc_final_state": q_cdc_final_state,
    "cdc_merge_outcomes": q_cdc_merge_outcomes,
    "ledger_anti_join": q_ledger_anti_join,
    "dedup_delta": q_dedup_delta,
    "classifier_scores": q_classifier_scores,
    "bigram_lm_stats": q_bigram_lm_stats,
    "neardup_survivors": q_neardup_survivors,
    "edit_distance_rescore": q_edit_distance_rescore,
    "kmeans_refine": q_kmeans_refine,
    # ---- tail: green in r06, due back in the r08 window -------------------
    "video_frame_features": q_video_frame_features,
    "bpe_train": q_bpe_train,
    "minhash_jaccard_est": q_minhash_jaccard_est,
    "ann_recall_at_k": q_ann_recall_at_k,
    "ann_ivf_query_topk": q_ann_ivf_query_topk,
    "lang_id": q_lang_id,
    "quality_scores": q_quality_scores,
    "doc_fingerprints": q_doc_fingerprints,
    "text_extract_invariant": q_text_extract_invariant,
    "dataset_splits": q_dataset_splits,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "approx_distinct_users": q_approx_distinct_users,
    "denylist_scrub": q_denylist_scrub,
    "repetition_stats": q_repetition_stats,
    "epoch_stats": q_epoch_stats,
    "neardup_components": q_neardup_components,
    "jaccard_on_lsh": q_jaccard_on_lsh,
    "rollup_pricing": q_rollup_pricing,
    "sliding_window_counts": q_sliding_window_counts,
    "tpch_q5_region": q_tpch_q5_region,
    "session_windows": q_session_windows,
    "json_props_extract": q_json_props_extract,
    "dedup_canonical_map": q_dedup_canonical_map,
    "embedding_neardup_pairs": q_embedding_neardup_pairs,
    "multimodal_features": q_multimodal_features,
    "simhash_fingerprints": q_simhash_fingerprints,
    "multimodal_blob_meta": q_multimodal_blob_meta,
    "lsh_candidates": q_lsh_candidates,
    "minhash_signatures": q_minhash_signatures,
    "ngram_jaccard": q_ngram_jaccard,
    "winnow_fingerprints": q_winnow_fingerprints,
    "token_counts": q_token_counts,
    "scalar_url_extract": q_scalar_url_extract,
    "time_bucket_hourly": q_time_bucket_hourly,
    "approx_quantiles_value": q_approx_quantiles_value,
    "stratified_sample": q_stratified_sample,
    "ann_srp_buckets": q_ann_srp_buckets,
    "simsearch_brute_topk": q_simsearch_brute_topk,
    "lag_gap_audit": q_lag_gap_audit,
    "dedup_exact_stats": q_dedup_exact_stats,
    "pivot_daily_event_types": q_pivot_daily_event_types,
    "boilerplate_share": q_boilerplate_share,
    "asof_prior_click": q_asof_prior_click,
    "vocab_df_topk": q_vocab_df_topk,
    "ann_ivf_assign": q_ann_ivf_assign,
    "union_schema_merge": q_union_schema_merge,
    "broadcast_dim_join": q_broadcast_dim_join,
    "tpch_q1_pricing": q_tpch_q1_pricing,
    "tpch_q3_topk": q_tpch_q3_topk,
}

