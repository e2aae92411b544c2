"""apply_epoch: the whole CDC apply for one micro-batch (SURVEY.md §3.1).

Pure function of (batch contents, epoch_id, lake state): normalize ->
validate/quarantine -> LWW dedup -> salted repartition -> MERGE (which
atomically commits data + ledger + lineage). Both the streaming path
(foreachBatch) and the deterministic replay path call exactly this.

Ledger identity: the ledger keys on epoch_id, but replay numbers epochs by
seq range while streaming uses Spark batch ids — and both share one lake
ledger. A bare epoch-id match could therefore silently skip a batch whose
CONTENTS were never applied (resume with a fresh checkpoint, changed
--events-per-epoch, replay over a streamed lake). Before honoring a ledger
hit, apply_epoch verifies the committed entry's recorded [first_seq,
last_seq] against the incoming batch and raises ``LedgerSeqMismatch``
loudly on disagreement — the Delta idempotent-writer (txnAppId/txnVersion)
analog, expressed as range verification instead of writer namespacing.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_engine.config import CdcConfig
from cdc_engine.dedup import lww_dedup
from cdc_engine.lake import VALID_SQL, SnapLake, input_stats_from, observe_input
from cdc_engine.normalize import apply_mapping
from cdc_engine.salt import bucket_expr, salted_repartition
from cdc_engine.timing import phase


class LedgerSeqMismatch(RuntimeError):
    """An epoch_id is already in the ledger but its recorded seq range does
    not match the batch being applied — the ledger entry belongs to a
    different batching of the WAL. Skipping would lose data; failing loudly
    forces the operator to replay into a fresh lake or fix the batching
    parameters (events_per_epoch / checkpoint)."""


def _verify_ledger_hit(
    entry: dict,
    epoch_id: int,
    batch_range: tuple[int, int] | None,
    expected_window: tuple[int, int] | None,
) -> None:
    """When both bounds are given (streaming fast path: window AND exact
    batch range derived from the trigger files' footers), both directions
    are enforced — entry inside the window AND batch inside the entry —
    i.e. range equality up to bounds. A one-directional check would let a
    re-batched stream (changed maxFilesPerTrigger over a stale checkpoint)
    silently skip the half of a wider batch the entry never covered."""
    e_lo, e_hi = entry.get("first_seq"), entry.get("last_seq")
    if expected_window is not None:
        lo, hi = expected_window
        if e_lo is None or e_hi is None or e_lo < lo or e_hi >= hi:
            raise LedgerSeqMismatch(
                f"epoch {epoch_id} is committed with seq range [{e_lo}, {e_hi}] "
                f"but this replay cuts epoch {epoch_id} as seq window [{lo}, {hi}) "
                f"— the ledger entry came from a different batching; refusing to "
                f"skip (data loss). Replay into a fresh lake or restore the "
                f"original events_per_epoch."
            )
    if batch_range is not None:
        lo, hi = batch_range
        if e_lo is None or e_hi is None or lo < e_lo or hi > e_hi:
            raise LedgerSeqMismatch(
                f"epoch {epoch_id} is committed with seq range [{e_lo}, {e_hi}] "
                f"but the re-delivered batch spans [{lo}, {hi}] — contents were "
                f"never applied under this epoch id (stale checkpoint / changed "
                f"trigger batching); refusing to skip."
            )


def apply_epoch(
    spark: SparkSession,
    lake: SnapLake,
    batch_df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig | None = None,
    quarantine_dir: str | None = None,
    expected_seq_range: tuple[int, int] | None = None,
    pid_bounds: tuple[int, int] | None = None,
    batch_seq_range: tuple[int, int] | None = None,
) -> dict[str, Any] | None:
    """Apply one epoch; returns commit stats, or None if the epoch was
    already committed / the batch is empty (both are safe no-ops).

    ``expected_seq_range``: the [lo, hi) seq window this epoch id is
    DEFINED to own (the replay path knows it without any Spark work);
    ledger hits are verified against it. Streaming callers that cannot
    derive it leave it None and a ledger hit is verified against the
    batch's actual min/max seq (one narrow aggregate on the rare
    re-delivery path only).

    ``batch_seq_range``: the batch's EXACT inclusive (min_seq, max_seq),
    when the caller knows it without a Spark job (streaming foreachBatch
    derives it from the trigger files' parquet footers —
    source.footer_epoch_bounds). Passed together with
    ``expected_seq_range`` it upgrades the no-job ledger check to range
    equality, preserving the slow path's contents-were-applied guarantee.

    ``pid_bounds``: optional (min, max) bound on source_partition values
    (from WAL parquet footer stats — source.partition_pid_bounds). With it
    AND an expected seq window, a MoR epoch takes the ZERO-EXTRA-JOB fast
    path: input stats, quarantine counts, touched buckets, and lineage all
    ride the write job's Observation, so the epoch is exactly ONE Spark
    job (the delta write). Every job barrier is pure serial time at any
    cluster size — this removes one of the two MoR ingest barriers.
    """
    cfg = cfg or CdcConfig()
    if quarantine_dir is None:
        quarantine_dir = cfg.quarantine_dir
    man = lake.manifest()
    entry = lake.ledger_entry(epoch_id, man)
    if entry is not None and expected_seq_range is not None:
        # J4 idempotence fast-path: no Spark work — the expected window is
        # known a priori, so the ledger entry can be verified immediately
        _verify_ledger_hit(entry, epoch_id, batch_seq_range, expected_seq_range)
        return None

    df = apply_mapping(batch_df, cfg.column_mapping)

    if (
        expected_seq_range is not None
        and pid_bounds is not None
        and man.get("mode", "cow") == "mor"
    ):
        return _apply_mor_fast(
            spark, lake, df, epoch_id, cfg, quarantine_dir,
            expected_seq_range, pid_bounds, man,
        )

    prep = prepare_epoch(
        spark, lake, df, epoch_id, cfg, quarantine_dir, man=man, entry=entry
    )
    if prep is None:
        return None
    return commit_prepared(spark, lake, prep)


class PreparedEpoch:
    """Everything the stats-job path computes about one epoch BEFORE the
    merge — all of it a pure function of the batch contents, independent
    of table state. Produced by ``prepare_epoch`` (runs the combined stats
    job + rare quarantine write), consumed by ``commit_prepared`` (runs
    the state-dependent merge/commit). The split exists so a COW replay
    can overlap epoch k+1's preparation with epoch k's merge (round-4
    verdict task 4): COW merges must stay strictly ordered (the target
    read depends on the previous commit), but nothing in here does.
    ``df`` is the persisted LWW winners; ``commit_prepared`` unpersists
    it."""

    __slots__ = ("epoch_id", "df", "input_stats", "touched")

    def __init__(self, epoch_id, df, input_stats, touched):
        self.epoch_id = epoch_id
        self.df = df
        self.input_stats = input_stats
        self.touched = touched


def _footer_pids(df: DataFrame, pid_bounds: tuple[int, int]) -> list[int | None]:
    """The pid list an input Observation unrolls: every source_partition
    inside the WAL-footer bound (a conservative superset — absent pids
    yield all-zero structs that are dropped)."""
    if "source_partition" not in df.columns:
        return [None]
    return list(range(pid_bounds[0], pid_bounds[1] + 1))


def prepare_epoch(
    spark: SparkSession,
    lake: SnapLake,
    df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig,
    quarantine_dir: str | None,
    man: dict | None = None,
    entry: dict | None = ...,
    materialize: bool = False,
    pid_bounds: tuple[int, int] | None = None,
) -> PreparedEpoch | None:
    """The state-independent half of the stats-job apply path: combined
    stats aggregate, quarantine write, LWW dedup plan, persist. Returns
    None for empty/already-committed epochs (after verifying a ledger hit
    against the batch's actual seq range). ``materialize`` additionally
    forces the persisted winners to materialize NOW (one count action) so
    a prefetching caller pulls the dedup shuffle into the overlap window,
    not just the stats job.

    ``pid_bounds``: WAL-footer (min, max) source_partition bound. With it
    (and ``materialize``), the COW prepare runs as exactly ONE Spark job
    (round 7, same lever _apply_mor_fast gave MoR a round earlier): the
    per-pid input stats, quarantine counts and touched-bucket set ride an
    Observation on the raw batch BELOW the valid-filter + LWW dedup, and
    the cache-materializing count is the only action — the separate
    pre-dedup stats job (a full extra job barrier AND a second WAL scan
    per epoch) disappears. Quarantined rows are persisted in one extra job
    on that rare path only, still before the commit."""
    if man is None:
        man = lake.manifest()
    if entry is ...:
        entry = lake.ledger_entry(epoch_id, man)

    if (
        materialize
        and pid_bounds is not None
        and entry is None
        and cfg.quarantine_invalid
        and man.get("mode", "cow") == "cow"
    ):
        return _prepare_cow_one_job(
            spark, lake, df, epoch_id, cfg, quarantine_dir, man, pid_bounds
        )

    # P4: null-safe key guard — LWW is undefined for null url/warc_ts/seq
    valid = F.expr(VALID_SQL)

    # ONE pre-dedup aggregate job computes everything the commit needs from
    # the raw batch: per-source-partition input stats (ledger/lineage must
    # record the FULL consumed offset range — including quarantined rows —
    # S6/S7), emptiness, quarantine counts, and the set of touched lake
    # buckets (saves merge a separate distinct-buckets job). It is
    # deliberately NARROW (seq, source_partition, validity, url hash —
    # lineage comes later from the merge's write-job Observation).
    n_buckets = man["n_buckets"]
    sp = F.col("source_partition").cast("int") if "source_partition" in df.columns else F.lit(None).cast("int")
    stats_query = df.groupBy(sp.alias("pid")).agg(
        F.count("*").alias("rows_seen"),
        F.sum(F.when(valid, 0).otherwise(1)).alias("rows_quarantined"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
        # bucket only for valid rows: xxhash64(NULL) is the seed (42),
        # so a null url would otherwise smuggle in a phantom bucket
        F.collect_set(F.when(valid, bucket_expr("url", n_buckets))).alias("buckets"),
    )
    with phase("stats_agg"):
        stats_rows = stats_query.collect()
    if not stats_rows:
        return None
    seqs_lo = [int(r["first_seq"]) for r in stats_rows if r["first_seq"] is not None]
    seqs_hi = [int(r["last_seq"]) for r in stats_rows if r["last_seq"] is not None]
    if entry is not None:
        # streaming re-delivery: verify contents before honoring the skip
        if seqs_lo and seqs_hi:
            _verify_ledger_hit(entry, epoch_id, (min(seqs_lo), max(seqs_hi)), None)
        return None
    input_stats = [
        {
            "partition_id": None if r["pid"] is None else int(r["pid"]),
            "rows_in": int(r["rows_seen"]) - int(r["rows_quarantined"]),
            "rows_quarantined": int(r["rows_quarantined"]),
            "first_seq": None if r["first_seq"] is None else int(r["first_seq"]),
            "last_seq": None if r["last_seq"] is None else int(r["last_seq"]),
        }
        for r in stats_rows
    ]
    touched = sorted({int(b) for r in stats_rows for b in r["buckets"]})

    if cfg.quarantine_invalid:
        if quarantine_dir is not None and any(
            s["rows_quarantined"] for s in input_stats
        ):
            df.where(~valid).write.mode("append").parquet(
                os.path.join(quarantine_dir, f"epoch={epoch_id}")
            )
        df = df.where(valid)
    if not touched:
        return None  # every row was quarantined; nothing to commit

    # W1: one row per url — MUST precede a COW merge (several source rows
    # per url would make the LWW pick depend on more than the batch;
    # SURVEY.md §4 inv. 1). A MoR delta would tolerate multiplicity, but
    # deduping first collapses an update-heavy epoch ~100x BEFORE the wide
    # parquet write (measured 14.0 s eager vs 66.2 s writing the raw batch,
    # 12M events / 8 pinned cores).
    df = lww_dedup(df)

    # J6: optional explicit pre-merge shuffle on hash(url); the dedup above
    # already leaves the batch hash-partitioned on url, so default is off
    if cfg.repartition_urls:
        df = salted_repartition(df, "url", cfg.repartition_urls)

    # cache the winners: the merge's write job consumes them (otherwise the
    # dedup shuffle re-runs per job)
    df = df.persist()
    if materialize:
        # prefetch mode: pull the dedup shuffle (WAL read + LWW window +
        # cache write) into the caller's overlap window with one count —
        # a cache scan materializes whole partitions regardless of column
        # pruning; the later merge's write job then reads straight from
        # the cache
        with phase("prefetch_materialize"):
            df.count()
    return PreparedEpoch(epoch_id, df, input_stats, touched)


def _prepare_cow_one_job(
    spark: SparkSession,
    lake: SnapLake,
    df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig,
    quarantine_dir: str | None,
    man: dict,
    pid_bounds: tuple[int, int],
) -> PreparedEpoch | None:
    """ONE-JOB COW prepare (see prepare_epoch docstring): input stats /
    quarantine counts / touched buckets ride an Observation on the raw
    batch; the winners-cache materialization count is the only job."""
    pids = _footer_pids(df, pid_bounds)
    observed, obs = observe_input(
        df, f"prep_e{epoch_id}", pids, n_buckets=man["n_buckets"]
    )
    winners = lww_dedup(observed.where(F.expr(VALID_SQL)))
    if cfg.repartition_urls:
        winners = salted_repartition(winners, "url", cfg.repartition_urls)
    winners = winners.persist()
    with phase("prepare_one_job"):
        winners.count()
    vals = obs.get
    input_stats = input_stats_from(vals, pids, epoch_id)
    if input_stats is None:
        winners.unpersist()
        return None
    touched = sorted(int(b) for b in (vals["_buckets"] or []))
    if quarantine_dir is not None and any(s["rows_quarantined"] for s in input_stats):
        # rare path: persist quarantined rows in one extra job, before
        # the commit (same ordering as the stats-job path)
        df.where(~F.expr(VALID_SQL)).write.mode("append").parquet(
            os.path.join(quarantine_dir, f"epoch={epoch_id}")
        )
    if not touched:
        winners.unpersist()
        return None  # every row was quarantined; nothing to commit
    return PreparedEpoch(epoch_id, winners, input_stats, touched)


def commit_prepared(
    spark: SparkSession, lake: SnapLake, prep: PreparedEpoch
) -> dict[str, Any] | None:
    """State-DEPENDENT half: the merge/commit of a prepared epoch. For COW
    this reads the target table, so it must run strictly after the
    previous epoch's commit."""
    try:
        with phase("merge_total"):
            return lake.merge(
                spark, prep.df, prep.epoch_id, input_stats=prep.input_stats,
                touched_buckets=prep.touched,
            )
    finally:
        prep.df.unpersist()


def _apply_mor_fast(
    spark: SparkSession,
    lake: SnapLake,
    df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig,
    quarantine_dir: str | None,
    expected_seq_range: tuple[int, int],
    pid_bounds: tuple[int, int],
    man: dict,
) -> dict[str, Any] | None:
    """MoR replay epoch as exactly ONE Spark job: an input Observation on
    the raw batch computes — per source partition, map-side — the input
    stats (rows/quarantined/seq range), and the merge's own lineage
    Observation on the written winners adds the lineage split and the
    touched-bucket set, so the pre-commit stats job (one full job barrier
    + one extra WAL scan per epoch) disappears.

    Quarantined rows are filtered before the write; if the Observation
    reports any, they are persisted in one extra job on that rare path
    only, still BEFORE the commit."""
    pids = _footer_pids(df, pid_bounds)
    observed, obs_in = observe_input(df, f"fast_in_e{epoch_id}", pids)
    winners = lww_dedup(observed.where(F.expr(VALID_SQL)))

    def quarantine_writer() -> None:
        if cfg.quarantine_invalid and quarantine_dir is not None:
            df.where(~F.expr(VALID_SQL)).write.mode("append").parquet(
                os.path.join(quarantine_dir, f"epoch={epoch_id}")
            )

    with phase("merge_total"):
        return lake.merge(
            spark,
            winners,
            epoch_id,
            fast_obs=obs_in,
            fast_pids=pids,
            est_rows=expected_seq_range[1] - expected_seq_range[0],
            quarantine_writer=quarantine_writer,
        )
