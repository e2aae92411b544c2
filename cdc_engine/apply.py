"""apply_epoch: the whole CDC apply for one micro-batch (SURVEY.md §3.1).

Pure function of (batch contents, epoch_id, lake state): normalize ->
validate/quarantine -> LWW dedup (its window hash-partitions on url) ->
MERGE (which atomically commits data + ledger + lineage). It is
``commit_epoch(prepare_epoch(...))``: the prepare is state-independent,
the commit reads or publishes table state. The streaming path
(foreachBatch) calls apply_epoch; the deterministic replay path runs the
two halves itself, prepares ahead and commits in epoch order.

Input accounting (per-pid rows, quarantined rows, seq span, touched
buckets — ``lake.EpochInputs``) has two routes, chosen by the pid bound
alone: an Observation on the raw batch when WAL footers bound the pids,
a one-collect stats job when they do not. Either feeds the same
dedup-and-merge body in both table modes.

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
from cdc_engine.lake import VALID_SQL, EpochInputs, SnapLake, StagedMerge, seq_span
from cdc_engine.normalize import apply_mapping
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
    """Apply one epoch — ``commit_epoch(prepare_epoch(...))``; returns
    commit stats, or None if the epoch was already committed / the batch
    is empty (both are safe no-ops).

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
    (from WAL parquet footer stats — source.partition_pid_bounds). With
    it, the input stats, quarantine counts and touched buckets ride an
    Observation on the raw batch instead of a stats job: a MoR epoch is
    then exactly ONE Spark job (the delta write, which also fills the
    lineage Observation), and a COW epoch's prepare is one job (the
    winners-cache materialization). Every job barrier is pure serial time
    at any cluster size.
    """
    prep = prepare_epoch(
        spark, lake, batch_df, epoch_id, cfg, quarantine_dir,
        expected_seq_range, pid_bounds, batch_seq_range,
    )
    return None if prep is None else commit_epoch(spark, lake, prep)


class PreparedEpoch:
    """A prepared COW epoch: everything computed about it BEFORE the
    merge — all of it a pure function of the batch contents, independent
    of table state. ``df`` is the persisted LWW winners; ``commit_epoch``
    merges and unpersists it, ``discard_epoch`` only unpersists it."""

    __slots__ = ("epoch_id", "df", "inputs")

    def __init__(self, epoch_id, df, inputs):
        self.epoch_id = epoch_id
        self.df = df
        self.inputs = inputs


def prepare_epoch(
    spark: SparkSession,
    lake: SnapLake,
    batch_df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig | None = None,
    quarantine_dir: str | None = None,
    expected_seq_range: tuple[int, int] | None = None,
    pid_bounds: tuple[int, int] | None = None,
    batch_seq_range: tuple[int, int] | None = None,
) -> PreparedEpoch | StagedMerge | None:
    """The state-INDEPENDENT half of ``apply_epoch`` (same arguments),
    safe to run ahead of earlier epochs' commits. None for an empty,
    all-quarantined or already-committed epoch (a ledger hit is verified
    first).

    The input accounting (``EpochInputs``: per-pid stats, quarantined
    rows, touched buckets) takes one of two routes, chosen by the pid
    bound alone: with ``pid_bounds`` and no ledger entry, an Observation
    on the raw batch that the epoch's first job fills; otherwise the
    stats job, one narrow collect before anything else, which also ends
    an empty or all-quarantined epoch early. Both then share the body:
    valid-row filter and LWW dedup. The table mode decides the last step.
    MoR: everything a merge does before publishing — plan, delta write,
    lineage resolve (a lake ``StagedMerge``); a delta never reads table
    state. COW: the persisted winners cache (a ``PreparedEpoch``), on the
    Observation route materialized by one ``count()`` that fills the
    Observation; the merge reads the table the previous commit leaves, so
    it belongs to the commit. Quarantined rows are persisted here, before
    the commit."""
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
    observing = entry is None and pid_bounds is not None
    if observing:
        observed, inputs = EpochInputs.observe(
            df, f"inputs_e{epoch_id}", pid_bounds, man["n_buckets"]
        )
    else:
        with phase("stats_agg"):
            inputs = EpochInputs.collect(df, man["n_buckets"])
        got = inputs.get()
        if got is None:
            return None
        if entry is not None:
            # streaming re-delivery: verify contents before honoring the skip
            span = seq_span(got[0])
            if span is not None:
                _verify_ledger_hit(entry, epoch_id, span, None)
            return None
        _write_quarantine(df, inputs, quarantine_dir, epoch_id)
        if not got[1]:
            return None  # every row was quarantined; nothing to commit
        observed = df

    # W1: one row per url — MUST precede a COW merge (several source rows
    # per url would make the LWW pick depend on more than the batch;
    # SURVEY.md §4 inv. 1). A MoR delta would tolerate multiplicity, but
    # deduping first collapses an update-heavy epoch ~100x BEFORE the wide
    # parquet write (measured 14.0 s eager vs 66.2 s writing the raw batch,
    # 12M events / 8 pinned cores). The dedup's window leaves the winners
    # hash-partitioned on url (J6).
    winners = lww_dedup(observed.where(F.expr(VALID_SQL)))
    if man.get("mode", "cow") == "mor":
        est_rows = None  # the window width sizes the fanout: exact for a dense WAL
        if expected_seq_range is not None:
            est_rows = expected_seq_range[1] - expected_seq_range[0]
        with phase("merge_total"):
            staged = lake._merge_stage(spark, winners, epoch_id, inputs, est_rows)
        if staged is None:
            return None  # committed meanwhile, before the write: ``inputs`` never filled
        if observing:
            _write_quarantine(df, inputs, quarantine_dir, epoch_id)
        return staged if staged.touched else None
    # cache the winners: the merge's write job reads straight from the
    # cache (otherwise the dedup shuffle re-runs per job). A cache scan
    # materializes whole partitions regardless of column pruning.
    winners = winners.persist()
    if observing:
        # the one job fills the input Observation the merge plan reads; a
        # collected route leaves the cache to the merge's write
        with phase("prepare_one_job"):
            winners.count()
        _write_quarantine(df, inputs, quarantine_dir, epoch_id)
        if not (inputs.get() or ([], []))[1]:
            winners.unpersist()
            return None  # empty, or every row was quarantined
    return PreparedEpoch(epoch_id, winners, inputs)


def commit_epoch(
    spark: SparkSession, lake: SnapLake, prep: PreparedEpoch | StagedMerge
) -> dict[str, Any] | None:
    """The state-DEPENDENT half of ``apply_epoch``; replay runs it on one
    thread in epoch order. COW: merge the winners into the touched
    buckets (the target read sees the previous commit). MoR: publish the
    staged delta."""
    if isinstance(prep, StagedMerge):
        with phase("merge_total"):
            return lake._merge_publish(prep)
    try:
        with phase("merge_total"):
            return lake.merge(spark, prep.df, prep.epoch_id, prep.inputs)
    finally:
        discard_epoch(prep)


def discard_epoch(prep: PreparedEpoch | StagedMerge) -> None:
    """Release a prepared epoch that will not be committed: unpersist a
    COW epoch's winners cache. A staged MoR epoch holds no cache; its
    unreferenced commit dir is debris the epoch's next stage clears."""
    if isinstance(prep, PreparedEpoch):
        prep.df.unpersist()


def _write_quarantine(
    df: DataFrame, inputs: EpochInputs, quarantine_dir: str | None, epoch_id: int
) -> None:
    """Persist the batch's invalid rows when ``inputs`` counted any (rare
    path; always before the commit). Without a quarantine dir they are
    only counted in lineage. The epoch's dir is overwritten: an epoch
    that never commits (every row quarantined, or a crash before its
    commit) writes it again on every re-apply."""
    got = inputs.get()
    if quarantine_dir is not None and got and any(s["rows_quarantined"] for s in got[0]):
        df.where(~F.expr(VALID_SQL)).write.mode("overwrite").parquet(
            os.path.join(quarantine_dir, f"epoch={epoch_id}")
        )
