"""T1/T6/S9: streaming + replay entry points (SURVEY.md §3.1–3.2).

Two drivers around the SAME apply_epoch:

* ``ingest_stream`` — Structured Streaming tail: readStream ->
  foreachBatch(apply_epoch) with a checkpointLocation. Exactly-once:
  Spark re-delivers an epoch after a crash, the ledger makes the re-apply
  a no-op, and the LWW merge condition makes even a forced re-apply
  state-identical. Final TABLE state is invariant to how the stream is
  batched (LWW over a total (warc_ts, seq) order), so any
  maxFilesPerTrigger / trigger cadence converges to the same snapshot.
* ``replay`` — deterministic bounded replay: epochs are cut on fixed seq
  ranges (epoch k = seqs [k*E, (k+1)*E)), NOT on wall time or file
  arrival, so the ledger/lineage content is byte-reproducible too
  (SURVEY.md §3.2). Resumes from whatever the ledger already holds.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from cdc_engine.apply import apply_epoch
from cdc_engine.config import CdcConfig
from cdc_engine.timing import phase
from cdc_engine.lake import SnapLake
from cdc_engine.source import (
    footer_epoch_bounds,
    list_segments,
    open_stream,
    partition_pid_bounds,
    read_seq_range,
    trigger_files,
)


def replay(
    spark: SparkSession,
    lake: SnapLake,
    wal_dir: str,
    cfg: CdcConfig | None = None,
    max_epochs: int | None = None,
) -> list[dict[str, Any]]:
    """Apply all (or the next ``max_epochs``) uncommitted epochs in seq
    order. Safe to call repeatedly / after a crash: committed epochs are
    skipped via the ledger (S2 + J4)."""
    cfg = cfg or CdcConfig()
    segs = list_segments(wal_dir)
    if not segs:
        return []
    # max seq present = last segment's first_seq + its rows; cheaper: scan
    # epochs until an empty range follows the last segment's first_seq
    import pyarrow.parquet as pq

    last_first, _ver, last_path = segs[-1]
    n_last = pq.ParquetFile(last_path).metadata.num_rows
    max_seq = last_first + n_last  # segments are dense in seq by contract
    e = cfg.events_per_epoch
    n_epochs = (max_seq + e - 1) // e

    committed = lake.committed_epochs()
    # footer-stat pid bound for the whole WAL (superset of any epoch's):
    # enables the MoR one-job fast path in apply_epoch; None disables it
    pid_bounds = partition_pid_bounds(wal_dir, 0, max_seq)
    todo: list[int] = []
    for k in range(n_epochs):
        if k in committed:
            # same guard as apply_epoch's, applied to the pre-scan skip:
            # a committed epoch id must hold exactly this replay's window
            ent = committed[k]
            e_lo, e_hi = ent.get("first_seq"), ent.get("last_seq")
            if e_lo is not None and (e_lo < k * e or e_hi >= (k + 1) * e):
                from cdc_engine.apply import LedgerSeqMismatch

                raise LedgerSeqMismatch(
                    f"epoch {k} is committed with seq range [{e_lo}, {e_hi}] "
                    f"but this replay cuts epochs every {e} events (window "
                    f"[{k * e}, {(k + 1) * e})) — refusing to skip; replay "
                    f"into a fresh lake or restore the original "
                    f"events_per_epoch."
                )
            continue
        todo.append(k)
        if max_epochs is not None and len(todo) >= max_epochs:
            break

    def _run_one(k: int):
        batch = read_seq_range(spark, wal_dir, k * e, (k + 1) * e)
        # expected_seq_range: epoch k OWNS this window by definition, so a
        # ledger hit under a different batching is detected without Spark work
        with phase("apply_total"):
            return apply_epoch(
                spark, lake, batch, epoch_id=k, cfg=cfg,
                expected_seq_range=(k * e, (k + 1) * e),
                pid_bounds=pid_bounds,
            )

    results = []
    mode = lake.manifest().get("mode", "cow")
    width = max(1, cfg.mor_pipeline) if mode == "mor" else 1
    if mode == "cow" and cfg.cow_prefetch > 0 and len(todo) > 1:
        # COW epoch OVERLAP (round-4 verdict task 4): full pipelining is
        # unsafe for COW — epoch k+1's merge reads the table state epoch k
        # commits — but everything BEFORE the merge (WAL scan, combined
        # stats job, LWW dedup shuffle, cache materialization) is a pure
        # function of the batch. A single prefetch worker prepares epoch
        # k+1 (materialize=True pulls the dedup shuffle into the overlap,
        # not just the stats job) while the main thread runs epoch k's
        # merge/commit; commit_prepared stays strictly ordered on the main
        # thread, which IS the state-read barrier.
        from concurrent.futures import ThreadPoolExecutor

        from cdc_engine.apply import commit_prepared, prepare_epoch
        from cdc_engine.normalize import apply_mapping

        def _prep(k: int):
            batch = read_seq_range(spark, wal_dir, k * e, (k + 1) * e)
            df = apply_mapping(batch, cfg.column_mapping)
            with phase("prepare_total"):
                # pid_bounds (WAL footer stats) upgrade the prepare to the
                # ONE-JOB path: stats/quarantine/touched ride the cache-
                # materialize job's Observation (round 7)
                return prepare_epoch(
                    spark, lake, df, k, cfg, cfg.quarantine_dir,
                    materialize=True, pid_bounds=pid_bounds,
                )

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_prep, todo[0])
            try:
                for i, k in enumerate(todo):
                    prep = fut.result()
                    fut = pool.submit(_prep, todo[i + 1]) if i + 1 < len(todo) else None
                    if prep is None:
                        continue
                    with phase("apply_total"):
                        r = commit_prepared(spark, lake, prep)
                    if r is not None:
                        results.append(r)
            finally:
                # a failed commit must not leak the in-flight prepared
                # epoch's cache (and must not mask the original error)
                if fut is not None:
                    try:
                        p = fut.result()
                        if p is not None:
                            p.df.unpersist()
                    except Exception:
                        pass
    elif width <= 1 or len(todo) <= 1:
        for k in todo:
            r = _run_one(k)
            if r is not None:
                results.append(r)
                # MoR hygiene: fold delta files back into base once a bucket
                # accumulates too many (no-op for COW tables — one file/bucket)
                with phase("maybe_compact"):
                    lake.maybe_compact(spark, cfg.compact_after_files)
    else:
        # PIPELINED MoR replay: a delta epoch never reads table state, so
        # adjacent epochs are data-independent; only manifest publication
        # serializes, and the optimistic commit retry (test_commit_race)
        # already rebases losers. Overlapping epochs hides each epoch's
        # serial tail (driver plan work, job-barrier latency, commit
        # fsyncs) under the next epoch's data-parallel work — at 2 epochs
        # this roughly halves the replay's total serial term, the quantity
        # the N->4N scaling criterion is gated on. Epoch order of COMMITS
        # may interleave; final state is order-independent (scan-time LWW
        # judges by (warc_ts, seq), and ledger entries are keyed).
        from concurrent.futures import ThreadPoolExecutor

        # periodic compaction (round-4 ADVICE): deferring maybe_compact to
        # one pass after the full drain let delta files accumulate without
        # bound across a long replay — every commit rewrites its file-group
        # lists, so metadata work grew O(files)/commit, O(epochs^2) total,
        # and the compact_after_files bound didn't hold mid-replay. Epochs
        # are therefore submitted in chunks of `stride`; at each chunk
        # boundary the pool has drained, so compaction is serialized with
        # the in-flight commits by construction (never racing an epoch's
        # optimistic manifest publication) and per-bucket file count stays
        # <= compact_after_files + stride throughout. The boundary costs
        # one pipeline bubble (~one epoch's serial tail) per stride epochs.
        stride = max(2 * width, cfg.compact_after_files)
        with ThreadPoolExecutor(max_workers=width) as pool:
            for c0 in range(0, len(todo), stride):
                futs = [(k, pool.submit(_run_one, k)) for k in todo[c0 : c0 + stride]]
                for _k, f in futs:
                    r = f.result()
                    if r is not None:
                        results.append(r)
                with phase("maybe_compact"):
                    lake.maybe_compact(spark, cfg.compact_after_files)
    return results


def ingest_stream(
    spark: SparkSession,
    lake: SnapLake,
    wal_dir: str,
    checkpoint_dir: str,
    cfg: CdcConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    await_termination: bool = True,
):
    """Structured Streaming ingest (T1). With ``available_now`` the query
    drains the current WAL and stops (bounded catch-up / replay); without
    it the query tails forever (processing-time trigger)."""
    cfg = cfg or CdcConfig()
    stream = open_stream(spark, wal_dir, max_files_per_trigger=max_files_per_trigger)

    def _apply(batch_df, epoch_id: int):
        # Streaming fast path (round-4 verdict task 2): a file-source
        # micro-batch is an explicit file list (recorded in the streaming
        # checkpoint's source log during planning), so its seq window and
        # pid universe come from parquet footers with NO Spark job — the
        # same inputs the replay path computes a priori. A MoR epoch then
        # takes the one-job fast path (stats/lineage/touched buckets ride
        # the write job's Observations) instead of paying the pre-commit
        # stats barrier per trigger; ledger hits are verified by range
        # EQUALITY (window + exact batch range), preserving the slow
        # path's contents-were-applied guarantee. A missing log or
        # unreadable footers degrade to the stats-job path, never error.
        seq_rng = win = pid_b = None
        files = trigger_files(checkpoint_dir, int(epoch_id))
        if files:
            seq_rng, pid_b = footer_epoch_bounds(files)
            if seq_rng is not None:
                win = (seq_rng[0], seq_rng[1] + 1)
        r = apply_epoch(
            spark, lake, batch_df, epoch_id=int(epoch_id), cfg=cfg,
            expected_seq_range=win, pid_bounds=pid_b, batch_seq_range=seq_rng,
        )
        if r is not None:
            lake.maybe_compact(spark, cfg.compact_after_files)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_ingest")
    )
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
        processingTime="1 second"
    )
    q = writer.start()
    if await_termination:
        q.awaitTermination()
    return q
