"""T1/T6/S9: streaming + replay entry points (SURVEY.md §3.1–3.2).

Two drivers around the SAME prepare/commit split of apply_epoch:

* ``ingest_stream`` — Structured Streaming tail: readStream ->
  foreachBatch(apply_epoch) with a checkpointLocation. Exactly-once:
  Spark re-delivers an epoch after a crash, the ledger makes the re-apply
  a no-op, and the LWW merge condition makes even a forced re-apply
  state-identical. Final TABLE state is invariant to how the stream is
  batched (LWW over a total (warc_ts, seq) order), so any
  maxFilesPerTrigger / trigger cadence converges to the same snapshot.
* ``replay`` — deterministic bounded replay: epochs are cut on fixed seq
  ranges (epoch k = seqs [k*E, (k+1)*E)), NOT on wall time or file
  arrival, and committed in epoch order, so the ledger/lineage content is
  byte-reproducible too (SURVEY.md §3.2). Resumes from whatever the
  ledger already holds. A pool runs each epoch's state-independent stage
  (``prepare_epoch``) ahead — one MoR epoch per core, one COW epoch — and
  the calling thread commits the staged epochs in order
  (``commit_epoch``), each followed by ``maybe_compact``.
"""

from __future__ import annotations

from collections import deque
from concurrent.futures import ThreadPoolExecutor
from itertools import islice
from typing import Any

from pyspark.sql import SparkSession

from cdc_engine.apply import (
    _verify_ledger_hit,
    apply_epoch,
    commit_epoch,
    discard_epoch,
    prepare_epoch,
)
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
    skipped via the ledger (S2 + J4). Epochs are staged ahead (a MoR
    lake: one per core, ``defaultParallelism``; COW: one), each on its own
    worker thread whose Spark jobs carry the description
    ``cdc epoch=<k> stage``; commits run on the calling thread, in epoch
    order."""
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
    # selects prepare_epoch's Observation route; None, the stats job
    pid_bounds = partition_pid_bounds(wal_dir, 0, max_seq)
    todo: list[int] = []
    for k in range(n_epochs):
        if k in committed:
            # apply_epoch's guard, applied to the pre-scan skip: a committed
            # epoch id must hold exactly this replay's window
            _verify_ledger_hit(committed[k], k, None, (k * e, (k + 1) * e))
            continue
        todo.append(k)
        if max_epochs is not None and len(todo) >= max_epochs:
            break

    sc = spark.sparkContext

    def _stage(k: int):
        # a local property of this worker thread only: the calling
        # thread's job group and description are left to the caller
        sc.setJobDescription(f"cdc epoch={k} stage")
        batch = read_seq_range(spark, wal_dir, k * e, (k + 1) * e)
        # expected_seq_range: epoch k OWNS this window by definition, so a
        # ledger hit under a different batching is detected without Spark work
        with phase("prepare_total"):
            return prepare_epoch(
                spark, lake, batch, k, cfg,
                expected_seq_range=(k * e, (k + 1) * e),
                pid_bounds=pid_bounds,
            )

    # The pool width W: a MoR stage (plan, delta write, resolve) never
    # reads table state, so one epoch per core runs ahead of the commits —
    # an epoch whose WAL range is one parquet row group starts as a single
    # task, and a narrower pool leaves cores idle while later epochs wait
    # for a worker. A COW stage (WAL scan, LWW dedup, winners cache) runs
    # one epoch ahead of the merge that reads the previous commit's
    # state, and each staged COW epoch holds a cache.
    # Epoch k+W is submitted before epoch k commits, so no worker idles
    # during a publish. Commits and compaction share the calling thread,
    # so compaction never races a publication; an in-flight MoR stage
    # writes only its own commit dir.
    width = sc.defaultParallelism if lake.manifest().get("mode", "cow") == "mor" else 1
    pending = iter(todo)
    results = []
    with ThreadPoolExecutor(max_workers=width) as pool:
        staged = deque(pool.submit(_stage, k) for k in islice(pending, width))
        try:
            while staged:
                prep = staged.popleft().result()
                for k in islice(pending, 1):
                    staged.append(pool.submit(_stage, k))
                if prep is None:
                    continue
                with phase("apply_total"):
                    r = commit_epoch(spark, lake, prep)
                if r is not None:
                    results.append(r)
                    # MoR hygiene: fold delta files back into base once a
                    # bucket accumulates too many (a no-op for COW tables)
                    with phase("maybe_compact"):
                        lake.maybe_compact(spark, cfg.compact_after_files)
        finally:
            # a failed stage or commit must not leak the staged epochs'
            # caches (and must not mask the original error)
            for fut in staged:
                try:
                    prep = fut.result()
                except Exception:
                    continue
                if prep is not None:
                    discard_epoch(prep)
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
        # same inputs the replay path computes a priori. The epoch then
        # takes the Observation route for its input accounting (a MoR
        # epoch is one job) instead of paying the pre-commit stats
        # barrier per trigger; ledger hits are verified by range
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
