"""The benchmark's workloads.

Each workload has a set-up (timed into ``setup_s``), a unit of work that the
measuring window repeats, an untimed correctness check against an oracle,
and a traced variant of its unit that feeds the per-layer metrics. Every
call into the engine goes through a layer's public function; in the traced
run each such call is wrapped in a span named ``<layer>.<function>``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from cdc_engine import timing
from cdc_engine.apply import apply_epoch
from cdc_engine.config import CdcConfig
from cdc_engine.curate import curate
from cdc_engine.dedup import lww_dedup
from cdc_engine.dedup_text import (
    connected_components,
    exact_dedup_canonical,
    jaccard_on_lsh,
    lsh_candidate_pairs,
)
from cdc_engine.lake import SnapLake
from cdc_engine.mview import AggSpec, IncrementalAggView
from cdc_engine.normalize import apply_mapping
from cdc_engine.runner import replay
from cdc_engine.salt import bucket_expr
from cdc_engine.sampling import pack_sequences, split_column
from cdc_engine.schemas import PAGES_SCHEMA_V1
from cdc_engine.source import list_segments, partition_pid_bounds, read_seq_range
from cdc_engine.textops import pii_scrub, quality_funnel
from cdc_engine.verify import assert_matches_oracle
from gen.walgen import WalConfig, generate_wal

import corpus
from spans import Tracer, jvm_gc_seconds, read_event_log

# below physical memory on a small machine, and leaves room for neighbours
DRIVER_MEM = "2g"
N_BUCKETS = 16
MB = 1024.0 * 1024.0
SCHEMA_CHANGE_AT = 2  # the epoch at which walgen switches the WAL schema
LOOKUP_URLS = 64
WARMUPS = 2  # untimed catch-ups in set-up
MIN_UNITS = 3  # units per window, however short --seconds

# Input sizes. "full" is what BENCHMARK.json runs; "toy" keeps the smoke
# test to a few seconds of Spark work per workload. Both catch-ups replay
# the same backlog.
SCALES = {
    "full": {"events": 120_000, "epoch": 40_000, "trickle": 5_000, "payload_docs": 2_000,
             "curate_docs": 300},
    "toy": {"events": 8_000, "epoch": 2_000, "trickle": 500, "payload_docs": 200,
            "curate_docs": 200},
}
# curation settings: curate()'s defaults except the length band. With the
# default 25..90 words no near-dup survivor of this corpus passes (r1_len
# rejects almost all, r3_stop the rest), so the quality and split stages
# would run on an empty relation.
CURATE_KW = {"k": 8, "band_rows": 4, "threshold_milli": 600,
             "min_words": 5, "max_words": 200}

# CDC_TIMING phases inside runner.replay, by the layer whose code runs
# them. The lake phases run nested in apply's (a MoR apply_epoch holds its
# merge) or beside them (a COW commit beside the next epoch's prepare).
APPLY_PHASES = {"apply_total", "prepare_total", "prepare_one_job", "stats_agg",
                "prefetch_materialize"}
LAKE_PHASES = {"merge_total", "merge_plan", "data_write", "footer_stats", "advance_groups",
               "lineage_agg", "commit_meta", "maybe_compact"}
# summed thread time of single phases, reported per catch-up: the
# data-parallel jobs (the prepare job runs the WAL scan, normalize and the
# LWW dedup shuffle; data_write the delta or base files) and the fixed
# per-epoch driver work
PHASE_METRICS = {
    "apply.prepare_job_s": ("prepare_one_job", "prefetch_materialize", "stats_agg"),
    "lake.data_write_s": ("data_write",),
    "lake.merge_plan_s": ("merge_plan",),
    "lake.footer_stats_s": ("footer_stats",),
    "lake.commit_meta_s": ("advance_groups", "lineage_agg", "commit_meta"),
}

PER_LAYER = {
    "source.scan_s": "s",
    "source.rows_in": "count",
    "dedup.lww_dedup_self_s": "s",
    "dedup.collapse_ratio": "ratio",
    "dedup.shuffle_write_mb": "MB",
    "runner.overlap": "ratio",
    **{k: "s" for k in PHASE_METRICS},
    "apply.epoch_s": "s",
    "apply.spark_jobs_per_epoch": "count",
    "apply.stages_per_epoch": "count",
    "apply.tasks_per_epoch": "count",
    "lake.touched_buckets_per_epoch": "count",
    "lake.files_written_per_epoch": "count",
    "lake.bytes_written_per_epoch_mb": "MB",
    "lake.write_amplification": "ratio",
    "lake.commit_meta_bytes": "bytes",
    "lake.compact_s": "s",
    "lake.compactions": "count",
    "lake.delta_files_per_bucket": "count",
    "lake.lookup_s": "s",
    "lake.lookup_files_read": "count",
    "lake.changes_s": "s",
    "lake.changes_touched_buckets": "count",
    "mview.refresh_s": "s",
    "mview.route_noop": "count",
    "mview.route_incremental": "count",
    "mview.route_full": "count",
    "lake.scan_s": "s",
    "lake.scan_collapse_ratio": "ratio",
    "lake.live_data_mb": "MB",
    "textops.pii_scrub_s": "s",
    "dedup_text.exact_dedup_s": "s",
    "dedup_text.lsh_candidates": "count",
    "dedup_text.candidate_precision": "ratio",
    "dedup_text.jaccard_on_lsh_s": "s",
    "dedup_text.components_s": "s",
    "textops.quality_funnel_s": "s",
    "sampling.split_s": "s",
    "jvm.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    **{f"{layer}.self_s": "s" for layer in (
        "source", "normalize", "dedup", "apply", "lake", "runner", "mview",
        "curate", "dedup_text", "textops", "sampling",
    )},
    "trace.overhead_s": "s",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def noop_write(df) -> None:
    """Materialize every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def noop_count(df, name: str) -> int:
    """noop_write ``df`` and return its row count, taken in the same job."""
    obs = Observation(name)
    noop_write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """Per-invocation state: session, working directory, failure counts,
    samples and the tracer."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, trace: bool, sizes: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.tracer = Tracer(self.sc, enabled=False)
        # the unit's headline work time, untraced and traced
        self.work_s: dict[bool, list[float]] = {False: [], True: []}
        # traced run: (start, end, JVM GC seconds) of each untraced unit
        self.untraced_units: list[tuple[float, float, float]] = []
        self._paths = 0

    def fresh_path(self, prefix: str) -> str:
        """A path never used before in this process. A lake restored into
        a path the process already used would read stale cached side files
        (the engine caches them by absolute path)."""
        self._paths += 1
        return str(self.work / f"{prefix}-{self._paths:04d}")

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"[perfbench] MISMATCH: {what}")

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def measure(self, unit) -> None:
        """Repeat ``unit(traced)`` until ``seconds`` have passed, and at
        least MIN_UNITS times: units still get faster after the warm-up, so
        a median over a varying number of them would move with that count.
        The traced run traces its second unit only, so the tracing overhead
        is measured in one process with warm-up drift on both sides, and
        every traced figure covers exactly one unit."""
        t_end = time.monotonic() + self.seconds
        n = 0
        while n < MIN_UNITS or time.monotonic() < t_end:
            traced = self.trace and n == 1
            self.tracer.enabled = traced
            t, w0 = time.monotonic(), time.time()
            gc0 = jvm_gc_seconds(self.spark) if self.trace else 0.0
            try:
                unit(traced)
            finally:
                self.tracer.enabled = False
            if self.trace and not traced:
                self.untraced_units.append((w0, time.time(), jvm_gc_seconds(self.spark) - gc0))
            log(f"unit {n} ({'traced' if traced else 'untraced'}): {time.monotonic() - t:.2f} s")
            n += 1

    def op(self, fn, *args, **kw):
        """Run one engine operation, counting it as attempted."""
        self.attempted += 1
        return fn(*args, **kw)

    def event_log_metrics(self) -> dict:
        """Shuffle read and GC time per untraced unit (median), and the
        dedup probes' shuffle write per epoch."""
        by_group, jobs = read_event_log(str(self.work / "eventlog"))
        read = [sum(j["shuffle_read"] for j in jobs if w0 <= j["submit_s"] <= w1)
                for w0, w1, _gc in self.untraced_units]
        dedup_groups = {Tracer.group(s.sid) for s in self.tracer.named("dedup.lww_dedup")}
        wrote = sum(by_group.get(g, {}).get("shuffle_write", 0) for g in dedup_groups)
        n_epochs = max(1, len(dedup_groups))
        out = {"spark.shuffle_read_mb": median(read) / MB,
               "jvm.gc_s": median([gc for *_, gc in self.untraced_units])}
        if dedup_groups:
            out["dedup.shuffle_write_mb"] = wrote / MB / n_epochs
        return out


# ------------------------------------------------------------------ helpers


def make_wal(ctx: Ctx, n_events: int, epoch: int, payload_docs: int, **cfg) -> str:
    """Generate the run's WAL (payload text from a seeded corpus); return
    its directory."""
    docs, _ = corpus.make_docs(payload_docs, ctx.seed)
    docs_path = str(ctx.work / "payload_docs.parquet")
    docs.to_parquet(docs_path, index=False)
    wal = str(ctx.work / "wal")
    generate_wal(wal, WalConfig(n_events=n_events, events_per_epoch=epoch, seed=ctx.seed,
                                docs_parquet=docs_path, **cfg))
    return wal


def live_seq(wal: str, hi: int) -> dict[str, int]:
    """url -> seq of its live winning event (LWW by (warc_ts, seq)) over
    the WAL's events with seq < hi."""
    cols = ["seq", "op", "url", "warc_ts"]
    ev = pd.concat([pq.read_table(p, columns=cols).to_pandas()
                    for first, _v, p in list_segments(wal) if first < hi], ignore_index=True)
    ev = ev[ev["seq"] < hi].sort_values(["warc_ts", "seq"], kind="mergesort")
    win = ev.groupby("url", sort=False).tail(1)
    win = win[win["op"] != "delete"]
    return dict(zip(win["url"], win["seq"]))


def data_files(lake: SnapLake, version: int) -> set[str]:
    return {p for p in lake.referenced_paths(version) if p.startswith("data")}


def file_bytes(lake: SnapLake, rel_paths) -> int:
    return sum(os.path.getsize(os.path.join(lake.path, p)) for p in rel_paths)


def file_rows(lake: SnapLake, rel_paths) -> int:
    return sum(pq.ParquetFile(os.path.join(lake.path, p)).metadata.num_rows for p in rel_paths)


def commit_meta_bytes(lake: SnapLake, v: int) -> int:
    """Bytes of metadata commit ``v`` added: its manifest plus the side
    files it references that version ``v - 1`` did not."""
    new = lake.referenced_paths(v) - lake.referenced_paths(v - 1)
    return file_bytes(lake, [p for p in new if p.startswith("metadata")]) + os.path.getsize(
        os.path.join(lake.meta_dir, f"v{v:08d}.json"))


def covered(intervals) -> float:
    """Wall time covered by the union of (start, end) intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur is not None else 0.0)


class _StampedRecords(list):
    """Stands in for ``timing.records`` while a traced replay runs: keeps
    each probe's (name, seconds) with the wall-clock time it ended, so the
    phases of pipelined epochs can be laid out in time. One append per
    record, so records from the replay's threads never interleave."""

    def append(self, rec) -> None:
        super().append((rec[0], rec[1], time.time()))


# ---------------------------------------------------- catchup_mor / _cow


class Catchup:
    """Replay a WAL backlog into a fresh lake of the given mode with
    runner.replay, then scan the live rows. Unit = one whole catch-up plus
    one full scan, the time until a reader sees the caught-up table. MoR writes each epoch as delta files and collapses at
    read time; COW merges each epoch into the touched buckets' base files,
    so the two modes run different apply and scan paths on the same input.

    The WAL holds one small epoch more than the backlog. After the window
    the correctness gate applies it to the last lake the way a tailer
    does; in the traced run it then serves the tailer's readers (point
    lookup, change feed, view refresh), times those calls for the write-
    and read-path layer metrics and checks every answer. With
    ``with_curate`` the traced run then also curates a seeded corpus,
    stage by stage."""

    def __init__(self, ctx: Ctx, mode: str, with_curate: bool = False):
        self.ctx = ctx
        self.s = ctx.sizes
        self.mode = mode
        self.with_curate = with_curate
        self.cfg = CdcConfig(events_per_epoch=self.s["epoch"], n_buckets=N_BUCKETS)
        self.n_epochs = -(-self.s["events"] // self.s["epoch"])
        self.to_read_s: list[float] = []
        self.scanned: list[int] = []
        self.last_lake: SnapLake | None = None
        self.layer: dict[str, float] = {}
        self.replay_split: dict[str, float] = {}

    def setup(self) -> None:
        s = self.s
        self.wal = make_wal(self.ctx, s["events"] + s["trickle"], s["epoch"], s["payload_docs"],
                            schema_change_at_epoch=SCHEMA_CHANGE_AT)
        # a cold catch-up takes two to three times a warm one, and the next
        # is still about a quarter slower than the one after it
        for _ in range(WARMUPS):
            self._catch_up(record=False)

    def _catch_up(self, record: bool, traced: bool = False) -> SnapLake:
        ctx, tr = self.ctx, self.ctx.tracer
        lake = SnapLake.create(ctx.fresh_path("lake"), PAGES_SCHEMA_V1,
                               n_buckets=N_BUCKETS, mode=self.mode)
        t0 = time.monotonic()
        with tr.span("runner.replay"):
            res = ctx.op(replay, ctx.spark, lake, self.wal, self.cfg, max_epochs=self.n_epochs)
        if record:
            ctx.work_s[traced].append(time.monotonic() - t0)
        with tr.span("lake.scan"):
            self.scanned.append(ctx.op(lambda: lake.scan(ctx.spark).count()))
        if record and not traced:
            self.to_read_s.append(time.monotonic() - t0)
        ctx.expect(len(res) == self.n_epochs, f"replay applied {len(res)} of {self.n_epochs} epochs")
        return lake

    def unit(self, traced: bool) -> None:
        if not traced:
            self.last_lake = self._catch_up(record=True)
            return
        os.environ["CDC_TIMING"] = "1"
        timing.drain()
        plain, timing.records = timing.records, _StampedRecords()
        try:
            lake = self._catch_up(record=True, traced=True)
        finally:
            phases, timing.records = timing.records, plain
            os.environ.pop("CDC_TIMING", None)
        self._trace_replay(list(phases))
        self._trace_lake(lake)
        self._trace_probes()
        self.last_lake = lake

    def _trace_replay(self, phases: list[tuple[str, float, float]]) -> None:
        """Attribute the replay's wall time to layers from its CDC_TIMING
        phases. Pipelined epochs overlap, so each instant counts once: to
        lake if any thread is in a lake phase, else to apply if any thread
        is in an apply phase, else to the runner itself (WAL listing, pid
        bounds, scheduling, pipeline bubbles)."""
        def spans(names):
            return [(end - d, end) for n, d, end in phases if n in names]

        def thread_s(names):
            return sum(d for n, d, _ in phases if n in names)

        in_lake = covered(spans(LAKE_PHASES))
        in_engine = covered(spans(LAKE_PHASES | APPLY_PHASES))
        self.replay_split = {"lake": in_lake, "apply": in_engine - in_lake, "engine": in_engine}
        replay_wall = self.ctx.tracer.named("runner.replay")[-1].dur
        # apply_total times an epoch's apply_epoch (MoR) or its commit
        # (COW); COW prepares the next epoch beside it (prepare_total)
        self.layer["runner.overlap"] = thread_s({"apply_total", "prepare_total"}) / replay_wall
        for key, names in PHASE_METRICS.items():
            self.layer[key] = thread_s(set(names))

    def _trace_lake(self, lake: SnapLake) -> None:
        self.layer["lake.scan_s"] = self.ctx.tracer.named("lake.scan")[-1].dur
        self.layer["lake.compactions"] = sum(
            lake.manifest(v)["summary"].get("kind") == "compaction"
            for v in range(1, lake.head_version() + 1))
        head = lake.head_version()
        self.layer["lake.live_data_mb"] = file_bytes(lake, lake.referenced_paths(head)) / MB
        physical = file_rows(lake, data_files(lake, head))
        self.layer["lake.scan_collapse_ratio"] = self.scanned[-1] / max(1, physical)

    def _trace_probes(self) -> None:
        """Per-epoch probes, each materialized to a noop sink: the WAL
        scan, the scan normalized, then that LWW-deduplicated. Inside the
        engine these run lazily in one job, so each layer's time is the
        difference between adjacent probes. An untraced pass over the
        first epoch warms the three probe plans, so no difference compares
        a cold probe with a warm one."""
        ctx, tr, e = self.ctx, self.ctx.tracer, self.s["epoch"]
        tr.enabled = False
        df = read_seq_range(ctx.spark, self.wal, 0, e)
        norm = apply_mapping(df, self.cfg.column_mapping)
        for i, d in enumerate((df, norm, lww_dedup(norm, strategy=self.cfg.dedup_strategy))):
            noop_count(d, f"warm{i}")
        tr.enabled = True
        rows_in = normalized = winners = 0
        scan_s = norm_s = dedup_s = 0.0
        for k in range(self.n_epochs):
            # every probe counts its rows the same way, so the differences
            # hold no counting cost
            with tr.span("source.read_seq_range") as sp:
                df = ctx.op(read_seq_range, ctx.spark, self.wal, k * e, (k + 1) * e)
                rows_in += noop_count(df, f"scan{k}")
            scan_s += sp.dur
            with tr.span("normalize.apply_mapping") as sp:
                df = ctx.op(apply_mapping, df, self.cfg.column_mapping)
                normalized += noop_count(df, f"norm{k}")
            norm_s += sp.dur
            with tr.span("dedup.lww_dedup") as sp:
                w = ctx.op(lww_dedup, df, strategy=self.cfg.dedup_strategy)
                winners += noop_count(w, f"dedup{k}")
            dedup_s += sp.dur
        ctx.expect(normalized == rows_in, f"normalize kept {normalized} of {rows_in} events")
        ctx.expect(rows_in == self.s["events"], f"WAL scan saw {rows_in} events")
        self.layer.update({
            "source.scan_s": scan_s,
            "source.rows_in": rows_in,
            "normalize.self_s": norm_s - scan_s,
            "dedup.lww_dedup_self_s": dedup_s - norm_s,
            "dedup.collapse_ratio": winners / max(1, rows_in),
        })

    def verify(self) -> None:
        """Outside every timed span: check the catch-ups, then take the
        trickle epoch on the last lake and compare its final state with
        the oracle. The traced run also serves the readers after that
        epoch, times them and checks each answer, and curates."""
        ctx, lake, s, tr = self.ctx, self.last_lake, self.s, self.ctx.tracer
        lo, hi = s["events"], s["events"] + s["trickle"]
        before = live_seq(self.wal, lo)
        ctx.expect(set(self.scanned) == {len(before)},
                   f"catch-up scans saw {sorted(set(self.scanned))} live rows, oracle has {len(before)}")
        oracle = pd.read_parquet(os.path.join(self.wal, "_oracle", "final_state.parquet"))
        tr.enabled = ctx.trace
        try:
            if ctx.trace:
                view = IncrementalAggView(
                    lake, "by_lang", ["lang"],
                    [AggSpec("pages", "count"), AggSpec("with_text", "count", "text")],
                )
                ctx.op(view.full_refresh, ctx.spark)
            v_prev = lake.head_version()
            # applied as runner.replay applies it: the same
            # expected_seq_range and pid_bounds, then maybe_compact
            pid_bounds = partition_pid_bounds(self.wal, 0, hi)
            with tr.span("apply.apply_epoch") as sp_apply:
                batch = read_seq_range(ctx.spark, self.wal, lo, hi)
                ctx.op(apply_epoch, ctx.spark, lake, batch, lo // s["epoch"], self.cfg,
                       expected_seq_range=(lo, hi), pid_bounds=pid_bounds)
            with tr.span("lake.maybe_compact"):
                ctx.op(lake.maybe_compact, ctx.spark, self.cfg.compact_after_files)
            if ctx.trace:
                self._trace_commit(sp_apply, v_prev, lake.head_version())
                self._read_after_write(lake, view, v_prev, before, oracle)
            if ctx.trace and self.with_curate:
                self._curate()
        finally:
            tr.enabled = False
        try:
            ctx.op(assert_matches_oracle, lake.scan(ctx.spark), oracle)
        except AssertionError:
            ctx.failed += 1
            ctx.notes.append("[perfbench] MISMATCH: final state differs from the walgen oracle\n"
                             + traceback.format_exc())

    def _trace_commit(self, sp_apply, v_prev: int, v: int) -> None:
        lake = self.last_lake
        man = lake.manifest(v)
        new = data_files(lake, v) - data_files(lake, v_prev)
        upserted = sum(r.get("rows_upserted") or 0 for r in man["lineage"])
        self.layer.update({
            "apply.epoch_s": sp_apply.dur,
            "apply.spark_jobs_per_epoch": sp_apply.jobs,
            "apply.stages_per_epoch": sp_apply.stages,
            "apply.tasks_per_epoch": sp_apply.tasks,
            "lake.touched_buckets_per_epoch": man["summary"]["touched_buckets"],
            "lake.files_written_per_epoch": man["summary"]["files_written"],
            "lake.bytes_written_per_epoch_mb": file_bytes(lake, new) / MB,
            "lake.write_amplification": file_rows(lake, new) / max(1, upserted),
            "lake.commit_meta_bytes": commit_meta_bytes(lake, v),
        })

    def _read_after_write(self, lake: SnapLake, view: IncrementalAggView, v_prev: int,
                          before: dict[str, int], oracle: pd.DataFrame) -> None:
        """The three reads a downstream consumer makes after a commit, each
        timed and checked against the oracle; then one compaction of all
        buckets, timed (it never triggers on this short backlog)."""
        ctx, tr, s = self.ctx, self.ctx.tracer, self.s
        rng = np.random.RandomState(ctx.seed + 7)
        n_domains = WalConfig.n_domains
        d = rng.randint(0, n_domains, size=LOOKUP_URLS)
        pg = rng.randint(0, WalConfig.pages_per_domain, size=LOOKUP_URLS)
        # an eighth of the keys are outside the WAL's url space (absent)
        d[: LOOKUP_URLS // 8] += n_domains
        urls = sorted({f"https://d{a:04d}.example.com/p{b:02d}" for a, b in zip(d, pg)})
        counts = lake.bucket_file_counts()
        self.layer["lake.delta_files_per_bucket"] = mean(list(counts.values())) - 1
        keys = ctx.spark.createDataFrame([(u,) for u in urls], "url string")
        buckets = {r["b"] for r in keys.select(bucket_expr("url", N_BUCKETS).alias("b")).collect()}
        self.layer["lake.lookup_files_read"] = sum(counts.get(b, 0) for b in buckets)
        touched = lake.touched_buckets_between(v_prev, lake.head_version())
        self.layer["lake.changes_touched_buckets"] = N_BUCKETS if touched is None else len(touched)

        with tr.span("lake.lookup") as sp:
            found = ctx.op(lambda: lake.lookup(ctx.spark, urls).collect())
        self.layer["lake.lookup_s"] = sp.dur
        want = oracle[oracle["url"].isin(urls)]
        got = sorted((r["url"], r["text"], r["lang"]) for r in found)
        ctx.expect(got == sorted(zip(want["url"], want["text"], want["lang"])),
                   "lookup rows differ from the oracle")

        with tr.span("lake.changes") as sp:
            # per-type counts plus the total, one job: the total lets the
            # gate check that the types tile the feed
            feed = {r["change_type"]: r["count"] for r in ctx.op(
                lambda: lake.changes(ctx.spark, v_prev).rollup("change_type").count().collect())}
        self.layer["lake.changes_s"] = sp.dur
        total = feed.pop(None, 0)
        ctx.expect(sum(feed.values()) == total, f"change-feed counts {feed} do not tile {total} rows")
        after = live_seq(self.wal, s["events"] + s["trickle"])
        expect = {
            "insert": len(after.keys() - before.keys()),
            "delete": len(before.keys() - after.keys()),
            "update": sum(1 for u in after.keys() & before.keys() if after[u] != before[u]),
        }
        ctx.expect({k: feed.get(k, 0) for k in expect} == expect,
                   f"change feed {feed} differs from the oracle {expect}")

        with tr.span("mview.incremental_refresh") as sp:
            route = ctx.op(view.incremental_refresh, ctx.spark)["mode"]
        self.layer["mview.refresh_s"] = sp.dur
        for r in ("noop", "incremental", "full"):
            self.layer[f"mview.route_{r}"] = int(route == r)
        got_view = {r["lang"]: r["pages"] for r in view.df(ctx.spark).collect()}
        ctx.expect(got_view == oracle.groupby("lang").size().to_dict(),
                   "materialized view differs from the oracle")

        # the final-state check then covers the compaction's output too
        with tr.span("lake.compact") as sp:
            ctx.op(lake.compact, ctx.spark, sorted(counts))
        self.layer["lake.compact_s"] = sp.dur

    def _curate(self) -> None:
        """curate.curate over a seeded corpus, then the consumer's read
        (pack the curated train split), then curate()'s stages one by one
        through their public functions, each materialized in its own span.
        The counts are checked against what the corpus generator planted
        and against the stage-wise counts."""
        ctx, tr = self.ctx, self.ctx.tracer
        docs_df, planted = corpus.make_docs(self.s["curate_docs"], ctx.seed)
        self.docs_path = str(ctx.work / "documents.parquet")
        docs_df.to_parquet(self.docs_path, index=False)
        with tr.span("curate.curate"):
            curated, report = ctx.op(curate, ctx.spark.read.parquet(self.docs_path), **CURATE_KW)
        try:
            with tr.span("sampling.pack_sequences"):
                bins = ctx.op(lambda: pack_sequences(curated.where(F.col("split") == "train"))
                              .agg(F.sum("n_docs").alias("d")).collect())
            packed = int(bins[0]["d"] or 0)
            ctx.expect(packed == report["splits"].get("train", 0),
                       f"packed {packed} train docs, report says {report['splits']}")
        finally:
            curated.unpersist()
        self._curate_stages(report)
        ctx.expect(report["docs_in"] == self.s["curate_docs"], f"docs_in {report['docs_in']}")
        ctx.expect(report["pii_redactions"]["emails"] == planted["emails"]
                   and report["pii_redactions"]["ips"] == planted["ips"],
                   f"pii counts {report['pii_redactions']} vs planted {planted}")
        ctx.expect(report["after_exact_dedup"] == planted["distinct_texts"],
                   f"exact dedup kept {report['after_exact_dedup']}, corpus has "
                   f"{planted['distinct_texts']} distinct texts")
        ctx.expect(sum(report["funnel"].values()) == report["after_near_dedup"], "funnel does not sum")
        ctx.expect(0 < report["after_quality"] == sum(report["splits"].values()),
                   f"quality/split counts {report['after_quality']} {report['splits']}")
        log(f"curate report: {report}")

    def _curate_stages(self, report: dict) -> None:
        ctx, tr, kw = self.ctx, self.ctx.tracer, CURATE_KW
        held = []
        try:
            docs = ctx.spark.read.parquet(self.docs_path)
            base = [c for c in docs.columns if c != "text"]
            with tr.span("textops.pii_scrub") as sp:
                d1 = ctx.op(pii_scrub, docs).select(*base, F.col("clean_text").alias("text"))
                held.append(d1.persist())
                d1.count()
            self.layer["textops.pii_scrub_s"] = sp.dur
            with tr.span("dedup_text.exact_dedup_canonical") as sp:
                canon = ctx.op(exact_dedup_canonical, d1)
                d2 = d1.join(canon.where(F.col("is_dup")).select(F.col("doc_id").alias("_drop")),
                             d1["doc_id"] == F.col("_drop"), "left_anti")
                held.append(d2.persist())
                n2 = d2.count()
            self.layer["dedup_text.exact_dedup_s"] = sp.dur
            with tr.span("dedup_text.lsh_candidate_pairs"):
                n_cand = ctx.op(lambda: lsh_candidate_pairs(d2, kw["k"], kw["band_rows"]).count())
            with tr.span("dedup_text.jaccard_on_lsh") as sp:
                pairs = ctx.op(jaccard_on_lsh, d2, k=kw["k"], band_rows=kw["band_rows"],
                               threshold_milli=kw["threshold_milli"])
                held.append(pairs.persist())
                n_pairs = pairs.count()
            self.layer["dedup_text.jaccard_on_lsh_s"] = sp.dur
            self.layer["dedup_text.lsh_candidates"] = n_cand
            self.layer["dedup_text.candidate_precision"] = n_pairs / max(1, n_cand)
            with tr.span("dedup_text.connected_components") as sp:
                comps = ctx.op(connected_components, pairs, src="da", dst="db")
                held.append(comps.persist())
                comps.count()
            self.layer["dedup_text.components_s"] = sp.dur
            dropped = comps.where(F.col("node") != F.col("component"))
            d3 = d2.join(dropped, d2["doc_id"] == dropped["node"], "left_anti")
            held.append(d3.persist())
            n3 = d3.count()
            with tr.span("textops.quality_funnel") as sp:
                noop_write(ctx.op(quality_funnel, d3, min_words=kw["min_words"],
                                  max_words=kw["max_words"]))
            self.layer["textops.quality_funnel_s"] = sp.dur
            with tr.span("sampling.split_column") as sp:
                noop_write(d3.withColumn("split", ctx.op(split_column, F.col("doc_id"))))
            self.layer["sampling.split_s"] = sp.dur
            ctx.expect(n2 == report["after_exact_dedup"], f"stage-wise exact dedup kept {n2}")
            ctx.expect(n3 == report["after_near_dedup"], f"stage-wise near dedup kept {n3}")
        finally:
            for df in held:
                df.unpersist()

    def end_to_end(self) -> dict:
        wall = median(self.ctx.work_s[False])
        return {
            "throughput_per_s": self.s["events"] / wall,
            "catchup_to_read_s": median(self.to_read_s),
        }

    def layer_metrics(self) -> dict:
        """The traced unit's and the after-window calls' figures. Self time
        is each span's time minus its child spans, by layer; inside the
        replay span it is split by the CDC_TIMING phases (_trace_replay),
        and for normalize and dedup it is the probes' difference."""
        ctx, lay, split = self.ctx, self.layer, self.replay_split
        out = dict(lay)
        self_s = defaultdict(float, ctx.tracer.self_times())
        self_s["runner"] -= split.get("engine", 0.0)
        self_s["apply"] += split.get("apply", 0.0)
        self_s["lake"] += split.get("lake", 0.0)
        self_s["normalize"] = lay.get("normalize.self_s", 0.0)
        self_s["dedup"] = lay.get("dedup.lww_dedup_self_s", 0.0)
        out.update({f"{k}.self_s": v for k, v in self_s.items()})
        out["trace.overhead_s"] = median(ctx.work_s[True]) - median(ctx.work_s[False])
        return out


WORKLOADS = {
    "catchup_mor": lambda ctx: Catchup(ctx, "mor", with_curate=True),
    "catchup_cow": lambda ctx: Catchup(ctx, "cow"),
}
