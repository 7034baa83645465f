"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``install`` replaces
public callables of the engine's modules with thin wrappers, and every
wrapper opens a span named after the module that owns the callable. The
engine's code is not edited.

Each span gets its own Spark job group, so the jobs a span ran are read back
from outside the program: at span exit the tracer lists the group's job and
stage ids through ``sc.statusTracker()`` and reads each stage's executor run
time, shuffle bytes written and failed tasks from the driver's status store.
Counters are read at span exit because the store keeps only
``spark.ui.retainedJobs`` jobs.

Per span the tracer accumulates calls, wall time (inclusive and self), jobs,
summed executor run time and shuffle bytes written. Job, task and shuffle
counters are inclusive of child spans, like the wall time. A span the
workload never enters reads 0 in every field, ``calls`` included, and so do
the gauges its wrapper records: ``calls`` tells a layer that was not run
from one that took no time.

Everything the tracer does besides calling the wrapped function (job-group
switches, status-store reads, gauge probes) is timed as bookkeeping. The
benchmark is a closed loop on one driver thread, so that time adds one for
one to the traced run's wall time; ``overhead`` reports it as a share of the
rest.
"""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq
from py4j.protocol import Py4JError

MB = 1024 * 1024

# job-group ids are unique across Tracer instances: the status tracker
# remembers a group's jobs for the whole session
_GROUP_IDS = itertools.count(1)

# spans recorded inside the timed rounds, by ``install``'s wrappers and the
# benchmark's own read
SPAN_NAMES = (
    "plans.replay.replay_batch",
    "plans.replay.collect_ddls",
    "plans.replay.apply_committed",
    "lake.merge",
    "lake.merge_direct",
    "lake.commit_watermark",
    "lake.read",
    "lake.compact",
    "lake.expire_snapshots",
    "streaming.pipeline.process_batch",
    "streaming.state.read_for_batch",
    "streaming.state.write",
    "plans.scd2_apply",
    "plans.rollup_apply",
    "sinks.json_stream",
)

# timed apart from the rounds, by cumulative prefixes (run.py)
OPERATOR_SPANS = ("operators.decode", "operators.assembly", "operators.lww")

SPAN_FIELDS = ("calls", "s", "self_s", "jobs", "task_s", "shuffle_write_mb")

GAUGE_NAMES = (
    "operators.assembly.committed_per_event",
    "operators.lww.keys_per_event",
    "lake.merge.rows_rewritten_per_key",
    "lake.merge.mb_written",
    "lake.files_live",
    "lake.eqdel_rows_live",
    "lake.compact.mb_rewritten",
    "streaming.state.pending_rows",
    "streaming.state.pending_mb",
    "sinks.json_stream.mb_written",
    "spark.core_util",
    "spark.tasks_failed",
    "trace.unattributed_s",
    "trace.overhead",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order; the traced run adds
    its own ``error_rate`` at the end."""
    spans = [f"{s}.{f}" for s in SPAN_NAMES + OPERATOR_SPANS
             for f in SPAN_FIELDS]
    return spans + list(GAUGE_NAMES) + ["error_rate"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class Tracer:
    """In-memory span and counter store for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()
        self.enabled = False
        self.reset()

    def reset(self) -> None:
        """Drop everything recorded so far."""
        self._stack: list[dict] = []
        self.totals: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.sums: dict[str, float] = defaultdict(float)
        self.top_s = 0.0
        self.task_s = 0.0
        self.tasks_failed = 0
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------- counters

    def _stage_counters(self, group: str) -> tuple[int, float, float, int]:
        """(jobs, executor run seconds, shuffle MB written, failed tasks) of
        the jobs that ran in ``group``."""
        # the status store is fed by the asynchronous listener bus: drain it
        # so the span's last stage is complete before it is read
        self._jsc_sc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc_sc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        run_ms = shuffle_b = failed = 0
        for st in stages:
            try:
                data = store.lastStageAttempt(int(st))
            except Py4JError:
                continue  # skipped stage: never attempted
            run_ms += data.executorRunTime()
            shuffle_b += data.shuffleWriteBytes()
            failed += data.numFailedTasks()
        return len(jobs), run_ms / 1000.0, shuffle_b / MB, failed

    # ----------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        parent_group = self.sc.getLocalProperty("spark.jobGroup.id")
        parent_desc = self.sc.getLocalProperty("spark.job.description")
        group = f"perfbench-{next(_GROUP_IDS)}"
        self.sc.setJobGroup(group, name)
        frame = {"child_s": 0.0, "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0}
        self._stack.append(frame)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            dt = t1 - t0
            self._stack.pop()
            jobs, task_s, shuffle_mb, failed = self._stage_counters(group)
            if parent_group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent_group, parent_desc)
            self.task_s += task_s
            self.tasks_failed += failed
            jobs += frame["jobs"]
            task_s += frame["task_s"]
            shuffle_mb += frame["shuffle_mb"]
            t = self.totals[name]
            t["calls"] += 1
            t["s"] += dt
            t["self_s"] += dt - frame["child_s"]
            t["jobs"] += jobs
            t["task_s"] += task_s
            t["shuffle_write_mb"] += shuffle_mb
            if self._stack:
                p = self._stack[-1]
                p["child_s"] += dt
                p["jobs"] += jobs
                p["task_s"] += task_s
                p["shuffle_mb"] += shuffle_mb
            else:
                self.top_s += dt
            self.bookkeeping_s += time.perf_counter() - t1

    @contextmanager
    def bookkeeping(self):
        """Time tracer-side work done outside any span (gauge probes)."""
        b0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - b0

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(float(value))

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.sums[name] += float(value)

    # -------------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper. ``before``
        runs ahead of the call and its result is passed to ``after`` with the
        call's arguments and return value; both count as bookkeeping."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            probe = None
            if before is not None:
                with tracer.bookkeeping():
                    probe = before(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                with tracer.bookkeeping():
                    after(probe, out, *args, **kwargs)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's public callables (see SPAN_NAMES)."""
        import openlogreplicator_spark.sinks as sinks_pkg
        from openlogreplicator_spark.lake import LakeTable
        from openlogreplicator_spark.plans import (
            replay, rollup_apply, scd2_apply,
        )
        from openlogreplicator_spark.sinks import json_stream
        from openlogreplicator_spark.streaming import pipeline
        from openlogreplicator_spark.streaming.state import PendingStore

        self.wrap(replay, "replay_batch", "plans.replay.replay_batch")
        for mod in (replay, pipeline):
            self.wrap(mod, "collect_ddls", "plans.replay.collect_ddls")
            self.wrap(mod, "apply_committed", "plans.replay.apply_committed")
        self.wrap(LakeTable, "merge", "lake.merge",
                  before=self._merge_before, after=self._merge_after)
        self.wrap(LakeTable, "merge_direct", "lake.merge_direct",
                  before=self._files_before,
                  after=self._new_files("lake.merge.mb_written"))
        self.wrap(LakeTable, "commit_watermark", "lake.commit_watermark")
        self.wrap(LakeTable, "compact", "lake.compact",
                  before=self._files_before,
                  after=self._new_files("lake.compact.mb_rewritten"))
        self.wrap(LakeTable, "expire_snapshots", "lake.expire_snapshots")
        self.wrap(pipeline.CDCStreamPipeline, "process_batch",
                  "streaming.pipeline.process_batch")
        self.wrap(PendingStore, "read_for_batch",
                  "streaming.state.read_for_batch")
        self.wrap(PendingStore, "write", "streaming.state.write",
                  after=self._pending_after)
        self.wrap(scd2_apply, "apply_scd2_batch_sliced", "plans.scd2_apply")
        self.wrap(rollup_apply, "apply_conv_rollup_batch",
                  "plans.rollup_apply")
        for mod in (sinks_pkg, json_stream):
            self.wrap(mod, "write_change_stream", "sinks.json_stream",
                      after=self._json_after)

    # ---------------------------------------------------------- gauge probes

    @staticmethod
    def _files_before(table, *_a, **_k) -> set:
        return {f["path"] for f in table.manifest()["files"]}

    @staticmethod
    def _new_mb(table, before: set) -> float:
        new = [f for f in table.manifest()["files"]
               if f["path"] not in before]
        return sum(int(f.get("bytes") or 0) for f in new) / MB

    def _new_files(self, gauge: str):
        """``after`` probe adding the MB of files a commit added to
        ``gauge``."""
        def after(before, out, table, *_a, **_k):
            if not out.get("skipped"):
                self.add(gauge, self._new_mb(table, before))
        return after

    def _merge_before(self, table, spark, updates, *_a, **_k):
        # staged updates (the replay MERGE path) are a plain parquet scan of
        # the table's _staging dir: their key count is the footers' row
        # count, read without a Spark job
        keys = None
        files = list(updates.inputFiles())
        staging = os.path.join(table.path, "_staging")
        if files and all(staging in f for f in files):
            keys = parquet_rows(f.split("file:", 1)[-1] for f in files)
        return keys, self._files_before(table)

    def _merge_after(self, probe, out, table, *_a, **_k):
        keys, before = probe
        if out.get("skipped"):
            return
        self.add("lake.merge.mb_written", self._new_mb(table, before))
        rewritten = out.get("rows_merged", out.get("rows_written"))
        if keys and rewritten is not None:
            self.sample("lake.merge.rows_rewritten_per_key", rewritten / keys)

    def _pending_after(self, _probe, _out, store, _df, batch_id, *_a, **_k):
        d = os.path.join(store.path, f"v{batch_id}")
        files = [os.path.join(d, n) for n in os.listdir(d)
                 if n.endswith(".parquet")]
        self.sample("streaming.state.pending_rows", parquet_rows(files))
        self.sample("streaming.state.pending_mb", dir_bytes(d) / MB)

    def _json_after(self, _probe, _out, _messages, path, *_a, **_k):
        self.add("sinks.json_stream.mb_written", dir_bytes(path) / MB)

    # ---------------------------------------------------------------- report

    def report(self, rounds: int, round_wall_s: float, cores: int) -> dict:
        """Per-layer metrics of the traced rounds: span counters, summed
        gauges and unattributed time per round, sampled gauges as medians.
        ``round_wall_s`` is the summed wall time of the traced rounds. A
        gauge whose span never ran reads 0, like that span's ``calls``."""
        out: dict[str, float] = {}
        for s in SPAN_NAMES:
            for f in SPAN_FIELDS:
                out[f"{s}.{f}"] = self.totals[s][f] / rounds
        for g in GAUGE_NAMES:
            if g in self.samples:
                out[g] = statistics.median(self.samples[g])
            else:
                out[g] = self.sums.get(g, 0.0) / rounds
        out["trace.unattributed_s"] = (round_wall_s - self.top_s) / rounds
        out["spark.core_util"] = self.task_s / (round_wall_s * cores)
        out["spark.tasks_failed"] = float(self.tasks_failed)
        out["trace.overhead"] = self.bookkeeping_s / (
            round_wall_s - self.bookkeeping_s)
        return out
