"""Spans around the engine's public entry points, and Spark task metrics
folded into them.

A ``Recorder`` keeps spans in memory. ``install`` swaps wrappers into the
module attributes where callers bind the engine's functions and restores
the originals on exit. A span records its layer, thread, parent, start
and end, plus counters taken from the wrapped call's arguments and
return value.

With ``spark_tags`` on, each span also adds a unique Spark job tag on its
own thread (job tags are thread-local properties) and removes it when
the span ends. ``fold_event_log`` then reads the Spark event log and
charges every job's task metrics to the innermost tagged span. Jobs
started on engine-internal threads carry no tag and are reported as
untagged instead of being guessed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench-span-"

# the span layers, in report order
LAYERS = (
    "runner.replay",
    "merge.prepare_batch",
    "merge.apply_prepared",
    "lake.read_for_merge",
    "lake.scan_written_footers",
    "lake.build_file_blooms",
    "lake.commit",
    "maintain.compact",
    "changelog.read_changelog",
    "lake.read",
    "lake.lookup",
)
SPARK_STATS = ("task_s", "gc_s", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    id: int
    layer: str
    thread: int
    parent: int | None
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)
    spark: dict = field(default_factory=lambda: dict.fromkeys(SPARK_STATS, 0.0))


class Recorder:
    """Span store. ``spark_tags=False`` records call timestamps only,
    which is what the end-to-end run uses to time batches."""

    def __init__(self, sc=None, spark_tags: bool = False):
        self.sc = sc
        self.spark_tags = spark_tags
        self.spans: list[Span] = []
        self.main_thread = threading.get_ident()
        self._main_stack: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self.main_thread:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def innermost(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, layer: str):
        st = self._stack()
        # a span opened on a fresh thread (the pipelined prepare) belongs
        # to the outermost span open on the main thread
        parent = st[-1] if st else (self._main_stack[0] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), layer, threading.get_ident(),
                      parent.id if parent else None, 0.0)
            self.spans.append(sp)
        tag = f"{TAG_PREFIX}{sp.id}"
        if self.spark_tags:
            self.sc.addJobTag(tag)
        st.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            st.pop()
            if self.spark_tags:
                self.sc.removeJobTag(tag)

    def wrap(self, layer: str, fn, before=None, after=None):
        """``fn`` inside a span. ``before(args, kwargs)`` runs ahead of the
        timed call and its result is handed to ``after(state, result,
        args, kwargs)``, whose dict lands in ``span.info``. A call made
        from inside an open span of the same layer (a consumer span
        around its own materialization) is not recorded twice."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cur = self.innermost()
            if cur is not None and cur.layer == layer:
                return fn(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with self.span(layer) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                sp.info.update(after(state, out, args, kwargs))
            return out

        return wrapper

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and s.t1]


# --- installing the wrappers -------------------------------------------------

def manifest_files(root: str) -> dict[str, int]:
    """Size of every file under the table's ``manifests/`` dir."""
    out = {}
    base = os.path.join(root, "manifests")
    for dirpath, _, names in os.walk(base):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


def _commit_before(args, kwargs):
    return manifest_files(args[0].root)


def _commit_after(before, out, args, kwargs):
    after = manifest_files(args[0].root)
    mt = out.get("metrics") or {}
    return {
        "meta_bytes": sum(sz for p, sz in after.items() if p not in before),
        "manifest_bytes_reported": int(mt.get("manifest_bytes_written") or 0),
        "shards_written": int(mt.get("manifest_shards_written") or 0),
        "shards_carried": int(mt.get("manifest_shards_carried") or 0),
    }


def _prepare_after(_, prep, args, kwargs):
    # the BatchMetrics object is shared with apply_prepared, which fills
    # conflicts_resolved later; keep the reference and read it at fold time
    return {"metrics": prep.m, "batch_id": prep.batch_id}


def _apply_after(_, bm, args, kwargs):
    return {"metrics": bm, "batch_id": bm.batch_id}


def _rfm_after(_, out, args, kwargs):
    stats = out[2]
    return {"files_cold": int(stats.get("files_cold") or 0),
            "files_hit": int(stats.get("files_hit") or 0)}


def _compact_after(_, out, args, kwargs):
    return {"bytes_written": int(out.get("bytes_written") or 0)}


@contextlib.contextmanager
def install(rec: Recorder, full: bool = True):
    """Wrap the engine's entry points for the duration of the block.

    ``full=False`` wraps only what end-to-end timing needs (the two merge
    phases and compaction); ``full=True`` wraps every span layer."""
    from etl_spark.cdc import changelog, lake, maintain, merge, runner

    sites = [
        (merge, "prepare_batch", "merge.prepare_batch", None, _prepare_after),
        (merge, "apply_prepared", "merge.apply_prepared", None, _apply_after),
        (maintain, "compact", "maintain.compact", None, _compact_after),
    ]
    if full:
        T = lake.SnapshotTable
        sites += [
            (runner, "replay", "runner.replay", None, None),
            # bound into both importers' namespaces at import time
            (merge, "scan_written_footers", "lake.scan_written_footers", None, None),
            (maintain, "scan_written_footers", "lake.scan_written_footers", None, None),
            (lake, "build_file_blooms", "lake.build_file_blooms", None, None),
            (T, "read_for_merge", "lake.read_for_merge", None, _rfm_after),
            (T, "commit", "lake.commit", _commit_before, _commit_after),
            (T, "commit_delta", "lake.commit", _commit_before, _commit_after),
            (T, "read", "lake.read", None, None),
            (T, "lookup", "lake.lookup", None, None),
            (changelog, "read_changelog", "changelog.read_changelog", None, None),
        ]
    saved = []
    try:
        for owner, attr, layer, before, after in sites:
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            setattr(owner, attr, rec.wrap(layer, orig, before, after))
        yield rec
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# --- folding ----------------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(lo: float, hi: float, ivs: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in ivs)


def self_times(rec: Recorder) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in rec.spans:
        if s.parent is not None and s.t1:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {
        s.id: (s.t1 - s.t0) - _covered(s.t0, s.t1, _union(kids.get(s.id, [])))
        for s in rec.spans if s.t1
    }


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress") or os.path.isdir(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_event_log(rec: Recorder, events: list[dict], t_from_ms: float,
                   t_to_ms: float) -> dict:
    """Charge task metrics of the jobs submitted in [t_from, t_to] (epoch
    ms) to the innermost tagged span; returns the Spark-wide figures."""
    by_id = {s.id: s for s in rec.spans}
    job_span: dict[int, Span | None] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        if not t_from_ms <= e.get("Submission Time", 0) <= t_to_ms:
            continue
        tags = (e.get("Properties") or {}).get("spark.job.tags") or ""
        ids = [int(t[len(TAG_PREFIX):]) for t in tags.split(",")
               if t.startswith(TAG_PREFIX)]
        # nested spans on one thread get increasing ids: the largest is
        # the innermost
        job_span[e["Job ID"]] = by_id.get(max(ids)) if ids else None
        for sid in e.get("Stage IDs", []):
            stage_job.setdefault(sid, e["Job ID"])  # first job ran the stage
    untagged = 0.0
    per_stage: dict[int, list[float]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(e.get("Stage ID"))
        if job is None or job not in job_span:
            continue
        tm = e.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1e3
        per_stage.setdefault(e["Stage ID"], []).append(run_s)
        sp = job_span[job]
        if sp is None:
            untagged += run_s
            continue
        sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sp.spark["task_s"] += run_s
        sp.spark["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sp.spark["shuffle_write_mb"] += sw / 1e6
        sp.spark["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    skews = [
        max(ts) / max(statistics.median(ts), 1e-3)
        for ts in per_stage.values() if len(ts) >= 2
    ]
    return {
        "spark.untagged_task_s": untagged,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def runner_metrics(rec: Recorder) -> dict:
    """Pipelining figures of the replay loop, and the remainder of the
    replay wall that neither the engine's own ``phase_secs`` nor the
    compaction spans account for."""
    main = rec.main_thread
    replays = rec.of("runner.replay")
    main_kids = _union([
        (s.t0, s.t1) for s in rec.spans
        if s.t1 and s.thread == main and s.layer in
        ("merge.apply_prepared", "maintain.compact")
    ])
    applies = {s.info.get("batch_id"): s for s in rec.of("merge.apply_prepared")}
    prep_wait = prep_overlap = 0.0
    for p in rec.of("merge.prepare_batch"):
        if p.thread == main:
            continue
        prep_overlap += _covered(p.t0, p.t1, main_kids)
        a = applies.get(p.info.get("batch_id"))
        if a is None:
            continue
        busy_until = max((b for _, b in main_kids if b <= a.t0), default=p.t0)
        prep_wait += max(0.0, min(p.t1, a.t0) - busy_until)
    phases = sum(
        v for s in rec.of("merge.apply_prepared")
        for k, v in s.info["metrics"].phase_secs.items()
        if k != "slim_build"  # nested inside "prepare"
    )
    compact = sum(s.t1 - s.t0 for s in rec.of("maintain.compact"))
    wall = sum(s.t1 - s.t0 for s in replays)
    return {
        "runner.prep_wait_s": prep_wait,
        "runner.prep_overlap_s": prep_overlap,
        "runner.unattributed_s": wall - (phases - prep_overlap + compact),
    }


def layer_metrics(rec: Recorder) -> dict:
    st = self_times(rec)
    out: dict = {}
    for layer in LAYERS:
        spans = rec.of(layer)
        out[f"{layer}.calls"] = len(spans)
        out[f"{layer}.self_s"] = sum(st[s.id] for s in spans)
        for k in SPARK_STATS:
            out[f"{layer}.{k}"] = sum(s.spark[k] for s in spans)

    def ratio(a, b):
        return a / b if b else 0.0

    preps = [s.info["metrics"] for s in rec.of("merge.prepare_batch")]
    data = sum(m.data_events for m in preps)
    out["merge.prepare_batch.conflict_ratio"] = ratio(
        sum(m.conflicts_resolved for m in preps), data)
    out["merge.prepare_batch.dup_ratio"] = ratio(
        sum(m.duplicate_deliveries for m in preps), data)
    applied = [s.info["metrics"] for s in rec.of("merge.apply_prepared")]
    out["merge.apply_prepared.bytes_written_mb"] = sum(
        m.bytes_written for m in applied) / 1e6
    out["merge.apply_prepared.files_rewritten"] = sum(
        m.files_rewritten for m in applied)
    out["merge.apply_prepared.rows_out"] = sum(m.rows_out for m in applied)
    rfm = rec.of("lake.read_for_merge")
    cold = sum(s.info["files_cold"] for s in rfm)
    out["lake.read_for_merge.carry_ratio"] = ratio(
        cold, cold + sum(s.info["files_hit"] for s in rfm))
    commits = rec.of("lake.commit")
    out["lake.commit.meta_bytes"] = sum(s.info["meta_bytes"] for s in commits)
    out["lake.commit.manifest_bytes_reported"] = sum(
        s.info["manifest_bytes_reported"] for s in commits)
    carried = sum(s.info["shards_carried"] for s in commits)
    out["lake.commit.shard_carry_ratio"] = ratio(
        carried, carried + sum(s.info["shards_written"] for s in commits))
    out["maintain.compact.bytes_rewritten_mb"] = sum(
        s.info["bytes_written"] for s in rec.of("maintain.compact")) / 1e6
    feeds = rec.of("changelog.read_changelog")
    out["changelog.read_changelog.rows"] = sum(
        s.info.get("rows", 0) for s in feeds)
    out["changelog.read_changelog.empty_reads"] = sum(
        1 for s in feeds if s.info.get("rows") == 0)
    out.update(runner_metrics(rec))
    return out
