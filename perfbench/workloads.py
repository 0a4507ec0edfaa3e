"""The three benchmark workloads, their fixtures, and their metrics.

Each workload has two parts:

- a set-up: a fixture built from the seed (a change log, plus for
  ``skewed_sparse`` a compacted base table), a fresh table, and an
  untimed warm-up that replays the log's first batch into it (in
  ``mor_feed`` with the same consumer reads as the timed phase);
- a fixed amount of timed work on the warmed table: the replay
  calls over the rest of the log and a scan of the final table. In
  ``mor_feed`` a consumer also reads each new commit's change feed and
  looks up a fixed set of hot keys after every replay call.

The engine's functions are always called through their module
attributes, so the span wrappers in ``trace.install`` see every call.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, replace

from . import oracle
from . import trace as tr


N_BUCKETS = 8
WARM_BATCHES = 1     # untimed batches (or closed-loop steps) in the set-up
HOT_KEYS = 16        # keys in the consumer's lookup set
FILES_PER_BUCKET = 8  # skewed_sparse base table layout after compaction


@dataclass(frozen=True)
class Spec:
    name: str
    batch_size: int          # events per replay batch
    n_batches: int           # batches in the timed log
    n_keys: int = 2_500
    write_mode: str = "cow"
    steps: bool = False      # closed loop of one-batch replay calls, each
                             # followed by the consumer
    base_events: int = 0     # skewed_sparse: zipf inserts in the base table
    scans: int = 3


SPECS = {
    # uniform upserts/deletes with one hot repo (30% of events on 25 keys)
    # and ~1% duplicate deliveries, applied copy-on-write by one pipelined
    # replay call: every bucket is rewritten by every batch
    "uniform_cow": Spec("uniform_cow", batch_size=50_000, n_batches=2,
                        n_keys=50_000),
    # a compacted zipf base table, then small batches of pure updates and
    # deletes confined to 0.1% of the keys: few files are touched, so
    # pruning, bloom build and commit metadata dominate
    "skewed_sparse": Spec("skewed_sparse", batch_size=1_000, n_batches=4,
                          n_keys=20_000, base_events=20_000),
    # merge-on-read delta commits, one batch per replay call, with
    # chain-length-3 compaction; after each call one consumer reads the
    # new commits' change feed and looks up the hot keys
    "mor_feed": Spec("mor_feed", batch_size=6_000, n_batches=3,
                     write_mode="delta", steps=True),
}


def smoke_spec(spec: Spec) -> Spec:
    """The same workload at the smallest size that still reaches every
    layer: used by the smoke test."""
    return replace(
        spec, batch_size=max(min(spec.batch_size // 6, 1_000), 200),
        n_batches=5, n_keys=max(min(spec.n_keys // 10, 2_000), 300),
        base_events=spec.base_events // 10, scans=2,
    )


# --- helpers ------------------------------------------------------------------

def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
    )


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that has at least
    ten samples beyond it. Below eleven samples no percentile qualifies
    and the maximum is returned as p100."""
    xs = sorted(values)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def _gen(spark, out_dir: str, n_files: int = 8, **kw) -> str:
    from etl_spark.cdc.gen import GenConfig, write_events

    return write_events(spark, GenConfig(**kw), out_dir, n_files=n_files)


class Run:
    """One workload's fixture, timed work and measurements."""

    def __init__(self, spark, spec: Spec, seed: int, rec: tr.Recorder):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.feed_rows: list[int] = []
        self.keys: list[tuple[str, str]] = []

    # --- fixture ------------------------------------------------------------

    def build_fixture(self, d: str) -> dict:
        """The change log (and base table) under ``d``. The warm-up
        replays the log's first ``WARM_BATCHES`` batches and the timed
        phase the rest, on the same table."""
        s = self.spec
        n = s.batch_size * (WARM_BATCHES + s.n_batches)
        fx = {"dir": d, "base": None, "logs": [],
              "warm_hi": s.base_events + s.batch_size * WARM_BATCHES}
        if s.base_events:
            from etl_spark.cdc import maintain
            from etl_spark.cdc.lake import SnapshotTable
            from etl_spark.cdc.runner import read_event_log, replay

            zipf = dict(n_keys=s.n_keys, n_repos=100, zipf_s=1.1,
                        max_content_reps=16, seed=self.seed)
            fx["logs"].append(_gen(self.spark, f"{d}/base_log",
                                   n_events=s.base_events, p_insert=1.0,
                                   p_update=0.0, **zipf))
            fx["log"] = _gen(self.spark, f"{d}/log", n_events=n, p_insert=0.0,
                             p_update=0.8, base_lsn=s.base_events,
                             update_focus_keys=max(s.n_keys // 1000, 1), **zipf)
            base = SnapshotTable(self.spark, f"{d}/base", n_buckets=N_BUCKETS)
            replay(self.spark, read_event_log(self.spark, fx["logs"][0]), base,
                   batch_size=s.base_events)
            rows = base.read().count()
            maintain.compact(
                self.spark, base, max_files_per_bucket=0,
                target_file_rows=max(rows // N_BUCKETS // FILES_PER_BUCKET, 1))
            fx["base"] = base.root
        else:
            fx["log"] = _gen(self.spark, f"{d}/log", n_events=n, n_keys=s.n_keys,
                             dup_rate=0.01, max_content_reps=16, seed=self.seed)
        fx["logs"].append(fx["log"])
        return fx

    def set_up(self, d: str) -> tuple[dict, object, dict]:
        """The set-up under ``d``: the fixture, a fresh table and the
        warm-up on it. Returns (fixture, table, warm-up figures)."""
        fx = self.build_fixture(d)
        self.keys = self.hot_keys(fx)
        table = self.new_table(fx)
        return fx, table, self.warm_up(table, fx)

    def hot_keys(self, fx: dict) -> list[tuple[str, str]]:
        """The most frequent keys of the timed part of the log."""
        import duckdb

        with duckdb.connect() as con:
            return [tuple(r) for r in con.execute(
                "SELECT repo, path FROM read_parquet($f) WHERE op IN ('I','U','D')"
                " AND lsn > $lo GROUP BY ALL ORDER BY count(*) DESC, repo, path"
                " LIMIT $k",
                {"f": f"{fx['log']}/*.parquet", "lo": fx["warm_hi"],
                 "k": HOT_KEYS},
            ).fetchall()]

    def new_table(self, fx: dict):
        from etl_spark.cdc.lake import SnapshotTable

        root = os.path.join(fx["dir"], "table")
        if fx["base"]:
            shutil.copytree(fx["base"], root)
        return SnapshotTable(self.spark, root, n_buckets=N_BUCKETS)

    # --- operations -----------------------------------------------------------

    def _op(self, fn, *args):
        """Run one counted operation; a failure is recorded, not raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def replay(self, table, events, max_batches: int | None, compactions: list):
        from etl_spark.cdc import runner

        s = self.spec
        return runner.replay(
            self.spark, events, table, batch_size=s.batch_size,
            max_batches=max_batches, write_mode=s.write_mode,
            compact_chain_len=3 if s.write_mode == "delta" else None,
            compaction_log=compactions,
        )

    def read_feed(self, table, v_from: int, v_to: int) -> int:
        """One consumer poll of the change feed, fully materialized."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from etl_spark.cdc import changelog

        with self.rec.span("changelog.read_changelog") as sp:
            obs = Observation("perfbench_feed")
            df = changelog.read_changelog(table, v_from, v_to)
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
            try:
                rows = int(obs.get["n"])
            except Exception:
                # an observation on a plan folded to an empty relation
                # never reports
                rows = df.count()
            sp.info["rows"] = rows
        return rows

    def lookup(self, table) -> None:
        with self.rec.span("lake.lookup"):
            table.lookup(self.keys).write.format("noop").mode("overwrite").save()

    def scan(self, table) -> tuple[int, int]:
        from pyspark.sql import functions as F

        with self.rec.span("lake.read"):
            row = table.read().agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("repo", "path", "content")).alias("h"),
            ).collect()[0]
        return int(row["n"]), row["h"]

    # --- phases ---------------------------------------------------------------

    def consume(self, table, v_from: int) -> float:
        """Read the change feed of every commit after ``v_from``, one
        commit at a time, then look up the hot keys once; returns when the
        consumer is done."""
        for v in range(v_from, table.version()):
            rows = self._op(self.read_feed, table, v, v + 1)
            if rows is not None:
                self.feed_rows.append(rows)
        self._op(self.lookup, table)
        return time.perf_counter()

    def _replay_calls(self, table, events, n_calls: int, compactions):
        """Replay events: one pipelined call, or ``n_calls`` one-batch calls
        in the closed loop, each followed by the consumer. Yields
        (call seconds, batch metrics, consumer done time) per call."""
        for _ in range(n_calls if self.spec.steps else 1):
            v = table.version()
            t = time.perf_counter()
            out = self._op(self.replay, table, events,
                           1 if self.spec.steps else None, compactions)
            secs = time.perf_counter() - t
            if out is None:
                return  # the table is not at a batch boundary to go on from
            # the call counted as one attempt; each further batch is one more
            self.attempted += max(len(out) - 1, 0)
            yield secs, out, self.consume(table, v) if self.spec.steps else None

    def _events(self, fx: dict, warm: bool):
        from pyspark.sql import functions as F

        from etl_spark.cdc.runner import read_event_log

        lsn = F.col("lsn")
        events = read_event_log(self.spark, fx["log"])
        return events.where(lsn <= fx["warm_hi"] if warm else lsn > fx["warm_hi"])

    def warm_up(self, table, fx: dict) -> dict:
        """The first batches of the same table, untimed; returns their
        batch metrics and compactions."""
        batches, compactions = [], []
        for _, out, _ in self._replay_calls(
                table, self._events(fx, warm=True), WARM_BATCHES,
                compactions):
            batches += out
        self.attempted = self.failed = 0
        self.feed_rows = []
        return {"batches": batches, "compactions": compactions}

    def timed(self, table, fx: dict) -> dict:
        """The measured work; returns the raw figures."""
        s = self.spec
        meta_before = tr.manifest_files(table.root)
        v0 = table.version()
        batches, compactions, lags = [], [], []
        replay_wall = 0.0
        for secs, out, done in self._replay_calls(
                table, self._events(fx, warm=False), s.n_batches, compactions):
            replay_wall += secs
            batches += out
            if done is not None:
                starts = self._prepare_starts()
                lags += [done - starts[m.batch_id] for m in out
                         if m.batch_id in starts]
        meta_after = tr.manifest_files(table.root)
        scans, counts = [], set()
        for _ in range(s.scans):
            t = time.perf_counter()
            counts.add(self.scan(table))
            scans.append(time.perf_counter() - t)
        return {
            "table": table, "batches": batches, "compactions": compactions,
            "replay_wall": replay_wall, "lags": lags, "scans": scans,
            "scan_results": counts,
            "meta_bytes": sum(sz for p, sz in meta_after.items()
                              if p not in meta_before),
            "commits": table.version() - v0,
        }

    def _prepare_starts(self) -> dict[int, float]:
        return {s.info["batch_id"]: s.t0 for s in self.rec.of("merge.prepare_batch")}

    def batch_latencies(self, batches) -> list[float]:
        starts = self._prepare_starts()
        ends = {s.info["batch_id"]: s.t1 for s in self.rec.of("merge.apply_prepared")}
        return [ends[m.batch_id] - starts[m.batch_id]
                for m in batches if m.batch_id in starts and m.batch_id in ends]


def _bytes_written(batches, compactions) -> int:
    return (sum(m.bytes_written for m in batches)
            + sum(int(c.get("bytes_written") or 0) for c in compactions))


def end_to_end(run: Run, fx: dict, res: dict, setup_s: float,
               warm: dict) -> dict:
    """The bounded end-to-end metrics as ``{name: (value, unit)}``.
    ``warm`` is what the warm-up replay returned: ``write_amp`` covers the
    whole replayed log, warm-up batches included."""
    written = (_bytes_written(res["batches"], res["compactions"])
               + _bytes_written(warm["batches"], warm["compactions"]))
    return {
        "setup_s": (setup_s, "s"),
        "write_amp": (written / sum(map(os.path.getsize,
                                        oracle.log_files(fx["log"]))), "ratio"),
        "meta_kb_per_commit": (res["meta_bytes"] / 1e3 / max(res["commits"], 1),
                               "KB"),
        "live_table_mb": (oracle.live_bytes(res["table"].root) / 1e6, "MB"),
    }


def unbounded(run: Run, res: dict, peak_rss_mb: float) -> dict:
    """The end-to-end figures without a bound, as ``{name: (value, unit,
    note)}``: wall-clock figures drift with the host's speed by more than
    any allowed bound, the tails have too few samples per run, and the
    error rate is always 0 (README). They are printed with the per-layer
    metrics, and beside the bounded ones in the untraced report."""
    def p50(xs):
        # the consumer figures are 0 where a workload has no consumer
        return statistics.median(xs) if xs else 0.0

    def spans(layer):
        return [s.t1 - s.t0 for s in run.rec.of(layer)]

    batches = res["batches"]
    lat = run.batch_latencies(batches)
    b, bp, bn = tail(lat)
    f, fp, fn = tail(res["lags"]) if res["lags"] else (0.0, 100.0, 0)
    return {
        "replay_eps": (sum(m.events_seen for m in batches) / res["replay_wall"],
                       "events/s", None),
        "batch_s.p50": (statistics.median(lat), "s", None),
        "scan_s": (statistics.median(res["scans"]), "s", None),
        "batch_s.tail": (b, "s", f"p{bp:.0f} of {bn}"),
        "peak_rss_mb": (peak_rss_mb, "MB", None),
        "error_rate": (run.failed / max(run.attempted, 1), "ratio", None),
        "feed_read_s.p50": (p50(spans("changelog.read_changelog")), "s", None),
        "feed_lag_s.p50": (p50(res["lags"]), "s", None),
        "feed_lag_s.tail": (f, "s", f"p{fp:.0f} of {fn}"),
        "lookup_s.p50": (p50(spans("lake.lookup")), "s", None),
    }
