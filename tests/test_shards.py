"""Sharded manifests (VERDICT r4 next-round #2 — the Iceberg
manifest-list / manifest-file split).

Per-bucket file refs live in immutable, content-addressed shard files;
the per-version manifest stores one pointer per bucket. Pinned here:

- an untouched bucket's shard is carried as a POINTER across a commit —
  the shard file itself is byte-identical, same path, not rewritten
  (mtime/inode unchanged), so commit metadata cost is O(touched
  buckets' refs), never O(live files);
- rollback is metadata-only at the shard layer too: it writes ZERO new
  shard files (content addressing resurrects the target's shards);
- retention GCs shards referenced by no kept manifest and keeps the
  rest; an expired version's read raises SnapshotExpiredError while the
  live snapshot stays intact;
- per-batch commit-metadata bytes are visible in the metrics
  (manifest_bytes / manifest_shards_carried) — the evidence line the
  append/skewed benches report.
"""

import json
import os

from pyspark.sql import functions as F

from etl_spark.cdc.lake import SnapshotTable, SnapshotExpiredError
from etl_spark.cdc.runner import replay

EVENTS_DDL = (
    "lsn long, op string, repo string, path string, commit string, "
    "lang string, content string, ts string, extra map<string,string>, "
    "schema_change struct<kind:string,column:string,new_name:string,new_type:string>"
)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENTS_DDL).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _state(t):
    return {
        (r["repo"], r["path"]): (r["content"], r["_last_lsn"])
        for r in t.read().collect()
    }


def _raw_manifest(t, v):
    with open(os.path.join(t.root, "manifests", f"v{v}.json")) as f:
        return json.load(f)


def _shard_files(t):
    d = os.path.join(t.root, "manifests", "shards")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _mk(spark, root, n=200, n_buckets=4):
    base = _events(
        spark,
        [
            (i + 1, "I", "r", f"p{i:03d}", f"c{i}", "py", f"body {i}",
             "2024-01-01 00:00:00", None, None)
            for i in range(n)
        ],
    )
    t = SnapshotTable(spark, str(root), n_buckets=n_buckets)
    replay(spark, base, t, batch_size=n)
    return t, n


def test_untouched_bucket_shard_carried_byte_identical(spark, tmp_path):
    t, n = _mk(spark, tmp_path / "lake")
    v1 = t.version()
    raw1 = _raw_manifest(t, v1)
    assert all(
        isinstance(e, dict) and "ptr" in e for e in raw1["files"].values()
    ), "committed manifests store shard pointers, not inline ref lists"
    stats_before = {
        b: os.stat(os.path.join(t.root, "manifests", e["ptr"]))
        for b, e in raw1["files"].items()
    }

    # one-key update -> exactly one bucket's entry changes
    ms = replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p000", "cx", "py", "v2",
                         "2024-01-02 00:00:00", None, None)]),
        t, batch_size=10,
    )
    v2 = t.version()
    raw2 = _raw_manifest(t, v2)
    changed = [
        b for b in raw1["files"]
        if raw2["files"][b]["ptr"] != raw1["files"][b]["ptr"]
    ]
    assert len(changed) == 1, (raw1["files"], raw2["files"])
    for b, e in raw1["files"].items():
        if b in changed:
            continue
        # same pointer, same shard file, untouched on disk
        assert raw2["files"][b]["ptr"] == e["ptr"]
        st = os.stat(os.path.join(t.root, "manifests", e["ptr"]))
        assert (st.st_ino, st.st_mtime_ns) == (
            stats_before[b].st_ino, stats_before[b].st_mtime_ns
        ), f"untouched bucket {b}'s shard was rewritten"
    # the metrics carry the commit-metadata accounting
    m = ms[0]
    assert m.manifest_shards_carried >= len(raw1["files"]) - 1, m.to_dict()
    assert 0 < m.manifest_bytes < 64_000, m.to_dict()


def _manifest_sizes(t):
    base = os.path.join(t.root, "manifests")
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(base) for f in names
    }


def test_manifest_bytes_written_is_exact(spark, tmp_path):
    """``manifest_bytes_written`` equals the on-disk bytes of the files
    the commit added under ``manifests/`` — including the top manifest,
    which embeds that very figure — for CoW, rollback and compaction
    commits alike."""
    from etl_spark.cdc.maintain import compact

    t, n = _mk(spark, tmp_path / "lake")

    def check(commit):
        before = _manifest_sizes(t)
        commit()
        after = _manifest_sizes(t)
        new = sum(sz for p, sz in after.items() if p not in before)
        v = t.version()
        with open(os.path.join(t.root, "metrics", f"batch-v{v}.json")) as f:
            reported = json.load(f)["manifest_bytes_written"]
        assert reported == new, (v, reported, new)
        assert _raw_manifest(t, v)["metrics"]["manifest_bytes_written"] == new

    check(lambda: replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p003", "cz", "py", "v2",
                         "2024-01-02 00:00:00", None, None)]),
        t, batch_size=10,
    ))
    check(lambda: compact(spark, t, max_files_per_bucket=0, target_file_rows=20))
    check(lambda: t.rollback(1))


def test_rollback_writes_no_new_shards(spark, tmp_path):
    t, n = _mk(spark, tmp_path / "lake")
    v1 = t.version()
    state1 = _state(t)
    replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p001", "cy", "py", "v2",
                         "2024-01-02 00:00:00", None, None),
                        (n + 2, "D", "r", "p002", None, None, None,
                         "2024-01-02 00:00:00", None, None)]),
        t, batch_size=10,
    )
    assert _state(t) != state1
    shards_before = _shard_files(t)
    t.rollback(v1)
    # content addressing: the restored entries' shards are already on
    # disk — a 100 TB rollback writes one pointer map, zero shards
    assert _shard_files(t) == shards_before
    assert _state(t) == state1


def test_expire_gcs_dead_shards_keeps_live(spark, tmp_path):
    t, n = _mk(spark, tmp_path / "lake")
    for j in range(3):  # three more versions, each rewriting one bucket
        replay(
            spark,
            _events(spark, [(n + 1 + j, "U", "r", f"p00{j}", "cz", "py",
                             f"v{j}", "2024-01-02 00:00:00", None, None)]),
            t, batch_size=10,
        )
    state = _state(t)
    old_versions = list(range(1, t.version()))
    t.expire_snapshots(keep_last=1)
    live = {
        os.path.basename(e["ptr"])
        for e in _raw_manifest(t, t.version())["files"].values()
    }
    assert set(_shard_files(t)) == live, "dead shards GC'd, live kept"
    assert _state(t) == state  # the live snapshot is intact
    try:
        t.manifest_at(old_versions[0])
        raise AssertionError("expired version must raise")
    except SnapshotExpiredError:
        pass


def test_fresh_handle_carries_shards_across_processes(spark, tmp_path):
    """A brand-new SnapshotTable handle (cold shard cache — the
    every-batch situation for a restarted driver) still carries
    untouched buckets by pointer: resolution memoizes entry identity at
    parse time, so the next commit reuses the pointers without
    re-serializing any ref list."""
    t, n = _mk(spark, tmp_path / "lake")
    v1 = t.version()
    raw1 = _raw_manifest(t, v1)

    t2 = SnapshotTable(spark, t.root)  # fresh handle, empty caches
    ms = replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p000", "cx", "py", "v2",
                         "2024-01-02 00:00:00", None, None)]),
        t2, batch_size=10,
    )
    raw2 = _raw_manifest(t2, t2.version())
    same = [
        b for b in raw1["files"]
        if raw2["files"][b]["ptr"] == raw1["files"][b]["ptr"]
    ]
    assert len(same) == len(raw1["files"]) - 1
    assert ms[0].manifest_shards_carried >= len(same), ms[0].to_dict()
