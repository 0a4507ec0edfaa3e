"""Changelog (CDF) + maintenance (compact / vacuum / rebucket) suites.

Invariants:
- the changelog between v0 and latest, applied in order, reconstructs
  the final snapshot (feed-completeness);
- predicate deletes surface as `delete` rows; maintenance commits
  (compact, rebucket) emit NO changelog rows and leave the row set and
  checkpoint untouched;
- compaction actually reduces per-bucket file counts; vacuum removes
  only uncommitted debris; rebucket changes routing but not state.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.changelog import read_changelog
from etl_spark.cdc.delete import delete_where
from etl_spark.cdc.gen import GenConfig, generate_events
from etl_spark.cdc.lake import SnapshotTable, SnapshotExpiredError
from etl_spark.cdc.maintain import bucket_file_stats, compact, rebucket, remove_orphans
from etl_spark.cdc.runner import replay


@pytest.fixture(scope="module")
def log(spark):
    cfg = GenConfig(n_events=3000, n_keys=140, hot_frac=0.3, hot_keys=10, seed=23)
    df = generate_events(spark, cfg).cache()
    yield df
    df.unpersist()


@pytest.fixture()
def replayed(spark, log, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=8)
    replay(spark, log, t, batch_size=700)
    return t


@pytest.fixture()
def fragmented(spark, replayed):
    """``replayed`` with small files laid out explicitly. A merge writes
    a bucket it rewrites whole as one file, so the replay alone need not
    leave any bucket with more than one; a rolled compaction splits
    every bucket into key-contiguous files, and a one-key batch then
    rewrites the hit file and adds an upsert file while the bucket's
    other files carry cold — the growth compaction exists to fold."""
    from etl_spark.cdc.merge_into import merge_into

    compact(spark, replayed, max_files_per_bucket=0, target_file_rows=6)
    key = replayed.read().orderBy("repo", "path").select("repo", "path").first()
    merge_into(spark, replayed, spark.createDataFrame(
        [(key["repo"], key["path"], "c2", "py", "x = 2")],
        "repo string, path string, commit string, lang string, content string",
    ))
    return replayed


def _state(table):
    return {
        (r["repo"], r["path"]): (r["content_sha256"], r["_last_lsn"])
        for r in table.read().collect()
    }


def _apply_feed(rows):
    """Fold changelog rows (ordered by commit version) into a state dict."""
    state = {}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        k = (r["repo"], r["path"])
        if r["_change_type"] == "delete":
            state.pop(k, None)
        else:
            state[k] = (r["content_sha256"], r["_last_lsn"])
    return state


def test_changelog_diffs_are_bucket_scoped():
    """Diff tags cover only files whose manifest reference changed — the
    property that keeps CDF cost O(update footprint). Each distinct file
    is tagged at most once per (commit, side); a cold file carried by
    reference across a PLAIN file-level rewrite emits NO tag at all (a
    plain base holds one live row per key partitioned across its files,
    so a carried file can never hold a touched key of the commit); a
    chain-shared file compresses its commit span into ONE range tag, so
    the driver-side tag list is O(files + transitions), not O(K x L)."""
    from etl_spark.cdc.changelog import _file_tags

    def fe(*paths):  # file-level entry (stats irrelevant to tagging)
        return {"base": [[p, 1, None, None, None, None] for p in paths],
                "deltas": []}

    m_old = {"files": {"0": fe("data/v1/_bucket=0/a.parquet"),
                       "1": fe("data/v1/_bucket=1/a.parquet",
                               "data/v1/_bucket=1/b.parquet"),
                       "3": fe("data/v1/_bucket=3/a.parquet")}}
    m_new = {"files": {"0": fe("data/v1/_bucket=0/a.parquet"),  # carried
                       "1": fe("data/v1/_bucket=1/a.parquet",   # cold ref
                               "data/v2/_bucket=1/c.parquet"),  # rewritten
                       "2": fe("data/v2/_bucket=2/a.parquet")}}  # new bucket
    # 3 disappeared (all rows deleted) -> must be scanned for deletes
    tags, b_ranges = _file_tags("/nonexistent", {1: m_old, 2: m_new}, 1, 2)
    assert sorted(tags) == [
        ("data/v1/_bucket=1/b.parquet", 2, "o"),
        ("data/v1/_bucket=3/a.parquet", 2, "o"),
        ("data/v2/_bucket=1/c.parquet", 2, "n"),
        ("data/v2/_bucket=2/a.parquet", 2, "n"),
    ]
    # plain -> plain rewrite: the carried cold file is NOT tagged shared
    assert b_ranges == []
    # a file rewritten at v2 then again at v3 is old-side of v3 once
    m_3 = {"files": {"0": fe("data/v3/_bucket=0/a.parquet"),
                     "1": fe("data/v3/_bucket=1/a.parquet")}}
    tags, _ = _file_tags("/nonexistent", {1: m_old, 2: m_new, 3: m_3}, 1, 3)
    assert tags.count(("data/v2/_bucket=1/c.parquet", 3, "o")) == 1
    assert all(tags.count(t) == 1 for t in tags)


def test_changelog_chain_shared_files_tag_as_ranges():
    """A merge-on-read chain appended to K times keeps its shared prefix
    as ONE (file, first, last) range per file — O(files + transitions)
    driver metadata — and a gap in sharedness (a compaction between two
    chain epochs) splits the range."""
    from etl_spark.cdc.changelog import _file_tags

    def ce(base, *deltas):  # chain entry: base FILE + delta file "dirs"
        return {"base": [[base, 1, None, None, None, None]],
                "deltas": list(deltas)}

    base = "data/v1/_bucket=0/a.parquet"
    ms = {1: {"files": {"0": ce(base)}}}
    # v2..v4: three delta appends — base shared at each, prefix grows
    deltas = []
    for v in (2, 3, 4):
        deltas.append(f"data/v{v}/_bucket=0/d.parquet")
        ms[v] = {"files": {"0": ce(base, *deltas)}}
    tags, b_ranges = _file_tags("/nonexistent", ms, 1, 4)
    assert (base, 2, 4) in b_ranges          # ONE span, not 3 tuples
    assert (deltas[0], 3, 4) in b_ranges     # first delta shared at v3, v4
    assert (deltas[1], 4, 4) in b_ranges
    assert sorted(t for t in tags if t[2] == "n") == [
        (deltas[0], 2, "n"), (deltas[1], 3, "n"), (deltas[2], 4, "n")]
    # compaction at v5 (chain -> fresh plain base): all chain files are
    # o-side once; nothing shared
    ms[5] = {"files": {"0": {"base": [["data/v5/_bucket=0/a.parquet",
                                       1, None, None, None, None]],
                             "deltas": []}}}
    tags5, b5 = _file_tags("/nonexistent", ms, 1, 5)
    assert {t for t in tags5 if t[1] == 5 and t[2] == "o"} == {
        (base, 5, "o"), *{(d, 5, "o") for d in deltas}}
    assert b5 == b_ranges  # no new shared spans from the compaction


def test_commit_concurrency_and_retention_guards(spark, tmp_path, replayed):
    """(a) Two writers racing to publish the same version: exactly one
    wins, the loser gets ConcurrentCommitError instead of silently
    overwriting the manifest and regressing the checkpoint.
    (b) expire_snapshots(keep_last=0) would delete every manifest and
    data dir while _LATEST still points at the removed version — it must
    be rejected up front."""
    from etl_spark.cdc.lake import ConcurrentCommitError

    v, ckpt = replayed.version(), replayed.last_lsn()
    state = _state(replayed)
    with pytest.raises(ConcurrentCommitError):
        # a stale writer re-publishing the CURRENT version
        replayed.commit(v, None, [], ckpt, [], {})
    assert replayed.version() == v and replayed.last_lsn() == ckpt
    assert _state(replayed) == state

    with pytest.raises(ValueError, match="keep_last"):
        replayed.expire_snapshots(keep_last=0)
    assert _state(replayed) == state


def test_replay_fast_forwards_rebased_log(spark, tmp_path):
    """A re-based log (lsns starting far above the checkpoint) must not
    grind through thousands of empty windows: the cursor fast-forwards to
    just below min(lsn), preserving exactly-once."""
    rows = [(5_000_000 + i, "I", "r", f"k{i}", "c", "py", f"x{i}",
             "2024-01-01 00:00:00", None, None) for i in range(1, 7)]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, ts string, extra map<string,string>, "
        "schema_change struct<kind:string,column:string,new_name:string,new_type:string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    t = SnapshotTable(spark, str(tmp_path / "rebased"), n_buckets=2)
    metrics = replay(spark, df, t, batch_size=3)
    assert len(metrics) == 2, [m.to_dict() for m in metrics]
    assert t.read().count() == 6
    # resume is still a no-op
    assert replay(spark, df, t, batch_size=3) == []


def test_changelog_long_history_constant_plan(spark, tmp_path):
    """A 200-commit interval reads as ONE constant-depth plan — parquet
    scan count independent of commit count (the naive shape, one
    full-outer join unioned per commit, is linear in commits: plan
    compile alone blows up on a 10^4-commit table). Commits are authored
    directly (pyarrow write + manifest commit) so the test exercises the
    reader, not the merge path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_commits, n_buckets = 200, 4
    t = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=n_buckets)
    state = {b: {} for b in range(n_buckets)}  # bucket -> key -> lsn
    expect = {}
    for v in range(1, n_commits + 1):
        b = v % n_buckets
        key = f"k{v % 23:02d}_b{b}"
        state[b][key] = v
        expect[key] = v
        if v % 37 == 0 and len(state[b]) > 1:  # occasional delete
            dead = sorted(state[b])[0]
            del state[b][dead]
            expect.pop(dead, None)
        d = os.path.join(t.new_data_dir(v), f"_bucket={b}")
        os.makedirs(d)
        keys = sorted(state[b])
        pq.write_table(
            pa.table({
                "repo": pa.array(["r"] * len(keys), pa.string()),
                "path": pa.array(keys, pa.string()),
                "commit": pa.array([f"c{state[b][k]}" for k in keys], pa.string()),
                "lang": pa.array(["py"] * len(keys), pa.string()),
                "content": pa.array(["x"] * len(keys), pa.string()),
                "content_sha256": pa.array([f"s{state[b][k]}" for k in keys], pa.string()),
                "_last_lsn": pa.array([state[b][k] for k in keys], pa.int64()),
            }),
            os.path.join(d, "part-0.parquet"),
        )
        t.commit(v, t.new_data_dir(v), [b], last_lsn=v, dyn_schema=[], metrics={})

    feed = read_changelog(t, from_version=0)
    plan = feed._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    scans = plan.count("Scan parquet")
    # one scan feeds the slim lsn aggregate, one the payload join-back;
    # crucially NOT one (or two) per commit
    assert 1 <= scans <= 2, plan[:2000]
    rows = feed.collect()
    folded = _apply_feed(rows)
    assert {k: lsn for (_, k), (_, lsn) in folded.items()} == expect
    # every commit that changed state is represented
    assert {r["_commit_version"] for r in rows} == set(range(1, n_commits + 1))


def test_changelog_reconstructs_snapshot(spark, replayed):
    feed = read_changelog(replayed, from_version=0).collect()
    assert _apply_feed(feed) == _state(replayed)
    # every transition is classified
    assert {r["_change_type"] for r in feed} <= {"insert", "update", "delete"}
    # version 1 starts from empty: inserts only
    assert {r["_change_type"] for r in feed if r["_commit_version"] == 1} == {"insert"}


def test_changelog_range_and_empty(spark, replayed):
    v = replayed.version()
    assert read_changelog(replayed, from_version=v).count() == 0
    head = read_changelog(replayed, 0, to_version=2).collect()
    tail = read_changelog(replayed, 2).collect()
    full = read_changelog(replayed, 0).collect()
    assert len(head) + len(tail) == len(full)
    with pytest.raises(ValueError):
        read_changelog(replayed, 3, to_version=1)


def test_changelog_sees_predicate_delete(spark, replayed):
    v = replayed.version()
    before = _state(replayed)
    cut = sorted(lsn for _, lsn in before.values())[len(before) // 3]
    doomed = {k for k, (_, lsn) in before.items() if lsn <= cut}
    assert doomed
    delete_where(spark, replayed, F.col("_last_lsn") <= cut)
    feed = read_changelog(replayed, from_version=v).collect()
    assert {(r["repo"], r["path"]) for r in feed} == doomed
    assert all(r["_change_type"] == "delete" for r in feed)
    # pre-image payload: the deleted row's sha/lsn
    got = {(r["repo"], r["path"]): (r["content_sha256"], r["_last_lsn"]) for r in feed}
    assert got == {k: before[k] for k in doomed}


def test_changelog_expired_snapshot_raises(spark, replayed):
    replayed.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotExpiredError):
        read_changelog(replayed, from_version=0).collect()


def test_compact_reduces_files_keeps_state(spark, fragmented):
    before = _state(fragmented)
    v, ckpt = fragmented.version(), fragmented.last_lsn()
    stats = bucket_file_stats(fragmented)
    assert max(stats.values()) > 1, "fixture must accumulate small files"
    m = compact(spark, fragmented, max_files_per_bucket=1)
    assert m["buckets_touched"] > 0 and fragmented.version() == v + 1
    assert fragmented.last_lsn() == ckpt
    assert max(bucket_file_stats(fragmented).values()) == 1
    assert _state(fragmented) == before
    # maintenance is changelog-invisible
    assert read_changelog(fragmented, from_version=v).count() == 0
    # idempotent: nothing left to compact
    assert compact(spark, fragmented, max_files_per_bucket=1)["buckets_touched"] == 0


def test_compact_rolled_files_are_key_disjoint(spark, replayed):
    """target_file_rows rolls each bucket into files covering DISJOINT
    (repo, path) slices — the layout file-level CoW prunes against.
    Regression: sortWithinPartitions(key_cols) without a leading
    _bucket let the dynamic-partition writer re-sort by _bucket alone,
    interleaving keys so every rolled file spanned its whole bucket
    (ranges useless; every batch key then probed every file's bloom
    and the compounded FP rate rewrote ~everything under insert
    fan-out)."""
    compact(spark, replayed, max_files_per_bucket=0, target_file_rows=8)
    m = replayed.manifest()
    multi = 0
    for e in m["files"].values():
        refs = e["base"] if isinstance(e, dict) else []
        if len(refs) < 2:
            continue
        multi += 1
        slices = []
        for r in refs:
            rows = (
                spark.read.parquet(os.path.join(replayed.root, r[0]))
                .select("repo", "path")
                .collect()
            )
            keys = sorted((x["repo"], x["path"]) for x in rows)
            slices.append((keys[0], keys[-1]))
        slices.sort()
        for (_, prev_hi), (lo, _) in zip(slices, slices[1:]):
            assert prev_hi < lo, "rolled files overlap in key space"
    assert multi > 0, "fixture must produce multi-file buckets"


def test_vacuum_removes_only_uncommitted_debris(spark, replayed):
    committed = set(os.listdir(os.path.join(replayed.root, "data")))
    debris = os.path.join(replayed.root, "data", f"v{replayed.version() + 7}")
    os.makedirs(os.path.join(debris, "_bucket=0"))
    with open(os.path.join(debris, "_bucket=0", "part-crashed.parquet"), "w") as f:
        f.write("x")
    # too fresh: grace period protects a possibly in-flight commit
    assert remove_orphans(replayed, min_age_secs=3600) == []
    old = time.time() - 7200
    os.utime(debris, (old, old))
    assert remove_orphans(replayed, min_age_secs=3600) == [os.path.basename(debris)]
    assert set(os.listdir(os.path.join(replayed.root, "data"))) == committed


def test_vacuum_after_expire_keeps_carried_forward_dirs(spark, replayed):
    """The documented runbook sequence expire_snapshots -> vacuum must
    not delete data dirs the LIVE manifest still references. Bucket-
    scoped CoW carries old versions' bucket dirs forward, and
    expire_snapshots removes their own-version manifest JSONs — so
    liveness must come from manifest references, not manifest-file
    existence (regression: remove_orphans rmtree'd live data)."""
    # touch ONE key so the newest commit rewrites one bucket and carries
    # the other seven forward by reference from the previous version
    from etl_spark.cdc.merge_into import merge_into

    one = spark.createDataFrame(
        [("carry-repo", "carry/path", "c1", "py", "x = 1")],
        "repo string, path string, commit string, lang string, content string",
    )
    merge_into(spark, replayed, one)
    before = _state(replayed)
    from etl_spark.cdc.lake import _chain

    live_dirs = {
        d.split("/")[1]
        for e in replayed.manifest()["files"].values() for d in _chain(e)
    }
    assert len(live_dirs) > 1, "fixture must carry forward older version dirs"
    replayed.expire_snapshots(keep_last=1)
    old = time.time() - 7200
    data_root = os.path.join(replayed.root, "data")
    for entry in os.listdir(data_root):
        os.utime(os.path.join(data_root, entry), (old, old))
    removed = remove_orphans(replayed, min_age_secs=3600)
    assert not (set(removed) & live_dirs)
    assert _state(replayed) == before


def test_rebucket_evolves_routing_keeps_state(spark, log, replayed):
    before = _state(replayed)
    v, ckpt = replayed.version(), replayed.last_lsn()
    m = rebucket(spark, replayed, 17)
    assert m["from_buckets"] == 8 and replayed.n_buckets == 17
    assert replayed.last_lsn() == ckpt
    assert _state(replayed) == before
    assert read_changelog(replayed, from_version=v).count() == 0
    # the committed count is adopted on re-open, and further merges work
    reopened = SnapshotTable(spark, replayed.root, n_buckets=8)
    assert reopened.n_buckets == 17
    extra = log.select(
        (F.col("lsn") + 3000).alias("lsn"), "op", "repo", "path", "commit",
        "lang", "content", "ts", "extra", "schema_change",
    ).where(F.col("op") != "S")
    replay(spark, extra, reopened, batch_size=2000)
    assert reopened.last_lsn() == ckpt + 3000
    # all rows route into the evolved bucket layout
    assert max(int(b) for b in reopened.manifest()["files"]) < 17


def test_rollback_then_expire_and_vacuum_preserve_restored_dirs(
    spark, log, tmp_path
):
    """The recovery runbook end-to-end: rollback -> expire_snapshots ->
    vacuum. The rollback commit references OLD version dirs by
    reference; expiring every other manifest and vacuuming must keep
    exactly those dirs (liveness = manifest references) while the
    rolled-back versions' unreferenced dirs are reclaimed."""
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=8)
    replay(spark, log, t, batch_size=700)
    restored = {
        (r["repo"], r["path"]): (r["content_sha256"], r["_last_lsn"])
        for r in t.read(version=2).collect()
    }
    t.rollback(2)
    expired = t.expire_snapshots(keep_last=1)
    # retention reclaimed the rolled-back versions' unreferenced dirs...
    assert expired
    old = time.time() - 7200
    data_root = os.path.join(t.root, "data")
    for entry in os.listdir(data_root):
        os.utime(os.path.join(data_root, entry), (old, old))
    # ...vacuum finds nothing else to take (restored dirs are LIVE via
    # the rollback manifest's references, not their own-version files)
    assert remove_orphans(t, min_age_secs=3600) == []
    # and the restored state still reads in full
    assert _state(t) == restored


def test_history_lists_commit_kinds_newest_first(spark, log, tmp_path):
    """maintain.history (DESCRIBE HISTORY analog): metadata-only, newest
    first, distinguishes merge / merge-delta / compact / rollback
    commits, and stops cleanly at the retention horizon."""
    from etl_spark.cdc.maintain import history

    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, log, t, batch_size=1500, write_mode="delta")
    compact(spark, t)
    t.rollback(1)
    h = history(t)
    assert [r["version"] for r in h] == list(range(t.version(), 0, -1))
    ops = {r["version"]: r["op"] for r in h}
    assert ops[t.version()] == "rollback"
    assert ops[t.version() - 1] == "compact"
    assert ops[1] == "merge-delta"
    assert history(t, limit=2) == h[:2]
    # retention horizon: expired versions drop off the listing
    t.expire_snapshots(keep_last=2)
    assert [r["version"] for r in history(t)] == [t.version(), t.version() - 1]


def test_changelog_long_delta_chain_constant_plan(spark, tmp_path):
    """The chain-aware feed keeps a bounded-scan plan over a LONG
    merge-on-read history: 120 delta commits onto one bucket read as a
    constant number of parquet scans (slim n-key probe + verdict +
    join-back), never one scan per commit — and the folded feed equals
    the last-writer state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=2)
    expect = {}
    n_commits = 120
    for v in range(1, n_commits + 1):
        key = f"k{v % 17:02d}"
        expect[key] = v
        d = os.path.join(t.new_data_dir(v), "_bucket=0")
        os.makedirs(d)
        pq.write_table(
            pa.table({
                "repo": pa.array(["r"], pa.string()),
                "path": pa.array([key], pa.string()),
                "commit": pa.array([f"c{v}"], pa.string()),
                "lang": pa.array(["py"], pa.string()),
                "content": pa.array(["x"], pa.string()),
                "content_sha256": pa.array([f"s{v}"], pa.string()),
                "_last_lsn": pa.array([v], pa.int64()),
                "_tombstone": pa.array([False], pa.bool_()),
            }),
            os.path.join(d, "part-0.parquet"),
        )
        t.commit_delta(v, t.new_data_dir(v), v, [], {})

    feed = read_changelog(t, from_version=0)
    plan = feed._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    scans = plan.count("Scan parquet")
    # constant in the commit count (a per-commit reader would plan ~120):
    # {changed-files wide, touched-keys narrow, shared-prefix wide} x the
    # two consumers of the tagged union (verdict agg + image join-back)
    assert 1 <= scans <= 6, plan[:2000]
    rows = feed.collect()
    folded = _apply_feed(rows)
    assert {k: lsn for (_, k), (_, lsn) in folded.items()} == expect
    assert {r["_commit_version"] for r in rows} == set(range(1, n_commits + 1))
    # O(L + touched) scan/fan-out pin (VERDICT r3 #7): the shared chain
    # prefix is read ONCE and fanned out per TOUCHED KEY, never per
    # commit. With K=120 commits over an L=120-dir chain, a per-commit
    # prefix re-tag would push ~K*L/2 ≈ 7100 rows through the tag join;
    # the key-driven shape stays at the true touched-pair count
    # (#{(w,v): w<v, key(w)==key(v)} ≈ 420) plus the slim ch-side rows.
    from etl_spark.plans.explain import executed_node_rows

    node_rows = executed_node_rows(feed)
    join_out = sum(r for name, r in node_rows if "Join" in name)
    assert 0 < join_out < 4000, sorted(node_rows, key=lambda x: -x[1])[:10]
