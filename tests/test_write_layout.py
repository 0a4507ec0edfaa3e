"""CoW write layout: a touched bucket that carries no file cold is
rewritten whole as ONE file; a bucket that carries cold files keeps its
hit-file rewrites plus one separate upsert file.

Pinned here:

- whole-bucket batches never grow a bucket past one file, so no ref is
  ever eligible for a key-membership bloom and the bloom build runs no
  Spark job;
- in a mixed batch (some buckets whole, one carrying cold files) each
  side gets its own layout, the cold refs survive bit-identical, and
  the per-batch counters (carried / deleted / replaced / rows_out)
  equal an observation-free reference apply on a copy of the table —
  the target is split across two branches, and each row counts once;
- build_file_blooms scans only bucket dirs holding a file it blooms.
"""

import os
import shutil

from pyspark.sql import functions as F

from etl_spark.cdc import lake
from etl_spark.cdc.audit import audit_table
from etl_spark.cdc.dedup import bucket_expr
from etl_spark.cdc.lake import SnapshotTable, build_file_blooms, scan_written_footers
from etl_spark.cdc.maintain import bucket_file_stats, compact
from etl_spark.cdc.merge import apply_batch
from etl_spark.cdc.runner import replay

EVENTS_DDL = (
    "lsn long, op string, repo string, path string, commit string, "
    "lang string, content string, ts string, extra map<string,string>, "
    "schema_change struct<kind:string,column:string,new_name:string,new_type:string>"
)
N_BUCKETS = 4


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENTS_DDL).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _ev(lsn, op, path, body=None, day="02"):
    if op == "D":
        return (lsn, "D", "r", path, None, None, None,
                f"2024-01-{day} 00:00:00", None, None)
    return (lsn, op, "r", path, f"c{lsn}", "py", body,
            f"2024-01-{day} 00:00:00", None, None)


def _state(t):
    return {
        (r["repo"], r["path"]): (r["content"], r["_last_lsn"])
        for r in t.read().collect()
    }


def _bucket_of(spark, paths):
    rows = (
        spark.createDataFrame([("r", p) for p in paths], "repo string, path string")
        .select("path", bucket_expr(N_BUCKETS).alias("b"))
        .collect()
    )
    return {r["path"]: int(r["b"]) for r in rows}


def _base(spark, root, n=400):
    t = SnapshotTable(spark, str(root), n_buckets=N_BUCKETS)
    replay(spark, _events(spark, [_ev(i + 1, "I", f"p{i:03d}", f"body {i}", "01")
                                  for i in range(n)]),
           t, batch_size=n)
    return t, n


def test_whole_bucket_batches_stay_one_file_without_blooms(spark, tmp_path):
    t, n = _base(spark, tmp_path / "lake")
    want = {("r", f"p{i:03d}"): (f"body {i}", i + 1) for i in range(n)}
    lsn = n
    for step in range(3):
        # a third of the keys updated: every bucket's one file is hit
        # and nothing carries cold, while most rows are kept — plus a
        # delete and an in-range insert
        rows = []
        for i in range(step, n, 3):
            lsn += 1
            rows.append(_ev(lsn, "U", f"p{i:03d}", f"body {i} v{step}"))
            want[("r", f"p{i:03d}")] = (f"body {i} v{step}", lsn)
        lsn += 1
        rows.append(_ev(lsn, "D", f"p{step + 1:03d}"))
        want.pop(("r", f"p{step + 1:03d}"))
        lsn += 1
        rows.append(_ev(lsn, "I", f"p{100 + step:03d}x", "fresh"))
        want[("r", f"p{100 + step:03d}x")] = ("fresh", lsn)
        ms = replay(spark, _events(spark, rows), t, batch_size=len(rows))
        assert len(ms) == 1
        m = ms[0]
        assert m.files_carried == 0, m.to_dict()
        assert m.files_rewritten == N_BUCKETS, m.to_dict()
        assert m.phase_secs["bloom_build"] == 0, m.to_dict()
        assert bucket_file_stats(t) == {b: 1 for b in range(N_BUCKETS)}
        refs = [r for e in t.manifest()["files"].values() for r in e["base"]]
        assert refs and all(len(r) == 6 for r in refs), "no ref carries a bloom"
    assert _state(t) == want
    res = audit_table(spark, t)
    assert res["ok"], res
    assert res["max_files_per_bucket"] == 1


def test_mixed_batch_layout_and_counters(spark, tmp_path):
    t, n = _base(spark, tmp_path / "lake")
    # roll every bucket into key-contiguous files with range stats
    compact(spark, t, target_file_rows=25, max_files_per_bucket=0)
    paths = [f"p{i:03d}" for i in range(n)]
    bucket = _bucket_of(spark, paths + [f"p{i:03d}x" for i in range(n)])
    carried_b = 3
    refs3 = t.manifest()["files"][str(carried_b)]["base"]
    assert len(refs3) >= 3, refs3
    hit_ref = min(refs3, key=lambda x: (x[2], x[3]))
    cold3 = [x for x in refs3 if x is not hit_ref]

    # buckets 0-2: two keys in five touched (one in ten deleted) plus
    # each file's first key, so every file is hit (rewritten whole) yet
    # keeps most of its rows, plus in-range inserts; bucket 3: one
    # update and one delete inside its key-first file only, everything
    # else stays cold
    in3 = sorted(p for p in paths if bucket[p] == carried_b)
    assert hit_ref[3] <= in3[1] <= hit_ref[5], (hit_ref, in3[:2])
    firsts = {x[3] for b, e in t.manifest()["files"].items()
              if int(b) != carried_b for x in e["base"]}
    rows, lsn = [], n
    want = _state(t)
    for i, p in enumerate(paths):
        if bucket[p] == carried_b or (i % 5 not in (0, 1) and p not in firsts):
            continue
        lsn += 1
        if i % 10 == 1:
            rows.append(_ev(lsn, "D", p))
            want.pop(("r", p))
        else:
            rows.append(_ev(lsn, "U", p, f"{p} v2"))
            want[("r", p)] = (f"{p} v2", lsn)
    fresh = [f"p{i:03d}x" for i in range(0, n, 40)
             if bucket[f"p{i:03d}x"] != carried_b]
    for p in fresh:
        lsn += 1
        rows.append(_ev(lsn, "I", p, "fresh"))
        want[("r", p)] = ("fresh", lsn)
    lsn += 1
    rows.append(_ev(lsn, "U", in3[0], "hot v2"))
    want[("r", in3[0])] = ("hot v2", lsn)
    lsn += 1
    rows.append(_ev(lsn, "D", in3[1]))
    want.pop(("r", in3[1]))
    batch = _events(spark, rows)

    ref_root = str(tmp_path / "ref")
    shutil.copytree(t.root, ref_root)
    ref = SnapshotTable(spark, ref_root, n_buckets=N_BUCKETS)
    v0 = t.version()
    m = apply_batch(spark, t, batch, v0 + 1, n + 1, lsn)
    r = apply_batch(spark, ref, batch, v0 + 1, n + 1, lsn,
                    use_observations=False)

    # counters: the observed (split-branch) path equals the recompute
    for k in ("deleted", "updated", "inserted", "delete_noop", "rows_out",
              "files_carried", "files_rewritten", "rows_carried_ref"):
        assert getattr(m, k) == getattr(r, k), (k, m.to_dict(), r.to_dict())
    n_d = sum(1 for e in rows if e[1] == "D")
    assert m.deleted == n_d
    assert m.updated == sum(1 for e in rows if e[1] == "U")
    assert m.inserted == len(fresh)
    hit_rows = int(hit_ref[1])
    assert m.files_carried == len(cold3), m.to_dict()
    assert m.rows_carried_ref == sum(int(x[1]) for x in cold3)
    # rows_out counts the rows written: buckets 0-2 in full, plus bucket
    # 3's rewritten first file and its one upsert
    written_whole = sum(
        1 for p in want if p[1] in bucket and bucket[p[1]] != carried_b)
    assert m.rows_out == written_whole + (hit_rows - 2) + 1, m.to_dict()

    after = t.manifest()["files"]
    for b in range(N_BUCKETS):
        if b == carried_b:
            continue
        assert len(after[str(b)]["base"]) == 1, after[str(b)]
    new3 = after[str(carried_b)]["base"]
    assert [x for x in new3 if x in refs3] == cold3, "cold refs carried"
    written3 = [x for x in new3 if x not in refs3]
    # the hit file's kept rows and the upserts land in separate files
    assert sorted(int(x[1]) for x in written3) == [1, hit_rows - 2], written3
    upsert_file = next(x for x in written3 if int(x[1]) == 1)
    got = spark.read.parquet(os.path.join(t.root, upsert_file[0])).collect()
    assert [(g["path"], g["content"]) for g in got] == [(in3[0], "hot v2")]
    assert m.files_rewritten == N_BUCKETS - 1 + 2, m.to_dict()

    assert _state(t) == want == _state(ref)
    res = audit_table(spark, t)
    assert res["ok"], res
    assert res["max_files_per_bucket"] == len(new3)


def _written_harvest(spark, tmp_path):
    out = str(tmp_path / "lake" / "data" / "v1")
    (
        spark.createDataFrame(
            [("r", f"p{i:03d}", i % 2) for i in range(40)],
            "repo string, path string, _bucket int",
        )
        .repartition(2, "_bucket")
        .write.partitionBy("_bucket").parquet(out)
    )
    return str(tmp_path / "lake"), scan_written_footers(str(tmp_path / "lake"), out)


def test_bloom_build_skips_when_every_ref_is_too_big(spark, tmp_path, monkeypatch):
    root, harvest = _written_harvest(spark, tmp_path)
    monkeypatch.setattr(lake, "BLOOM_MAX_ROWS", 0)
    sc = spark.sparkContext
    sc.setJobGroup("bloom_none", "bloom_none")
    try:
        build_file_blooms(spark, root, harvest)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("bloom_none")) == []
    assert all(len(r) == 6 for v in harvest.values() for r in v["files"])


def test_bloom_build_scans_only_dirs_with_a_bloomed_file(spark, tmp_path):
    root, harvest = _written_harvest(spark, tmp_path)
    # a bucket whose only ref is over BLOOM_MAX_ROWS must not be scanned:
    # its dir does not even exist, so a scan would fail the read
    harvest["9"] = {
        "dir": "data/v1/_bucket=9", "rows": lake.BLOOM_MAX_ROWS + 1,
        "bytes": 0, "max_lsn": 0,
        "files": [["data/v1/_bucket=9/part-0.parquet", lake.BLOOM_MAX_ROWS + 1,
                   "r", "a", "r", "z"]],
    }
    build_file_blooms(spark, root, harvest)
    assert all(len(r) == 7 for b in ("0", "1") for r in harvest[b]["files"])
    assert len(harvest["9"]["files"][0]) == 6
