"""Independent correctness gate, in DuckDB, with no Spark involved.

The expected state comes straight from the generated change logs: per
key the event with the highest ``lsn`` wins and deleted keys drop. The
actual state is the table as its committed manifest references it
(shard pointers resolved, merge-on-read chains reconstructed the same
way: per key the highest ``_last_lsn`` wins, tombstones drop). Both
sides reduce to a row count and an ordered md5 over
``repo|path|lsn|sha256(content)``.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

_DIGEST = (
    "count(*) AS n, md5(string_agg(repo || '|' || path || '|' || lsn::VARCHAR"
    " || '|' || sha256(content), chr(10) ORDER BY repo, path)) AS h"
)


def log_files(log_dir: str) -> list[str]:
    """The parquet files of one generated change log (no checksums or
    ``_SUCCESS`` markers)."""
    return sorted(glob.glob(f"{log_dir}/*.parquet"))


def expected_state(log_dirs: list[str]) -> tuple[int, str]:
    files = [p for d in log_dirs for p in log_files(d)]
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH w AS (
                SELECT repo, path, max(lsn) AS lsn, arg_max(op, lsn) AS op,
                       arg_max(content, lsn) AS content
                FROM read_parquet($files) WHERE op IN ('I', 'U', 'D')
                GROUP BY repo, path)
            SELECT {_DIGEST} FROM w WHERE op <> 'D'
            """,
            {"files": files},
        ).fetchone()
    finally:
        con.close()


def _live_files(root: str) -> list[tuple[str, str]]:
    """(parquet file, key-uniqueness group) for every file the latest
    manifest references. Within one group a key may appear once: all
    base files of a bucket form one group, each delta dir its own."""
    with open(os.path.join(root, "_LATEST")) as f:
        version = int(f.read().strip())
    with open(os.path.join(root, "manifests", f"v{version}.json")) as f:
        manifest = json.load(f)
    out = []

    def add_dir(rel: str, grp: str) -> None:
        out.extend((p, grp) for p in sorted(glob.glob(f"{root}/{rel}/*.parquet")))

    for b, e in manifest["files"].items():
        if isinstance(e, dict) and "ptr" in e:
            with open(os.path.join(root, "manifests", e["ptr"])) as f:
                e = json.load(f)
        if isinstance(e, str):
            add_dir(e, f"{b}:base")
        elif isinstance(e, list):
            for d in e:
                add_dir(d, f"{b}:{d}")
        else:
            out.extend((f"{root}/{r[0]}", f"{b}:base") for r in e["base"])
            for d in e.get("deltas") or []:
                add_dir(d, f"{b}:{d}")
    return out


def live_bytes(root: str) -> int:
    """Bytes of the data files the latest snapshot references."""
    return sum(os.path.getsize(p) for p, _ in _live_files(root))


def table_state(root: str) -> dict:
    """Count and digest of the table's current rows, plus the integrity
    counts that must be zero: keys repeated within a group, keys whose
    winning ``_last_lsn`` is ambiguous, and rows whose stored
    ``content_sha256`` disagrees with their content."""
    files = _live_files(root)
    con = duckdb.connect()
    try:
        if not files:
            return {"n": 0, "h": None, "dup": 0, "ambiguous": 0, "sha_bad": 0}
        con.execute("CREATE TEMP TABLE f (filename VARCHAR, grp VARCHAR)")
        con.executemany("INSERT INTO f VALUES (?, ?)", files)
        con.execute(
            "CREATE TEMP TABLE r AS SELECT p.*, f.grp FROM read_parquet($files,"
            " filename = true, union_by_name = true) p JOIN f USING (filename)",
            {"files": [p for p, _ in files]},
        )
        cols = {c[0] for c in con.execute("DESCRIBE r").fetchall()}
        tomb = "coalesce(_tombstone, false)" if "_tombstone" in cols else "false"
        dup = con.execute(
            "SELECT count(*) FROM (SELECT grp, repo, path FROM r"
            " GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
        con.execute(
            f"""CREATE TEMP TABLE w AS
            SELECT r.repo, r.path, r._last_lsn AS lsn, r.content,
                   r.content_sha256, {tomb} AS tomb
            FROM r JOIN (SELECT repo, path, max(_last_lsn) AS m FROM r
                         GROUP BY ALL) k
              ON r.repo = k.repo AND r.path = k.path AND r._last_lsn = k.m""")
        ambiguous = con.execute(
            "SELECT count(*) - count(DISTINCT (repo, path)) FROM w").fetchone()[0]
        sha_bad = con.execute(
            "SELECT count(*) FROM w WHERE NOT tomb AND content_sha256"
            " IS DISTINCT FROM sha256(content)").fetchone()[0]
        n, h = con.execute(f"SELECT {_DIGEST} FROM w WHERE NOT tomb").fetchone()
        return {"n": n, "h": h, "dup": dup, "ambiguous": ambiguous,
                "sha_bad": sha_bad}
    finally:
        con.close()


def gate(root: str, log_dirs: list[str]) -> dict:
    """Compare the table with the oracle; ``ok`` is the verdict."""
    n_exp, h_exp = expected_state(log_dirs)
    got = table_state(root)
    ok = (got["n"] == n_exp and got["h"] == h_exp and got["dup"] == 0
          and got["ambiguous"] == 0 and got["sha_bad"] == 0)
    return {"ok": ok, "expected": {"n": n_exp, "h": h_exp}, "actual": got}


def tamper(root: str) -> str:
    """Change one row's content in one live data file, in place (use it
    on a copy). Returns the file it rewrote."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path, _ in _live_files(root):
        t = pq.read_table(path)
        if t.num_rows == 0:
            continue
        content = t.column("content").to_pylist()
        i = next((k for k, c in enumerate(content) if c is not None), None)
        if i is None:
            continue
        content[i] = content[i] + "x"
        idx = t.schema.get_field_index("content")
        t = t.set_column(idx, t.schema.field(idx), pa.array(content, pa.string()))
        pq.write_table(t, path)
        return path
    raise ValueError(f"no live row to tamper with under {root}")
