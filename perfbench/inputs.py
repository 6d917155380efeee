"""Seeded load generator, oracle and content-addressed input cache.

The generator is a DuckDB twin of
``wal_listener_spark.trace.generator.build_trace``: it lays out the same
pgoutput-shaped rows (B/R/I/U/D/C, Relation v2 evolution, TRUNCATE,
Origin/Type noise) on the LSN grid of ``wal_listener_spark.trace.spec``
and writes them as parquet files the engine's file sources read. It runs
before the engine starts, so generating an input never warms or loads
the engine's JVM, and set-up time reads the same whether the input came
from the cache or not.

The seed picks the key subset, the text of each key, the Relation-v2 and
TRUNCATE positions, the file split points and the delivery order.

The expected final state comes from an independent DuckDB twin of
``wal_listener_spark.oracle.apply_trace`` run over the written files
(last write wins per key in LSN order, TOAST-unchanged content keeps the
prior value, a TRUNCATE clears everything before it, a trailing DELETE
removes the key). It is cached next to the trace, keyed by the same
digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import asdict, dataclass

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from wal_listener_spark.trace import spec

WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "row data slow group query filter customer line batch value spark "
    "stream column agg commit delta bucket lake snapshot"
).split()
LANGS = ["en", "de", "es", "zh", "fr"]
TEXT_POOL = 4096
#: the file source hands out new files by modification time; files are
#: stamped one second apart from here, in delivery order
MTIME0 = 1_700_000_000


@dataclass(frozen=True)
class InputSpec:
    """Everything that shapes one generated input besides the seed."""

    kind: str  # "aligned" (files end on tx boundaries) or "raw" (any row)
    keys: int
    files: int
    evolution: bool
    truncate: bool
    shuffle: bool  # deliver files in a seeded order instead of LSN order


@dataclass
class Input:
    """A generated, cached input: trace files plus the oracle's answer."""

    root: str
    digest: str
    files: list[str]  # in delivery order
    rows: int
    change_events: int
    max_lsn: int
    file_max_lsn: list[int]  # per file, delivery order
    file_changes: list[int]  # change events (I/U/D/T) per file, delivery order
    file_rows: list[int]  # trace rows per file, delivery order
    file_commit_lsn: list[int]  # LSN of the file's last Commit (-1: none)
    expected: dict[tuple[str, str], str]  # (repo, path) -> sha256(content)
    expected_checksum: int


def trace_dir(inp: Input) -> str:
    return os.path.join(inp.root, "trace")


def _layout(seed: int, s: InputSpec) -> tuple[pa.Table, dict]:
    """Per-key attributes and the seeded positions of the control rows."""
    rng = random.Random(f"keys:{seed}:{s.kind}:{s.keys}")
    keys = sorted(rng.sample(range(1, 4 * s.keys), s.keys))
    pool = [" ".join(rng.choices(WORDS, k=rng.randint(8, 60))) for _ in range(TEXT_POOL)]
    table = pa.table({
        "k": pa.array(keys, pa.int64()),
        "lang": [LANGS[rng.randrange(len(LANGS))] for _ in keys],
        "text": [pool[rng.randrange(TEXT_POOL)] for _ in keys],
    })
    n = s.keys
    layout = {
        # TRUNCATE early, Relation v2 later: never the same slot
        "k_tr": keys[rng.randrange(n // 10, n // 4)] if s.truncate else None,
        "k_evo": keys[rng.randrange(n * 2 // 5, n * 7 // 10)] if s.evolution else None,
        "cut_keys": [],
    }
    # file split points: equal shares jittered by up to a quarter share
    share = n / s.files
    layout["cut_keys"] = sorted({
        keys[min(n - 1, max(1, int(share * j + rng.uniform(-share, share) / 4)))]
        for j in range(1, s.files)
    })
    return table, layout


TRACE_SQL = """
WITH kk AS (
    SELECT k, lang, text,
           CASE WHEN k % {hot_mod} = 0 THEN '{hot_repo}'
                ELSE 'org' || (k % {repo_mod}) || '/proj' || (k % {proj_mod}) END AS repo,
           'src/m' || (k // 100) || '/f' || k || '.' || lang AS path,
           1 + k % {nver_mod} AS n_ver,
           (k + 1) * {slot} AS base,
           TIMESTAMPTZ '2024-01-01 00:00:00+00' + to_seconds(k) AS ts
    FROM keys
),
data AS (
    SELECT kk.*, v, v > 0 AND (k + v) % {toast_mod} = 0 AS toast
    FROM kk CROSS JOIN range(3) r(v) WHERE v < n_ver
)
SELECT *, len(list_filter({cuts}, c -> c <= lsn)) AS file_id FROM (
SELECT base AS lsn, k AS tx_id, -1 AS seq, 'B' AS op, NULL::INTEGER AS rel_id,
       NULL::VARCHAR AS schema_name, NULL::VARCHAR AS table_name,
       NULL::STRUCT(name VARCHAR, type_oid INTEGER, is_key BOOLEAN, typmod INTEGER)[]
           AS rel_columns,
       NULL::VARCHAR[] AS old_k, NULL::VARCHAR[] AS old_v,
       NULL::VARCHAR[] AS new_k, NULL::VARCHAR[] AS new_v,
       NULL::VARCHAR[] AS toast_cols, ts AS commit_ts, NULL::INTEGER AS truncate_opts
FROM kk
UNION ALL
SELECT base + 1 + v, k, v::INTEGER, CASE WHEN v = 0 THEN 'I' ELSE 'U' END, {rel_id},
       NULL, NULL, NULL,
       CASE WHEN v > 0 THEN ['repo', 'path'] END,
       CASE WHEN v > 0 THEN [repo, path] END,
       ['repo', 'path', 'commit', 'lang']
           || CASE WHEN toast THEN []::VARCHAR[] ELSE ['content'] END
           || CASE WHEN k >= {k_evo} THEN ['stars'] ELSE []::VARCHAR[] END,
       [repo, path, substr(sha256(k || ':' || v), 1, 40), lang]
           || CASE WHEN toast THEN []::VARCHAR[] ELSE [text || '#v' || v] END
           || CASE WHEN k >= {k_evo} THEN [(k % {stars_mod})::VARCHAR]
                   ELSE []::VARCHAR[] END,
       CASE WHEN toast THEN ['content'] ELSE []::VARCHAR[] END, NULL, NULL
FROM data
UNION ALL
SELECT base + 5, k, n_ver::INTEGER, 'D', {rel_id}, NULL, NULL, NULL,
       ['repo', 'path'], [repo, path], NULL, NULL, []::VARCHAR[], NULL, NULL
FROM kk WHERE k % {delete_mod} = 0
UNION ALL
SELECT base + 7, k, 999, 'C', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       ts, NULL
FROM kk
UNION ALL
SELECT * FROM control
)
"""

ORACLE_SQL = """
WITH trace AS (SELECT * FROM read_parquet('{files}')),
t AS (SELECT coalesce(max(lsn), -1) AS tr FROM trace WHERE op = 'T'),
ch AS (
    SELECT lsn, op, new_vals, toast_cols,
           coalesce(old_vals['repo'][1], new_vals['repo'][1]) AS repo,
           coalesce(old_vals['path'][1], new_vals['path'][1]) AS path
    FROM trace WHERE op IN ('I', 'U', 'D') AND lsn > (SELECT tr FROM t)
),
last AS (
    SELECT repo, path, arg_max(op, lsn) AS last_op,
           max(CASE WHEN op = 'D' THEN lsn END) AS del_lsn
    FROM ch GROUP BY repo, path
),
body AS (
    SELECT ch.repo, ch.path, arg_max(ch.new_vals['content'][1], ch.lsn) AS content
    FROM ch JOIN last USING (repo, path)
    WHERE ch.op IN ('I', 'U') AND NOT list_contains(ch.toast_cols, 'content')
      AND len(ch.new_vals['content']) > 0 AND ch.lsn > coalesce(last.del_lsn, -1)
    GROUP BY ch.repo, ch.path
)
SELECT last.repo, last.path, sha256(coalesce(body.content, '')) AS sha
FROM last LEFT JOIN body USING (repo, path)
WHERE last.last_op <> 'D'
"""


def _control_rows(layout: dict) -> list[tuple]:
    def rel(lsn, cols):
        return (lsn, -1, 0, "R", spec.REL_ID, spec.SCHEMA_NAME, spec.TABLE_NAME,
                [{"name": n, "type_oid": o, "is_key": k, "typmod": -1}
                 for n, o, k in cols], None, None, None, None, None, None, None)

    rows = [
        rel(1, spec.BASE_COLUMNS),
        (2, -1, 0, "O") + (None,) * 11,
        (3, -1, 0, "Y") + (None,) * 11,
    ]
    if layout["k_evo"] is not None:
        rows.append(rel(spec.relation_v2_lsn(layout["k_evo"]), spec.EVOLVED_COLUMNS))
    if layout["k_tr"] is not None:
        rows.append((spec.truncate_lsn(layout["k_tr"]), -2, 0, "T", spec.REL_ID)
                    + (None,) * 9 + (0,))
    return rows


def state_checksum(state: dict[tuple[str, str], str]) -> int:
    """Order-free checksum of a (repo, path) -> sha256(content) map; the
    lake side computes the same sum in Spark."""
    return sum(
        int(hashlib.sha256(f"{r}\x1f{p}\x1f{h}".encode()).hexdigest()[:8], 16)
        for (r, p), h in state.items()
    )


def _source_hash() -> str:
    """Hash of the trace layout and of this module, so a change to either
    invalidates the cache."""
    import wal_listener_spark.trace as t

    h = hashlib.sha256()
    tdir = os.path.dirname(t.__file__)
    for path in sorted(
        [os.path.join(tdir, f) for f in os.listdir(tdir) if f.endswith(".py")]
        + [__file__]
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(cache_dir: str, seed: int, s: InputSpec) -> tuple[Input, float, bool]:
    """Return the cached input for (seed, spec), generating it on a miss.
    Also returns the generation seconds (0 on a hit) and whether it hit."""
    key = hashlib.sha256(
        json.dumps([seed, asdict(s), _source_hash()]).encode()
    ).hexdigest()[:20]
    root = os.path.join(cache_dir, "inputs", key)
    if os.path.exists(os.path.join(root, "meta.json")):
        return _load(root, key), 0.0, True

    t0 = time.perf_counter()
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "trace"))
    keys, layout = _layout(seed, s)
    con = duckdb.connect(config={
        "threads": 4, "memory_limit": "2GB",
        "temp_directory": os.path.join(cache_dir, "duckdb-tmp"),
    })
    try:
        con.register("keys", keys)
        ctl = _control_rows(layout)
        con.execute("""CREATE TABLE control (lsn BIGINT, tx_id BIGINT, seq INTEGER,
            op VARCHAR, rel_id INTEGER, schema_name VARCHAR, table_name VARCHAR,
            rel_columns STRUCT(name VARCHAR, type_oid INTEGER, is_key BOOLEAN,
                               typmod INTEGER)[],
            old_k VARCHAR[], old_v VARCHAR[], new_k VARCHAR[], new_v VARCHAR[],
            toast_cols VARCHAR[], commit_ts TIMESTAMPTZ, truncate_opts INTEGER)""")
        con.executemany(
            "INSERT INTO control VALUES (?,?,?,?,?,?,?,?,?,?,?,?,?,?,?)", ctl)
        cuts = _cut_lsns(seed, s, keys["k"].to_pylist(), layout)
        trace = con.execute(
            f"{TRACE_SQL} ORDER BY lsn".format(
                hot_mod=spec.HOT_MOD, hot_repo=spec.HOT_REPO, repo_mod=spec.REPO_MOD,
                proj_mod=spec.PROJ_MOD, nver_mod=spec.NVER_MOD, slot=spec.SLOT,
                toast_mod=spec.TOAST_MOD, rel_id=spec.REL_ID,
                stars_mod=spec.STARS_MOD, delete_mod=spec.DELETE_MOD,
                k_evo=layout["k_evo"] if layout["k_evo"] is not None else 2**62,
                cuts=f"[{', '.join(map(str, cuts))}]::BIGINT[]",
            )
        ).arrow()
        trace = _with_maps(trace)
        # rows are in LSN order and file ids grow with LSN: each file is
        # one contiguous slice
        fids = trace["file_id"].to_numpy()
        bounds = [0] + [int(i) + 1 for i in (fids[1:] != fids[:-1]).nonzero()[0]]
        bounds.append(len(fids))
        chunks = [trace.slice(a, b - a).drop(["file_id"])
                  for a, b in zip(bounds, bounds[1:])]
        order = list(range(len(chunks)))
        if s.shuffle:
            random.Random(f"order:{seed}").shuffle(order)
        files, file_max, file_changes, file_rows, file_commit = [], [], [], [], []
        for pos, idx in enumerate(order):
            name = f"part-{pos:05d}-c{idx:05d}.parquet"
            path = os.path.join(tmp, "trace", name)
            pq.write_table(chunks[idx], path)
            os.utime(path, (MTIME0 + pos, MTIME0 + pos))
            files.append(name)
            file_max.append(chunks[idx]["lsn"][-1].as_py())
            file_rows.append(chunks[idx].num_rows)
            commits = chunks[idx].filter(pc.equal(chunks[idx]["op"], "C"))["lsn"]
            file_commit.append(pc.max(commits).as_py() if len(commits) else -1)
            file_changes.append(int(pc.sum(pc.is_in(
                chunks[idx]["op"], pa.array(["I", "U", "D", "T"]))).as_py() or 0))
        glob = os.path.join(tmp, "trace", "*.parquet")
        rows, changes, max_lsn = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE op IN ('I','U','D','T')), "
            f"max(lsn) FROM read_parquet('{glob}')").fetchone()
        exp = con.execute(ORACLE_SQL.format(files=glob)).arrow()
    finally:
        con.close()
    pq.write_table(exp, os.path.join(tmp, "expected.parquet"))
    expected = dict(zip(zip(exp["repo"].to_pylist(), exp["path"].to_pylist()),
                        exp["sha"].to_pylist()))
    meta = {
        "digest": key, "seed": seed, "spec": asdict(s), "layout": layout,
        "files": files, "file_max_lsn": file_max, "file_changes": file_changes,
        "file_rows": file_rows, "file_commit_lsn": file_commit, "rows": rows,
        "change_events": changes, "max_lsn": max_lsn,
        "expected_rows": len(expected),
        "expected_checksum": state_checksum(expected),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return _load(root, key), time.perf_counter() - t0, False


def _with_maps(t: pa.Table) -> pa.Table:
    """Turn the (keys, values) list column pairs into the trace's
    ``map<string,string>`` columns (DuckDB builds lists far faster than
    maps)."""
    import numpy as np

    cols = {}
    for name in ("old", "new"):
        k = t[f"{name}_k"].combine_chunks()
        v = t[f"{name}_v"].combine_chunks()
        offsets = k.offsets.to_numpy()
        mask = np.append(k.is_null().to_numpy(zero_copy_only=False), False)
        cols[f"{name}_vals"] = pa.MapArray.from_arrays(
            pa.array(offsets, pa.int32(), mask=mask), k.values, v.values
        )
    out = t.drop(["old_k", "old_v", "new_k", "new_v"])
    pos = out.schema.get_field_index("toast_cols")
    out = out.add_column(pos, "new_vals", cols["new_vals"])
    return out.add_column(pos, "old_vals", cols["old_vals"])


def _cut_lsns(seed: int, s: InputSpec, keys: list[int], layout: dict) -> list[int]:
    """First LSN of every file but the first."""
    if s.kind == "aligned":
        # a file starts at the Begin of its first transaction
        return [spec.base_lsn(k) for k in layout["cut_keys"]]
    # raw split: the first file holds only the control rows ahead of the
    # first transaction; the rest split at arbitrary rows, so
    # transactions straddle files
    lsns = []
    for k in keys:
        base = spec.base_lsn(k)
        lsns.append(base)
        lsns.extend(base + 1 + v for v in range(spec.n_ver(k)))
        if spec.is_delete(k):
            lsns.append(base + 5)
        lsns.append(base + 7)
    rng = random.Random(f"raw:{seed}:{s.keys}")
    share = len(lsns) / (s.files - 1)
    pos = sorted({
        int(share * j + rng.uniform(-share, share) / 3) for j in range(1, s.files - 1)
    })
    return [lsns[0]] + [lsns[p] for p in pos]


def _load(root: str, key: str) -> Input:
    with open(os.path.join(root, "meta.json")) as f:
        meta = json.load(f)
    t = pq.read_table(os.path.join(root, "expected.parquet")).to_pydict()
    return Input(
        root=root,
        digest=key,
        files=meta["files"],
        rows=meta["rows"],
        change_events=meta["change_events"],
        max_lsn=meta["max_lsn"],
        file_max_lsn=meta["file_max_lsn"],
        file_changes=meta["file_changes"],
        file_rows=meta["file_rows"],
        file_commit_lsn=meta["file_commit_lsn"],
        expected=dict(zip(zip(t["repo"], t["path"]), t["sha"])),
        expected_checksum=meta["expected_checksum"],
    )
