"""Property-based correctness: random valid WAL traces, random epoch
splits, epochs applied OUT OF ORDER — the lake state must still equal
the sequential oracle (the order-independence + exactly-once claim the
whole design rests on).

Each generated trace is a per-key state machine (INSERT first, then
UPDATEs — some with explicit SQL NULLs or TOAST 'u' cells — optional
DELETE, optional re-INSERT), one tx per op, globally monotone LSNs.
"""

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wal_listener_spark import oracle, pipeline
from wal_listener_spark.config import PipelineConfig
from wal_listener_spark.lake.table import LakeTable
from wal_listener_spark.trace.generator import TRACE_SCHEMA

TS = datetime.datetime(2024, 1, 1)
FIELDS = [("repo", "string"), ("path", "string"), ("content", "string"),
          ("note", "string")]
REL = [("repo", 25, True), ("path", 25, True), ("content", 25, False),
       ("note", 25, False)]

# per-key script: list of ops; 'I' must open (and reopen after 'D')
op_step = st.sampled_from(["U", "U_null", "U_toast", "D", "I"])
key_script = st.lists(op_step, min_size=0, max_size=6)


def _build_trace_rows(scripts: dict[int, list[str]]):
    """Turn per-key scripts into valid columnar WAL rows + the flat
    (lsn-ordered) dict rows the sequential oracle consumes."""
    rows = []
    lsn = 100
    tx = 1000
    live = {}
    for k, script in sorted(scripts.items()):
        key = {"repo": f"org{k % 3}", "path": f"p{k}"}
        alive = False
        v = 0
        for op in ["I"] + script:  # always open with an INSERT
            if op == "I":
                if alive:
                    continue
                new = {**key, "content": f"c{k}.{v}", "note": f"n{k}.{v}"}
                toast = []
                o, old = "I", None
            elif op == "D":
                if not alive:
                    continue
                o, new, old, toast = "D", None, dict(key), []
            else:
                if not alive:
                    continue
                o = "U"
                old = dict(key)
                if op == "U_null":
                    new = {**key, "content": None, "note": f"n{k}.{v}"}
                    toast = []
                elif op == "U_toast":
                    new = {**key, "note": f"n{k}.{v}"}  # content TOASTed
                    toast = ["content"]
                else:
                    new = {**key, "content": f"c{k}.{v}", "note": f"n{k}.{v}"}
                    toast = []
            rows.append((lsn, tx, -1, "B", None, None, None, None,
                         None, None, None, TS, None))
            rows.append((lsn + 1, tx, 0, o, 1, None, None, None,
                         old, new, toast, None, None))
            rows.append((lsn + 2, tx, 99, "C", None, None, None, None,
                         None, None, None, TS, None))
            alive = o != "D"
            v += 1
            lsn += 10
            tx += 1
    return rows


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    scripts=st.dictionaries(st.integers(0, 11), key_script, min_size=1, max_size=10),
    n_epochs=st.integers(1, 4),
    order_seed=st.randoms(use_true_random=False),
)
@pytest.mark.parametrize("mode", ["merge", "delta", "mixed", "delta_fold1"])
def test_random_trace_out_of_order_epochs_match_oracle(
    spark, tmp_path_factory, mode, scripts, n_epochs, order_seed
):
    rows = _build_trace_rows(scripts)
    if not rows:
        return
    rel_row = (1, -1, 0, "R", 1, "public", "repos",
               [(n, oid, k, -1) for n, oid, k in REL],
               None, None, None, None, None)

    # oracle: strict sequential apply over the whole trace
    dict_rows = []
    for r in rows:
        dict_rows.append({
            "lsn": r[0], "tx_id": r[1], "seq": r[2], "op": r[3],
            "old_vals": r[8], "new_vals": r[9], "toast_cols": r[10],
        })
    expected = oracle.apply_trace(dict_rows)

    # engine: split into epochs by LSN range, apply in SHUFFLED order.
    # Cut only at transaction starts (B rows) — replay mode promises
    # tx-aligned epochs (write_tx_aligned); mid-tx splits are the
    # tailing assembler's job, tested separately.
    lsns = sorted({r[0] for r in rows if r[3] == "B"})
    cuts = [lsns[i * len(lsns) // n_epochs] for i in range(1, n_epochs)]
    epochs: list[list] = [[] for _ in range(n_epochs)]
    for r in rows:
        idx = sum(1 for c in cuts if r[0] >= c)
        epochs[idx].append(r)
    order = list(range(n_epochs))
    order_seed.shuffle(order)

    root = str(tmp_path_factory.mktemp("prop") / "t")
    LakeTable.create(spark, root, ["repo", "path"], FIELDS, num_buckets=4)
    # mode: every epoch through the copy-on-write merge, every epoch as a
    # merge-on-read delta commit (resolution at read), alternating — the
    # mixed case interleaves delta generations with full merges, which
    # auto-fold pending deltas mid-history — or delta commits folding
    # every pending generation on the next epoch (background fold
    # committed with that epoch's delta)
    for j, i in enumerate(order):
        if not epochs[i]:
            continue
        delta = mode.startswith("delta") or (mode == "mixed" and j % 2 == 0)
        cfg = PipelineConfig(
            num_buckets=4, delta_commits=delta,
            delta_fold_every=1 if mode == "delta_fold1" else 64,
        )
        trace = spark.createDataFrame([rel_row] + epochs[i], TRACE_SCHEMA)
        tb = LakeTable.load(spark, root)
        pipeline.replay_batch(trace, tb, cfg, f"e{i}")

    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in LakeTable.load(spark, root).read_public().collect()
    }
    assert set(got) == set(expected)
    for k, exp in expected.items():
        assert got[k]["content"] == exp.get("content"), (k, got[k], exp)
        assert got[k]["note"] == exp.get("note"), (k, got[k], exp)
