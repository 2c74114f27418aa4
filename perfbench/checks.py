"""Correctness checks for one benchmark run. Oracle time is never measured."""
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

import gen


def check_upsert(res, plan, work):
    """Every merge's counts must equal the generator's key arithmetic, and the
    final state must equal the generator's own fold of base plus batches
    (per key and field; ``updatedAt`` excluded)."""
    notes, bad_ops = [], 0
    base = res["setups"][-1]["stats"]
    stats_ok = base == [0, 0, plan.base_rows]
    if not stats_ok:
        notes.append(f"base load stats {base} != [0, 0, {plan.base_rows}]")
    applied = 0
    for o in res["warm"] + res["ops"]:
        if "batch" not in o:
            bad_ops += 1
            stats_ok = False
            notes.append(f"op failed: {o.get('error')}")
            continue
        b = plan.batches[o["batch"]]
        want = [b.n_existing, b.n_existing, b.n_new]
        if o["stats"] != want:
            bad_ops += o in res["ops"]
            stats_ok = False
            notes.append(f"batch {o['batch']}: stats {o['stats']} != {want}")
        applied = o["batch"] + 1
    expected = gen.reference_state(plan, applied)
    live = plan.base_rows + sum(b.n_new for b in plan.batches[:applied])
    got = pq.read_table(os.path.join(work, "target"))
    idx = {k: i for i, k in enumerate(plan.keys[:live])}
    rows = np.array([idx.get(k, -1) for k in got.column("_id").to_pylist()])
    state_ok = (len(rows) == live and (rows >= 0).all() and len(set(rows.tolist())) == live)
    if state_ok:
        for j, f in enumerate(gen.PAYLOAD):
            col = got.column(f).to_numpy(zero_copy_only=False).astype(np.float64)
            want = expected[rows, j]
            if not np.array_equal(np.isnan(col), np.isnan(want)) or \
                    not np.array_equal(col[~np.isnan(col)], want[~np.isnan(want)]):
                state_ok = False
                notes.append(f"final state differs on {f}")
    else:
        notes.append(f"final state keys: {len(rows)} rows for {live} live keys")
    if not state_ok and bad_ops == 0:
        bad_ops = 1  # the state is the output of every op; one must be wrong
    notes.append(f"upsert: {applied} batches folded, {live} live rows, "
                 f"state {'matches' if state_ok else 'DIFFERS'}")
    return {"correct": stats_ok and state_ok, "failed_ops": bad_ops,
            "live_rows": live, "notes": notes}


def check_mix(res, work, root):
    """Each warm-pass output against its DuckDB oracle on the same input,
    through the engine's own oracle gate, ``tools/check_correctness.py``."""
    out_json = os.path.join(work, "correctness.json")
    env = dict(os.environ, GRAFT_CORRECTNESS_OUT=out_json)
    env.pop("GRAFT_VERIFY_ONLY", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_correctness.py"),
         os.path.join(work, "input"), os.path.join(work, "out")],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    with open(os.path.join(work, "correctness.log"), "w") as f:
        f.write(proc.stdout)
    if not os.path.exists(out_json):
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"check_correctness.py wrote no result (exit {proc.returncode})")
    with open(out_json) as f:
        results = json.load(f)["results"]
    notes, failed_queries = [], set()
    for w in res["warm"]:
        q = w["name"]
        verdict = results.get(q, "FAIL: not checked")
        if not w["ok"]:
            verdict = f"FAIL: warm run failed: {w.get('error')}"
        if not verdict.startswith("PASS"):
            failed_queries.add(q)
        notes.append(f"{q}: {verdict}")
    failed_ops = sum(1 for o in res["ops"] if not o["ok"] or o["name"] in failed_queries)
    return {"correct": not failed_queries and failed_ops == 0, "failed_ops": failed_ops,
            "notes": notes}
