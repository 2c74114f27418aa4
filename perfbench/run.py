#!/usr/bin/env python3
"""The repository benchmark: one workload per process, closed loop, one client.

Usage (from the repository root):

    python3 perfbench/run.py --workload {upsert,query_mix} \\
        --seed N --seconds S --trace {0,1} [--record FILE]

Steps, all inside the checkout (scratch space is ``.perfbench/``):

1. Build the engine and ``BenchMain`` from source with sbt (``perfbench/build.sbt``),
   skipped when the sources have not changed since the last build.
2. Generate the workload's inputs from ``--seed`` (``gen.py``).
3. Run ``BenchMain`` on ``local[nproc]``: set up three times, run an untimed
   warm part, then time whole passes for ``--seconds`` (see README.md).
4. Check every output: upsert merge counts and final state against the
   generator's own fold, query outputs against each query's DuckDB oracle.
5. Print a summary, then one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1``. ``--record FILE`` also appends the
   full result (both metric sets where measured) to a JSON-lines file that
   ``compare.py`` reads.

Exit status is 0 only when the run completed and every output passed its
check; after a correctness failure the JSON line is still printed, with
``correct`` false, and the exit status is 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

SETUPS = 3
# a run ends within 180 s, and the first run of a checkout (which builds)
# within 900 s
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 660

# scan part: single-pass relational and native-kernel queries; iterative
# part: re-planning rounds, micro-batches, LedgeredState, CommitLog CAS, CDC.
# The order is fixed: what the last query leaves behind shows in live_heap_mb.
QUERY_MIX = ["q2_join_revenue", "q21_simhash",
             "q59_cc_two_phase", "q202_stream_skew", "q217_kll_contention", "q121_cdc_ingest"]
WORKLOADS = {
    "upsert": {"base_rows": 80_000, "batch_rows": 2_000, "warm_batches": 20, "max_batches": 80},
    "query_mix": {"sf": 0.003, "queries": QUERY_MIX, "min_passes": 2},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and BenchMain; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        sys.exit("perfbench: sbt and java must be on PATH")
    stamp_file = os.path.join(SCRATCH, "build", "stamp")
    cp_file = os.path.join(SCRATCH, "build", "classpath")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and BenchMain with sbt")
    t0 = time.time()
    proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {proc.returncode})")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


def run_bounded(cmd, cwd, env, timeout):
    """Runs ``cmd`` in its own process group; kills the group on timeout and
    always waits for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: {cmd[0]} exceeded {timeout}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    proc.stdout = out
    return proc


# ------------------------------------------------------------------ JVM

_ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, config, work):
    cfg_path = os.path.join(work, "config.json")
    res_path = os.path.join(work, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    for p in _ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.BenchMain", cfg_path, res_path]
    proc = run_bounded(cmd, cwd=work, env=dict(os.environ), timeout=JVM_TIMEOUT_S)
    with open(os.path.join(work, "jvm.log"), "w") as f:
        f.write(proc.stdout)
    if proc.returncode != 0 or not os.path.exists(res_path):
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: BenchMain failed (exit {proc.returncode})")
    with open(res_path) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

def op_seconds(op):
    return (op["end_ms"] - op["start_ms"]) / 1e3


def end_to_end(res, rows_per_op):
    """rows_per_op(op) -> rows the op consumed. Also returns the op-latency
    tail, which is reported but not bounded: a run has too few ops for a
    percentile above the median to leave ten samples beyond it."""
    ops = [o for o in res["ops"] if o["ok"]]
    secs = [op_seconds(o) for o in ops]
    p, value, n, beyond = analysis.tail(secs)
    timed = max(res["timed_wall_s"], 1e-9)
    return {
        "setup_s": analysis.median([s["setup_s"] for s in res["setups"]]),
        # mean seconds per pass, harness work between ops included; unlike
        # op_p50_s it moves when a few ops get slow
        "wall_s": timed / max(1, res["passes"]),
        "op_p50_s": analysis.median(secs),
        "rows_per_s": sum(rows_per_op(o) for o in ops) / timed,
        "live_heap_mb": res["live_heap_mb"],
    }, {"op_tail_s": value, "tail_percentile": p, "ops": n, "beyond_tail": beyond}


def per_layer(res, workload, cores, batch_bytes):
    """The traced run's layer metrics: per timed op unless named otherwise."""
    ops = res["ops"]
    tr = res["trace"]
    n = max(1, len(ops))
    passes = max(1, res["passes"])
    by_op = {o["id"]: o for o in ops}
    stages = [s for s in tr["stages"] if s[0] in by_op]
    jobs = [j for j in tr["jobs"] if j[0] in by_op]
    tasks = [t for t in tr["tasks"] if t[0] in by_op]
    phases = [p for p in tr["phases"] if p[0] in by_op]
    progress = [p for p in tr["progress"] if p[0] in by_op]

    def per_op(total):
        return total / n

    tasks_by_op, jobs_by_op = {}, {}
    for t in tasks:
        tasks_by_op.setdefault(t[0], []).append((t[2], t[3]))
    for j in jobs:
        jobs_by_op.setdefault(j[0], []).append(j)
    wall = sum(op_seconds(o) for o in ops)
    driver_only = sum(analysis.uncovered(tasks_by_op.get(o["id"], []), o["start_ms"], o["end_ms"])
                      for o in ops) / 1e3
    task_s = sum(s[6] for s in stages) / 1e3
    m = {
        "session.start_s": analysis.median([s["session_s"] for s in res["setups"]]),
        "planning.analysis_s": per_op(sum(p[1] for p in phases) / 1e3),
        "planning.optimization_s": per_op(sum(p[2] for p in phases) / 1e3),
        "planning.physical_s": per_op(sum(p[3] for p in phases) / 1e3),
        "planning.codegen_compiles": per_op(sum(o["codegen_compiles"] for o in ops)),
        "planning.codegen_s": per_op(sum(o["codegen_ns"] for o in ops) / 1e9),
        "sched.jobs": per_op(len(jobs)),
        "sched.stages": per_op(len(stages)),
        "sched.tasks": per_op(len(tasks)),
        "sched.driver_only_s": per_op(driver_only),
        "exec.task_s": per_op(task_s),
        "exec.cpu_s": per_op(sum(s[7] for s in stages) / 1e9),
        "exec.gc_s": per_op(sum(s[8] for s in stages) / 1e3),
        "exec.core_util": task_s / max(wall * cores, 1e-9),
        "exec.shuffle_read_bytes": per_op(sum(s[9] for s in stages)),
        "exec.shuffle_write_bytes": per_op(sum(s[10] for s in stages)),
        "exec.spill_bytes": per_op(sum(s[11] for s in stages)),
        "exec.input_bytes": per_op(sum(p[4] for p in phases)),
        "exec.output_bytes": per_op(sum(s[13] for s in stages)),
        "jvm.gc_s": sum(o["gc_ms"] for o in ops) / 1e3 / passes,
    }
    # sinks: the upsert target, measured around each BulkUpdateJob.run
    if workload == "upsert":
        out_by_op = {}
        for s in stages:
            out_by_op[s[0]] = out_by_op.get(s[0], 0) + s[13]
        commit = [o["end_ms"] - max((j[3] for j in jobs_by_op.get(o["id"], [])),
                                    default=o["start_ms"]) for o in ops]
        m.update({
            "sinks.write_amp": sum(out_by_op.get(o["id"], 0) for o in ops)
            / max(1, sum(batch_bytes[o["batch"]] for o in ops)),
            "sinks.files_written": per_op(sum(o["files_written"] for o in ops)),
            "sinks.state_bytes": float(res["state_bytes"]),
            "sinks.commit_s": per_op(sum(commit) / 1e3),
            "sinks.stored_bytes_per_row": res["state_bytes"] / max(1, res["live_rows"]),
        })
    else:
        m.update({k: 0.0 for k in ("sinks.write_amp", "sinks.files_written", "sinks.state_bytes",
                                   "sinks.commit_s", "sinks.stored_bytes_per_row")})
    batch_s = [p[3] / 1e3 for p in progress]
    m.update({
        "streaming.batches": per_op(len(progress)),
        "streaming.batch_p50_s": analysis.median(batch_s),
        "streaming.rows_per_batch": sum(p[2] for p in progress) / max(1, len(progress)),
    })
    # operators: median op seconds per query (per BulkUpdateJob.run for upsert)
    for name in ["bulk_update"] + QUERY_MIX:
        key = "jobs.bulk_update.op_s" if name == "bulk_update" else f"operators.{name}.op_s"
        m[key] = analysis.median([op_seconds(o) for o in ops if o["name"] == name])
    # span self time: run -> op -> Spark job -> stage, summed per layer per pass
    spans = {("run", 0): (None, ops[0]["start_ms"], ops[-1]["end_ms"])} if ops else {}
    for o in ops:
        spans[("op", o["id"])] = (("run", 0), o["start_ms"], o["end_ms"])
    for j in jobs:
        if j[3] >= 0:
            spans[("job", j[1])] = (("op", j[0]), j[2], j[3])
    for s in stages:
        parent = ("job", s[14]) if ("job", s[14]) in spans else ("op", s[0])
        if s[3] >= 0 and s[4] >= 0:
            spans[("stage", f"{s[1]}.{s[2]}")] = (parent, s[3], s[4])
    self_s = analysis.self_times(spans)
    for layer in ("run", "op", "job", "stage"):
        m[f"trace.{layer}_self_s"] = sum(v for (kind, _), v in self_s.items()
                                         if kind == layer) / 1e3 / passes
    return m, spans


# ------------------------------------------------------------------ main

def prepare_inputs(workload, seed, work):
    spec = WORKLOADS[workload]
    inp = os.path.join(work, "input")
    if workload == "upsert":
        plan = gen.plan_upsert(seed, spec["base_rows"], spec["batch_rows"], spec["max_batches"])
        sizes = gen.write_upsert(plan, inp)
        config = {"batches": spec["max_batches"], "warm_batches": spec["warm_batches"],
                  "min_passes": 1}
        return inp, config, {"plan": plan, "sizes": sizes}
    rows = gen.write_analytics(seed, spec["sf"], inp)
    return inp, {"queries": spec["queries"], "min_passes": spec["min_passes"]}, {"rows": rows}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="append the full result to this JSON-lines file")
    args = ap.parse_args(argv)
    # a terminated benchmark still stops the JVM it started (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    work = os.path.join(SCRATCH, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inp, extra, meta = prepare_inputs(args.workload, args.seed, work)
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    config = dict(extra, workload=args.workload, input=inp, work=work, seconds=args.seconds,
                  trace=bool(args.trace), setups=SETUPS, cores=cores)
    res = run_jvm(classpath, config, work)

    if args.workload == "upsert":
        verdict = checks.check_upsert(res, meta["plan"], work)
        batch_rows = {i: len(b.rows) for i, b in enumerate(meta["plan"].batches)}
        batch_bytes = {i: meta["sizes"][f"batch_{i:04d}"] for i in batch_rows}
        rows_per_op = lambda o: batch_rows[o["batch"]]  # noqa: E731
    else:
        verdict = checks.check_mix(res, work, ROOT)
        total_rows = sum(meta["rows"].values())
        rows_per_op = lambda o: total_rows / len(extra["queries"])  # noqa: E731
        batch_bytes = {}
    res["live_rows"] = verdict.get("live_rows", 0)
    e2e, tail_info = end_to_end(res, rows_per_op)
    attempted = len(res["ops"])
    failed = verdict["failed_ops"]
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores, "passes": res["passes"],
              "attempted": attempted, "failed": failed, "correct": verdict["correct"],
              "checks": verdict["notes"], "setups": res["setups"], **tail_info,
              "op_seconds": {n: [op_seconds(o) for o in res["ops"] if o["name"] == n]
                             for n in dict.fromkeys(o["name"] for o in res["ops"])}}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        layer, spans = per_layer(res, args.workload, cores, batch_bytes)
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        record["per_layer"] = layer
        record["traced_wall_s"] = e2e["wall_s"]
        record["misattributed_jobs"] = res["trace"]["misattributed_jobs"]
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump({"run_id": f"{args.workload}-{args.seed}-{int(time.time())}",
                       "spans": [{"id": "%s:%s" % k, "parent": p and "%s:%s" % p,
                                  "start_ms": s, "end_ms": e}
                                 for k, (p, s, e) in spans.items()]}, f)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        record["end_to_end"] = e2e
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps(record) + "\n")
    summary = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items())
    print(f"{args.workload} seed={args.seed} passes={res['passes']} ops={attempted} "
          f"failed={failed} fail_ratio={failed / max(1, attempted):.4f} "
          f"op_tail_s={tail_info['op_tail_s']:.6g}s at p{tail_info['tail_percentile']} "
          f"(n={tail_info['ops']}, {tail_info['beyond_tail']} beyond)")
    print(summary)
    for note in verdict["notes"]:
        print(f"check: {note}")
    print(json.dumps({"correct": verdict["correct"], "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    return 0 if verdict["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
