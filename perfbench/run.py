#!/usr/bin/env python3
"""graft session benchmark: one command, four named workloads.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
generates the sf0.1 input tables (perfbench/gen_data.py), writes the
seeded workload script (perfbench/workloads.py), runs it in one JVM with
one closed-loop client thread, checks every answer and prints one JSON
line last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything it writes goes under .bench_build/ in the current
directory. See perfbench/README.md for the metrics and workloads.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import workloads  # noqa: E402

SF = 0.1
DATA_SEED = 42
SETUP_REPEATS = 3
MAX_PASSES = 64
# a traced run is not correct when some op's phases miss its wall time
# by more than this share
PHASE_GAP_LIMIT = 0.05
# the harness stops starting passes once this many seconds have passed
# since JVM start; the process must end well inside 180 s
JVM_DEADLINE_S = 140
JVM_HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
              ("ops_per_s", "1/s")]
LAYER_KEYS = [
    ("build.ms", "ms"), ("build.free_ms", "ms"), ("build.jobs", "count"),
    ("build.job_ms", "ms"),
    ("catalyst.analyze_ms", "ms"), ("catalyst.optimize_ms", "ms"),
    ("catalyst.physical_ms", "ms"), ("catalyst.plan_nodes", "count"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.slot_busy_frac", "ratio"), ("exec.gc_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.scan_bytes", "bytes"),
    ("exec.result_rows", "count"),
    ("pin.blocks_written", "count"), ("pin.peak_bytes", "bytes"),
    ("pin.live_bytes_after_op", "bytes"),
]
PER_LAYER = LAYER_KEYS + [
    ("storage.load_s", "s"), ("storage.load_jobs", "count"),
    ("storage.write_jobs", "count"), ("storage.commit_bytes", "bytes"),
    ("storage.reload_ms", "ms"),
    ("trace.overhead_frac", "ratio"), ("trace.phase_gap_max_frac", "ratio"),
    ("trace.unattributed_jobs", "count"),
    ("failed_frac", "ratio"), ("write_p50_s", "s"), ("read_p50_s", "s"),
    ("commit_p50_s", "s"),
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """p90 with linear interpolation. A run holds a few dozen ops at most,
    so no percentile above the median has ten samples beyond it; the
    output states the sample count instead."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = 0.9 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def ensure_data(root):
    data = os.path.join(root, ".bench_build", f"data-sf{SF}")
    stamp_path = data + ".stamp"
    stamp = f"sf={SF} seed={DATA_SEED} gen={os.path.getsize(gen_data.__file__)}:" \
            f"{hash_file(gen_data.__file__)}"
    have = None
    if os.path.isdir(data) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            have = f.read()
    if have != stamp:
        shutil.rmtree(data, ignore_errors=True)
        gen_data.generate(data + ".tmp", SF, DATA_SEED)
        os.rename(data + ".tmp", data)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    return data, stamp


def hash_file(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def base_facts(data_dir):
    def facts(pool):
        import duckdb
        con = duckdb.connect()
        for t in ("customer", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        rows = con.execute(workloads.pool_query(pool)).fetchall()
        return {name: (int(c), int(n)) for name, c, n in rows}
    return facts


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, script_path, out_path, log_path, timeout_s):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(os.path.dirname(out_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", *opens, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "graft.perfbench.Harness", script_path, out_path]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness timed out after {timeout_s:.0f} s")
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: harness failed (exit {rc})")


def check_answers(res, oracle):
    """Marks every op record failed whose answer is wrong. An op whose
    first result disagrees with the oracle fails on every execution."""
    bad = {}
    for name, d in res["dumps"].items():
        if d.get("error"):
            bad[name] = d["error"]
        elif d.get("sql") is None:
            bad[name] = "no oracle SQL"
        else:
            why = oracle.check(d["dir"], d["sql"])
            if why:
                bad[name] = why
    for group in ("warmup_ops", "ops", "final_ops"):
        for r in res[group]:
            if r.get("oracle") in bad:
                r["failed"] = True
                r["error"] = r.get("error") or "oracle mismatch: " + bad[r["oracle"]]
    return bad


def interval_union(iv):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_self_times(spans):
    """Adds self_ms to each span: its duration minus the part of it its
    children cover. Returns the phase-attribution error: the largest, over
    the ops, of |sum over phases of (self time + time of the phase's jobs)
    - op wall| / op wall. Phases tile the op, so this is zero exactly when
    every job attributed to a phase ran inside that phase."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def covered(s, clip):
        lo, hi = s["start_ms"], s["end_ms"]
        iv = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        if clip:
            iv = [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]
        return interval_union(iv)

    for s in spans:
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - covered(s, clip=True)
    worst = 0.0
    for op in children.get(None, []):
        wall = op["end_ms"] - op["start_ms"]
        accounted = sum(p["self_ms"] + covered(p, clip=False)
                        for p in children.get(op["id"], []))
        if wall > 0:
            worst = max(worst, abs(accounted - wall) / wall)
    return worst


def trace_problems(gap, unattributed_jobs):
    """Why a traced run's phase attribution cannot be trusted, if it
    cannot: some op's phases do not sum to its wall time within 5%, or
    some Spark job carried no span."""
    problems = []
    if gap > PHASE_GAP_LIMIT:
        problems.append(f"phase times of an op miss its wall time by {gap:.1%}")
    if unattributed_jobs:
        problems.append(f"{unattributed_jobs} Spark jobs were attributed to no span")
    return problems


def end_to_end(res, ops):
    # a failed op counts as taking the whole window
    cap = res["window_s"]
    lat = [cap if r["failed"] else r["latency_s"] for r in ops] or [cap]
    setup = res["setup"]
    return {
        "setup_s": setup["session_s"] + median(setup["graph_s"]) + setup["warmup_s"],
        "latency_p50_s": median(lat),
        "latency_tail_s": p90(lat),
        "ops_per_s": sum(not r["failed"] for r in ops) / res["window_s"],
    }


def per_layer(res, ops, attempted, failed):
    traced = [r for r in ops if r["traced"]]
    untraced = [r for r in ops if not r["traced"]]
    m = {}
    for key, _ in LAYER_KEYS:
        m[key] = median([r["layers"][key] for r in traced if key in r["layers"]])
    commits = [r for r in traced if r["kind"] == "commit"]
    m["storage.load_s"] = median(res["setup"]["graph_s"])
    m["storage.load_jobs"] = res["setup"].get("graph_jobs", 0)
    m["storage.write_jobs"] = median([r["layers"]["storage.write_jobs"] for r in commits])
    m["storage.commit_bytes"] = median([r["layers"]["storage.commit_bytes"] for r in commits])
    m["storage.reload_ms"] = res["reload_ms"]
    # overhead: each op name's traced runs against its untraced runs
    by_name = {}
    for r in ops:
        by_name.setdefault(r["op"], ([], []))[r["traced"]].append(r["latency_s"])
    pairs = [(median(u), median(t)) for u, t in by_name.values() if u and t]
    un, tr = sum(u for u, _ in pairs), sum(t for _, t in pairs)
    m["trace.overhead_frac"] = tr / un - 1 if un > 0 else 0.0
    m["trace.unattributed_jobs"] = res["unattributed_jobs"]
    m["failed_frac"] = failed / attempted
    for key, kind in (("write_p50_s", "write"), ("read_p50_s", "read"),
                      ("commit_p50_s", "commit")):
        xs = [r["latency_s"] for r in untraced if r["kind"] == kind]
        m[key] = median(xs)
    return m


def per_op_table(ops):
    """Per op name: median of each layer metric over its traced runs."""
    names = {}
    for r in ops:
        if r["traced"]:
            names.setdefault(r["op"], []).append(r)
    table = {}
    for name, rs in sorted(names.items()):
        row = {"n": len(rs), "latency_s": median([r["latency_s"] for r in rs])}
        for key, _ in LAYER_KEYS:
            row[key] = median([r["layers"][key] for r in rs])
        table[name] = row
    return table


def main(argv=None, script_hook=None):
    """Runs the benchmark and returns the harness record. `script_hook`,
    if given, may edit the workload script before the harness reads it
    (the self-tests plant failures with it)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    bb = os.path.join(root, ".bench_build")
    # keep every temporary file of this process and its children inside
    # the checkout
    os.environ["TMPDIR"] = os.path.join(bb, "tmp")
    classes = build.build(root)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    jars = build.spark_jars(root)
    data_dir, data_stamp = ensure_data(root)
    run_dir = os.path.join(bb, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    warm, passes, finals = workloads.make_script(
        a.workload, a.seed, MAX_PASSES, base_facts(data_dir), int(150_000 * SF))
    script = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace), "data_dir": data_dir, "work_dir": run_dir,
        "cores": cores(), "setup": workloads.SETUP[a.workload],
        "setup_repeats": SETUP_REPEATS, "deadline_s": JVM_DEADLINE_S,
        "store_labels": workloads.STORE_LABELS,
        "warmup": warm, "passes": passes,
    }
    if finals is not None:
        script["final_by_pass"] = finals
    if script_hook:
        script_hook(script)
    script_path = os.path.join(run_dir, "script.json")
    with open(script_path, "w") as f:
        json.dump(script, f)
    out_path = os.path.join(run_dir, "out.json")
    run_jvm(classes, jars, script_path, out_path,
            os.path.join(run_dir, "harness.log"), JVM_DEADLINE_S + 30)
    with open(out_path) as f:
        res = json.load(f)

    from oracle import Oracle
    bad = check_answers(res, Oracle(data_dir, data_stamp, os.path.join(bb, "oracle")))
    ops = res["ops"]
    every = res["warmup_ops"] + ops + res["final_ops"]
    attempted = len(every)
    failed = sum(1 for r in every if r["failed"])
    for r in every:
        if r["failed"]:
            print(f"# FAILED {r['op']} (pass {r['pass']}): "
                  f"{r.get('error') or 'wrong answer'}", file=sys.stderr)

    problems = []
    if a.trace:
        spans_path = os.path.join(run_dir, "trace.json")
        spans = []
        if os.path.exists(spans_path):
            with open(spans_path) as f:
                spans = json.load(f)
        gap = span_self_times(spans)
        problems = trace_problems(gap, res["unattributed_jobs"])
        for why in problems:
            print(f"# TRACE {why}", file=sys.stderr)
        metrics = per_layer(res, ops, attempted, failed)
        metrics["trace.phase_gap_max_frac"] = gap
        table = per_op_table(ops)
        os.makedirs(os.path.join(bb, "traces"), exist_ok=True)
        with open(os.path.join(bb, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"per_op": table, "spans": spans}, f)
        for name, row in table.items():
            print(f"# op {name} " + " ".join(
                f"{k}={v:.6g}" for k, v in row.items()))
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(res, ops)
        print(f"# {a.workload}: {len(ops)} timed ops in {res['passes']} passes, "
              f"{res['window_s']:.2f} s; latency_tail_s = p90 of n={len(ops)}; "
              f"failed {failed}/{attempted}")
        units = dict(END_TO_END)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not bad and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return res


if __name__ == "__main__":
    main()
