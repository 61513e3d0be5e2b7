#!/usr/bin/env python3
"""graft benchmark: one command, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload analytic|maintain \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the graft sources
and the benchmark's own sbt project (perfbench/build.sbt) and caches the
result under .bench_build/ keyed by a hash of the sources. Each run then
starts one JVM with `local[nproc]`, sets the workload up, times operations
in whole passes until at least --seconds have passed, checks every output,
and prints one JSON line last: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (listeners on). The line before it holds
the run's details (seed, cpus, master, sample counts, workload extras).
A traced run also writes its spans to .bench_build/trace-<workload>-<seed>.json.
Every run keeps its warehouse, spark.local.dir and java.io.tmpdir under one
run root in .bench_build/runs/ and removes it on exit.
"""

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HOME = os.path.expanduser("~")
DATA = os.path.join(HOME, "testdata", "sf0.01")
WORKLOADS = ("analytic", "maintain")

def jvm_timeout(seconds):
    """The JVM's deadline: a set-up allowance (about 30-40 s at a normal
    pace) plus room for a timed region that ends only after the first
    whole pass past --seconds, at up to a 2.5x slower host."""
    return 120 + 5 * seconds

# a fixed heap, not graft's SPARK_DRIVER_MEM-derived one: heap size moves
# every timing, so it must not depend on the environment
HEAP = "-Xmx4g"

_child = None


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".sql", ".java"))]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile graft and the benchmark once per source hash; return the
    java command line up to the main class."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/ (run from the root of a checkout)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "launch-" + digest[:16] + ".json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return json.load(fh)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.join(HOME, ".sbt", "repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=out, timeout=840)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(HERE, "target", "java-options.txt")) as fh:
        opts = [o for o in fh.read().splitlines() if o and not o.startswith("-Xmx")]
    java = ["java", HEAP] + opts + ["-cp", cp, "perfbench.Main"]
    with open(stamp, "w") as fh:
        json.dump(java, fh)
    return java


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout or
    when this process is interrupted, and always wait for it."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {cmd[0]} timed out after {timeout}s", file=sys.stderr)
        return -1
    finally:
        kill_child()


def kill_child():
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    _child = None


def on_signal(signum, _frame):
    kill_child()
    sys.exit(128 + signum)


# ------------------------------------------------------------------ metrics

def attribute(result):
    """Attribute the traced jobs, stages and batches to timed operations
    and build each operation's span tree."""
    ops = result["ops"]
    tr = result["trace"]

    def op_at(t):
        for o in ops:
            if o["start_ms"] <= t <= o["end_ms"]:
                return o["i"]
        return None

    by_i = {o["i"]: o for o in ops}
    jobs = {}
    for j in tr["jobs"]:
        g = j.get("group") or ""
        i = int(g.rsplit("-", 1)[1]) if g.startswith("perfbench-op-") else op_at(j["submit_ms"])
        if i in by_i:
            jobs[j["id"]] = dict(j, op=i)
    stage_job = {}
    for jid, j in sorted(jobs.items(), key=lambda kv: kv[1]["submit_ms"]):
        for sid in j["stage_ids"]:
            stage_job.setdefault(sid, []).append(jid)
    # a stage listed by several jobs (a reused shuffle) ran for the last
    # of them submitted before it
    stages = []
    for s in tr["stages"]:
        cands = stage_job.get(s["id"], [])
        ran_for = [jid for jid in cands if jobs[jid]["submit_ms"] <= s["submit_ms"]] or cands
        if ran_for:
            stages.append(dict(s, job=ran_for[-1], op=jobs[ran_for[-1]]["op"]))
    batches = [dict(b, op=op_at(b["start_ms"])) for b in tr["batches"]]
    batches = [b for b in batches if b["op"] is not None]

    # op (0) holds ops.build (1) and ops.action (2); ops.build holds
    # ops.write (3), the operation's write into graft (empty on analytic)
    trees = {}
    for o in ops:
        s, w, m, e = o["start_ms"], o["written_ms"], o["built_ms"], o["end_ms"]
        trees[o["i"]] = [
            {"name": "op", "start": s, "end": e, "depth": 0, "parent": None},
            {"name": "ops.build", "start": s, "end": m, "depth": 1, "parent": 0},
            {"name": "ops.action", "start": m, "end": e, "depth": 1, "parent": 0},
            {"name": "ops.write", "start": s, "end": w, "depth": 2, "parent": 1},
        ]

    def add(tree, name, start, end, parent):
        p = tree[parent]
        start, end = max(start, p["start"]), min(end, p["end"])
        end = max(end, start)
        tree.append({"name": name, "start": start, "end": end,
                     "depth": p["depth"] + 1, "parent": parent})
        return len(tree) - 1

    def phase_at(tree, t):
        return 3 if t < tree[3]["end"] else 1 if t < tree[1]["end"] else 2

    batch_idx = {}
    for n, b in enumerate(batches):
        tree = trees[b["op"]]
        batch_idx[n] = add(tree, "streaming.batch", b["start_ms"], b["end_ms"],
                           phase_at(tree, b["start_ms"]))
    job_idx = {}
    for jid, j in jobs.items():
        tree = trees[j["op"]]
        parent = phase_at(tree, j["submit_ms"])
        for n, b in enumerate(batches):
            if b["op"] == j["op"] and b["start_ms"] <= j["submit_ms"] <= b["end_ms"]:
                parent = batch_idx[n]
        job_idx[jid] = add(tree, "spark.job", j["submit_ms"], j["end_ms"], parent)
    for s in stages:
        add(trees[s["op"]], "spark.stage", s["submit_ms"], s["end_ms"], job_idx[s["job"]])
    return jobs, stages, batches, trees


def end_to_end(result):
    ops = result["ops"]
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 if o["ok"] else float("inf") for o in ops]
    timed = result["timed"]
    passes = len(ops) / result["pass_size"]
    return {
        "setup_s": (timed["start_ms"] - result["jvm_start_ms"]) / 1e3,
        "wall_s": (timed["end_ms"] - timed["start_ms"]) / 1e3 / passes,
        "lat_p50_s": stats.median(lat),
        "cpu_per_op_s": sum(o["cpu_s"] for o in ops) / len(ops),
        "heap_peak_mb": result["heap_peak_mb"],
    }, stats.tail(lat)


def per_layer(result, stored_mb):
    jobs, stages, batches, trees = attribute(result)
    ops = result["ops"]
    setup = result["setup"]
    tr = result["trace"]
    in_ops = lambda t: any(o["start_ms"] <= t <= o["end_ms"] for o in ops)  # noqa: E731
    # stage spans clipped to their operation (the trees hold them clipped)
    stage_busy = sum(stats.union_length([(x["start"], x["end"]) for x in t
                                         if x["name"] == "spark.stage"])
                     for t in trees.values()) / 1e3
    op_time = sum(o["end_ms"] - o["start_ms"] for o in ops) / 1e3
    tot = lambda k: sum(s[k] for s in stages)  # noqa: E731
    listed = {sid for j in jobs.values() for sid in j["stage_ids"]}
    ran = {s["id"] for s in stages}
    failures = tot("task_failures") + sum(1 for s in stages if s["failed"] or s["attempt"] > 0) \
        + sum(1 for j in jobs.values() if not j["ok"])
    in_rows = sum(b["input_rows"] for b in batches)
    bdur = [(b["end_ms"] - b["start_ms"]) / 1e3 for b in batches]
    add_batch = sum(b["add_batch_ms"] for b in batches) / 1e3
    batch_jobs = sum(1 for t in trees.values() for s in t
                     if s["name"] == "spark.job" and t[s["parent"]]["name"] == "streaming.batch")
    self_by = {}
    worst = 0.0
    for t in trees.values():
        st = stats.self_times(t)
        worst = max(worst, abs(sum(st) - (t[0]["end"] - t[0]["start"])))
        for s, v in zip(t, st):
            self_by[s["name"]] = self_by.get(s["name"], 0.0) + v / 1e3
    mb = 1024.0 * 1024.0
    m = {
        "session.start_s": setup["session_start_s"],
        "session.warm_s": setup["session_warm_s"],
        "ops.index_build_s": setup.get("index_build_s", 0.0),
        "ops.build_s": sum(o["built_ms"] - o["start_ms"] for o in ops) / 1e3,
        "ops.write_s": sum(o["written_ms"] - o["start_ms"] for o in ops) / 1e3,
        "ops.action_s": sum(o["end_ms"] - o["built_ms"] for o in ops) / 1e3,
        "ops.recall_at_5": result.get("recall_at_5", 0.0),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tot("tasks"),
        "spark.stage_busy_s": stage_busy,
        "spark.driver_s": op_time - stage_busy,
        "spark.executor_run_s": tot("run_ms") / 1e3,
        "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
        "spark.stages_skipped_ratio": len(listed - ran) / len(listed) if listed else 0.0,
        "spark.gc_s": tot("gc_ms") / 1e3,
        "spark.task_failures": failures,
        "spark.shuffle_read_mb": tot("shuffle_read_b") / mb,
        "spark.shuffle_write_mb": tot("shuffle_write_b") / mb,
        "spark.spill_mb": tot("spill_b") / mb,
        "sql.executions": sum(1 for t in tr["sql_executions_ms"] if in_ops(t)),
        "catalog.table_ddl": sum(1 for t in tr["table_ddl_ms"] if in_ops(t)),
        "storage.read_mb": tot("input_b") / mb,
        "storage.written_mb": tot("output_b") / mb,
        "storage.files_written": sum(f["n"] for f in tr["files_written"] if in_ops(f["t_ms"])),
        "storage.written_bytes_per_input_row": tot("output_b") / in_rows if in_rows else 0.0,
        "storage.stored_mb": stored_mb,
        "streaming.batches": len(batches),
        "streaming.input_rows": in_rows,
        "streaming.batch_p50_s": stats.median(bdur) if bdur else 0.0,
        "streaming.addbatch_s": add_batch,
        "streaming.overhead_s": sum(bdur) - add_batch,
        "streaming.jobs_per_batch": batch_jobs / len(batches) if batches else 0.0,
        "self.op_s": self_by.get("op", 0.0),
        "self.ops_build_s": self_by.get("ops.build", 0.0),
        "self.ops_action_s": self_by.get("ops.action", 0.0),
        "self.ops_write_s": self_by.get("ops.write", 0.0),
        "self.streaming_batch_s": self_by.get("streaming.batch", 0.0),
        "self.spark_job_s": self_by.get("spark.job", 0.0),
        "self.spark_stage_s": self_by.get("spark.stage", 0.0),
    }
    return m, trees, worst


def declared(kind):
    """The metrics BENCHMARK.json declares for this output, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def host_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat; the
    steal share of a run shows how much CPU the hypervisor took away."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def dir_mb(d):
    total = 0
    for base, _dirs, names in os.walk(d):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(base, n))
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"test data not found in {DATA}")
    java = build()
    cpus = len(os.sched_getaffinity(0))
    run_root = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_root, sub))
    out_file = os.path.join(run_root, "result.json")
    cmd = [java[0], f"-Djava.io.tmpdir={run_root}/tmp"] + java[1:] + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--data", DATA, "--root", run_root,
        "--out", out_file, "--expected", os.path.join(HERE, "expected.json")]
    log = os.path.join(run_root, "jvm.log")
    steal0, ticks0 = host_ticks()
    try:
        with open(log, "w") as out:
            rc = run_child(cmd, timeout=jvm_timeout(a.seconds), cwd=run_root, stdout=out,
                           stderr=subprocess.STDOUT,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=f"{run_root}/local"))
        with open(log) as fh:
            jvm_log = fh.read()
        if rc != 0 or not os.path.isfile(out_file):
            sys.stderr.write(jvm_log[-6000:])
            fail(f"benchmark JVM exited with {rc}")
        with open(out_file) as fh:
            result = json.load(fh)
        steal1, ticks1 = host_ticks()
        usage = resource.getrusage(resource.RUSAGE_CHILDREN)
        stored_mb = dir_mb(os.path.join(run_root, "warehouse"))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    for line in jvm_log.splitlines():
        if "[perfbench]" in line:
            print(line, file=sys.stderr)
    ops = result["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    e2e, (tail_s, tail_pct) = end_to_end(result)
    detail = {
        "workload": a.workload, "seed": a.seed, "cpus": result["cpus"],
        "master": result["master"], "trace": a.trace, "ops": len(ops),
        "fail_frac": failed / len(ops), "lat_tail_s": tail_s, "lat_tail_pct": tail_pct,
        "lat_s": [[o["name"], round((o["end_ms"] - o["start_ms"]) / 1e3, 3)] for o in ops],
        # each operation's latency split into its write, the rest of its
        # build (on maintain: the serve up to the returned frame) and collect()
        "split_s": [[round((o["written_ms"] - o["start_ms"]) / 1e3, 3),
                     round((o["built_ms"] - o["written_ms"]) / 1e3, 3),
                     round((o["end_ms"] - o["built_ms"]) / 1e3, 3)] for o in ops],
        "setup": result["setup"], "stored_mb": stored_mb,
        "jvm_cpu_s": usage.ru_utime + usage.ru_stime,
        "host_steal_frac": (steal1 - steal0) / (ticks1 - ticks0) if ticks1 > ticks0 else 0.0,
        "errors": {o["name"]: o["error"] for o in ops if not o["ok"]},
    }
    if "recall_at_5" in result:
        detail["recall_at_5"] = result["recall_at_5"]
    if a.trace:
        metrics, trees, worst = per_layer(result, stored_mb)
        trace_file = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"ops": [{"i": o["i"], "name": o["name"], "spans": trees[o["i"]]}
                               for o in ops]}, fh)
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
        # the self times of each operation's spans sum to its latency
        detail["self_sum_max_err_ms"] = worst
    else:
        metrics = e2e
    detail["end_to_end"] = e2e
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": (metrics[k] if metrics[k] != float("inf") else 1e9),
                         "unit": u} for k, u in declared("per_layer" if a.trace else "end_to_end")},
    }))


if __name__ == "__main__":
    main()
