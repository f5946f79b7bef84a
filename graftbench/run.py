#!/usr/bin/env python3
"""Run one graftbench workload and print its metrics.

    python3 graftbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (under graftbench/target, with sbt's state in
.bench_build/); later runs reuse the build while the sources are unchanged.
Spark comes from $SPARK_HOME/jars and Java from $JAVA_HOME (or PATH).

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics of BENCHMARK.json, --trace 1 its per-layer metrics, and writes
.bench_out/trace/<workload>.json (spans, Spark job counters, streaming
progress, self time per span, and the overhead against the last untraced
run of the same workload). `--selftest` runs the harness's check self-test.
"""
import argparse
import fcntl
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(deadline):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this directory; "
            "run from the root of a graft checkout")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(
            os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME must name a Spark installation with a jars/ directory")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return
        log = os.path.join(BUILD, "build.log")
        cmd = ["sbt", "-batch", f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
               "-Dsbt.server.forcestart=false", "-J-XX:-UsePerfData", "compile"]
        with open(log, "w") as fh:
            rc = run_bounded(cmd, HERE, fh, deadline - time.time())
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (exit {rc}); log in {log}", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


def run_bounded(cmd, cwd, out, limit_s, env=None):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(main, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *opens, "-cp", cp, main, *args]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, 4)


def tail_note(xs):
    """The tail by the tail rule with its percentile and sample count, or
    why it is absent."""
    t = stats.tail(xs)
    if t is None:
        return {"value": None, "n": len(xs),
                "absent": f"fewer than {stats.TAIL_ABOVE + 1} samples"}
    v, pct, n = t
    return {"value": v, "percentile": pct, "n": n}


def end_to_end(res):
    ops, reads = res["op_latencies_s"], res["read_latencies_s"]
    m = {
        "setup_s": res["setup"]["setup_s"],
        "items_per_s": res["items_per_op"] * len(ops) / res["timed_s"],
        "op_p50_s": stats.median(ops),
        "read_p50_s": stats.median(reads),
        "op_cpu_p50_s": stats.median(res["op_cpu_s"]),
        "read_cpu_p50_s": stats.median(res["read_cpu_s"]),
        "stored_bytes_per_user_byte": res["stored_bytes_per_user_byte"],
        "peak_rss_mb": res["peak_rss_mb"],
        "live_heap_mb": res["live_heap_mb"],
    }
    return m, {"op_tail_s": tail_note(ops), "read_tail_s": tail_note(reads)}


def self_times(spans):
    """Per span name: summed duration minus the part covered by children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        covered = sum(c["end_ms"] - c["start_ms"] for c in kids.get(s["id"], []))
        e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["total_s"] += dur / 1000.0
        e["self_s"] += max(0, dur - covered) / 1000.0
    return out


def counters_by_span(spans, jobs):
    """Spark job counters per span name. A job belongs to the span whose job
    group was set when it started (the job's `span`); a streaming job (run on
    the stream's own thread) belongs to the batch span of its batch id."""
    by_id = {s["id"]: s for s in spans}
    by_batch = {s["op"]: s for s in spans if s["name"] == "streaming.CommandDispatch.batch"}
    out = {}
    for j in jobs:
        if j.get("span") is not None:
            span = by_id.get(j["span"])
        else:
            span = by_batch.get(j.get("batch"))
        e = out.setdefault(span["name"] if span else "(no span)",
                           {"jobs": 0, "tasks": 0, "run_ms": 0, "shuffle_write_bytes": 0,
                            "output_bytes": 0})
        e["jobs"] += 1
        for k in ("tasks", "run_ms", "shuffle_write_bytes", "output_bytes"):
            e[k] += j[k]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    start = time.time()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    if not a.selftest and a.workload not in names:
        die(f"--workload must be one of {names}")

    build_deadline = start + BUILD_LIMIT_S
    ensure_build(build_deadline)
    built = time.time()
    # a run that had to build gets the build's remaining allowance
    limit = RUN_LIMIT_S if built - start < 5 else max(RUN_LIMIT_S, build_deadline - built)

    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    work = os.path.join(OUT, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            rc = subprocess.call(java_cmd("graftbench.SelfTest", [], work), cwd=ROOT)
            sys.exit(rc)
        result_file = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cores", str(cores()),
                "--out", result_file]
        log = os.path.join(OUT, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
        with open(log, "w") as fh:
            # Spark's scratch space stays inside the run's work directory
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            rc = run_bounded(java_cmd("graftbench.Main", args, work), ROOT, fh,
                             limit - (time.time() - built), env)
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"workload {a.workload} exited {rc} without a result; log in {log}", 4)
        res = json.load(open(result_file))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not res["op_latencies_s"]:
        die(f"no op completed: {res['failures']}", 1)
    e2e, tails = end_to_end(res)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "input_digest": res["input_digest"], "correct": res["correct"],
               "failures": res["failures"],
               "op_latencies_s": [round(x, 4) for x in res["op_latencies_s"]],
               "reads": len(res["read_latencies_s"]), "tails": tails,
               "setup": res["setup"], "peak_rss_mb": res["peak_rss_mb"],
               "host_steal_share": res["host_steal_share"],
               "live_heap_mb": res["live_heap_mb"], "end_to_end": e2e,
               "op_cpu_s": [round(x, 4) for x in res["op_cpu_s"]]}
    print(json.dumps(summary))
    if a.trace == 0:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        with open(os.path.join(OUT, f"last-{a.workload}.json"), "w") as fh:
            json.dump({"seed": a.seed, "metrics": e2e}, fh)
    else:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        untraced_file = os.path.join(OUT, f"last-{a.workload}.json")
        overhead = None
        if os.path.exists(untraced_file):
            base = json.load(open(untraced_file))
            overhead = {"untraced_seed": base["seed"],
                        "traced_minus_untraced": {k: e2e[k] - base["metrics"][k] for k in e2e}}
        os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
        trace = {"workload": a.workload, "seed": a.seed, "end_to_end_traced": e2e,
                 "overhead": overhead or "no untraced run of this workload in .bench_out yet",
                 "layers": layers,
                 "not_exercised": sorted(m["name"] for m in bench["per_layer"]
                                         if m["name"] not in layers),
                 "self_time_by_span": self_times(res["spans"]),
                 "counters_by_span": counters_by_span(res["spans"], res["jobs"]),
                 "spans": res["spans"], "jobs": res["jobs"], "progress": res["progress"]}
        with open(os.path.join(OUT, "trace", f"{a.workload}.json"), "w") as fh:
            json.dump(trace, fh)
    with open(os.path.join(OUT, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                             "correct": res["correct"], "metrics": metrics}) + "\n")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
