#!/usr/bin/env python3
"""graft's benchmark: two workloads, end-to-end metrics, layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program
(`sbt compile`, offline) and the benchmark's JVM harness (the Scala compiler
that ships with the Spark jars), and generates the catalog fixtures; later
runs reuse them while the sources are unchanged. Each run starts one JVM
with `nproc` task slots, warms up on the workload's own inputs, times whole
passes, checks every output against DuckDB and prints one JSON line last.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import checks  # noqa: E402
import fixtures  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# Why each query is in the list: README.md, "The catalog query list".
QUERIES = ["q_spammy_users", "q_approx_unique", "q_tpch_q3"]

# A catalog run times ceil(--seconds / pass_s) whole passes over the list; a
# stream run times ceil(--seconds / batch_s) micro-batches. Both are a pass's
# or a batch's wall at the commit that added the benchmark on a 4-core host.
WORKLOADS = {
    "catalog_sf0.1": {"mode": "catalog", "sf": 0.1, "pass_s": 3.0},
    "stream_panes": {"mode": "stream", "batch_s": 1.0},
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_logged(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def tail_of(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ------------------------------------------------------------------ build

def spark_jars():
    """The jar directory the program's own build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        die("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/**/*.scala", recursive=True)
                   + glob.glob("src/main/**/*.java", recursive=True)
                   + glob.glob("project/*.sbt") + glob.glob("project/*.properties")
                   + ["build.sbt"] + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        die("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    jars = spark_jars()
    classes = os.path.join(WORK, "classes")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jars
    os.makedirs(WORK, exist_ok=True)
    sbt_env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]))
    log = os.path.join(WORK, "build.log")
    if run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], log, 700,
                  env=sbt_env) != 0:
        die("sbt compile failed:\n" + tail_of(log))
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [os.path.join(jars, f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
    cp = ":".join(["target/scala-2.13/classes"] + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    srcs = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    log = os.path.join(WORK, "scalac.log")
    if run_logged(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", ":".join(scala), "scala.tools.nsc.Main",
                   "-classpath", cp, "-d", classes] + srcs, log, 300) != 0:
        die("compiling the benchmark harness failed:\n" + tail_of(log))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jars


def catalog_fixture(sf):
    """The generated tables, made again whenever fixtures.py changes."""
    d = os.path.join(WORK, "fixtures", f"sf{sf}")
    done = os.path.join(d, "_done")
    with open(fixtures.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    if not (os.path.exists(done) and open(done).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        fixtures.catalog(d, sf)
        with open(done, "w") as f:
            f.write(stamp)
    return d


# ------------------------------------------------------------------ metrics

def catalog_metrics(rec):
    """Op latencies (ms) and the per-layer metrics, summed over the timed
    passes."""
    passes = rec["passes"]
    ops = [o for p in passes for o in p["ops"]]
    lat = [1e3 * (o["construct_s"] + o["action_s"]) for o in ops]
    if "exec" not in passes[0]:
        return lat, {}
    plan_s = [(o["analysis_ms"] + o["optimization_ms"] + o["planning_ms"]) / 1e3 for o in ops]
    exec_ = {k: sum(p["exec"][k] for p in passes) for k in passes[0]["exec"]}
    layer = {
        "construct.wall_s": sum(o["construct_s"] for o in ops),
        "construct.jobs": sum(o["construct_jobs"] for o in ops),
        "plan.analysis_ms": sum(o["analysis_ms"] for o in ops),
        "plan.optimization_ms": sum(o["optimization_ms"] for o in ops),
        "plan.planning_ms": sum(o["planning_ms"] for o in ops),
        "sched.jobs": sum(o["construct_jobs"] + o["action_jobs"] for o in ops),
        "sched.job_wall_s": sum(o["job_wall_s"] for o in ops),
        "sched.gap_s": sum(o["action_s"] - s - o["job_wall_s"] for o, s in zip(ops, plan_s)),
    }
    layer.update(exec_metrics(exec_, rec["region"]["wall_s"], rec["slots"]))
    return lat, layer


def exec_metrics(ex, wall, slots):
    return {
        "sched.stages": ex["stages"],
        "sched.tasks": ex["tasks"],
        "exec.task_cpu_s": ex["task_cpu_s"],
        "exec.task_run_s": ex["task_run_s"],
        "exec.task_gc_s": ex["task_gc_s"],
        "exec.slot_busy": ex["task_run_s"] / (wall * slots),
        "exec.shuffle_write_mb": ex["shuffle_write_mb"],
        "exec.shuffle_read_mb": ex["shuffle_read_mb"],
        "exec.spill_mb": ex["spill_mb"],
        "scan.records": ex["scan_records"],
        "scan.mb": ex["scan_mb"],
    }


def stream_metrics(rec, meta, sink_rows):
    """Op latencies (ms) and the per-layer metrics: micro-batch and state
    figures are medians over the timed batches, counts are their sums."""
    lat = [1e3 * x for x in rec["op_s"]]
    if "exec" not in rec:
        return lat, {}
    first = meta["warm_files"]
    timed = [b for b in rec["batches"] if first <= b["batch_id"] < first + meta["timed_files"]]
    med = lambda k: statistics.median(b[k] for b in timed)  # noqa: E731
    layer = {
        "construct.wall_s": rec["start_s"],
        "sched.jobs": rec["jobs"],
        "sched.job_wall_s": rec["job_wall_s"],
        "sched.gap_s": rec["region"]["wall_s"] - rec["job_wall_s"],
        "stream.add_batch_ms": med("addBatch_ms"),
        "stream.get_batch_ms": med("getBatch_ms"),
        "stream.planning_ms": med("queryPlanning_ms"),
        "stream.wal_commit_ms": med("walCommit_ms"),
        "stream.commit_offsets_ms": med("commitOffsets_ms"),
        "state.rows_peak": max(b["state_rows"] for b in rec["batches"]),
        "state.rows_final": max(rec["batches"], key=lambda b: b["batch_id"])["state_rows"],
        "state.mem_peak_mb": max(b["state_mem_bytes"] for b in rec["batches"]) / 1048576.0,
        "state.commit_ms": med("state_commit_ms"),
        "state.update_ms": med("state_update_ms"),
        "state.remove_ms": med("state_remove_ms"),
        "sink.rows": sink_rows,
    }
    layer.update(exec_metrics(rec["exec"], rec["region"]["wall_s"], rec["slots"]))
    return lat, layer


# ------------------------------------------------------------------ checks

def check_catalog(rec, fixture):
    con = checks.duck(fixture)
    failed, correct = 0, True
    for name in QUERIES:
        status = rec["check_writes"].get(name, "missing")
        if status != "written":
            # an output that was never written was never checked
            print(f"check {name}: FAILED OP, output unchecked ({status[:200]})")
            failed += 1
            correct = False
            continue
        sql = rec["oracle_sql"].get(name)
        why = "no oracle SQL" if sql is None else \
            checks.catalog(con, name, sql, os.path.join(rec["out"], "check", name))
        if why:
            print(f"check {name}: MISMATCH {why[:300]}")
            failed += 1
            correct = False
    return failed, correct


def check_stream(rec, input_dir, meta):
    if not rec["ok"]:
        print("check: FAILED OP (the streaming query stopped with an error; output unchecked)")
        return meta["n_files"] - len(rec["batches"]), False, 0
    panes = checks.sink_panes(os.path.join(rec["out"], "stream", "sink"))
    bad = checks.stream(checks.stream_expected(input_dir, meta), panes, rec["batches"], meta)
    for b in bad[:5]:
        print(f"check: MISMATCH {b[:300]}")
    return (len(rec["op_s"]) if bad else 0), not bad, len(panes)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--slots", type=int, default=len(os.sched_getaffinity(0)),
                    help="task slots and shuffle partitions (default: nproc); "
                         "README.md's single-slot reference runs use 1")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    jars = build()
    t_start = time.time()  # the 180 s limit applies once the build is done

    slots = args.slots
    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "out")
    harness = ["mode=" + wl["mode"], "out=" + out, f"trace={args.trace}", f"slots={slots}"]
    if wl["mode"] == "catalog":
        fixture = catalog_fixture(wl["sf"])
        order = QUERIES[:]
        random.Random(args.seed).shuffle(order)
        n_passes = math.ceil(args.seconds / wl["pass_s"])
        harness += ["fixture=" + fixture, "queries=" + ",".join(order), f"passes={n_passes}"]
    else:
        input_dir = os.path.join(run_dir, "input")
        meta = fixtures.stream(input_dir, args.seed, math.ceil(args.seconds / wl["batch_s"]))
        harness += ["input=" + input_dir] + [f"{k}={meta[k]}" for k in (
            "warm_files", "timed_files", "window_ms", "lateness_ms", "delay_ms", "early_count",
            "flush_key")]

    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap and young generation, not pre-touched: heap pages turn
        # resident only as the program fills them, and G1 does not resize
        # either one, so rss_peak_mb moves with the old generation's peak
        # (what the program keeps) and native memory (RocksDB) rather than
        # with when G1 decides to grow the heap
        "-Xms1g", "-Xmx1g", "-Xmn256m", "-Djava.io.tmpdir=" + tmp,
        # compiler threads that never exit keep their CPU countable (jit_cpu_s)
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-cp", ":".join([os.path.join(WORK, "classes"), os.path.abspath("target/scala-2.13/classes"),
                         os.path.join(jars, "*")]),
        "graftbench.Harness"] + harness
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(slots), SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(run_dir, "jvm.log")
    t_launch = time.time()
    code = run_logged(cmd, log, max(10, DEADLINE_S - (t_launch - t_start)), cwd=run_dir, env=env)
    if code != 0:
        die(f"harness exited with {code}:\n" + tail_of(log))
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)
    rec["out"] = out

    if wl["mode"] == "catalog":
        attempted = n_passes * len(QUERIES) + len(QUERIES)
        timed_failed = sum(not o["ok"] for p in rec["passes"] for o in p["ops"])
        check_failed, correct = check_catalog(rec, fixture)
        lat, layer = catalog_metrics(rec)
        warm = [round(p["wall_s"], 3) for p in rec["warm"]]
    else:
        attempted = meta["n_files"]
        timed_failed = 0
        check_failed, correct, sink_rows = check_stream(rec, input_dir, meta)
        lat, layer = stream_metrics(rec, meta, sink_rows)
        warm = [round(x, 3) for x in rec["warm_op_s"]]
    failed = timed_failed + check_failed

    region = rec["region"]
    # wall-clock figures are printed but not gated: host steal moves them
    # by more than any usable bound between runs (README.md, "Run-to-run
    # spread")
    print("env " + json.dumps({
        "nproc": len(os.sched_getaffinity(0)), "slots": rec["slots"],
        "timed_ops": len(lat), "warm_s": warm,
        "steal_share": round(region["steal_share"], 4), "loadavg_1m": region["loadavg_1m"],
        "wall_s": region["wall_s"], "op_p50_ms": statistics.median(lat),
        "jit_cpu_s": region["jit_cpu_s"], "cpu_net_jit_s": round(region["cpu_s"] - region["jit_cpu_s"], 3),
        "heap_peak_used_mb": rec["heap_peak_used_mb"],
        "jvm.gc_s": region["gc_s"], "jvm.jit_s": region["jit_s"],
        "attempted": attempted, "failed": failed}))
    if args.trace:
        layer.update({"jvm.gc_s": region["gc_s"], "jvm.jit_s": region["jit_s"],
                      "jvm.jit_cpu_s": region["jit_cpu_s"],
                      "trace.wall_s": region["wall_s"]})
        with open("BENCHMARK.json") as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        # a layer the workload never enters (state on the catalog, Catalyst
        # on the stream) reads 0
        metrics = {k: {"value": float(layer.get(k, 0)), "unit": units[k]} for k in units}
    else:
        metrics = {
            "setup_s": {"value": rec["first_op_epoch_ms"] / 1e3 - t_launch, "unit": "s"},
            "cpu_s": {"value": region["cpu_s"], "unit": "s"},
            "rss_peak_mb": {"value": rec["rss_peak_mb"], "unit": "MB"},
        }
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
