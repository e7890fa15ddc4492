#!/usr/bin/env python3
"""The repository benchmark: builds the engine and this harness from
source, runs one workload in one JVM, checks its outputs and prints one
JSON result line.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 30 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end
metrics; `--trace 1` runs the traced variant and prints the per-layer
metrics. The line before the result is a stamp (cores, source digest,
seed, Spark version, JVM heap size, CPU calibration before and after) that
makes any two results comparable. `--record DIR` instead dumps the gate
outputs and oracle SQL to DIR, rewrites expected_digests.json, and
compares the outputs against DuckDB with tools/check.py.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("daily_cycle", "gates")
# Wall seconds of one round (a day, or one pass over the gates) on a
# 4-core machine; --seconds buys this many rounds, so the work per run is
# fixed for a given --seconds.
NOMINAL_ROUND_S = {"daily_cycle": 10.0, "gates": 6.0}
DEADLINE_S = 175.0
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """sha256 over every file the build reads, as a commit stand-in for
    checkouts that are not git repositories."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(digest, deadline):
    """Compiles the engine and the harness with sbt; returns the runtime
    classpath, cached per source digest."""
    cp_file = os.path.join(BUILD, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            HERE, out, deadline - time.time())
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code})")
    cp = next((l.strip() for l in reversed(lines)
               if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def run_bounded(cmd, cwd, out, timeout):
    """Runs cmd in its own process group; kills the group and waits for
    it if it outlives the timeout. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no perf-data file, which the JVM would write under /tmp
    cmd = ["java", *opens, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        code = run_bounded(cmd, ROOT, out, deadline - time.time())
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {code})")


def end_to_end(rec):
    ops = [(o["end"] - o["start"]) / 1000.0 for o in rec["ops"]]
    return {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "op_s_p50": (statistics.median(ops), "s"),
        "run_s": (sum(rec["round_s"]), "s"),
        # the median, not the maximum: a sample can still hold blocks that
        # Spark frees asynchronously after an op, which made the maximum
        # jump by about 17 MB between runs of the same code
        "heap_live_mb": (statistics.median(rec["heap_live_mb"]), "MB"),
    }


def per_layer(rec):
    traced = [o for o in rec["ops"] if o["traced"]]
    plain = [o for o in rec["ops"] if not o["traced"]]
    rounds = len({o["round"] for o in traced})
    layers = stats.layer_metrics(rec["spans"], rec["jobs"], rec["plans"],
                                 rec["cores"], rounds)
    out = {f"{l}.{f}": (layers[l][f], unit)
           for l in stats.LAYERS for f, unit in stats.LAYER_FIELDS}

    def p50(xs):
        return statistics.median((o["end"] - o["start"]) for o in xs)
    out["trace.overhead"] = (p50(traced) / p50(plain), "ratio")
    out["trace.span_coverage"] = (stats.span_coverage(rec["spans"]), "ratio")
    loads = rec.get("loads", [])[1:]
    snapshot = rec.get("snapshot_rows", [])[1:]
    incoming = sum(l["incoming"] for l in loads)
    # bytes a day's load scanned and shuffled, first traced day vs last
    day_bytes = [
        sum(j["in_bytes"] + j["shuffle_bytes"] for j in rec["jobs"]
            if j["span"] == s["id"]) +
        sum(p["parquet_bytes"] for p in rec["plans"]
            if stats.innermost(rec["spans"], p["start"]) == s["id"])
        for s in rec["spans"] if s["name"] == "pipelines"]
    day_s = sum((o["end"] - o["start"]) / 1000.0 for o in rec["ops"])
    out.update({
        "pipelines.keep_ratio": (incoming / sum(snapshot) if snapshot else 0.0,
                                 "ratio"),
        "pipelines.update_ratio": (
            sum(l["updates"] for l in loads) / incoming if incoming else 0.0,
            "ratio"),
        "pipelines.bytes_growth": (
            day_bytes[-1] / day_bytes[0] if len(day_bytes) > 1 and
            day_bytes[0] else 0.0, "ratio"),
        "pipelines.dw_bytes_per_fact": (
            rec["dw_bytes"] / rec["dw_rows"] if rec.get("dw_rows") else 0.0,
            "B"),
        "cycle.facts_per_s": (sum(snapshot) / day_s if snapshot else 0.0,
                              "1/s"),
    })
    return out


def failures(rec):
    """Ops that raised or whose output was wrong, and the reasons."""
    reasons = [f"{o['name']}: {o['error']}" for o in rec["ops"]
               if "error" in o]
    failed = len(reasons)
    reasons += rec["violations"]
    failed += len(rec["violations"])
    if "digests" in rec:
        with open(os.path.join(HERE, "expected_digests.json")) as f:
            expected = json.load(f)
        for gate, got in rec["digests"].items():
            if got != expected.get(gate):
                reasons.append(f"{gate}: output {got} != {expected.get(gate)}")
                failed += sum(1 for o in rec["ops"] if o["name"] == gate
                              and "error" not in o)
    return min(failed, len(rec["ops"])), reasons


def main():
    # a terminated benchmark unwinds, so its JVM or build is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="DIR")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from a full checkout: the engine sources are missing")
    digest = source_digest()
    cp = build(digest, time.time() + 900)
    deadline = max(deadline, time.time() + 150)
    rounds = max(1, round(a.seconds / NOMINAL_ROUND_S[a.workload]))
    if a.trace:
        # traced rounds alternate with untraced ones, traced first and last
        rounds = 2 * rounds + 1
    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    try:
        args = [a.workload, str(a.seed), str(rounds), str(a.trace),
                os.path.join(run_dir, "root"),
                os.path.join(BUILD, f"gate-inputs-{digest}"), out]
        if a.record:
            record(cp, args, run_dir, deadline, os.path.abspath(a.record))
            return
        run_jvm(cp, args, run_dir, deadline)
        with open(out) as f:
            rec = json.load(f)
    finally:
        if not a.record:
            shutil.rmtree(run_dir, ignore_errors=True)
    failed, reasons = failures(rec)
    for r in reasons:
        print(f"perfbench: failed: {r}", file=sys.stderr)
    times = [(o["end"] - o["start"]) / 1000.0 for o in rec["ops"]
             if not o["traced"]]
    tail = stats.tail_percentile(times)
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True) \
        if os.path.isdir(os.path.join(ROOT, ".git")) else None
    print(json.dumps({"stamp": {
        "workload": a.workload, "seed": a.seed, "rounds": rounds,
        "trace": a.trace, "nproc": rec["cores"],
        "commit": git.stdout.strip() if git and git.returncode == 0
        else None,
        "source_digest": digest, "spark_version": rec["spark_version"],
        "heap_max_mb": rec["heap_max_mb"], "calib_s": rec["calib_s"],
        "phases_s": rec["phases"],
        "ops": len(times),
        "op_s": [[o["name"], round((o["end"] - o["start"]) / 1000.0, 3)]
                 for o in rec["ops"] if not o["traced"]],
        "op_s_tail": None if tail is None else
        {"percentile": tail[0], "value": tail[1], "samples": len(times)},
    }}))
    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    print(json.dumps({
        "correct": failed == 0 and not reasons,
        "attempted": len(rec["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


def record(cp, args, run_dir, deadline, out_dir):
    """Dumps the gate outputs for the DuckDB oracle and records their
    digests as the expected ones."""
    if args[0] != "gates":
        fail("--record applies to the gates workload")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    run_jvm(cp, args + [out_dir], run_dir, deadline)
    with open(args[6]) as f:
        digests = json.load(f)["digests"]
    with open(os.path.join(HERE, "expected_digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    check = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         args[5], out_dir])
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(check.returncode)


if __name__ == "__main__":
    main()
