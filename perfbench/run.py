#!/usr/bin/env python3
"""Benchmark entry point: builds the program from this checkout, runs one
workload in a fresh JVM, checks its outputs, and prints one JSON result.

Usage (from the root of the checkout):
    python3 perfbench/run.py --workload room_route_backlog --seed 1 \
        --seconds 24 --trace 0

Workloads: room_route_backlog, catalog_mix (see
perfbench/README.md). `--trace 0` reports the end-to-end metrics of
BENCHMARK.json; `--trace 1` reports its per-layer metrics, writes the
span file and the self-time table, and prints the tracing overhead
against the last untraced run of the same workload in this checkout.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything the run writes stays under $CARGO_TARGET_DIR (default
.bench_build) and perfbench/harness/target.
"""
import argparse
import glob
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
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
WORKLOADS = ("room_route_backlog", "catalog_mix")
DEADLINE_S = 175.0
# The JVM sees half of this machine's cores, so Spark (local[CORES]), GC
# and JIT size their threads to it. The benchmark shares a few cores of a
# busy host; sized to every core, the catalog's timings spread 0.20-0.22
# (IQR / median) over five seeds, against 0.08-0.16 at half.
# The parallel collector runs no GC threads beside the queries, and huge
# pages cut TLB misses; against G1 with small pages, six paired catalog
# runs were 14% faster at p50 and the p75 spread fell from 0.13 to 0.05.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, timeout, cwd, log, env=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HARNESS, "src", "**", "*"), recursive=True) +
                   [os.path.join(HARNESS, "build.sbt"),
                    os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(logdir, deadline):
    """Compile the program and harness with sbt unless the sources are
    unchanged since the last build."""
    stamp = os.path.join(HARNESS, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_HOME=os.path.dirname(spark_jars()))
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    rc = run_proc([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                  deadline - time.time(), HARNESS, os.path.join(logdir, "build.log"), env)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(logdir, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def spark_jars():
    """Spark's jars, from SPARK_HOME or from the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark: set SPARK_HOME")
    return os.path.join(home, "jars")


def java_cmd(work):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{JVM_HEAP}", f"-XX:ActiveProcessorCount={CORES}",
        "-XX:+UseParallelGC", "-XX:+UseTransparentHugePages",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                                os.path.join(spark_jars(), "*")]), "perfbench.Main"]


def gen_tables(out, seed, logdir):
    """Generate the catalog's input tables from the seed. This is the
    benchmark's own input, not the program's work, so it is not timed."""
    rc = run_proc([sys.executable, os.path.join(HERE, "gen_tables.py"), out, str(seed)],
                  120, ROOT, os.path.join(logdir, "gen.log"))
    if rc != 0:
        fail("table generation failed")


def parity(verify_dir, tables, logdir, deadline):
    """Oracle check of the catalog results with the repo's DuckDB compare."""
    log = os.path.join(logdir, "parity.log")
    env = dict(os.environ, PARITY_THREADS="2")
    rc = run_proc([sys.executable, os.path.join(ROOT, "tools", "check_parity.py"),
                   verify_dir, tables], deadline - time.time(), ROOT, log, env)
    text = open(log).read()
    ok = sum(1 for line in text.splitlines() if line.startswith("[ok]"))
    bad = [line for line in text.splitlines() if line.startswith("[FAIL")]
    return rc == 0 and not bad, ok, bad


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala", "tools/check_parity.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    work = os.path.join(base, "work")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    build(work, t_start + 880)
    deadline = time.time() + DEADLINE_S - min(5.0, time.time() - t_start)

    tables = ""
    if a.workload == "catalog_mix":
        tables = os.path.join(work, "tables")
        gen_tables(tables, a.seed, work)
    report = os.path.join(work, "report.json")
    cmd = java_cmd(work) + [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, report]
    if tables:
        cmd.append(tables)
    rc = run_proc(cmd, deadline - 30 - time.time(), work, os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(report):
        fail(f"workload run failed (exit {rc}); see {os.path.join(work, 'jvm.log')}", 3)
    rep = json.load(open(report))
    e2e = rep["e2e"]
    for m in spec["end_to_end"]:
        if e2e.get(m["name"]) is None:
            # a metric the run could not measure (no samples) is a broken
            # run, never a 0
            fail(f"end-to-end metric {m['name']} was not measured", 5)

    checks = [(c["name"], c["ok"], c["detail"]) for c in rep["checks"]]
    failed = int(rep["failed"])
    attempted = int(rep["attempted"])
    if a.workload == "catalog_mix":
        ok, n_ok, bad = parity(os.path.join(work, "verify_out"), tables, work, deadline)
        checks.append(("oracle_parity", ok, f"{n_ok} ok, failures: {bad}"))
        failed += len(bad)
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print(f"box probe_sec={rep['probe_sec']:.3f} (contention probe, not gated)")
    for k, v in sorted(rep["samples"].items()):
        print(f"sample {k}={v}")

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump(rep, fh, indent=1)
    if a.trace:
        out = os.path.join(results, "trace-" + tag)
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(os.path.join(work, "trace"), out)
        print(f"spans: {os.path.join(out, 'spans.jsonl')}")
        print(f"self time by layer: {os.path.join(out, 'self_time.tsv')}")
        for row in rep["self_time"]:
            print(f"  self {row['layer']}: {row['self_ms']:.1f} ms over {row['spans']} spans")
        last = os.path.join(base, f"last-untraced-{a.workload}.json")
        if os.path.exists(last):
            ref = json.load(open(last))
            over = {k: e2e[k] - ref[k] for k in e2e if k in ref and e2e[k] is not None
                    and ref[k] is not None}
            with open(os.path.join(out, "tracing_overhead.json"), "w") as fh:
                json.dump({"traced": e2e, "untraced": ref, "traced_minus_untraced": over}, fh,
                          indent=1)
            for k, v in sorted(over.items()):
                print(f"tracing overhead {k}: {v:+.4f}")
        else:
            print("tracing overhead: no untraced run of this workload yet")
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        vals = rep["per_layer"]
    else:
        with open(os.path.join(base, f"last-untraced-{a.workload}.json"), "w") as fh:
            json.dump(e2e, fh)
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        vals = e2e
    correct = failed == 0 and all(ok for _, ok, _ in checks)
    metrics = {}
    for n in names:
        v = vals.get(n)
        # per-layer metrics of another workload's layers read 0 here
        metrics[n] = {"value": float(v) if v is not None else 0.0, "unit": units[n]}
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
