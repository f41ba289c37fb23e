#!/usr/bin/env python3
"""Benchmark for graft: one workload, one seed, one fresh JVM.

Run from the root of a checkout:

    python3 edwbench/run.py --workload warehouse_nightly --seed 1 --seconds 20 --trace 0

It compiles graft's main sources and the benchmark's own sources with the
Scala compiler that ships in Spark's jars (cached by source hash under
.bench_build/), wipes the run's scratch space and starts a fresh JVM,
which builds a session, runs the workload's keys once cold (set-up) and
twice timed, and checks every key run's drained digest against
edwbench/golden.tsv. The last line of stdout is one JSON object:
correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). A run is a fixed amount
of work; --seconds is accepted and does not change it.

Other modes:
    --selftest          the benchmark's own tests
    --refresh-golden    re-record golden.tsv (see edwbench/README.md)
    --check-dump DIR    compare golden.tsv with a graft.Verify dump
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build", "edwbench")
DATA = os.path.join(BENCH, "data", "sf0.01")
GOLDEN = os.path.join(BENCH, "golden.tsv")
WORKLOADS = ["warehouse_nightly", "corpus_rag"]
HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_s": "s",
    "peak_rss_mb": "MB", "ok_ratio": "ratio",
}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("core_util", "rows_per_out_row")):
        return "ratio"
    return "count"


_child = None


def _stop(signum, _frame):
    """Stops the running child process before exiting on a signal."""
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs cmd to completion (or kills it after timeout seconds); returns
    (return code, stdout)."""
    global _child
    _child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        code, _child = _child.returncode, None
    return code, out


def fail(msg):
    print(f"edwbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no Spark jars under {home}/jars; set SPARK_HOME")
    return jars


def build(jars):
    """Compiles graft's main sources and the benchmark's sources; returns
    the class directory. Reuses an earlier build of the same sources."""
    files = sorted(glob.glob(os.path.join(SOURCES, "**", "*.scala"), recursive=True)) + \
        sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join(jars)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", "-Xss32m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", cp] + files
    code, log = run_child(cmd, BUILD_TIMEOUT_S, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(log[-4000:])
        fail("build failed")
    open(os.path.join(out, ".done"), "w").close()
    # keep only this build
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def fresh_scratch():
    """Wipes and recreates the run's scratch space: artifacts, Spark's
    local and warehouse directories, and the JVM's temp directory."""
    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("local", "warehouse", "artifacts", "tmp"):
        os.makedirs(os.path.join(scratch, d))
    return scratch


def java_cmd(classes, jars, scratch):
    """The JVM command line of every run: fixed heap, Spark's module
    options, temp and log settings, then graftbench.Main."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss32m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join([classes] + jars), "graftbench.Main",
                  "--cores", str(len(os.sched_getaffinity(0))), "--scratch", scratch,
                  "--data", DATA]


def jvm(classes, jars, args, log):
    """Runs graftbench.Main in a fresh JVM and returns its RESULT object."""
    scratch = fresh_scratch()
    cmd = java_cmd(classes, jars, scratch) + ["--launched-ms", str(int(time.time() * 1000))] + args
    with open(log, "w") as err:
        code, out = run_child(cmd, JVM_TIMEOUT_S, stderr=err)
    shutil.rmtree(scratch, ignore_errors=True)
    results = [line[len("RESULT "):] for line in out.splitlines() if line.startswith("RESULT ")]
    if code != 0 or not results:
        sys.stderr.write(out[-2000:])
        fail(f"JVM exited with {code}; log in {log}")
    return json.loads(results[-1])


def read_golden():
    rows = {}
    with open(GOLDEN) as fh:
        for line in fh:
            if line.strip() and not line.startswith("#"):
                k, n, d = line.rstrip("\n").split("\t")
                rows[k] = (int(n), d)
    return rows


def refresh_golden(classes, jars):
    old = read_golden() if os.path.exists(GOLDEN) else {}
    rows = {}
    for w in WORKLOADS:
        r = jvm(classes, jars, ["--workload", w, "--seed", "0", "--golden", ""],
                os.path.join(WORK, f"golden-{w}.log"))
        for k in r["keys"]:
            if k["error"]:
                fail(f"{k['key']} failed while recording goldens: {k['error']}")
            if rows.setdefault(k["key"], (k["rows"], k["digest"])) != (k["rows"], k["digest"]):
                fail(f"{k['key']} gave different outputs in one run: {rows[k['key']]} vs "
                     f"{(k['rows'], k['digest'])}")
    with open(GOLDEN, "w") as fh:
        fh.write("# key\trows\tdigest (edwbench/README.md: refreshing a golden)\n")
        for k in sorted(rows):
            fh.write(f"{k}\t{rows[k][0]}\t{rows[k][1]}\n")
    changed = sorted(k for k in rows if old.get(k) != rows[k])
    print(json.dumps({"keys": len(rows), "changed": changed}))


def check_dump(classes, jars, dump):
    """Compares golden.tsv with the digests of a graft.Verify dump whose
    outputs tools/check.py has passed against the DuckDB oracle."""
    golden = read_golden()
    dumped = jvm(classes, jars, ["--mode", "digest-dump", "--data", dump],
                 os.path.join(WORK, "digest-dump.log"))
    diff = {k: {"golden": golden.get(k), "dump": v} for k, v in dumped.items()
            if golden.get(k) != (v["rows"], v["digest"])}
    print(json.dumps({"compared": len(dumped), "golden_keys": len(golden), "mismatched": diff}))
    sys.exit(1 if diff or not dumped else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--refresh-golden", action="store_true")
    ap.add_argument("--check-dump", metavar="DIR")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail(f"graft sources not found under {SOURCES}; run from the root of a graft checkout")
    if shutil.which("java") is None:
        fail("java not found")
    jars = spark_jars()
    os.makedirs(WORK, exist_ok=True)
    classes = build(jars)

    if a.selftest:
        scratch = fresh_scratch()
        with open(os.path.join(WORK, "selftest.log"), "w") as err:
            code, out = run_child(java_cmd(classes, jars, scratch) + ["--mode", "selftest"],
                                  JVM_TIMEOUT_S, stderr=err)
        shutil.rmtree(scratch, ignore_errors=True)
        print(out, end="")
        sys.exit(code)
    if a.refresh_golden:
        refresh_golden(classes, jars)
        return
    if a.check_dump:
        check_dump(classes, jars, os.path.abspath(a.check_dump))
    if a.workload is None:
        fail("--workload is required")

    out_dir = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}")
    r = jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                            "--golden", GOLDEN, "--out", out_dir],
            os.path.join(WORK, f"{a.workload}.log"))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(r, fh, indent=1)

    info = {k: r[k] for k in ("workload", "seed", "nproc", "heap_mb", "loadavg_start",
                              "loadavg_end", "query_samples", "failures")}
    info["fail_ratio"] = r["failed"] / r["attempted"]
    print(json.dumps(info))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in r["per_layer"].items()}
    else:
        metrics = {k: {"value": r["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
