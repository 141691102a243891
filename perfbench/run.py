#!/usr/bin/env python3
"""The benchmark of record for graft's dwrf storage engine.

    python3 perfbench/run.py --workload scan|ingest|mutate --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program from the checkout's sources (``perfbench/build.py``),
runs one workload in one JVM (Spark ``local[k]``, k = min(4, nproc)) and
prints every metric by name with its unit. The last line of standard output
is one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``. The full record of the run (run context, set-up
breakdown, table sizes, per-op-kind latencies, failures) is written to
``.bench_out/<workload>-s<seed>-t<trace>/result.json``, and a traced run's
spans to ``spans.jsonl`` beside it. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
OUT = os.path.join(ROOT, ".bench_out")
TIMEOUT_S = 175
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "none (git unavailable)"


def jvm(classes, main, args, out, deadline):
    """Runs `main` in a fresh JVM on `classes`; returns its exit code, None on timeout."""
    # a fixed-size heap: the peak RSS then does not depend on when the
    # collector decided to grow it
    cmd = [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dperfbench.launchMs=%d" % int(time.time() * 1000),
            "-Dperfbench.commit=" + git_commit(),
            "-Dperfbench.sourceHash=" + build.source_hash(),
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            main] + args
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        expired = threading.Event()

        def expire():
            expired.set()
            proc.kill()

        watchdog = threading.Timer(max(1.0, deadline - time.time()), expire)
        watchdog.start()
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        return None if expired.is_set() else rc


def declared_metrics_match(tsv):
    """BENCHMARK.json declares exactly the metrics, with the units, the program reports."""
    with open(tsv) as fh:
        emitted = {tuple(line.split("\t")) for line in fh.read().splitlines() if line}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {(kind, m["name"], m["unit"]) for kind in ("end_to_end", "per_layer")
                for m in spec[kind]}
    for name in sorted(emitted ^ declared):
        print("BENCHMARK.json and the program disagree on %s" % (name,))
    print("%s   BENCHMARK.json declares the emitted metrics" % ("ok" if emitted == declared else "FAIL"))
    return emitted == declared


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["scan", "ingest", "mutate"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests, including a tiny traced smoke run")
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit("perfbench: build failed: %s" % e)
    started = time.time()

    if a.selftest:
        out = os.path.join(OUT, "selftest")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        rc = jvm(classes, "graft.perfbench.SelfTest", [out], out, started + 900)
        ok = rc == 0 and declared_metrics_match(os.path.join(out, "metrics.tsv"))
        sys.exit(0 if ok else 1)

    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    out = os.path.join(OUT, "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rc = jvm(classes, "graft.perfbench.Main",
             ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out], out, started + TIMEOUT_S)
    for scratch in ("tmp", "tables", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(out, scratch), ignore_errors=True)
    if rc != 0:
        sys.exit("perfbench: the JVM %s; see %s" % (
            "timed out" if rc is None else "exited with %d" % rc, os.path.join(out, "jvm.log")))
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    missing = [k for k, m in res["metrics"].items() if m["value"] is None]
    if missing:
        sys.exit("perfbench: no value for %s (too few samples?)" % ", ".join(sorted(missing)))
    for name, v in sorted(res["detail"]["op_metrics"].items()):
        print("%s.%s %s" % (a.workload, name, json.dumps(v)))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
