#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 1 --trace 0

Workloads: query_suite, omics_ae (see perfbench/README.md). The query suite
reads the TPC-H-shaped tables of TESTDATA.md at $PERFBENCH_SF_DIR (default
~/testdata/sf0.1). Everything a run writes stays under .bench_build/ in
the repository root; a traced run leaves its span file in
.bench_build/perfbench/traces/.

    python3 perfbench/run.py --self-test     # the benchmark's own tests
    python3 perfbench/run.py --goldens       # rewrite perfbench/goldens.tsv
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classes, main, args, work, timeout=None):
    """Runs a JVM in `work`, with its temporary files kept there too."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(build.OUT, "last-run.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {timeout} s (log: {log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return proc.returncode, out, log


def main():
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--goldens", action="store_true")
    a = ap.parse_args()
    sf_dir = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

    classes = build.build(tests=a.self_test)
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            code, out, log = java(classes, "perfbench.SelfTest", [], work)
        elif a.goldens:
            code, out, log = java(classes, "perfbench.Goldens",
                                  [sf_dir, work, os.path.join(build.BENCH, "goldens.tsv")], work)
        else:
            if a.workload is None:
                sys.exit("perfbench: --workload is required")
            if a.workload != "omics_ae" and not os.path.isdir(sf_dir):
                sys.exit(f"perfbench: no tables at {sf_dir}")
            spans = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            code, out, log = java(classes, "perfbench.Main", [
                a.workload, str(a.seed), str(a.seconds), str(a.trace), sf_dir, work,
                os.path.join(build.BENCH, "goldens.tsv"), spans], work, TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if code != 0:
        sys.exit(f"perfbench: JVM exited with {code} (log: {log})")


if __name__ == "__main__":
    main()
