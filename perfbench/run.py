#!/usr/bin/env python3
"""Benchmark of the downloaderspark engine. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

W is one of query_floor, archive_daily, corpus_ingest, query_heavy, or
`all` for the first three one after another. The first run in a checkout
builds the engine and the harness (sbt, offline) and generates the fixture
tables with tools/gen_testdata.py (scale 10, sf0.01-shaped, for the query
workloads; scale 100, sf0.1-shaped, whose `documents` feed the ingest
workload). Both are cached under perfbench/.build/ and redone when their
sources change.

Each workload runs in one JVM (perfbench.Main) with a local[nproc] Spark
session and one closed-loop client. With --trace 0 the last stdout line
holds the end-to-end metrics; with --trace 1 the per-layer metrics of a
traced window and the tracing overhead. The line before it is the full,
self-describing result (seed, nproc, loadavg, JVM and Spark versions,
source digest, fail_ratio, errors). Query workloads are checked against
the DuckDB oracle (graft.Verify dump + tools/check.py) once per run,
outside the measured window.

Unit tests of the harness: `cd perfbench && sbt test`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["query_floor", "archive_daily", "corpus_ingest"]
# runnable, but not in BENCHMARK.json: two warm-up passes alone take
# about 70 s, beyond one run's share of the benchmark's time budget
EXTRA = ["query_heavy"]
SCALES = {"sf0.01": 10, "sf0.1": 100}
TABLES = {"query_floor": "sf0.01", "query_heavy": "sf0.01",
          "archive_daily": "sf0.01", "corpus_ingest": "sf0.1"}
# The heap limit and the default collector (G1) of tools/graft-downloader,
# so garbage collection falls inside the timed ops as it does deployed.
# Heap and young generation are fixed in size: where G1 sized them, peak
# resident memory moved by a fifth to a third (IQR over median, five seeds)
# between runs of the same workload.
JVM = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, ".out")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    """sha256 over the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def require_checkout():
    need = ["build.sbt", "project/build.properties", "src/main/scala/graft",
            "tools/gen_testdata.py", "tools/check.py"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail("not inside a downloaderspark checkout; missing " + ", ".join(missing))


def run_logged(cmd, cwd, env, deadline, log):
    """Run `cmd` in its own process group, stderr to `log`; kill the group
    if it outlives `deadline`. Returns its stdout."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=fh, stdin=subprocess.DEVNULL,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{os.path.basename(cmd[0])} did not finish; see {os.path.relpath(log, ROOT)}")
    if p.returncode != 0:
        fail(f"{os.path.basename(cmd[0])} exited {p.returncode}; see {os.path.relpath(log, ROOT)}")
    return out


def build(deadline):
    """Compile the engine and the harness; return (classpath, source digest)."""
    srcs = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    srcs += [os.path.join(BENCH, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    key = digest(srcs)
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["digest"] == key and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], key
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    out = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                     BENCH, env, deadline, os.path.join(BUILD, "sbt.log"))
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        fail("build printed no classpath; see perfbench/.build/sbt.log")
    cp = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"digest": key, "classpath": cp}, fh)
    return cp, key


def tables(deadline):
    """Generate the fixture tables once per generator version."""
    gen = os.path.join(ROOT, "tools", "gen_testdata.py")
    data = os.path.join(BUILD, "data-" + digest([gen])[:16])
    for name, scale in SCALES.items():
        sf = os.path.join(data, name)
        if not os.path.exists(sf):
            for old in os.listdir(BUILD):
                if old.startswith("data-") and old != os.path.basename(data):
                    shutil.rmtree(os.path.join(BUILD, old))
            run_logged([sys.executable, gen, sf + ".tmp", str(scale)], ROOT, dict(os.environ),
                       deadline, os.path.join(BUILD, "gen.log"))
            os.rename(sf + ".tmp", sf)
    return data


def oracle(sf, dump, deadline):
    """tools/check.py over the Verify dump: (failing query names, all passed)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf, dump],
                       cwd=ROOT, capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.time()))
    with open(os.path.join(OUT, "check.log"), "w") as fh:
        fh.write(p.stdout + p.stderr)
    failing = re.findall(r"^FAIL (\S+?):", p.stdout, re.M)
    passing = re.findall(r"^PASS (\S+) ", p.stdout, re.M)
    return failing, p.returncode == 0 and not failing and bool(passing)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return p.stdout.strip() or None


def one(workload, seed, seconds, trace, cp, data, src_digest, deadline):
    work = os.path.join(BENCH, ".work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    result = os.path.join(OUT, f"{workload}-seed{seed}-trace{int(trace)}.json")
    if os.path.exists(result):
        os.remove(result)
    sf = os.path.join(data, TABLES[workload])
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + JVM + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + tmp, "-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--sf", sf, "--work", work, "--out", result])
    try:
        run_logged(cmd, work, env, deadline - 10, os.path.join(OUT, f"{workload}.log"))
        with open(result) as fh:
            r = json.load(fh)
        r["info"].update(source_digest=src_digest, git_sha=git_sha(), tables=TABLES[workload])
        if workload.startswith("query_"):
            failing, ok = oracle(sf, os.path.join(work, "oracle-dump"), deadline)
            r["oracle_failures"] = failing
            if not ok:
                r["correct"] = False
                r["errors"].append("oracle: " + (", ".join(failing) or "check.py failed"))
                bad = sum(r["ops_by_label"].get(q, 0) for q in failing) or r["attempted"]
                r["failed"] = max(r["failed"], bad)
        r["fail_ratio"] = r["failed"] / r["attempted"]
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="downloaderspark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    # a terminated run still stops its children (run_logged kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    require_checkout()
    t0 = time.time()
    cp, src_digest = build(t0 + BUILD_LIMIT_S)
    data = tables(t0 + BUILD_LIMIT_S)
    # a run that had to build keeps the first-run allowance
    slack = max(0.0, time.time() - t0 - 5)
    results = []
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        deadline = time.time() + RUN_LIMIT_S + (slack if not results else 0)
        results.append(one(w, a.seed, a.seconds, bool(a.trace), cp, data, src_digest, deadline))
    for r in results:
        print(json.dumps(r, sort_keys=True))
    for r in results:
        ms = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in r["metrics"].items())
        print(f"# {r['workload']}: fail_ratio={r['fail_ratio']:.4g} (ratio), {ms}")
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()}
    print(json.dumps({"correct": all(bool(r["correct"]) for r in results),
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
