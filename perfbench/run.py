#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload csv_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
driver with sbt (perfbench/build.sbt); later runs reuse the build until a
source file changes. Each run generates its inputs from --seed, runs the
Scala driver in a private directory under .bench_build/ (its own
java.io.tmpdir and Spark local dir, deleted afterwards), checks every
output against the generator's ground truth (and, for catalog_mix, the
DuckDB oracle), and prints one JSON line last: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A detail file per
run is kept in .bench_build/results/.
"""
import argparse
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
sys.dont_write_bytecode = True   # leave nothing beside the sources

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170          # a run must end within 180 s
HEAP = "3g"
MIN_PASSES = 3            # timed passes at least; per-op times are medians over them
MIN_TRACED_PASSES = 5     # a traced run: warm-up pass 0, then one ABBA block
WORKLOADS = {             # rows of generated CSV, or the catalog fixture
    "csv_scan": 60_000,
    "catalog_mix": "sf0.001",
}
# seed-42 TPC-H-style tables plus documents and embeddings: the fixture
# the repo's DuckDB-oracle checks run on
FIXTURE = os.path.join(HERE, "fixture", WORKLOADS["catalog_mix"])
CATALOG_FILES = sorted(f for f in os.listdir(FIXTURE) if f.endswith(".parquet")) \
    if os.path.isdir(FIXTURE) else []
FOREIGN_CPU_FLAG = 0.25       # runs above this share of foreign CPU are flagged

JAVA_OPTS = [
    "-XX:-UsePerfData", "-XX:G1HeapRegionSize=32m", "-XX:+UnlockDiagnosticVMOptions",
    "-XX:GCLockerRetryAllocationCount=64",
    "-Duser.language=en", "-Duser.country=US",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------ build

def _source_stamp():
    """Digest of every file the build reads, by name, size and mtime."""
    h = hashlib.md5()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile graft and the driver; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no graft sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    os.makedirs(BUILD, exist_ok=True)
    cache = os.path.join(BUILD, "classpath.json")
    stamp = _source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp:
            return c["classpath"]
    log("perfbench: building graft and the driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = env.get("SBT_OPTS") or (
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
        f"-Dsbt.offline=true -Xmx2g" if os.path.exists(repos) else "-Xmx2g")
    tmp = os.path.join(BUILD, "sbt-tmp")   # keep sbt's scratch in the checkout
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"   # also the launcher's probes
    env["TMPDIR"] = tmp
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    cp = [l for l in p.stdout.splitlines()
          if os.path.join("perfbench", "target") in l and ".jar" in l]
    if p.returncode != 0 or not cp:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"perfbench: sbt build failed ({p.returncode})")
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


# ------------------------------------------------------------ host load

def _proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    return sum(v) - idle, sum(v)


def _graftrc_on_path(cwd):
    d = os.path.abspath(cwd)
    while True:
        if os.path.exists(os.path.join(d, ".graftrc")):
            return os.path.join(d, ".graftrc")
        if os.path.dirname(d) == d:
            break
        d = os.path.dirname(d)
    home = os.path.expanduser("~/.graftrc")
    return home if os.path.exists(home) else None


# ------------------------------------------------------------ run

def prepare_inputs(workload, seed, data):
    """Lay out the workload's inputs; return (driver --input, truth, bytes).
    csv_scan generates its CSV from the seed; catalog_mix reads the
    checked-in fixture, and the seed only orders its queries."""
    if workload == "catalog_mix":
        return FIXTURE, None, sum(os.path.getsize(os.path.join(FIXTURE, f))
                                  for f in CATALOG_FILES)
    path = os.path.join(data, "input.csv")
    truth = gen.write_csv(path, seed, WORKLOADS[workload])
    return path, truth, truth["bytes"]


def run_driver(classpath, workload, seed, seconds, trace, inp, rundir, deadline):
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    report = os.path.join(rundir, "report.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + JAVA_OPTS + [
        "-cp", classpath, "perfbench.Driver",
        "--workload", workload, "--input", inp, "--out", report,
        "--queries", ",".join(check.QUERIES),
        "--seconds", str(seconds), "--min-passes", str(MIN_TRACED_PASSES if trace else MIN_PASSES),
        "--trace", str(trace),
        "--cores", str(cores), "--seed", str(seed),
        "--scratch", os.path.join(rundir, "scratch")]
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    with open(os.path.join(rundir, "driver.log"), "wb") as errf:
        p = subprocess.Popen(cmd, cwd=rundir, env=env, stdin=subprocess.DEVNULL,
                             stdout=errf, stderr=errf)
        try:
            p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: driver timed out")
        finally:   # never leave the JVM behind, whatever ended this run
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(report):
        with open(os.path.join(rundir, "driver.log"), errors="replace") as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: driver failed ({p.returncode})")
    with open(report) as f:
        return json.load(f), cores


def oracle_failures(results, catalog_dir):
    """Queries whose last result differs from DuckDB on the same data."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for f in CATALOG_FILES:
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(catalog_dir, f)}')")
    bad = {}
    for q, sql in sorted(oracles.items()):
        d = os.path.join(results, q)
        if not os.path.isdir(d):
            bad[q] = "no result"
            continue
        try:
            mine = pq.read_table(d).to_pandas()
            why = check.compare_frames(mine, con.execute(sql).df())
        except Exception as e:   # an oracle that cannot run is a failure too
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[q] = why
    return bad


def op_seconds(report):
    """Per operation: its time in the set-up pass and in the timed passes."""
    out = {}
    for o in report["ops"]:
        kind = "setup" if o["pass"].startswith("s") else "timed"
        out.setdefault(o["name"], {"setup": [], "timed": []})[kind].append(round(o["s"], 4))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an error: the JVM is stopped, the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath = build()
    deadline = max(deadline, time.time() + DEADLINE_S)   # the build is not timed

    rundir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "data"))
    try:
        inp, truth, size = prepare_inputs(a.workload, a.seed,
                                          os.path.join(rundir, "data"))
        graftrc = _graftrc_on_path(rundir)
        busy0, total0 = _proc_stat()
        load0 = os.getloadavg()[0]
        self0 = os.times()
        report, cores = run_driver(classpath, a.workload, a.seed, a.seconds,
                                   a.trace, inp, rundir, deadline)
        busy1, total1 = _proc_stat()
        self1 = os.times()
        hz = os.sysconf("SC_CLK_TCK")
        ours = ((self1.children_user + self1.children_system + self1.user + self1.system)
                - (self0.children_user + self0.children_system + self0.user + self0.system))
        host = {
            "foreign_cpu_frac": max(0.0, ((busy1 - busy0) - ours * hz) / max(total1 - total0, 1)),
            "loadavg": (load0 + os.getloadavg()[0]) / 2,
        }
        host["contaminated"] = host["foreign_cpu_frac"] > FOREIGN_CPU_FLAG

        bad = {}
        if a.workload == "catalog_mix":
            bad = oracle_failures(os.path.join(rundir, "scratch", "results"), inp)
        attempted, failed, reasons = check.check_ops(report, truth, bad)
        if graftrc:
            failed += 1
            reasons.append(f"a .graftrc is on the config path: {graftrc}")
        metrics = (check.per_layer(report, size, host) if a.trace
                   else check.end_to_end(report))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    declared = bench["per_layer" if a.trace else "end_to_end"]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                          for m in declared}}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "cores": cores, "heap": HEAP,
              "size": WORKLOADS[a.workload], "input_bytes": size,
              "host": host, "passes": len(report["passes"]),
              "setup_s": report["setup_s"], "info": report["info"],
              "builds": report["builds"], "failures": reasons[:50],
              "op_seconds": op_seconds(report),
              "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for r in reasons[:20]:
        print(f"FAILED {r}")
    print(f"host: foreign_cpu_frac={host['foreign_cpu_frac']:.3f} "
          f"loadavg={host['loadavg']:.2f} contaminated={str(host['contaminated']).lower()}")
    print(f"passes={len(report['passes'])} setup_s={report['setup_s']:.3f} "
          f"shuffle_partitions={report['info']['shuffle_partitions']}")
    problems = check.validate_result(result, bench, a.trace)
    if problems:
        raise SystemExit(f"perfbench: malformed result: {problems}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
