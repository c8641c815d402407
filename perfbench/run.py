#!/usr/bin/env python3
"""Benchmark of the graft engine: fixed query-family workloads at sf0.1.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload graph-iter --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
then starts one JVM with a local[N] session that drives the workload's
queries through the public driver contract and checks every result hash.
The last line of standard output is the JSON result; see README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "out"
ARCHIVE = WORK / "classes.jsa"
# The sf0.1 tables, from the same variable and default as graft.Bench.
DATA_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Each workload is a fixed list of registered queries; the seed only
# permutes their order within every pass. README.md says why each was
# chosen and which queries were left out. "pass_s" is a warm pass's
# length on the reference host (README.md): --seconds buys that many
# warm passes, a count fixed before the run, because passes still speed
# up as the JIT warms and a count set by the clock would measure slow
# runs at an earlier, slower stage than fast ones.
WORKLOADS = {
    "graph-iter": {
        "queries": ["q34_connected_components", "q110_bfs_hops", "q329_lpa_exact"],
        "tables": ["documents"],
        "pass_s": 8.0,
    },
    "stream-replay": {
        "queries": ["q98_streaming_word_freq", "q128_streaming_restart_resume"],
        "tables": ["documents", "events"],
        "pass_s": 5.3,
    },
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed, pre-touched heap is resident from the start. The peak RSS less
# the heap then measures the memory outside it, and does not depend on
# when the collector happened to grow the heap.
HEAP = "2g"


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise BenchError("engine sources not found: run from the root of a full checkout")
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.monotonic()
    with open(WORK / "build.log", "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = (WORK / "build.log").read_text().splitlines()
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        raise BenchError(f"build failed (sbt exit {rc}); see {WORK / 'build.log'}")
    classes, *jars = lines[-1].strip().split(":")
    cp = ":".join([str(pack(Path(classes)))] + jars)
    log(f"compiled in {time.monotonic() - t0:.1f} s; archiving classes")
    archive_classes(cp)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.monotonic() - t0:.1f} s")
    return cp


def pack(classes):
    """Jars the compiled classes: the class archive accepts jars only."""
    jar = WORK / "perfbench.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    return jar


def archive_classes(cp):
    """Sets up once in a JVM that dumps the classes it loaded into a shared
    archive (AppCDS). Every later JVM maps that archive instead of loading
    and verifying those classes again, which roughly halves set-up. Only
    set-up is primed: the classes the workload queries load beyond it are
    still loaded in the first pass, as are all plans and generated code."""
    ARCHIVE.unlink(missing_ok=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    run_jvm(cp, ["--mode", "prime", "--cores", str(cores()), "--data", DATA_DIR,
                 "--work", str(WORK / "tmp")],
            WORK / "prime.err", 600, archive=False, extra=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])


# Read by every run: set-up warms on lineitem; a traced run's output
# self-check runs q01 on lineitem and its kernel micro-workload reads
# documents and embeddings.
COMMON_TABLES = ["lineitem", "documents", "embeddings"]


def check_inputs(tables):
    """Stops with one named error before any timed call if an input is absent."""
    missing = [t for t in dict.fromkeys(COMMON_TABLES + tables)
               if not (Path(DATA_DIR) / f"{t}.parquet").exists()]
    if missing:
        raise BenchError(f"missing benchmark input under {DATA_DIR}: "
                         + ", ".join(f"{t}.parquet" for t in missing))


def loadavg1():
    return float(Path("/proc/loadavg").read_text().split()[0])


def cpu_times():
    """Aggregate (busy, steal) jiffies from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def cores():
    return min(4, os.cpu_count() or 1)


def jvm(cp, args, stderr_path, archive=True, extra=()):
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if archive and ARCHIVE.is_file() else []
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xlog:cds=off",
        "-Xlog:cds+dynamic=off", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={WORK / 'tmp'}",
        *share, *extra, "-cp", cp, "perfbench.Main"] + args
    # Two malloc arenas: glibc otherwise makes one per busy thread, and the
    # memory outside the heap then varies with thread timing.
    env = dict(os.environ, LC_ALL="C.UTF-8", MALLOC_ARENA_MAX="2")
    with open(stderr_path, "w") as err:
        return subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, env=env, text=True, cwd=WORK)


def run_jvm(cp, args, stderr_path, timeout, **kw):
    """Starts the JVM; returns (seconds until ready, lines printed after ready)."""
    t0 = time.monotonic()
    proc = jvm(cp, args, stderr_path, **kw)
    watchdog = threading.Timer(timeout, proc.kill)
    watchdog.start()
    ready, lines = None, []
    try:
        for line in proc.stdout:
            if line.startswith("PB_READY") and ready is None:
                ready = time.monotonic() - t0
                log(f"ready after {ready:.2f} s ({line.split(' ', 1)[1].strip()})")
            elif line.startswith("PB_"):
                lines.append(line.rstrip("\n"))
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if time.monotonic() - t0 >= timeout:
        raise BenchError(f"JVM stopped after running past {timeout} s")
    if rc != 0 or ready is None:
        tail = Path(stderr_path).read_text().splitlines()[-15:]
        raise BenchError(f"JVM exited {rc}:\n" + "\n".join(tail))
    return ready, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    wl = WORKLOADS[a.workload]
    check_inputs(wl["tables"])
    cp = build()
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    nproc = os.cpu_count() or 1
    common = ["--cores", str(cores()), "--data", DATA_DIR, "--work", str(WORK / "tmp")]
    load_before, cpu_before = loadavg1(), cpu_times()

    spans = WORK / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
    ready, lines = run_jvm(cp, common + [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--passes", str(max(2, round(a.seconds / wl["pass_s"]))), "--trace", str(a.trace),
        "--queries", ",".join(wl["queries"]), "--expected", str(HERE / "expected.tsv"),
        "--spans", str(spans)], WORK / "run.err", 175)
    load_after, cpu_after = loadavg1(), cpu_times()
    busy, steal = (b - a for a, b in zip(cpu_before, cpu_after))
    rec = next((json.loads(l[len("PB_RESULT "):]) for l in lines if l.startswith("PB_RESULT ")), None)
    if rec is None:
        raise BenchError("the JVM printed no result")

    host = {"nproc": nproc, "local": f"local[{cores()}]", "heap": HEAP, "seed": a.seed,
            "workload": a.workload, "loadavg_before": load_before, "loadavg_after": load_after,
            "steal_pct": round(100 * steal / max(1, busy + steal), 2),
            "contended": load_before > nproc / 4}
    e2e = {"setup_s": {"value": ready, "unit": "s"}, **rec["e2e"]}
    info = rec["info"]
    print("# host " + json.dumps(host))
    print("# info " + json.dumps({k: v for k, v in info.items() if k != "failures"}))
    for f in info["failures"]:
        print(f"# FAILED {f}")
    shown = e2e if a.trace == 0 else rec["layers"]
    for k, v in shown.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    if a.trace == 1:
        print(f"# spans: {spans}")
    (WORK / "results").mkdir(exist_ok=True)
    with open(WORK / "results" / f"{a.workload}.jsonl", "a") as f:
        f.write(json.dumps({"host": host, "trace": a.trace, "e2e": e2e, "layers": rec["layers"],
                            "info": info, "hashes": rec["hashes"]}) + "\n")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": shown}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print(f"perfbench: error: {e}", file=sys.stderr)
        sys.exit(2)
