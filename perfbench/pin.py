#!/usr/bin/env python3
"""Re-pins perfbench/expected.tsv: the result hash of every workload query
and the checksum of every kernel in the expr micro-workload.

Usage (from the root of a checkout): python3 perfbench/pin.py

The JVM dumps each query result as parquet, as graft.Verify does, and
prints its hash. tools/check_oracle.py (used as is) then compares each dump
with the query's DuckDB oracle. A query with an oracle is pinned only when
the oracle agrees ("oracle"); a query without one is pinned as it stands
("pinned"). Any oracle disagreement aborts without writing the file.
"""
import subprocess
import sys

import run


def main():
    cp = run.build()
    queries = sorted({q for wl in run.WORKLOADS.values() for q in wl["queries"]})
    run.check_inputs(sorted({t for wl in run.WORKLOADS.values() for t in wl["tables"]}))
    pin_dir = run.WORK / "pin"
    (run.WORK / "tmp").mkdir(parents=True, exist_ok=True)
    _, lines = run.run_jvm(cp, [
        "--mode", "pin", "--cores", str(run.cores()),
        "--data", run.DATA_DIR, "--work", str(run.WORK / "tmp"), "--seed", "0",
        "--queries", ",".join(queries), "--pin-dir", str(pin_dir)],
        run.WORK / "pin.err", 3600)
    pins = dict(l[len("PB_PIN "):].split("\t") for l in lines if l.startswith("PB_PIN "))
    self_check = next(l for l in lines if l.startswith("PB_SELFCHECK ")).split(" ", 1)[1]
    if self_check != "ok":
        sys.exit(f"hash self-check failed: {self_check}")

    out = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle.py"),
                          run.DATA_DIR, str(pin_dir)], capture_output=True, text=True).stdout
    status = {}
    for line in out.splitlines():
        body = line[2:].strip()
        if body.startswith("rows-only "):
            status[body.split()[1].rstrip(":")] = "pinned"
        elif ": " in body and body.split(":", 1)[0] in pins:
            name, verdict = body.split(": ", 1)
            status[name] = "oracle" if verdict == "OK" else verdict
    bad = {q: status.get(q, "no verdict") for q in queries
           if status.get(q) not in ("oracle", "pinned")}
    if bad:
        sys.exit("not pinned, oracle disagrees:\n" + "\n".join(f"{q}: {v}" for q, v in bad.items()))

    with open(run.HERE / "expected.tsv", "w") as f:
        f.write("# name\thash or checksum\tsource (oracle: DuckDB oracle agreed; pinned: no oracle)\n")
        for q in queries:
            f.write(f"{q}\t{pins[q]}\t{status[q]}\n")
        for k in sorted(k for k in pins if k.startswith("kernel:")):
            f.write(f"{k}\t{pins[k]}\tpinned\n")
    print(f"pinned {len(queries)} queries "
          f"({sum(status[q] == 'oracle' for q in queries)} oracle-checked) and "
          f"{sum(k.startswith('kernel:') for k in pins)} kernels")


if __name__ == "__main__":
    try:
        main()
    except run.BenchError as e:
        sys.exit(f"perfbench: error: {e}")
