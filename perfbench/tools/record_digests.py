#!/usr/bin/env python3
"""Re-record perfbench/registry/digests.tsv and confirm it against DuckDB.

Usage, from the root of the repository:

    python3 perfbench/tools/record_digests.py <scratch-dir>

Runs perfbench.Record on perfbench/data/sf0.01, which dumps every
registry name with graft.Verify into <scratch-dir>/dump and records each
name's digest from its dump, then compares each dump with the DuckDB
oracle using scripts/check_oracle.py. The `oracle` column records the verdict: `match`,
`rows-only` (the name has no oracle SQL; the dump is non-empty) or `fail`.
A query whose dump does not match gets status `oracle-fail` and must not
be in the benchmark's sample.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


def main(scratch):
    cp = run.build(os.getcwd())
    data = os.path.join(run.HERE, "data", "sf0.01")
    digests = os.path.join(run.HERE, "registry", "digests.tsv")
    dump = os.path.join(scratch, "dump")
    raw = os.path.join(scratch, "digests.raw.tsv")
    # A fresh dump: Verify leaves an old dump in place when a query fails.
    shutil.rmtree(dump, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(
        [run.java(), "-Xmx3g", *run.JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
         "-cp", cp, "perfbench.Record", data, dump, raw], check=True)
    oracle = subprocess.run(
        [sys.executable, "scripts/check_oracle.py", data, dump],
        stdout=subprocess.PIPE, text=True).stdout
    verdict = {}
    for line in oracle.splitlines():
        parts = line.split()
        if line.startswith("MATCH "):
            verdict[parts[1]] = "match"
        elif line.startswith("ROWS-ONLY ok"):
            verdict[parts[2]] = "rows-only"
        elif line.startswith("FAIL ") or line.startswith("ROWS-ONLY EMPTY"):
            verdict[parts[1].rstrip(":") if line.startswith("FAIL") else parts[2]] = "fail"
    out = ["name\tstatus\tdigest\toracle"]
    with open(raw) as f:
        for line in f.read().splitlines()[1:]:
            name, status, digest = line.split("\t")
            v = verdict.get(name, "-")
            if status == "ok" and v not in ("match", "rows-only"):
                status = "oracle-fail"
            out.append("\t".join([name, status, digest, v]))
    with open(digests, "w") as f:
        f.write("\n".join(out) + "\n")
    with open(os.path.join(scratch, "oracle.txt"), "w") as f:
        f.write(oracle)


if __name__ == "__main__":
    main(sys.argv[1])
