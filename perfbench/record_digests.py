#!/usr/bin/env python3
"""Re-records perfbench/digests.tsv from an oracle-verified run.

Run from the root of a source checkout:

    python3 perfbench/record_digests.py

Writes every query key's result under .bench_build/record/ together with
the digest the benchmark computes for it, checks the results against the
keys' DuckDB oracle SQL with scripts/check.py, and records the digest of
each key that passes ("OK", or "rows-only" for a key without oracle SQL).
A key that fails is left out, so the benchmark counts it as failed.
Re-record only when a change is meant to alter query results.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    tables = run.data()
    out = os.path.join(run.BUILD, "record")
    shutil.rmtree(out, ignore_errors=True)
    code, _ = run.run_checked(run.java_cmd(classes, jars, ["--record", out, "--data", tables]),
                              timeout=1800, env=run.child_env())
    if code != 0:
        sys.exit(f"recording run failed ({code})")
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"), tables, out],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    verdicts = {}
    for line in check.stdout.splitlines():
        parts = line.rsplit(None, 1)
        if len(parts) == 2 and not line.startswith("--"):
            verdicts[parts[1]] = parts[0].strip()
    kept = []
    with open(os.path.join(out, "digests.tsv")) as f:
        for line in f:
            key, digest = line.rstrip("\n").split("\t")
            v = verdicts.get(key, "MISSING")
            if v == "OK" or v.startswith("rows-only ("):
                kept.append(f"{key}\t{digest}\t{'oracle' if v == 'OK' else 'rows-only'}")
            else:
                print(f"not recorded: {key}: {v}", file=sys.stderr)
    with open(os.path.join(run.HERE, "digests.tsv"), "w") as f:
        f.write("\n".join(kept) + "\n")
    print(f"recorded {len(kept)} digests")


if __name__ == "__main__":
    main()
