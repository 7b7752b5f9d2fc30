#!/usr/bin/env python3
"""Record the golden digests of the declared_mix rows (perfbench/golden_mix.txt).

usage: python3 perfbench/record_golden.py

Run from the repository root, with python's duckdb available. It generates
the declared_mix tables, dumps every mix row with graft.Verify, checks the
dumps against the rows' DuckDB oracle SQL with tools/check_oracle.py, and
only when every row passes writes each row's digest as the benchmark
computes it. Re-run it when the generator or a mix row changes on purpose.
"""
import os
import re
import shutil
import subprocess
import sys

import run

MIX_SCALA = os.path.join(run.HERE, "src", "main", "scala", "perfbench", "DeclaredMix.scala")


def mix_rows():
    src = open(MIX_SCALA).read()
    block = src[src.index("val Rows"):src.index("val WarmRows")]
    return re.findall(r'"([a-z0-9_]+)"', block)


def main():
    run.build()
    work = os.path.join(run.STATE, "golden")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    run.generate(data, run.MIX_SF, run.MIX_DATA_SEED)
    rows = mix_rows()
    dump = os.path.join(work, "dump")
    subprocess.run(run.java(work, "graft.Verify", data, dump, *rows), cwd=run.ROOT, check=True)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                            data, dump, *rows], cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    missing = [r for r in rows if r not in passed]
    if check.returncode != 0 or missing:
        sys.exit(f"oracle check did not pass for: {' '.join(missing) or '(see above)'}")
    out = os.path.join(run.HERE, "golden_mix.txt")
    subprocess.run(run.java(work, "perfbench.Main", "--workload", "declared_mix", "--seed", "1",
                            "--seconds", "1", "--trace", "0", "--work", work, "--data", data,
                            "--record", out), cwd=run.ROOT, check=True, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
