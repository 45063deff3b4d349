#!/usr/bin/env python3
"""Cross-core determinism check: every query's output must not depend on
the number of cores Spark runs on.

Usage: python3 tools/determinism.py <sfDir> [workDir] [--cpus 1,4]

Runs `sbt "runMain graft.Verify <sfDir> <workDir>/cpus<N>"` once per core
count (SPARK_GRAFT_CPUS=N, which also sets the shuffle partition count),
hashes each query's output the way tools/local_verify.py does (columns
sorted by name, rows sorted by all columns), and prints every query whose
hash, columns or row count differ between the runs, or that produced no
output in one of them. Exits 1 on any difference. workDir defaults to a
fresh temporary directory; outputs are kept there, so a later
`python3 tools/local_verify.py <sfDir> <workDir>/cpus4` can reuse them.
"""
import argparse
import glob
import os
import subprocess
import sys
import tempfile

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
from local_verify import canon, table_hash  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_verify(sf_dir, out_dir, cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    subprocess.run(["sbt", "--batch", f"runMain graft.Verify {sf_dir} {out_dir}"],
                   cwd=REPO, env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def digests(out_dir):
    """query name -> (sorted columns, rows, hash), or None without output."""
    out = {}
    for path in sorted(glob.glob(f"{out_dir}/q*")):
        files = glob.glob(f"{path}/*.parquet")
        name = os.path.basename(path)
        if not files:
            out[name] = None
            continue
        df = canon(pd.concat([pd.read_parquet(f) for f in files],
                             ignore_index=True))
        out[name] = (list(df.columns), len(df), table_hash(df))
    return out


def main():
    ap = argparse.ArgumentParser(
        description="Diff every query's output hash across core counts.")
    ap.add_argument("sf_dir")
    ap.add_argument("work_dir", nargs="?")
    ap.add_argument("--cpus", default="1,4",
                    help="comma-separated core counts (default 1,4)")
    a = ap.parse_args()
    cpus = [int(c) for c in a.cpus.split(",")]
    work = a.work_dir or tempfile.mkdtemp(prefix="graft_det_")
    runs = {}
    for n in cpus:
        out_dir = os.path.join(work, f"cpus{n}")
        run_verify(a.sf_dir, out_dir, n)
        runs[n] = digests(out_dir)
    ref = cpus[0]
    names = sorted(set().union(*runs.values()))
    diffs = 0
    for name in names:
        seen = {n: runs[n].get(name) for n in cpus}
        if any(v is None for v in seen.values()):
            missing = [n for n, v in seen.items() if v is None]
            print(f"DIFF {name}: no output at cpus={missing}")
            diffs += 1
        elif any(v != seen[ref] for v in seen.values()):
            detail = "  ".join(f"cpus={n}: rows={v[1]} hash={v[2]}"
                               for n, v in seen.items())
            print(f"DIFF {name}: {detail}")
            diffs += 1
    print(f"{len(names) - diffs}/{len(names)} queries identical across "
          f"cpus={a.cpus} (outputs in {work})")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
