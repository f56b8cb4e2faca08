"""Records the golden digests of the registry workloads.

    python3 perfbench/record_goldens.py [seed ...]

Runs each registry workload once per seed (default 1 and 2, so the query
orders differ), writes every query's digest to perfbench/goldens.json and
lists the queries whose digests differ between passes or seeds: such a
query fails its check on some runs and needs a weaker check before it can
be timed. Re-record only when a change to the program is meant to change
query outputs.
"""
import json
import os
import shutil
import sys

import run
from checks import DIGEST


def main(seeds):
    spec = run.load_json("workloads.json")
    classpath = run.build.build()
    seen = {}
    for workload in ("relational", "corpus"):
        for seed in seeds:
            work = os.path.join(run.build.BUILD, "work", f"goldens-{workload}-{seed}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            try:
                p = run.make_plan(workload, seed, 1, 0, spec, work)
                raw = run.run_client(p, classpath, work, 600)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            for e in raw["errors"]:
                print("set-up error:", e)
            for op in raw["ops"]:
                if op.get("err"):
                    print("failed:", op["q"], op["err"])
                    continue
                seen.setdefault(op["q"], []).append({f: str(op[f]) for f in DIGEST})
    goldens = {q: ds[0] for q, ds in sorted(seen.items())}
    with open(os.path.join(run.HERE, "goldens.json"), "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for q, ds in sorted(seen.items()):
        varying = [f for f in DIGEST if len({d[f] for d in ds}) > 1]
        if varying:
            print(f"{q}: digest varies in {', '.join(varying)}")
    print(f"recorded {len(goldens)} queries")


if __name__ == "__main__":
    main([int(s) for s in sys.argv[1:]] or [1, 2])
