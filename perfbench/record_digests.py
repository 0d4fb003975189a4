"""Record the output digests of finished runs as the committed expectation.

    python3 perfbench/record_digests.py [--check]

Reads every result under .bench_results/ and writes
perfbench/expected_digests.json (workload → seed → name → digest), which
run.py then checks on every later run of the same workload and seed.
Two runs of the same workload and seed that disagree on a digest are
reported and nothing is written: that output is not deterministic and
must be compared by row count instead (Panel.rowsOnly). With --check,
only compare the results with the committed file.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "expected_digests.json")


def main():
    check = "--check" in sys.argv[1:]
    seen = {}
    conflicts = []
    runs = 0
    for path in sorted(glob.glob(os.path.join(ROOT, ".bench_results", "*.result.json"))):
        with open(path) as fh:
            r = json.load(fh)
        if not r.get("correct"):
            continue
        runs += 1
        per_seed = seen.setdefault(r["workload"], {}).setdefault(str(r["host"]["seed"]), {})
        for name, digest in r.get("digests", {}).items():
            if per_seed.setdefault(name, digest) != digest:
                conflicts.append((r["workload"], r["host"]["seed"], name,
                                  per_seed[name], digest))
    if check:
        with open(OUT) as fh:
            committed = json.load(fh)
        for w, seeds in seen.items():
            for seed, names in seeds.items():
                for name, digest in names.items():
                    want = committed.get(w, {}).get(seed, {}).get(name)
                    if want is not None and want != digest:
                        conflicts.append((w, seed, name, want, digest))
    for c in conflicts:
        print("digest differs: %s seed %s %s: %s vs %s" % c)
    print("%d correct runs, %d conflicts" % (runs, len(conflicts)))
    if conflicts:
        return 1
    if not check:
        with open(OUT, "w") as fh:
            json.dump(seen, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
