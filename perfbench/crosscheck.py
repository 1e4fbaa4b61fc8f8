#!/usr/bin/env python3
"""Compare a recorded fx_batch reference with a committed MatCheck artifact.

    python3 perfbench/run.py --workload fx_batch --seed 0 --seconds 1 \
        --record perfbench/.work/ref_sf.json --data <table dir>
    python3 perfbench/crosscheck.py perfbench/.work/ref_sf.json MATCHECK_r15.json

Both files hold (rows, checksum) per query computed with graft.BenchAction.consume
over the same tables. Prints one line per query of the workload and exits 1 if
any public-entry result differs from the artifact.
"""
import json
import sys


def main():
    ref_path, art_path = sys.argv[1], sys.argv[2]
    with open(ref_path) as f:
        ref = json.load(f)
    with open(art_path) as f:
        art = json.load(f)["queries"]
    differ = 0
    for q in sorted(ref["public"]):
        mine = ref["public"][q]
        warm = ref["warm"][q]
        theirs = art.get(q)
        if theirs is None:
            status = "not in artifact"
        elif "err" in theirs:
            status = f"artifact error: {theirs['err']}"
            differ += 1
        elif (mine["rows"], mine["checksum"]) == (theirs["rows"], theirs["checksum"]):
            status = "same"
        else:
            status = f"DIFFERS: here {mine}, artifact {theirs}"
            differ += 1
        if warm != mine:
            status += f"; warm entry gives {warm}"
        print(f"{q:26s} {status}")
    for p in ref.get("problems", []):
        print(f"problem: {p}")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
