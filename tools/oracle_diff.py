#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps gate by gate.

    python3 tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

`runMain graft.Verify <sfDir> <outDir>` writes oracle_sql.json with each
artifact placeholder replaced by its per-run dir,
`<tmpdir>/graft_*/<hash>_<pid>`. The pid differs between any two runs, so
that run key is masked before the compare. Prints every gate whose SQL
differs, or that only one side has, with the first differing line.
Exits 0 when the dumps agree, 1 when any gate differs.
"""

import json
import re
import sys

RUN_KEY = re.compile(r"/(graft_[A-Za-z0-9_]+)/[0-9a-f]{1,8}_[0-9]+")


def load(path):
    with open(path, encoding="utf-8") as f:
        return {k: RUN_KEY.sub(r"/\1/<run>", v) for k, v in json.load(f).items()}


def first_diff(a, b):
    al, bl = a.splitlines(), b.splitlines()
    for i, (x, y) in enumerate(zip(al, bl)):
        if x != y:
            return f"line {i + 1}:\n  - {x.strip()}\n  + {y.strip()}"
    return f"line {min(len(al), len(bl)) + 1}: one side ends early"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    differ = 0
    for gate in sorted(a.keys() | b.keys()):
        if gate not in b:
            print(f"{gate}: only in {argv[1]}")
        elif gate not in a:
            print(f"{gate}: only in {argv[2]}")
        elif a[gate] != b[gate]:
            print(f"{gate}: SQL differs at {first_diff(a[gate], b[gate])}")
        else:
            continue
        differ += 1
    print(f"{len(a.keys() | b.keys()) - differ} gates identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
