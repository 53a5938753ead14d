#!/usr/bin/env python3
"""Print the query keys whose `graft.ExplainAll` plans differ between two dumps.

Usage:
    python3 tools/plan_diff.py <dirA> <dirB> [-v]

Each dir holds one `<key>.txt` per key, as written by
`runMain graft.ExplainAll <sfDir> <outDir>`. Before comparing, each plan
is masked of what changes from run to run without changing the plan:
expression ids (`#123`, `#45L`), plan ids, `graft_*` scratch dirs and
other java.io.tmpdir paths, lambda and anonymous-function class names,
object hash codes, and the RDD ids and call sites of `ExistingRDD` scans.
With `-v` it also prints a unified diff of each differing key.
Exits 1 when any key differs or is missing on one side.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"graft_[\w.-]*"), "graft_*"),
    (re.compile(r"(file:)?/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"\$+Lambda[^\s,()\]]*"), "$Lambda"),
    (re.compile(r"\$anonfun\$[\w$]*"), "$anonfun"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"RDD\[\d+\]( at [^,\]\n]*)?"), "RDD[N]"),
]


def mask(text):
    for rx, rep in MASKS:
        text = rx.sub(rep, text)
    return text


def plans(d):
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    args = [a for a in argv if a != "-v"]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = plans(args[0]), plans(args[1])
    differ = []
    for key in sorted(a.keys() | b.keys()):
        if key not in a or key not in b:
            print(f"{key}: only in {args[0] if key in a else args[1]}")
            differ.append(key)
            continue
        ta, tb = (mask(open(p, encoding="utf-8").read()) for p in (a[key], b[key]))
        if ta != tb:
            print(key)
            differ.append(key)
            if "-v" in argv:
                sys.stdout.writelines(difflib.unified_diff(
                    ta.splitlines(True), tb.splitlines(True), a[key], b[key], n=2))
    print(f"{len(differ)} of {len(a.keys() | b.keys())} keys differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
