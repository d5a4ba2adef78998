#!/usr/bin/env python3
"""Compare two KGX bundle directories written by graft's finalizeBundle.

    python3 tools/bundle_diff.py A B

`nodes.jsonl` and `edges.jsonl` are directories of gzip `part-*` files;
each is compared as the sorted multiset of its lines, whatever the part
layout. Every sidecar (`*.json` at the top, `sources/*/*/*.meta.json`) is
compared byte for byte, and a sidecar present on one side only is a
difference. For each difference it prints the first differing lines; the
exit status is 1 if anything differs, 0 if the bundles are equal.
"""
import difflib
import glob
import gzip
import os
import sys

DATA = ("nodes.jsonl", "edges.jsonl")
SIDECARS = ("*.json", os.path.join("sources", "*", "*", "*.meta.json"))
SHOWN = 10


def data_lines(bundle, name):
    path = os.path.join(bundle, name)
    if not os.path.isdir(path):
        return None
    lines = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        opener = gzip.open if part.endswith(".gz") else open
        with opener(part, "rt", encoding="utf-8") as fh:
            lines += [l.rstrip("\n") for l in fh if l.strip()]
    return sorted(lines)


def sidecars(bundle):
    found = set()
    for pattern in SIDECARS:
        found |= {os.path.relpath(p, bundle) for p in glob.glob(os.path.join(bundle, pattern))}
    return found


def show(name, a, b):
    diff = [l for l in difflib.unified_diff(a, b, "A/" + name, "B/" + name, n=0, lineterm="")
            if not l.startswith("@@")]
    print(f"differs: {name}")
    for line in diff[:SHOWN + 2]:
        print("  " + line)
    if len(diff) > SHOWN + 2:
        print(f"  ... {len(diff) - SHOWN - 2} more diff lines")


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    a, b = sys.argv[1:]
    for d in (a, b):
        if not os.path.isdir(d):
            print(f"bundle_diff: not a directory: {d}", file=sys.stderr)
            sys.exit(2)
    differs = 0
    for name in DATA:
        la, lb = data_lines(a, name), data_lines(b, name)
        if la is None or lb is None:
            if (la is None) != (lb is None):
                print(f"differs: {name} exists in {'B' if la is None else 'A'} only")
                differs += 1
        elif la != lb:
            show(name, la, lb)
            differs += 1
    sa, sb = sidecars(a), sidecars(b)
    for name in sorted(sa ^ sb):
        print(f"differs: {name} exists in {'A' if name in sa else 'B'} only")
        differs += 1
    for name in sorted(sa & sb):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            ba, bb = fa.read(), fb.read()
        if ba != bb:
            show(name, ba.decode("utf-8", "replace").splitlines(), bb.decode("utf-8", "replace").splitlines())
            differs += 1
    print(f"{differs} difference(s)" if differs else "bundles equal")
    sys.exit(1 if differs else 0)


if __name__ == "__main__":
    main()
