#!/usr/bin/env python3
"""Compare the key shape of two graft.Bench emissions.

    scripts/bench_shape.py A.json B.json

A and B are bench_result.json files (or saved stdout lines). The script
prints every key path present in one and not the other, at every nesting
level, ignoring values. Keys picked by timings are ignored: the queries
under `retry_sec` (which query gets a retry follows its first pass), and
those under a stdout line's `queries`, which holds only the slowest N
(fewer than `n_queries`). It then prints each side's `sf_twin_rowcheck`,
`skipped` and `*_errors` entries with the numbers masked, so two runs'
skip decisions can be diffed.

Exit status: 1 when a key of A is missing from B, 2 on bad usage, else 0.
A change that may only add keys passes as `bench_shape.py parent.json
change.json`.
"""
import json
import re
import sys

# a number not glued to an identifier: "est 1234 s" masks, "q21_jaccard" stays
NUMBER = re.compile(r"(?<![A-Za-z_\d])\d+(\.\d+)?")


def timing_keyed(doc, k, v):
    slowest_n = (k == "queries" and isinstance(v, dict)
                 and len(v) < doc.get("n_queries", 0))
    return k == "retry_sec" or slowest_n


def key_paths(obj, prefix=""):
    out = set()
    if isinstance(obj, dict):
        for k, v in obj.items():
            path = f"{prefix}.{k}" if prefix else k
            out.add(path)
            if not timing_keyed(obj, k, v):
                out |= key_paths(v, path)
    return out


def mask(v):
    if isinstance(v, str):
        return NUMBER.sub("#", v)
    if isinstance(v, list):
        return [mask(x) for x in v]
    return v


def disclosed(doc):
    return [(k, mask(doc[k])) for k in sorted(doc)
            if k in ("sf_twin_rowcheck", "skipped") or k.endswith("_errors")]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    docs = []
    for path in argv[1:]:
        with open(path) as f:
            docs.append(json.load(f))
    a, b = docs
    pa, pb = key_paths(a), key_paths(b)
    for p in sorted(pa - pb):
        print(f"only in A: {p}")
    for p in sorted(pb - pa):
        print(f"only in B: {p}")
    for side, doc in (("A", a), ("B", b)):
        for k, v in disclosed(doc):
            print(f"{side} {k}: {json.dumps(v)}")
    return 1 if pa - pb else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
