#!/usr/bin/env python3
"""Per-query digest of a graft.Verify output root.

For each query directory under OUT (and under its `OUT__expected`
sibling, where Verify writes the expected tables) it prints the column
names, the arrow types, the row count and an order-independent row
digest: sha256 over the sorted per-row digests, with each cell in
tools/layout_digest.py's canonical form (floats keep every bit), applied
inside lists and structs too.

With two roots (parent vs change) it prints the queries whose figures
differ, or that exist on one side only, and exits 1 if there are any.

Usage: python3 tools/verify_digest.py OUT [OUT2]
"""
import hashlib
import json
import pathlib
import sys

import pyarrow.parquet as pq

from layout_digest import value_key


def cell(v):
    if isinstance(v, list):
        return [cell(x) for x in v]
    if isinstance(v, dict):
        return {k: cell(x) for k, x in v.items()}
    return value_key(v)


def table_digest(d):
    t = pq.read_table(d)
    names = t.column_names
    rows = sorted(
        hashlib.sha256(json.dumps([cell(r[n]) for n in names],
                                  ensure_ascii=False, default=str)
                       .encode("utf-8")).digest()
        for r in t.to_pylist())
    return {"columns": names, "types": [str(f.type) for f in t.schema],
            "rows": t.num_rows,
            "digest": hashlib.sha256(b"".join(rows)).hexdigest()[:32]}


def digests(root):
    out = {}
    for base, tag in ((pathlib.Path(root), ""),
                      (pathlib.Path(str(root) + "__expected"), "expected/")):
        if base.is_dir():
            for d in sorted(p for p in base.iterdir() if p.is_dir()):
                out[tag + d.name] = table_digest(d)
    return out


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    sides = [digests(r) for r in argv[1:]]
    if len(sides) == 1:
        for q, s in sides[0].items():
            print(f"{q}: {s['rows']} rows, {s['digest']}, "
                  f"{list(zip(s['columns'], s['types']))}")
        return 0
    a, b = sides
    bad = 0
    for q in sorted(set(a) | set(b)):
        if a.get(q) != b.get(q):
            bad += 1
            print(f"!= {q}: {a.get(q)} vs {b.get(q)}")
    n_exp = sum(q.startswith("expected/") for q in a)
    print(f"== {len(a) - n_exp} queries, {n_exp} expected tables; "
          f"{bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
