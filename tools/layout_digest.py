#!/usr/bin/env python3
"""Per-group layout and content digest of an ExtractJob output root.

Reads the parquet files under `<outDir>/data/group=<g>/` with pyarrow (no
Spark) and prints, for each group:
  - the number of data files, how many hold zero rows, and their bytes;
  - the row count and an order-independent digest of the rows (sha256
    over the sorted per-row digests, so file layout and row order do not
    matter, but every value and every duplicate does);
  - the schema: each column's physical and logical type and its
    repetition (required or optional);
  - for each column, its chunks' encodings, how many chunks have a
    dictionary page, and the column's compressed bytes;
  - the POSIX modes of the group dir and everything under it, dirs and
    files apart, and the number of `.crc` checksum files.
It prints the same modes and `.crc` count for `<outDir>/_checkpoint`.

With two roots it prints each group's figures side by side, marks the
lines that differ with `!=`, and exits 1 when the rows, the digest, the
schema or the modes of any group or of `_checkpoint` differ (file counts,
`.crc` counts, encodings and bytes may differ and only print).

Usage: python3 tools/layout_digest.py OUT_DIR [OUT_DIR2]
"""
import hashlib
import json
import math
import pathlib
import stat
import sys

import pyarrow.parquet as pq


def value_key(v):
    """A canonical, JSON-able form of one cell (floats keep every bit)."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    return v


def tree_modes(d):
    """The modes under `d`, `d` included, and its `.crc` file count."""
    dirs, files, crc = set(), set(), 0
    for p in [d, *d.rglob("*")]:
        st = p.lstat()
        (dirs if stat.S_ISDIR(st.st_mode) else files).add(
            format(stat.S_IMODE(st.st_mode), "o"))
        crc += p.name.endswith(".crc")
    return {
        "modes": f"dirs {','.join(sorted(dirs)) or '-'}; "
                 f"files {','.join(sorted(files)) or '-'}",
        "crc_files": str(crc),
    }


def group_stats(d):
    """The figures of one group dir, as a dict of printable values."""
    files = sorted(p for p in d.iterdir()
                   if p.is_file() and p.name.endswith(".parquet")
                   and not p.name.startswith("."))
    rows, zero, size, row_digests = 0, 0, 0, []
    schema, cols = None, {}
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        size += f.stat().st_size
        rows += md.num_rows
        zero += md.num_rows == 0
        s = pf.schema
        fs = tuple(
            (s.column(i).name, s.column(i).physical_type,
             str(s.column(i).logical_type),
             "required" if s.column(i).max_definition_level == 0
             else "optional")
            for i in range(len(s)))
        schema = schema or fs
        if fs != schema:
            schema = ("differs between files",)
        for rg in range(md.num_row_groups):
            for j in range(md.num_columns):
                c = md.row_group(rg).column(j)
                e = cols.setdefault(c.path_in_schema,
                                    {"enc": set(), "dict": 0, "chunks": 0,
                                     "bytes": 0})
                e["enc"].add(",".join(sorted(c.encodings)))
                e["dict"] += bool(c.has_dictionary_page)
                e["chunks"] += 1
                e["bytes"] += c.total_compressed_size
        t = pf.read()
        names = sorted(t.column_names)
        for r in t.to_pylist():
            row = [value_key(r[n]) for n in names]
            row_digests.append(hashlib.sha256(
                json.dumps(row, ensure_ascii=False).encode("utf-8")).digest())
    row_digests.sort()
    out = {
        "files": str(len(files)),
        "zero_row_files": str(zero),
        "file_bytes": str(size),
        "rows": str(rows),
        "digest": hashlib.sha256(b"".join(row_digests)).hexdigest()[:32],
        "schema": "; ".join(" ".join(c) for c in schema or ()),
    }
    for name, e in sorted(cols.items()):
        out[f"col {name}"] = (
            f"encodings {'|'.join(sorted(e['enc']))}, "
            f"dictionary pages {e['dict']}/{e['chunks']}, "
            f"{e['bytes']} bytes")
    out.update(tree_modes(d))
    return out


def layout(root):
    """{name: stats} for every data/group=<g> dir under `root`, in group
    order, then `_checkpoint` when it exists."""
    root = pathlib.Path(root)
    data = root / "data"
    if not data.is_dir():
        sys.exit(f"{root}: no data/ dir")
    groups = sorted((d for d in data.iterdir()
                     if d.is_dir() and d.name.startswith("group=")),
                    key=lambda d: int(d.name.split("=", 1)[1]))
    out = {d.name: group_stats(d) for d in groups}
    if (root / "_checkpoint").is_dir():
        out["_checkpoint"] = tree_modes(root / "_checkpoint")
    return out


MUST_MATCH = ("rows", "digest", "schema", "modes")


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    a = layout(argv[1])
    if len(argv) == 2:
        for g in a:
            print(g)
            for k, v in a[g].items():
                print(f"  {k}: {v}")
        return 0
    b = layout(argv[2])
    bad = 0
    for g in dict.fromkeys(list(a) + list(b)):
        print(g)
        sa, sb = a.get(g, {}), b.get(g, {})
        if not sa or not sb:
            print(f"  != only in {argv[1] if sa else argv[2]}")
            bad += 1
            continue
        for k in dict.fromkeys(list(sa) + list(sb)):
            va, vb = sa.get(k, "-"), sb.get(k, "-")
            if va == vb:
                print(f"  {k}: {va}")
            else:
                print(f"  {k} != {va}  ->  {vb}")
                bad += k in MUST_MATCH
    print("same rows, digests, schemas and modes" if bad == 0 else
          f"{bad} figures among {', '.join(MUST_MATCH)} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
