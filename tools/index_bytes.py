#!/usr/bin/env python3
"""Where an index directory's bytes are.

    tools/index_bytes.py <dir> [<dir2>]

Prints one row per top-level entry under <dir> with the bytes of its
regular files (the same count as perfbench's `bytesUnder`: parquet data,
footers, .crc side files, _SUCCESS markers, manifests), then one row per
parquet column of blocks/, dict/ and docs/ with its compressed
bytes summed over every file and row group, and one `(rest)` row per
parquet dir: its file bytes outside the column chunks (footers, magic,
.crc files). With a second dir, prints both sides and the difference
(dir2 - dir), marks rows that differ with `*`, and exits 1 when any row
differs (0 otherwise), so "two builds of one seed write the same bytes"
is one command.
"""
import os
import sys

import pyarrow.parquet as pq

PARQUET_DIRS = ["blocks", "dict", "docs"]


def file_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def column_bytes(path):
    """Compressed bytes per column over every parquet file under `path`."""
    out = {}
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(d, f)).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    out[col.path_in_schema] = out.get(col.path_in_schema, 0) + col.total_compressed_size
    return out


def rows(index_dir):
    out = {}
    for name in sorted(os.listdir(index_dir)):
        out["entry " + name] = file_bytes(os.path.join(index_dir, name))
    for cell in PARQUET_DIRS:
        path = os.path.join(index_dir, cell)
        if not os.path.isdir(path):
            continue
        cols = column_bytes(path)
        for name in sorted(cols):
            out["column %s.%s" % (cell, name)] = cols[name]
        out["column %s.(rest)" % cell] = file_bytes(path) - sum(cols.values())
    out["total"] = file_bytes(index_dir)
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip())
    sides = [rows(d) for d in argv[1:]]
    keys = list(sides[0])
    for s in sides[1:]:
        keys += [k for k in s if k not in keys]
    width = max(len(k) for k in keys)
    if len(sides) == 1:
        for k in keys:
            print("%-*s %12d" % (width, k, sides[0][k]))
        return
    a, b = sides
    print("%-*s %12s %12s %12s" % (width, "", "dir", "dir2", "diff"))
    differs = False
    for k in keys:
        x, y = a.get(k, 0), b.get(k, 0)
        differs |= x != y
        print("%-*s %12d %12d %+12d%s" % (width, k, x, y, y - x, "  *" if x != y else ""))
    if differs:
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv)
