#!/usr/bin/env python3
"""Per-query digest of a graft.Verify dump, and a diff of two dumps.

Usage: python3 tools/dump_digest.py <verifyOutDir> [<otherOutDir>]

For every query dir under <verifyOutDir> (the parquet part files
graft.Verify writes), prints one line: the query name, its row count, a
digest of its schema (column names and DuckDB types, in order) and a
digest of its rows in STORED order (part files by name, rows by position
within each file), all read through DuckDB as tools/check_oracle.py
reads them. Row order counts: a query whose rows are identical but
reordered gets a different digest.

With a second dir, prints only the queries that differ (missing on one
side, different schema, different rows) and exits 1 if any do, 0 if all
match. This covers the queries check_oracle.py cannot: those without
oracle SQL (stored-index stats, the IVF probes, the streaming IVF probe)
are compared value for value between two builds of the engine.
"""
import glob
import hashlib
import os
import sys

import duckdb


def digest(con, qdir):
    """(rows, schema digest, row digest) of one query dump."""
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None
    src = (f"read_parquet({files!r}, filename=true, file_row_number=true)")
    cols = [(r[0], r[1]) for r in con.execute(
        f"DESCRIBE SELECT * EXCLUDE (filename, file_row_number) FROM {src}"
    ).fetchall()]
    schema = hashlib.sha256(repr(cols).encode()).hexdigest()[:16]
    h = hashlib.sha256()
    n = 0
    cur = con.execute(
        f"SELECT * EXCLUDE (filename, file_row_number) FROM {src} "
        f"ORDER BY filename, file_row_number")
    while True:
        batch = cur.fetchmany(10000)
        if not batch:
            break
        for row in batch:
            h.update(repr(row).encode())
            h.update(b"\n")
        n += len(batch)
    return n, schema, h.hexdigest()[:16]


def digests(con, out_dir):
    out = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "*/"))):
        name = os.path.basename(d.rstrip("/"))
        out[name] = digest(con, d)
    return out


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    con = duckdb.connect()
    a = digests(con, argv[1])
    if len(argv) == 2:
        for name, d in a.items():
            if d is None:
                print(f"{name}\tno parquet output")
            else:
                print(f"{name}\t{d[0]} rows\tschema {d[1]}\trows {d[2]}")
        print(f"{len(a)} dumps")
        return 0
    b = digests(con, argv[2])
    differ = []
    for name in sorted(set(a) | set(b)):
        da, db = a.get(name), b.get(name)
        if name not in a or name not in b:
            differ.append(f"{name}: only in {argv[1] if name in a else argv[2]}")
        elif da is None or db is None:
            if da != db:
                differ.append(f"{name}: parquet output on one side only")
        elif da[1] != db[1]:
            differ.append(f"{name}: schema differs")
        elif da != db:
            differ.append(f"{name}: rows differ ({da[0]} vs {db[0]} rows)")
    for line in differ:
        print(f"DIFF {line}")
    same = len(set(a) | set(b)) - len(differ)
    print(f"{same} identical, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
