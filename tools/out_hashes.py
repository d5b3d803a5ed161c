#!/usr/bin/env python3
"""Per-output hashes for an "is the output unchanged?" check.

Usage: python3 tools/out_hashes.py <verifyOutDir> [tmpDir]

For each query dir written by graft.Verify under <verifyOutDir>, and for
each graft_*_parquet landing under [tmpDir] (default: the system temp
dir, where the raster queries land the cells their DuckDB oracles read),
prints one line:

    <kind> <name> rows=<sha256> schema=<sha256> n=<rows>

`rows` hashes the canonical rows (compare.py's `canon`, sorted), so row
order across part files does not matter. `schema` hashes the parquet
schema of the first part file (names, types, repetition, column order).
Run it right after a Verify in two checkouts and diff the outputs: equal
lines mean the same rows, the same schema and the same column order.
"""
import glob
import hashlib
import os
import sys
import tempfile

import duckdb

from compare import canon


def sha(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def hashes(con, files):
    rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
    cols = [d[0] for d in rel.description]
    rows = sorted(canon(rel.fetchall(), cols))
    schema = con.execute(
        "SELECT * EXCLUDE (file_name) FROM parquet_schema(?)",
        [files[0]]).fetchall()
    return sha(rows), sha(str(r) for r in schema), len(rows)


def main(out_dir, tmp_dir):
    con = duckdb.connect()
    targets = [("query", os.path.basename(d.rstrip("/")), d)
               for d in sorted(glob.glob(f"{out_dir}/*/"))]
    targets += [("landing", os.path.basename(d.rstrip("/")), d)
                for d in sorted(glob.glob(f"{tmp_dir}/graft_*_parquet/"))]
    for kind, name, d in targets:
        files = sorted(glob.glob(f"{d}/**/*.parquet", recursive=True))
        if not files:
            continue
        try:
            rows, schema, n = hashes(con, files)
            print(f"{kind} {name} rows={rows} schema={schema} n={n}")
        except Exception as e:
            print(f"{kind} {name} ERROR {e}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1],
                  sys.argv[2] if len(sys.argv) == 3 else tempfile.gettempdir()))
