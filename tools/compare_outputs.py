"""Compare two graft.Verify output directories face by face.

Usage: python3 tools/compare_outputs.py <verifyDirA> <verifyDirB>

Each face is one sub-directory of parquet files. Two outputs of a face
are equal when their schemas match and their rows are equal as
multisets: row order is ignored, floats compare bitwise (so -0.0 and
0.0 differ) and every NaN equals every other NaN. Prints one line per
face that differs and exits 1 if any face differs, 0 otherwise.
"""
import collections
import decimal
import glob
import math
import os
import struct
import sys

import duckdb


def canon(v):
    """A hashable, bit-exact stand-in for one DuckDB value."""
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else struct.pack("<d", v).hex())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("b", bytes(v).hex())
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return ("m",) + tuple(sorted((repr(k), canon(x)) for k, x in v.items()))
    return ("v", repr(v))


def read_face(con, face_dir):
    """(schema, Counter of canonical rows); an empty face has no schema."""
    files = sorted(glob.glob(os.path.join(face_dir, "*.parquet")))
    if not files:
        return None, collections.Counter()
    rel = con.read_parquet(files)
    schema = list(zip(rel.columns, map(str, rel.types)))
    return schema, collections.Counter(canon(r) for r in rel.fetchall())


def faces(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def diff_face(con, a_dir, b_dir):
    """None when equal, else a short reason."""
    schema_a, rows_a = read_face(con, a_dir)
    schema_b, rows_b = read_face(con, b_dir)
    if rows_a and rows_b and schema_a != schema_b:
        return f"schema {schema_a} vs {schema_b}"
    if rows_a == rows_b:
        return None
    only_a = sum((rows_a - rows_b).values())
    only_b = sum((rows_b - rows_a).values())
    return (f"rows {sum(rows_a.values())} vs {sum(rows_b.values())}; "
            f"{only_a} only in A, {only_b} only in B")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    root_a, root_b = argv[1], argv[2]
    con = duckdb.connect()
    names_a, names_b = faces(root_a), faces(root_b)
    differing = 0
    for name in sorted(names_a | names_b):
        if name not in names_b or name not in names_a:
            reason = f"missing in {'B' if name not in names_b else 'A'}"
        else:
            reason = diff_face(con, os.path.join(root_a, name),
                               os.path.join(root_b, name))
        if reason is not None:
            differing += 1
            print(f"{name}: DIFFERS ({reason})")
    total = len(names_a | names_b)
    print(f"{total - differing}/{total} faces identical", file=sys.stderr)
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
