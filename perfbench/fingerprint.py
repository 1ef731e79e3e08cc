"""Canonical fingerprints of query results.

The canonical form is the one tools/oracle_check.py compares: columns
sorted by name, every value tagged with its Python type and rendered with
repr (floats after the engine's own rounding, -0.0 folded into 0.0), rows
sorted. A fingerprint is the column list, the row count and a SHA-256 of
that form, so a stored oracle answer is a few bytes per key.
"""
import glob
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if v == 0.0:
                    v = 0.0
                vals.append(("f", repr(v)))
            else:
                vals.append((type(v).__name__, repr(v)))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def fingerprint(rows, cols):
    c, r = canon(rows, cols)
    digest = hashlib.sha256(repr(r).encode("utf-8")).hexdigest()
    return {"columns": c, "rows": len(r), "sha256": digest}


def of_parquet_dir(path):
    """Fingerprint of a Spark-written result directory."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    table = pa.concat_tables([pq.read_table(f) for f in files])
    cols = table.column_names
    return fingerprint([tuple(d[c] for c in cols) for d in table.to_pylist()], cols)
