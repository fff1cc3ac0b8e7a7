"""Order-insensitive hashing of query results.

Rows are normalised the way tools/compare.py compares Spark results with
the DuckDB oracle: columns sorted by (lower-cased) name, cells turned into
plain Python values, rows sorted. Numbers are then written in one canonical
form, so an integer-valued double and the same integer hash alike (compare.py
treats them as equal too), and the canonical rows are hashed with sha256.
"""
import decimal
import hashlib
import json
import math
import os
import sys


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        try:
            v = v.item()
        except Exception:
            pass
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "tolist"):
        return [_cell(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _cell(x) for k, x in sorted(v.items())}
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, int):
            return v
        f = float(v)
        if f.is_integer() and abs(f) < 2 ** 53:
            return int(f)
        return repr(f)
    return str(v)


def digest(df):
    """(rows, sha256) of a pandas DataFrame."""
    cols = sorted(df.columns, key=str.lower)
    df = df[cols]
    rows = [json.dumps([_cell(v) for v in row], sort_keys=True)
            for row in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256(json.dumps([c.lower() for c in cols]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def check_queries(results_dir, expected_path):
    """(attempted, failed): each query result written by the harness
    against the oracle digest stored with the benchmark."""
    import pyarrow.dataset as ds
    with open(expected_path) as f:
        expected = json.load(f)
    failed = 0
    for name, exp in sorted(expected.items()):
        path = os.path.join(results_dir, name)
        try:
            got = digest(ds.dataset(path).to_table().to_pandas())
        except Exception as e:
            print(f"[perfbench] {name}: result unreadable: {e}", file=sys.stderr)
            failed += 1
            continue
        if list(got) != [exp["rows"], exp["sha256"]]:
            print(f"[perfbench] {name}: result {got} differs from oracle "
                  f"{exp['rows']} rows {exp['sha256']}", file=sys.stderr)
            failed += 1
    return len(expected), failed
