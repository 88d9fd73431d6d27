"""Canonical result digests for the query sweep.

A digest is a SHA-256 over a result put in scripts/check_oracle.py's
canonical form: columns sorted by name, rows sorted by every column,
float columns compared as floats (NaN equal to NaN), other columns
compared as strings, and the float-or-not kind of each column (the
oracle gate's int/float rule). Two results that check_oracle.py calls
equal have the same digest.
"""
import hashlib
import json
import math
import os

import duckdb


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, ignore_index=True, na_position="first")


def digest_frame(df):
    a = canon(df)
    h = hashlib.sha256(f"rows={len(a)}\n".encode())
    for c in a.columns:
        col = a[c]
        if col.dtype.kind == "f":
            h.update(f"{c}:float\n".encode())
            for v in col.astype(float):
                h.update(("nan" if math.isnan(v) else repr(v)).encode() + b"\0")
        else:
            h.update(f"{c}:value\n".encode())
            for v in col.astype(str):
                h.update(v.encode() + b"\0")
    return h.hexdigest()


def digest_parquet_dir(path):
    """Digest of a Spark parquet output directory."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return digest_frame(
        con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())


def load_expected(path):
    """The committed digests; none before make_expected.py has run."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def check(out_dir, names, expected):
    """Names of the queries whose result under out_dir is missing or does
    not digest to its expected value, with the reason."""
    bad = []
    for name in names:
        d = os.path.join(out_dir, name)
        if name not in expected:
            bad.append((name, "no expected digest"))
        elif not os.path.isdir(d):
            bad.append((name, "no result"))
        else:
            got = digest_parquet_dir(d)
            if got != expected[name]:
                bad.append((name, f"digest {got[:12]} expected "
                                  f"{expected[name][:12]}"))
    return bad
