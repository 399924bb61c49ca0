"""Output checks, run after the timed batch.

A step whose catalog row has a DuckDB oracle is compared with it
through ``tools/check_oracle.py``'s ``duck_connect`` and ``normalize``
(exact floats, order-insensitive rows, columns by name). The oracle's
digest depends only on its SQL and the generated data, so it is cached
in the build directory. A step without an oracle is compared with the
fingerprint recorded in ``fingerprints.json``: row count plus an
order-insensitive hash with floats rounded to 9 dp.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from contextlib import contextmanager

from perfbench import env

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")

sys.path.insert(0, os.path.join(env.REPO, "tools"))
from check_oracle import duck_connect, normalize  # noqa: E402


@contextmanager
def _float_digits(n: int | None):
    """``normalize`` compares floats exactly unless CHECK_ORACLE_TOL
    names a rounding; set it for the duration of a fingerprint."""
    old = os.environ.pop("CHECK_ORACLE_TOL", None)
    if n is not None:
        os.environ["CHECK_ORACLE_TOL"] = str(n)
    try:
        yield
    finally:
        os.environ.pop("CHECK_ORACLE_TOL", None)
        if old is not None:
            os.environ["CHECK_ORACLE_TOL"] = old


def digest(rows: list[tuple], cols: list[str], float_digits: int | None = None) -> dict:
    with _float_digits(float_digits):
        norm = normalize(rows, cols)
    return {
        "rows": len(norm),
        "cols": sorted(cols),
        "sha256": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


def oracle_digest(sf_dir: str, name: str, sql: str) -> dict:
    key = hashlib.sha256(f"{os.path.basename(sf_dir)}\0{sql}".encode()).hexdigest()[:24]
    path = os.path.join(env.build_dir(), "oracle", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duck_connect(sf_dir)
    try:
        rel = con.sql(sql)
        cols = list(rel.columns)
        out = digest(rel.fetchall(), cols)
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def frame_digest(df, float_digits: int | None = None) -> dict:
    return digest([tuple(r) for r in df.collect()], df.columns, float_digits)


def mismatch(got: dict, expected: dict) -> str | None:
    """None when the digests agree, else what differs."""
    diff = {k: (got.get(k), v) for k, v in expected.items() if got.get(k) != v}
    return f"output differs (got, expected): {diff}" if diff else None
