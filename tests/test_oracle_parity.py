"""Oracle dtype parity: every oracle's DuckDB→pandas result must carry
the same column *type classes* as the Spark query's pandas result.

This is the early-warning lint for the round-4 driver incident: DuckDB
``SUM(BIGINT)`` returns HUGEINT (int128), which silently degrades to
float64 through the Arrow/pandas fetch the driver uses, while Spark's
SUM stays int64 — equal values, different canonical hash.  The
correctness checker now hashes pandas frames on both sides so such a
divergence FAILS, but only for the queries a round happens to rotate
in; this test sweeps all of them at sf0.001 in one session.

Type classes, not exact dtypes: int64 vs int32 canonicalizes
identically, and a Timestamp column may surface as datetime64 or as
object-of-datetime depending on the fetch path — both canon to the
same string.  What must NEVER differ across the two engines is the
class (int vs float vs datetime vs date vs string vs sequence), because
the canonical form differs across classes even for equal values.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

import __spark_entry__ as entry

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _dclass(series) -> str:
    import numpy as np
    import pandas.api.types as pt

    d = series.dtype
    if pt.is_bool_dtype(d):
        return "bool"
    if pt.is_integer_dtype(d):
        return "int"
    if pt.is_float_dtype(d):
        return "float"
    if pt.is_datetime64_any_dtype(d):
        return "datetime"
    # object column: classify by the first non-null scalar
    for v in series:
        if v is None:
            continue
        try:
            import pandas as pd

            if v is pd.NaT or v is pd.NA:
                continue
        except Exception:  # noqa: BLE001
            pass
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, dt.datetime):
            return "datetime"
        if isinstance(v, dt.date):
            # the checker (and driver) canon dates as midnight
            # datetimes, so date vs datetime is one class
            return "datetime"
        if isinstance(v, bytes):
            return "bytes"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "seq"
        if isinstance(v, str):
            return "str"
        return type(v).__name__
    return "all-null"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_oracle_dtype_parity(spark, sf_dir, duck):
    # The sequential sweep of all ~258 queries was the single largest
    # test (501 s of the 40-minute suite, r15) — the work is hundreds
    # of independent tiny jobs, so a small driver thread pool overlaps
    # them (guide §2.6: actions are only sequential because the driver
    # calls them sequentially).  DuckDB runs per-thread through cursors
    # of the shared connection; result checking is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = [n for n in queries if n in oracles]

    def check(name: str) -> list[str]:
        spdf = queries[name](spark, sf_dir).toPandas()
        opdf = duck.cursor().sql(oracles[name]).fetchdf()
        scls = {c: _dclass(spdf[c]) for c in spdf.columns}
        ocls = {c: _dclass(opdf[c]) for c in opdf.columns}
        out = []
        for c in sorted(set(scls) | set(ocls)):
            a, b = scls.get(c, "MISSING"), ocls.get(c, "MISSING")
            # an all-null / empty column constrains nothing
            if a == b or "all-null" in (a, b):
                continue
            out.append(f"{name}.{c}: spark={a} oracle={b}")
        return out

    def check_or_name(name: str):
        try:
            return check(name)
        except Exception:
            # a fixture-heavy query can trip on concurrent catalog /
            # stream setup — queue it for a clean sequential retry; a
            # deterministic failure still fails below
            return name

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(check_or_name, names))
    bad = [line for r in results if isinstance(r, list) for line in r]
    for name in (r for r in results if isinstance(r, str)):
        try:
            bad.extend(check(name))
        except Exception as exc:
            bad.append(f"{name}: {exc!r}")
    assert bad == [], "\n".join(bad)
