"""Shared fixtures: one SparkSession, one DuckDB oracle connection,
and a differential comparator replicating the driver's t2 semantics
(row count + schema + order-insensitive value comparison, columns
sorted by name) — SURVEY.md §5.2/§5.3.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import pytest

from frafka_spark.io import TABLES
from frafka_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def _driver_memory() -> str:
    """Max heap of the test JVM: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    a third of the memory this process may use (physical RAM, or a
    lower cgroup limit). The suite's JVM shares the host with its
    Python workers; under the session's fixed 48g ceiling G1 grew the
    heap past physical RAM (14 GB resident on a 15 GB VM) and the run
    stalled in reclaim or lost the JVM to the OOM killer."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            mem = min(mem, int(fh.read()))
    except (OSError, ValueError):
        pass  # no cgroup v2 file, or no limit ("max")
    return f"{max(mem // 3 >> 20, 2048)}m"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="frafka-spark-tests",
        extra_conf={"spark.driver.memory": _driver_memory()},
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    # Deliberately NOT UTC: the driver's DuckDB session timezone is out
    # of our control, so every declared oracle must be TZ-independent —
    # a shifted test TZ makes any dependence fail here first.
    con.execute("SET TimeZone = 'America/New_York'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    """Canonicalize one cell for order-insensitive comparison."""
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "∅"
    if isinstance(v, (np.floating, float)):
        # Deliberately NOT normalizing -0.0: the driver's value hash
        # distinguishes +0.0 from -0.0 (q_agg_corr failed r4 on exactly
        # this), so the local comparator must be at least as strict.
        # Sign-straddling rounded statistics must canonicalize at the
        # source via determinism.round_z / sql_round_z on BOTH sides.
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _normalize(pdf):
    """pandas DataFrame → (sorted column names, sorted list of row tuples)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return cols, rows


def assert_query_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR):
    """Differential check with the driver's comparison semantics."""
    from frafka_spark.registry import QUERIES

    import frafka_spark

    frafka_spark.load_all()
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    engine_pdf = sdf.toPandas()
    # Replicate the driver's canonicalizer exactly: it sorts rows with
    # pandas sort_values over ALL columns, which raises TypeError on
    # list/array cells. Round 1's q_agg_collect passed locally but
    # failed the driver precisely because this step was missing.
    if len(engine_pdf):
        engine_pdf.sort_values(by=sorted(engine_pdf.columns))
    if spec.oracle is None:
        assert len(engine_pdf) >= 0  # rows-only check
        return engine_pdf
    oracle_pdf = duck.execute(spec.oracle).df()

    e_cols, e_rows = _normalize(engine_pdf)
    o_cols, o_rows = _normalize(oracle_pdf)

    assert e_cols == o_cols, f"{name}: schema mismatch\n engine={e_cols}\n oracle={o_cols}"
    assert len(e_rows) == len(o_rows), (
        f"{name}: row count mismatch engine={len(e_rows)} oracle={len(o_rows)}"
    )
    if e_rows != o_rows:
        diffs = [
            (i, er, orow)
            for i, (er, orow) in enumerate(zip(e_rows, o_rows))
            if er != orow
        ][:5]
        raise AssertionError(
            f"{name}: value mismatch ({len(diffs)}+ differing rows shown)\n"
            + "\n".join(f"  row {i}:\n    engine={er}\n    oracle={orow}" for i, er, orow in diffs)
        )
    return engine_pdf
