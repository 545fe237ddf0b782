"""serve_warm: a resident engine serving a fixed catalog of declared keys.

One client, closed loop: each query is constructed through
``get_queries()[key](spark, sf_dir)`` and executed into the ``noop`` sink
before the next one starts. The seed shuffles the catalog into a fresh
order for every pass. Set-up is the session start, the shared
projections (``warm_shared_projections``), one cold pass over the
catalog that builds the on-disk layouts and collects each result for
the correctness gate, and one warm pass. The timed window then runs at
least ``MIN_PASSES`` whole passes, and more until ``--seconds`` have
elapsed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random
import time

import numpy as np
import pandas as pd

from common import SF_DIR, Run, gmean
from eventlog import FIELDS, fold, read_events

#: One key per program module family, with oracles that DuckDB answers
#: quickly so the gate fits in a run: two keys build on-disk layouts
#: (bucketed tables, the DPP layout), one reads a shared cached
#: projection (``_shingles``), one crosses the Arrow boundary to Python
#: workers, and the rest cover aggregation, windows, a funnel and JSON
#: functions. q_llm_tfidf and q_stream_session were tried and left out:
#: each settles at one of two latencies (≈0.45 s or ≈0.7 s) that differ
#: from one JVM launch to the next, which alone moved a run by ±10%.
CATALOG = (
    "q_agg_group",
    "q_join_bucketed",
    "q_scan_dpp",
    "q_win_rank",
    "q_llm_dedup_ngram",
    "q_udf_pandas",
    "q_events_funnel",
    "q_fn_json",
)

#: timed passes per run, at least. Sized so that they outlast ``--seconds``
#: here: a run that fits one more pass would have warmed further and
#: read faster than one that does not.
MIN_PASSES = 6

def _cell(v) -> str:
    """One cell in the canonical form of the differential check."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "∅"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(pdf) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, hash of the sorted rows)."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[list(cols)].itertuples(index=False)
    )
    return cols, len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def _layout_entries(root) -> set[str]:
    if not root.exists():
        return set()
    return {str(p.relative_to(root)) for p in root.glob("*/*")}


def _bytes_under(root) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def run(r: Run) -> dict:
    r.stage_tree()
    spark = r.start_session()
    from frafka_spark.llm.dedup import warm_shared_projections
    from frafka_spark.registry import get_oracle_sql, get_queries

    sf = str(SF_DIR)
    sc = spark.sparkContext
    queries = get_queries()
    layouts = r.tree / "spark-warehouse"

    t0 = time.perf_counter()
    warm_shared_projections(spark, sf)
    r.spans["artifacts.prepare_s"].append(time.perf_counter() - t0)

    # Cold pass: first construction of every key (layouts built here),
    # results collected for the gate. Discarded from the timed window.
    engine: dict[str, tuple] = {}
    broken: set[str] = set()
    for key in CATALOG:
        sc.setJobGroup(f"setup:{key}", key)
        before = _layout_entries(layouts)
        t0 = time.perf_counter()
        try:
            df = queries[key](spark, sf)
            construct = time.perf_counter() - t0
            engine[key] = digest(df.toPandas())
        except Exception as exc:  # a broken key fails its operations
            print(f"perfbench: {key} failed in set-up: {exc}", flush=True)
            broken.add(key)
            continue
        r.spans["registry.cold_construct_s"].append(construct)
        if _layout_entries(layouts) != before:
            r.spans["artifacts.disk_build_s"].append(construct)
    r.spans["artifacts.disk_bytes"].append(_bytes_under(layouts))

    rng = random.Random(r.seed)
    by_key: dict[str, list[float]] = {k: [] for k in CATALOG}
    failures: dict[str, int] = dict.fromkeys(CATALOG, 0)

    def shuffled() -> list[str]:
        order = list(CATALOG)
        rng.shuffle(order)
        return order

    def one_pass(phase: str, order: list[str]) -> float:
        """Every catalog key once, in the given order, into the noop sink."""
        t_pass = time.perf_counter()
        for key in order:
            sc.setJobGroup(f"{phase}:{key}", key)
            t0 = time.perf_counter()
            try:
                df = queries[key](spark, sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"perfbench: {key} failed: {exc}", flush=True)
                if phase == "timed":
                    failures[key] += 1
                continue
            t2 = time.perf_counter()
            if phase == "timed":
                by_key[key].append(t2 - t0)
                r.spans["registry.construct_s"].append(t1 - t0)
                r.spans["exec.run_s"].append(t2 - t1)
        return time.perf_counter() - t_pass

    one_pass("warm", shuffled())  # the first warm pass runs well above the rest
    r.setup_done()

    pass_s: list[float] = []
    t_window = time.perf_counter()
    while len(pass_s) < MIN_PASSES or time.perf_counter() - t_window < r.seconds:
        load_before = r.load()
        pass_s.append(round(one_pass("timed", shuffled()), 3))
        r.loads.append((load_before, r.load()))
    window = time.perf_counter() - t_window
    sc.setJobGroup("gate", "gate")

    # Correctness gate: every key with an oracle must hash-match DuckDB.
    mismatched = broken | _gate(get_oracle_sql(), engine)
    executions = {k: len(pass_s) for k in CATALOG}
    attempted = sum(executions.values())
    failed = sum(executions[k] if k in mismatched else failures[k] for k in CATALOG)
    latencies = [t for ts in by_key.values() for t in ts]
    return {
        "attempted": attempted,
        "failed": failed,
        "samples": len(latencies),
        "executions": executions,
        "detail": {
            "mismatched_keys": sorted(mismatched),
            "pass_s": pass_s,
            "latency_s_by_key": {k: [round(t, 4) for t in ts] for k, ts in by_key.items()},
        },
        "e2e": {
            "ops_per_s": len(latencies) / window,
            "latency_gmean_s": gmean(latencies),
            "setup_s": r.setup_s,
        },
    }


def _gate(oracles: dict[str, str], engine: dict[str, tuple]) -> set[str]:
    import duckdb

    from frafka_spark.io import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR / t}.parquet')"
            )
        bad = set()
        for key, got in engine.items():
            sql = oracles.get(key)
            if sql is None:
                continue  # rows-only key: it ran, which is all it promises
            if digest(con.execute(sql).df()) != got:
                print(f"perfbench: {key} does not match its oracle", flush=True)
                bad.add(key)
        return bad
    finally:
        con.close()


def _job_op(props: dict):
    phase, _, key = (props.get("spark.jobGroup.id") or "").partition(":")
    return (phase, key) if phase in ("timed", "setup") else None


def layers(r: Run, res: dict) -> tuple[dict[str, float], dict]:
    """Event-log folds per timed query, and per-key rows for the sidecar."""
    per_key = fold(read_events(r.eventlog), _job_op)
    ops = max(res["attempted"], 1)
    timed = {k: v for (phase, k), v in per_key.items() if phase == "timed"}
    metrics = {
        f: sum(row[f] for row in timed.values()) / ops for f in FIELDS
    }
    sidecar = {
        "timed_per_query": {
            k: {f: v / res["executions"][k] for f, v in row.items()}
            for k, row in timed.items()
        },
        "setup_per_key": {k: v for (phase, k), v in per_key.items() if phase == "setup"},
    }
    return metrics, sidecar
