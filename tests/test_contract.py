"""Driver-contract guards (VERDICT r1 'next round' #1/#2/#10).

The grading driver records CORRECTNESS rows for only the first
``GRADING_WINDOW`` queries in ``queries()`` order, and its
canonicalizer (pandas ``sort_values`` over all columns) crashes on
non-hashable cells. These tests make both constraints durable:

- every declared query's output schema uses only driver-safe column
  types (no arrays/maps/structs, no date/timestamp, no raw float32,
  no binary);
- the grading order puts not-yet-driver-green queries first, and the
  union of past CORRECTNESS rows plus the current window covers every
  registered query — a future registration reshuffle cannot silently
  un-grade a family.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.types as T
import pytest

from frafka_spark.registry import (
    GRADING_WINDOW,
    QUERIES,
    _latest_recorded_round,
    _verified_rounds,
    get_oracle_sql,
    get_queries,
)

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


def _defer_active(name: str, verified: dict[str, int]) -> bool:
    """Mirror of the registry's defer predicate (see registry.query)."""
    spec = QUERIES[name]
    return (
        spec.defer_round is not None
        and name not in verified
        and _latest_recorded_round() < spec.defer_round
    )

# Types the driver's pandas canonicalizer hashes reliably.
_SAFE = (
    T.StringType,
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.BooleanType,
    T.DecimalType,
)


def test_all_query_schemas_driver_safe(spark):
    offenders = {}
    for name, fn in get_queries().items():
        schema = fn(spark, SF_DIR).schema
        bad = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if not isinstance(f.dataType, _SAFE)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-unsafe output columns: {offenders}"


def test_construction_memo_heap_gate(spark, monkeypatch):
    """The registry construction memo must respect the driver-heap
    gate: pinning all declared frames pins their JVM QueryExecutions
    (AQE stage state, broadcasts), which OOMs a plain default-heap
    grading session (measured: heap-space abort ~query 270 of the
    full-suite sim). Below the floor every construction is fresh so
    py4j can release each query's JVM state; above it (the 48g bench
    session) one plan object is shared per (session, sf, name)."""
    import frafka_spark
    from frafka_spark import registry

    frafka_spark.load_all()
    name = "q_scan_project"
    fn = registry._memo_construction(name, registry.QUERIES[name].fn)
    app = spark.sparkContext.applicationId

    monkeypatch.setenv("SPARK_GRAFT_CONSTRUCT_MEMO", "0")
    registry._MEMO_ENABLED.clear()
    registry._CONSTRUCTED.pop((app, SF_DIR, name), None)
    a = fn(spark, SF_DIR)
    b = fn(spark, SF_DIR)
    assert a is not b
    assert (app, SF_DIR, name) not in registry._CONSTRUCTED

    monkeypatch.setenv("SPARK_GRAFT_CONSTRUCT_MEMO", "1")
    registry._MEMO_ENABLED.clear()
    c = fn(spark, SF_DIR)
    assert fn(spark, SF_DIR) is c

    # Auto mode decides from the driver's max heap against the floor.
    monkeypatch.delenv("SPARK_GRAFT_CONSTRUCT_MEMO")
    registry._MEMO_ENABLED.clear()
    heap = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    assert registry._memo_enabled(spark) is (
        heap >= registry._MEMO_HEAP_FLOOR_BYTES
    )
    registry._MEMO_ENABLED.clear()


def test_grading_order_is_lru_rotation():
    """Never-verified queries lead; the rest ascend by last-pass round.

    This is the rotation contract: no hardcoded exemption list, every
    query re-enters the driver's window within ceil(N/WINDOW) rounds.
    """
    names = list(get_queries())
    verified = _verified_rounds()
    deferred = {n for n in names if _defer_active(n, verified)}
    live = [n for n in names if n not in deferred]
    rounds = [verified.get(n, 0) for n in live]
    # ascending by last-verified round ⇒ never-verified (round 0)
    # queries form a prefix and least-recently-verified fill the window
    assert rounds == sorted(rounds), "grading order must ascend by last-verified round"
    # actively-deferred keys (registered after this round's window was
    # filled) must sit at the very END — behind every graded key — so
    # they cannot displace the stalest cohort from the current window
    assert set(names[len(live):]) == deferred, (
        "actively-deferred keys must form the suffix of queries() order"
    )


def test_oracle_order_matches_query_order():
    q = list(get_queries())
    o = list(get_oracle_sql())
    assert o == [n for n in q if QUERIES[n].oracle is not None]


def test_correctness_union_covers_registry():
    """Never-graded queries reach the driver with MINIMAL deferral.

    The driver records exactly GRADING_WINDOW rows per round, so when
    a round registers more than GRADING_WINDOW new queries, some must
    mathematically wait an extra round — the invariant that CAN be
    enforced is that the wait is as small as the cap allows: every
    never-graded query sorts before every already-graded one (they
    fill consecutive windows starting immediately), and the backlog
    never exceeds two windows (first driver row within two rounds).
    """
    seen: set[str] = set()
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        try:
            seen |= set(json.loads(f.read_text()))
        except (json.JSONDecodeError, TypeError):  # pragma: no cover
            pass
    if not seen:  # round 1: no driver artifact yet
        pytest.skip("no CORRECTNESS_r*.json present")
    names = list(get_queries())
    verified = _verified_rounds()
    deferred = {n for n in names if _defer_active(n, verified)}
    never = set(QUERIES) - seen - deferred
    # minimal deferral: the never-graded form a strict prefix of the
    # grading order — nothing already-graded may jump the queue.
    # Actively-deferred keys are the one documented exception: they
    # queue at the END (behind the graded cohort they must not
    # displace) and become ordinary never-graded leads the moment
    # their round's CORRECTNESS artifact is committed.
    prefix = set(names[: len(never)])
    assert prefix == never, (
        f"never-graded queries are not a prefix of queries() order: "
        f"{sorted(never - prefix)} displaced by {sorted(prefix - never)}"
    )
    assert len(deferred) <= GRADING_WINDOW, (
        f"{len(deferred)} actively-deferred keys exceed one grading "
        f"window — they would not all get a first driver row next round"
    )
    assert len(never) <= 2 * GRADING_WINDOW, (
        f"{len(never)} never-graded queries exceed two grading windows "
        f"({2 * GRADING_WINDOW}) — first driver row would wait >2 rounds"
    )


def test_one_layout_root_and_one_lock_discipline():
    """Only the artifact store names the layout root or takes file
    locks; every other module goes through ``frafka_spark.artifacts``."""
    pkg = REPO / "frafka_spark"
    offenders = [
        str(p.relative_to(REPO))
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "artifacts.py"
        and ("fcntl" in (src := p.read_text()) or "spark-warehouse" in src)
    ]
    assert offenders == []


def test_one_snapshot_composer():
    """Every manifest-table commit goes through one composer:
    ``_commit`` is called from exactly one function, and the keys a
    commit carries are listed once (table keys, per-file maps)."""
    import ast

    carried = {
        "schema", "column_mapping", "retired_physical", "constraints",
        "partition_by", "stats", "bloom", "partitions", "dv",
    }
    callers, key_lists = set(), []
    for p in sorted((REPO / "frafka_spark").rglob("*.py")):
        tree = ast.parse(p.read_text())
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(fn):
                    if isinstance(n, ast.Call) and "_commit" in (
                        getattr(n.func, "id", None),
                        getattr(n.func, "attr", None),
                    ):
                        callers.add(f"{p.name}:{fn.name}")
        for n in ast.walk(tree):
            if isinstance(n, (ast.Tuple, ast.List, ast.Set)):
                names = {
                    e.value for e in n.elts if isinstance(e, ast.Constant)
                } & carried
                if len(names) >= 2:
                    key_lists.append((p.name, sorted(names)))
    assert callers == {"manifest_table.py:_compose"}
    assert key_lists == [
        ("manifest_table.py", sorted(carried - {"stats", "bloom",
                                                "partitions", "dv"})),
        ("manifest_table.py", ["bloom", "dv", "partitions", "stats"]),
    ]
