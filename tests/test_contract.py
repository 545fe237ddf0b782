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
    _verified_rounds,
    get_oracle_sql,
    get_queries,
)

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


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
    from frafka_spark import artifacts, registry

    frafka_spark.load_all()
    name = "q_scan_project"
    fn = registry._memo_construction(name, registry.QUERIES[name].fn)
    key = (spark.sparkContext.applicationId, SF_DIR, f"query:{name}")

    monkeypatch.setenv("SPARK_GRAFT_CONSTRUCT_MEMO", "0")
    artifacts._SESSION.pop(key, None)
    a = fn(spark, SF_DIR)
    b = fn(spark, SF_DIR)
    assert a is not b
    assert key not in artifacts._SESSION

    monkeypatch.setenv("SPARK_GRAFT_CONSTRUCT_MEMO", "1")
    c = fn(spark, SF_DIR)
    assert fn(spark, SF_DIR) is c
    artifacts._SESSION.pop(key, None)

    # Auto mode decides from the driver's max heap against the floor.
    monkeypatch.delenv("SPARK_GRAFT_CONSTRUCT_MEMO")
    heap = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    assert registry._memo_enabled(spark) is (
        heap >= registry._MEMO_HEAP_FLOOR_BYTES
    )


def test_grading_order_is_lru_rotation():
    """Never-verified queries lead; the rest ascend by last-pass round.

    This is the rotation contract: no hardcoded exemption list, every
    query re-enters the driver's window within ceil(N/WINDOW) rounds.
    """
    names = list(get_queries())
    verified = _verified_rounds()
    rounds = [verified.get(n, 0) for n in names]
    # ascending by last-verified round ⇒ never-verified (round 0)
    # queries form a prefix and least-recently-verified fill the window
    assert rounds == sorted(rounds), "grading order must ascend by last-verified round"


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
    never = set(QUERIES) - seen
    # minimal deferral: the never-graded form a strict prefix of the
    # grading order — nothing already-graded may jump the queue.
    prefix = set(names[: len(never)])
    assert prefix == never, (
        f"never-graded queries are not a prefix of queries() order: "
        f"{sorted(never - prefix)} displaced by {sorted(prefix - never)}"
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


def test_one_session_memo():
    """Every per-session memo goes through ``artifacts.session_artifact``:
    only the store (and ``io.py``, which keys per SparkSession object on
    purpose) reads ``applicationId``, and no two call sites pass the
    same literal tag, so one builder never receives another's value."""
    import ast
    from collections import Counter

    pkg = REPO / "frafka_spark"
    readers = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if "applicationId" in p.read_text()
    ]
    assert readers == ["artifacts.py", "io.py"]

    tags = Counter()
    for p in sorted(pkg.rglob("*.py")):
        for n in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(n, ast.Call)
                and getattr(n.func, "id", None) == "session_artifact"
                and len(n.args) >= 3
                and isinstance(n.args[2], ast.Constant)
            ):
                tags[n.args[2].value] += 1
    assert tags, "no session_artifact call sites found"
    assert [t for t, k in tags.items() if k > 1] == []


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


def test_one_dml_rewrite_and_one_vector_codec():
    """The manifest table's DML has one mechanism per concern: one
    function reads a row's (file, row_index) identity, one packs a
    position bitmap, one decodes positions from it (``_dv_popcount``
    only counts bits), and the five copy-on-write verbs hand their
    rewrite to a shared step instead of writing data files."""
    import ast

    src = (REPO / "frafka_spark" / "sources" / "manifest_table.py").read_text()
    top = [
        n for n in ast.parse(src).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]

    def holders(hit) -> set[str]:
        return {fn.name for fn in top if any(hit(n) for n in ast.walk(fn))}

    def attr(n, name: str) -> bool:
        return isinstance(n, ast.Attribute) and n.attr == name

    assert holders(
        lambda n: isinstance(n, ast.Constant)
        and n.value == "_metadata.row_index"
    ) == {"_identity_scan"}
    assert holders(
        lambda n: attr(n, "at") and attr(n.value, "bitwise_or")
    ) == {"_dv_pack_positions"}
    assert holders(lambda n: attr(n, "unpackbits")) == {
        "_dv_unpack_positions", "_dv_popcount",
    }
    cow = {
        "merge_table_pruned", "merge_table_cdc", "delete_rows",
        "update_rows", "delete_keys",
    }
    writers = holders(
        lambda n: isinstance(n, ast.Call)
        and getattr(n.func, "id", None) == "_write_data_files"
    )
    assert cow <= {fn.name for fn in top}
    assert writers & cow == set()


def test_no_side_effects_in_assert():
    """No ``assert`` in the package commits to a table: under
    ``python -O`` the whole statement, call included, is skipped, so a
    layout would be published without its writes."""
    import ast
    import re

    mutating = re.compile(
        r"^(write_stream_batch|write_table\w*|commit_\w+|catalog_commit"
        r"|run_txn|delete_\w+|update_\w+|merge_table\w*)$"
    )
    offenders = []
    for p in sorted((REPO / "frafka_spark").rglob("*.py")):
        for a in ast.walk(ast.parse(p.read_text())):
            if not isinstance(a, ast.Assert):
                continue
            for n in ast.walk(a.test):
                name = isinstance(n, ast.Call) and (
                    getattr(n.func, "id", None)
                    or getattr(n.func, "attr", None)
                )
                if name and mutating.match(name):
                    offenders.append(
                        f"{p.relative_to(REPO)}:{a.lineno} {name}"
                    )
    assert offenders == []
