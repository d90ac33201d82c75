"""Registry-wide audit (round-5 verdict task 8): the duplicate-NAME
guard in queries/__init__.py caught a shadowed twin in round 5; these
checks catch the copy-paste twins the name guard can't — two entries
registered under different names but carrying the same oracle, or an
oracle that references no table at all (which would vacuously 'pass'
against whatever constant relation it computes)."""

from __future__ import annotations

import collections
import inspect
import re

from duckdb_distributed_execution_spark.queries import all_queries

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Queries whose oracle legitimately references no data table:
# range_table_function checks the range() TABLE FUNCTION itself —
# its oracle is DuckDB's own range() generator (SURVEY §2.B
# TABLE_SCAN + range() source).
_TABLE_FREE_OK = {"range_table_function"}


def test_every_oracle_references_a_table():
    missing = []
    for name, spec in all_queries().items():
        if spec.oracle is None or name in _TABLE_FREE_OK:
            continue
        sql = spec.oracle.lower()
        if not any(re.search(rf"\b{t}\b", sql) for t in _TABLES):
            missing.append(name)
    assert not missing, (
        f"oracles referencing no registered table: {missing} — such an "
        "oracle checks a constant, not the engine"
    )


def test_no_copy_paste_oracle_twins():
    """Two queries with IDENTICAL oracle SQL are either a copy-paste
    error or an unregistered intentional twin. Whitespace-normalized
    comparison; intentional twins must be listed here with a reason."""
    # Each allowed twin set is DIFFERENT ENGINE CODE deliberately
    # verified against the same oracle — the twin-equivalence pattern,
    # not copy-paste (the engine fns live in different operators):
    allowed_twins: set[frozenset[str]] = {
        # Spark-4 native WITH RECURSIVE vs the driver-fixpoint operator
        frozenset({"recursive_cte_native", "recursive_cte_walk"}),
        # applyInPandas stateful sessionizer vs pure SQL window form
        frozenset({"sessionize_pandas_udf", "sessionize_window_sql"}),
        # same relational result through three different file formats
        frozenset({"csv_roundtrip", "json_roundtrip", "orc_roundtrip"}),
        # batch window agg vs Structured Streaming availableNow twin
        frozenset({"events_tumbling_window", "streaming_tumbling_counts"}),
        # batch Bloom decontamination vs its streaming screen twin
        frozenset({"contamination_bloom", "streaming_contamination_screen"}),
        # online assign+probe (ivf_topk) vs the wave-61 persisted-index
        # serve kernel (ivf_serve_topk over a pre-assigned cell
        # relation) — same semantics by construction, different engine
        # path, both oracle-gated
        frozenset({"ann_ivf_multiprobe_topk", "ann_served_multiprobe_topk"}),
    }
    by_oracle: dict[str, list[str]] = collections.defaultdict(list)
    for name, spec in all_queries().items():
        if spec.oracle is None:
            continue
        key = re.sub(r"\s+", " ", spec.oracle.strip())
        by_oracle[key].append(name)
    dupes = [
        sorted(names)
        for names in by_oracle.values()
        if len(names) > 1 and frozenset(names) not in allowed_twins
    ]
    assert not dupes, f"queries sharing an identical oracle: {dupes}"


def test_every_query_fn_takes_spark_and_sfdir():
    bad = []
    for name, spec in all_queries().items():
        params = inspect.signature(spec.fn).parameters
        if len(params) != 2:
            bad.append((name, list(params)))
    assert not bad, f"query fns must take (spark, sf_dir): {bad}"


def test_registry_names_match_specs():
    assert all(name == spec.name for name, spec in all_queries().items())


# A byte-size literal: 1024 * 1024 (any spacing), a shift by 20, or
# the spelled-out 1048576.
_BYTE_SIZE_LITERAL = re.compile(r"1024\s*\*\s*1024|<<\s*20\b|\b1_?048_?576\b")


def test_queries_hold_no_byte_size_literals():
    """Every small-versus-large plan choice goes through one policy
    (queries.small_table / SMALL_TABLE_BYTES), and every size
    threshold is a named constant in queries/__init__.py — a byte
    literal anywhere else in queries/ is a private gate."""
    import pathlib

    import duckdb_distributed_execution_spark.queries as Q

    pkg = pathlib.Path(Q.__file__).parent
    offenders = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(pkg.glob("*.py"))
        if path.name != "__init__.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _BYTE_SIZE_LITERAL.search(line)
    ]
    assert not offenders, (
        "byte-size literals outside queries/__init__.py (route the "
        "decision through queries.small_table): " + "; ".join(offenders)
    )
