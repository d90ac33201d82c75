"""A/B-table staleness gate.

Twice a perf surgery landed without regenerating the A/B table it
invalidated, so the published table contradicted the prose. The rule
that caught it: a table's stamped generation time must postdate the
last git commit touching any module its queries' plans are built from
(the query's defining module plus every in-package module it
imports). tools/ab_table.py holds the rule.

Tables live in ``ab_tables/``, one file per (date, host), each stamped
``Host: cpus=N boot=<id>``. The rule applies only to tables stamped
with the host the suite runs on: a table from another host cannot be
regenerated here, so it is history and only its host stamp is checked.
README.md must hold no table, so nothing published there can claim to
be current when it is not.
"""

from __future__ import annotations

import dataclasses
import datetime
import os

import pytest

from tools import ab_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclasses.dataclass(frozen=True)
class Stamp:
    generated: datetime.datetime
    host: tuple[int, str] | None
    path: str


def _archived_tables() -> list[tuple[str, Stamp, list[str]]]:
    tables = []
    for path, host, text in ab_table.read_archive():
        for tag, ts, queries in ab_table.read_blocks(text):
            tables.append((tag, Stamp(ts, host, path), queries))
    assert tables, "no AB_TABLE blocks found in ab_tables/"
    return tables


def test_readme_holds_no_ab_table():
    with open(os.path.join(ROOT, "README.md")) as f:
        assert not ab_table.BLOCK_RE.search(f.read()), (
            "README.md holds an AB_TABLE block; publish tables with "
            "tools/ab_table.py --write (into ab_tables/)"
        )


@pytest.mark.parametrize(
    "tag,stamp,queries",
    _archived_tables(),
    ids=lambda v: v if isinstance(v, str) else None,
)
def test_ab_table_not_stale(tag, stamp, queries):
    rel = os.path.relpath(stamp.path, ROOT)
    assert stamp.host is not None, (
        f"{rel} has no 'Host: cpus=N boot=<id>' stamp, so {tag} cannot "
        f"be told apart from a table measured on this host"
    )
    if stamp.host != ab_table.current_host():
        return  # measured on another host: history, not a current claim
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("not a git checkout")
    problem = ab_table.staleness(tag, stamp.generated, queries)
    assert problem is None, problem
