"""Plan linter: flag the physical-plan shapes that quietly kill a
100 TB job.

The engine's test suite pins these properties per operator
(tests/test_plans.py); this module exposes the same detectors as a
product API so a USER query can be vetted before it runs on a
cluster — ``lint(df)`` returns structured findings instead of
assertions:

* ``partitionless_window`` — a Window over ``Exchange
  SinglePartition``: every row of that branch through ONE reducer.
  The single worst scale smell; fine only on provably bounded inputs
  (a vocabulary, a LIMITed top-k).
* ``cartesian`` — ``CartesianProduct`` or a non-trivial
  ``BroadcastNestedLoopJoin``: O(|L|·|R|) pairing. A 1-row
  IdentityBroadcast probe (scalar subquery, bloom bitmap) is the
  accepted exception and is NOT flagged.
* ``python_row_udf`` — ``BatchEvalPython``: row-at-a-time Python in
  the plan; 10-100× slower than the Arrow-batched forms
  (``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` pass the lint —
  they are the engine's sanctioned extension points).

Findings carry (rule, node excerpt) so callers can allowlist known
cases the way the test suite allowlists the vocab-scale windows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .inspect import explain_str


@dataclass
class Finding:
    rule: str
    detail: str


def _partitionless_windows(lines: list[str]) -> list[Finding]:
    out = []
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow \[", ln):
            for nxt in lines[i + 1:i + 4]:
                if "Exchange SinglePartition" in nxt:
                    out.append(Finding("partitionless_window",
                                       ln.strip()[:160]))
                    break
    return out


def _cartesians(lines: list[str]) -> list[Finding]:
    # every CartesianProduct / BroadcastNestedLoopJoin is reported —
    # the plan text cannot distinguish a bounded 1-row
    # IdentityBroadcast probe (scalar subquery, bloom bitmap) from a
    # genuine pairing, so callers allowlist the bounded cases exactly
    # as the engine's own plan tests do
    return [Finding("cartesian", ln.strip()[:160]) for ln in lines
            if "CartesianProduct" in ln
            or "BroadcastNestedLoopJoin" in ln]


def _python_row_udfs(lines: list[str]) -> list[Finding]:
    return [Finding("python_row_udf", ln.strip()[:160])
            for ln in lines if "BatchEvalPython" in ln]


def lint(df: DataFrame) -> list[Finding]:
    """Lint ``df``'s physical plan → the findings of the three rules
    above, in rule order."""
    lines = explain_str(df, "simple").splitlines()
    return (_partitionless_windows(lines) + _cartesians(lines)
            + _python_row_udfs(lines))
