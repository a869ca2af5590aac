"""Shared physical-plan introspection: ONE copy of the formatted-explain
incantation and ONE exchange classification, consumed by both the PLANS.md
audit (tools/explain_audit.py) and the plan-shape tests (tests/test_plans.py,
tests/test_dedup.py).

Previously each consumer carried its own copy — and the two exchange
classifiers matched by opposite polarity (guard-by-name vs data-by-exclusion),
so a Spark-upgrade taxonomy change applied to one file but not the other would
make PLANS.md and the tests silently disagree about what counts as a shuffle
(round-5 review finding). Here the split is computed once and both numbers
come from the same partition of the same list.
"""

from __future__ import annotations

import re


def formatted_plan(df) -> str:
    """The ``explain('formatted')`` text via the same JVM entry point
    ``DataFrame.explain`` uses. ``PythonSQLUtils`` is a private PySpark API —
    when an upgrade moves it, this is the only line to update."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def count_op(plan: str, op: str) -> int:
    """Occurrences of a physical operator in the plan's detail sections
    ("(5) Exchange" lines — not tree echoes)."""
    return len(re.findall(rf"^\(\d+\) {op}", plan, re.M))


def split_exchanges(plan: str) -> tuple[int, int]:
    """``(data, guard)`` exchange counts from the detail sections.

    guard — every exchange from an explicit ``repartition(n[, cols])``:
    round-robin, or tagged ``REPARTITION_BY_NUM``. No planner-inserted
    shuffle carries that tag, so it is matched by the tag, never by
    exclusion. In the audited queries that is the small-scan guard's
    hash spread (``io.scan_min_parallel``: fires only when a fact file
    holds fewer row groups than the splits Spark planned, capped at the
    cores; structurally absent at production split counts). The tag is
    not unique to the guard, though: ``sketches.heavy_hitters``'
    ``summary.repartition(1)`` (the Misra-Gries merge) carries it too, and
    so would any other numbered repartition in query code. Such a shuffle
    is counted here as guard, not data, so an audited query must not use
    one for real data movement without changing this rule.

    data — every other exchange: hash, range AND SinglePartition (a global
    agg/sort is a real data-dependent shuffle and must stay counted).
    """
    details = re.split(r"^\(\d+\) ", plan, flags=re.M)
    ex = [d for d in details if d.startswith("Exchange")]
    guard = sum(1 for d in ex
                if "RoundRobinPartitioning" in d or "REPARTITION_BY_NUM" in d)
    return len(ex) - guard, guard


def n_data_exchanges(plan: str) -> int:
    """Data-dependent exchanges (see ``split_exchanges``)."""
    return split_exchanges(plan)[0]
