"""Registry-wide physical-plan audit: EVERY queries() entry is held to
the engine's two non-negotiable scale invariants, without running an
action on any of them.

- No ``BatchEvalPython``: row-at-a-time Python UDFs are banned from the
  whole surface — Python is allowed only behind Arrow batches
  (MapInPandas / ArrowEvalPython), where it appears in the plan under
  different operators.
- No ``CartesianProduct``: any all-pairs comparison must either be
  banded/bucketed (LSH, IVF, blocking) or bounded-and-broadcast
  (BroadcastNestedLoopJoin over a provably small side). An unbounded
  cartesian node anywhere is a 100 TB death sentence even if the local
  test data happens to survive it.

Each entry's plan is built (analyzed + physical-planned), not run by an
action, and every future entry is covered automatically the moment it
is registered. Building is not free: every lineage break
(`functions.lineage.reuse`) plans its frame and runs that frame's
upstream stages at build time, so an entry with breaks runs jobs here.
"""

import pytest

import __spark_entry__ as entrymod

FORBIDDEN = ("BatchEvalPython", "CartesianProduct")


def _registry():
    return sorted(entrymod.queries().items())


@pytest.mark.parametrize("name,fn", _registry(), ids=[n for n, _ in _registry()])
def test_plan_invariants(spark, sf_dir, name, fn):
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    hits = [m for m in FORBIDDEN if m in plan]
    assert not hits, f"{name}: forbidden plan nodes {hits}"
