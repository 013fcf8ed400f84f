"""Plan-hygiene sweeps across the relational and llm query modules.

Every query's physical plan and output schema are audited for the
patterns that silently destroy 100 TB scalability or the oracle
comparison (see ``conftest.audit_problems``): row-at-a-time Python
(``BatchEvalPython``), an unconditioned cross join
(``CartesianProduct``), a Window fed by a ``SinglePartition`` Exchange,
and complex-typed or wide-decimal columns. Only the named allowlists in
``conftest.py`` are exempt.

The audit reads the DataFrame ``test_core_queries.py`` already builds
for its oracle comparison (``conftest.QueryChecks`` memoizes it), so a
full run builds each query once. Run alone, each sweep builds what it
audits: the lazy relational modules at no execution cost, the llm
module with its eager build work (collect query vectors, train
centroids, run iterations) at sf0.001. The parametrizations read the
modules' ``QUERIES`` at collection time, so a new query cannot skip
its sweep.
"""

from __future__ import annotations

import pytest

from python_mapreduce_spark.registry import core, extra, joins, llm, tpch2, tpch3, windows

_LAZY_MODULES = (core, extra, tpch2, tpch3, joins, windows)

_LAZY_NAMES = [name for mod in _LAZY_MODULES for name in mod.QUERIES]


@pytest.mark.parametrize("name", _LAZY_NAMES)
def test_plan_has_no_scale_hazards(query_checks, name):
    problems = query_checks.audit(name)
    assert not problems, problems


@pytest.mark.parametrize("name", sorted(llm.QUERIES))
def test_llm_plans_have_no_scale_hazards(query_checks, name):
    problems = query_checks.audit(name)
    assert not problems, problems
