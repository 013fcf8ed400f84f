"""Plan audit for the statistics and sketch family (``registry/stats.py``),
the graph, retrieval and IVF-PQ entries of ``registry/llm.py``, and the
library-only Ed-Join query (``gate_queries.py``): the same checks
every registered query gets in ``test_core_queries.py`` (see
``conftest.audit_problems``). Entries with eager build work (counting
passes, PQ codebook training, query-vector collects) execute it at
build time; the audit inspects the final DataFrame's physical plan,
where the distributed-rank scheme shows as per-partition windows keyed
on the partition id, never a SinglePartition exchange.

Registered entries read the memoized build (``conftest.QueryChecks``),
so a full run builds each query once. The stream_* entries are left to
the streaming suites: building them runs a Structured Streaming query
over temp-dir state.
"""

from __future__ import annotations

import pytest

from gate_queries import GRAPH_RETRIEVAL_ANN, LIBRARY_QUERIES
from python_mapreduce_spark.registry import stats

AUDITED = [*stats.QUERIES, *GRAPH_RETRIEVAL_ANN, "q_edit_distance_pairs"]


@pytest.mark.parametrize("name", AUDITED)
def test_staged_plan_has_no_scale_hazards(query_checks, name):
    problems = query_checks.audit(name, LIBRARY_QUERIES.get(name))
    assert not problems, problems
