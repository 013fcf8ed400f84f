"""Oracle gate for the statistics and sketch family
(``registry/stats.py``), the graph, retrieval and IVF-PQ entries of
``registry/llm.py``, the stream_* entries of ``registry/streaming.py``
that pair with them, and the library-only queries in
``gate_queries.py``: each Spark query against its DuckDB oracle at
sf0.001, with the comparison ``tools/check_oracle.py`` runs (row count,
name-sorted columns, order-insensitive value hash). Rows-only entries
must emit rows.

Registered entries read the memoized outcome of their oracle test in
``test_core_queries.py`` (``conftest.QueryChecks``), so a full run
builds and compares each query once.
"""

from __future__ import annotations

import pytest

from gate_queries import GRAPH_RETRIEVAL_ANN, LIBRARY_QUERIES, STREAMING
from python_mapreduce_spark.registry import stats

CHECKED = sorted({*stats.QUERIES, *GRAPH_RETRIEVAL_ANN, *STREAMING, *LIBRARY_QUERIES})


@pytest.mark.parametrize("name", CHECKED)
def test_staged_query_matches_oracle(query_checks, name):
    problems = query_checks.oracle(name, LIBRARY_QUERIES.get(name))
    assert not problems, problems
