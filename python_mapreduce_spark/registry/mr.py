"""MapReduce-facade queries: reference-style user map/reduce programs
running through the compatibility layer (mapreduce.py).

These prove the reference's native surface — arbitrary Python
``map(line, aux)`` / ``reduce(group, aux)`` with broadcast auxiliary
data (README.txt:254-293) — executes correctly on the Spark engine, with
DuckDB oracles over the equivalent relational formulation.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_mapreduce_spark.mapreduce import flat_map, reduce_groups, run_mapreduce
from python_mapreduce_spark.registry import Query
from python_mapreduce_spark.registry._util import table

_TOKEN_RE = re.compile(r"[a-z]+")


def q_mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's canonical example is an incremental wordcount
    # (README.txt:18). Same program here: map emits (token, 1) per line,
    # reduce sums the group — via the facade's full pipeline.
    docs = table(spark, sf_dir, "documents").select("text")

    def map_fn(line, aux):
        return [(tok, 1) for tok in _TOKEN_RE.findall((line or "").lower())]

    def reduce_fn(key, rows, aux):
        return [(key[0], sum(n for (n,) in rows))]

    return run_mapreduce(
        docs, map_fn, "token string, n long", reduce_fn, "token string, cnt long"
    )


SQL_MR_WORDCOUNT = """
SELECT token, count(*) AS cnt
FROM (SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS token
      FROM documents)
GROUP BY token
"""


def q_mr_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Whole-group reduce with non-algebraic-looking logic: per return
    # flag, quantity-weighted average price. math.fsum gives an exactly-
    # rounded, order-independent sum, so the result is deterministic
    # despite nondeterministic row order within the group.
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def map_fn(row, aux):
        flag, qty, price = row
        return [(flag, qty, qty * price)]

    def reduce_fn(key, rows, aux):
        rows = list(rows)
        wsum = math.fsum(w for _, w in rows)
        qsum = math.fsum(q for q, _ in rows)
        wavg = math.floor(wsum / qsum * 100.0 + 0.5) / 100.0
        return [(key[0], wavg)]

    return run_mapreduce(
        li,
        map_fn,
        "flag string, qty double, wprice double",
        reduce_fn,
        "flag string, weighted_avg_price double",
    )


SQL_MR_WEIGHTED_AVG = """
SELECT l_returnflag AS flag,
       floor(sum(l_quantity * l_extendedprice) / sum(l_quantity) * 100.0 + 0.5) / 100.0
         AS weighted_avg_price
FROM lineitem GROUP BY l_returnflag
"""


def q_mr_udaf_wavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The UDAF mode of the UDF surface (SURVEY.md §2.2 "UDF surface":
    # grouped-agg pandas_udf ≈ the reference's algebraic reduce): a
    # custom aggregate usable INSIDE groupBy().agg() beside built-ins,
    # Arrow-batched per group. Same math as q_mr_weighted_avg (fsum =
    # order-independent exactly-rounded sum), same oracle — but
    # expressed as an aggregate function, not a whole-group reduce.
    # Note the scale contract: grouped-agg pandas UDFs have no partial
    # aggregation, so the full group shuffles — use built-ins when the
    # aggregate is expressible. (pandas is imported at module level:
    # pandas_udf resolves the signature via get_type_hints against the
    # function's module globals, and postponed annotations make every
    # hint a string needing that namespace.)
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    @F.pandas_udf("double")
    def wavg(qty: pd.Series, price: pd.Series) -> float:
        wsum = math.fsum((qty * price).tolist())
        qsum = math.fsum(qty.tolist())
        return math.floor(wsum / qsum * 100.0 + 0.5) / 100.0

    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        wavg("l_quantity", "l_extendedprice").alias("weighted_avg_price")
    )


def q_mr_aux_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's map-side broadcast join: small side shipped as the
    # auxiliary JSON document, probed per row in the map fn
    # (mapper.py:150-157). Dimension collect is driver-side by design —
    # that IS the aux-data pattern (25 nation rows, never the fact side).
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation_map = {
        int(r.n_nationkey): r.n_name for r in table(spark, sf_dir, "nation").collect()
    }

    def map_fn(row, aux):
        _, nationkey = row
        return [(aux.get(int(nationkey), "UNKNOWN"), 1)]

    mapped = flat_map(s, map_fn, "n_name string, one long", aux=nation_map)
    return mapped.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_suppliers"))


SQL_MR_AUX_JOIN = """
SELECT n_name, count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_mr_wordcount_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's NATIVE input path end-to-end: newline text files,
    # gzip-compressed (mapper.py:87-94), scanned as raw lines and fed to
    # the user map function. Fixture derived from documents.text per
    # FIXTURES.md B.1; same oracle as the parquet wordcount because the
    # token multiset survives the round-trip.
    from python_mapreduce_spark.scratch import scratch_dir  # noqa: PLC0415

    from python_mapreduce_spark.sources.readers import read_text
    from python_mapreduce_spark.sources.sinks import write_text

    from python_mapreduce_spark.session import tune

    tune(spark)
    out_dir = scratch_dir("wc_gz")
    docs = table(spark, sf_dir, "documents").select("text")
    write_text(docs, out_dir, compression="gzip")
    lines = read_text(spark, out_dir)

    def map_fn(line, aux):
        return [(tok, 1) for tok in _TOKEN_RE.findall((line or "").lower())]

    def reduce_fn(key, rows, aux):
        return [(key[0], sum(n for (n,) in rows))]

    return run_mapreduce(
        lines, map_fn, "token string, n long", reduce_fn, "token string, cnt long"
    )


def q_mr_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python UDTF (Spark 4): the reference's "map fn emits a LIST of
    # records per input" (mapper.py:59-62) as a first-class SQL table
    # function, applied per row via LATERAL. Rows reach it in Arrow
    # batches (useArrow: ArrowEvalPythonUDTF); eval itself is per-row
    # Python — the facade's compatibility path, not the perf path (the
    # relational equivalent is explode(regexp_extract_all(...)),
    # q_posexplode).
    from pyspark.sql.functions import udtf  # noqa: PLC0415 - Spark >= 4 surface

    @udtf(returnType="doc_id bigint, pos bigint, token string", useArrow=True)
    class TokenizeUDTF:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF protocol
            for i, tok in enumerate(_TOKEN_RE.findall((text or "").lower()), start=1):
                yield doc_id, i, tok

    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    table(spark, sf_dir, "documents").createOrReplaceTempView("__mr_udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token "
        "FROM __mr_udtf_docs AS d, LATERAL tokenize_udtf(d.doc_id, d.text) t"
    )


SQL_MR_UDTF_TOKENS = """
WITH t AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
           FROM documents)
SELECT doc_id,
       CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
       unnest(toks) AS token
FROM t
"""


def q_mr_stream_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Whole-group reduce over the spilling group iterator — the
    # reference's disk_based_input contract (reducer.py:76-86): the
    # reduce fn never holds the whole group, it streams it. One pass
    # computes count/min/max per flag.
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")

    def reduce_fn(key, rows, aux):
        n, lo, hi = 0, math.inf, -math.inf
        for (qty,) in rows:
            n += 1
            lo = qty if qty < lo else lo
            hi = qty if qty > hi else hi
        return [(key[0], n, float(lo), float(hi))]

    return reduce_groups(
        li,
        "l_returnflag",
        reduce_fn,
        "l_returnflag string, n_rows long, min_qty double, max_qty double",
    )


SQL_MR_STREAM_REDUCE = """
SELECT l_returnflag, count(*) AS n_rows,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


QUERIES: dict[str, Query] = {
    "q_mr_stream_reduce": Query(
        q_mr_stream_reduce, SQL_MR_STREAM_REDUCE, "spill-backed streaming whole-group reduce"
    ),
    "q_mr_udtf_tokens": Query(
        q_mr_udtf_tokens, SQL_MR_UDTF_TOKENS, "Python UDTF via LATERAL (map-fn fan-out)"
    ),
    "q_mr_wordcount": Query(q_mr_wordcount, SQL_MR_WORDCOUNT, "facade map+reduce wordcount"),
    "q_mr_udaf_wavg": Query(
        q_mr_udaf_wavg, SQL_MR_WEIGHTED_AVG, "grouped-agg pandas UDAF inside groupBy().agg()"
    ),
    "q_mr_wordcount_gz": Query(
        q_mr_wordcount_gz, SQL_MR_WORDCOUNT, "gzip text-line scan through the facade"
    ),
    "q_mr_weighted_avg": Query(q_mr_weighted_avg, SQL_MR_WEIGHTED_AVG, "whole-group reduce, fsum"),
    "q_mr_aux_join": Query(q_mr_aux_join, SQL_MR_AUX_JOIN, "aux-data map-side join"),
}
