"""MapReduce compatibility facade.

The reference's entire query surface is two user-supplied Python
functions: ``map_function(line, aux) -> [(key, value), ...]`` run over
input lines (reference mapper.py:41-73, template README.txt:254-261) and
``reduce_function(group, aux) -> [items]`` run over each sorted key group
(reducer.py:73-93, template README.txt:286-291), with a JSON auxiliary
document broadcast to every task (mapper.py:150-157).

This module re-expresses that surface over DataFrames so any reference
program ports line-for-line:

  * :func:`flat_map`       ≈ the map phase (O6) — mapInArrow
  * :func:`reduce_groups`  ≈ sort+group+reduce (O14+O17+O18) — applyInArrow,
    each group streamed as the reference's DiskList streams it (O20)
  * :func:`broadcast_aux`  ≈ auxiliary data (O22) — a real Spark broadcast
  * :func:`run_mapreduce`  ≈ one whole reference job (scan -> map ->
    shuffle -> reduce), minus the cluster babysitting (SURVEY.md §3)

Rows cross the Python boundary one way only: as Arrow record batches,
decoded to tuples of Python values (:func:`_rows`) and encoded back from
output tuples (:func:`_batches`), both typed by the DDL schema.

Scale contract: both hooks run arbitrary per-row Python, which is the
slow path by design — this is the escape hatch, not the default.
Anything expressible as built-in DataFrame ops should use the named
operators in ``operators/``; an algebraic reduce should be a
``groupBy().agg()`` with partial aggregation, which this facade does not
do (the whole group shuffles). Memory is bounded by one Arrow batch per
task, not by a group: ``reduce_groups`` hands the reduce fn a lazy
iterator over a spilling sort, so a group larger than executor memory
streams as long as the fn does not collect it.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

# Rows per output record batch: a map or reduce that emits as many rows
# as it reads must not buffer its whole output.
_OUT_BATCH_ROWS = 10_000


def _arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a DDL schema string ('token string, n long')."""
    return to_arrow_schema(_parse_datatype_string(schema))


def _values(col: pa.Array) -> list:
    """One Arrow column as the Python values collect() gives (timestamps
    as timezone-aware datetimes). Null-free numeric, bool and string
    columns go through numpy: on 100k rows that is 14-24x faster than
    ``to_pylist()`` (4-core x86 host), with identical values. Only
    null-free ones: numpy would turn a null bigint into nan."""
    t = col.type
    if col.null_count == 0 and (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
    ):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def _rows(batches: Iterable[pa.RecordBatch], cols: Sequence[str | int]) -> Iterator[tuple]:
    """Tuples of Python values of ``cols`` (names or positions), decoded
    one batch at a time; with no columns, one empty tuple per row."""
    for batch in batches:
        if cols:
            yield from zip(*(_values(batch.column(c)) for c in cols))
        else:
            yield from itertools.repeat((), batch.num_rows)


def _batches(tuples: Iterable[tuple], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Record batches of at most ``_OUT_BATCH_ROWS`` output tuples, each
    column typed from ``schema``. Columns are gathered one list each:
    ``zip(*chunk)`` over 10k rows is several times slower."""
    it = iter(tuples)
    while chunk := list(itertools.islice(it, _OUT_BATCH_ROWS)):
        yield pa.RecordBatch.from_arrays(
            [pa.array([t[i] for t in chunk], type=f.type) for i, f in enumerate(schema)],
            schema=schema,
        )


def resolve_function(
    qualified: str,
    *,
    project_dir: str | None = None,
    reload: bool = True,
) -> Callable:
    """Resolve a user function BY NAME, re-importing its module so
    on-disk edits take effect per job — the reference's dynamic function
    registry (mapper.py:44-53: ``sys.path.insert(project_path); import
    map_functions; reload(map_functions)`` then pick the function by its
    configured name; same in reducer.py for reduce_functions).

    ``qualified`` is ``'module:function'`` (or dotted
    ``'pkg.module.function'``). ``project_dir``, when given, is
    prepended to ``sys.path`` for the import and removed after — the
    reference's per-project source layout. ``reload=False`` skips the
    re-import for callers that resolve once per process.

    Resolution happens on the DRIVER at plan-build time; the resolved
    callable is then shipped in the task closure like any other. (The
    reference reloads on every job start, not per task — same cadence.)
    """
    import importlib  # noqa: PLC0415
    import sys  # noqa: PLC0415

    if ":" in qualified:
        mod_name, _, fn_name = qualified.partition(":")
    else:
        mod_name, _, fn_name = qualified.rpartition(".")
    if not mod_name or not fn_name:
        raise ValueError(
            f"expected 'module:function' or 'pkg.module.function', got {qualified!r}"
        )
    added = False
    if project_dir is not None and project_dir not in sys.path:
        sys.path.insert(0, project_dir)
        added = True
    try:
        mod = importlib.import_module(mod_name)
        if reload:
            mod = importlib.reload(mod)
        fn = getattr(mod, fn_name)
    finally:
        if added:
            sys.path.remove(project_dir)
    if not callable(fn):
        raise TypeError(f"{qualified} resolved to non-callable {type(fn).__name__}")
    if project_dir is not None:
        # Project modules live on the driver only — executors can't
        # import them. Registering the module for by-value pickling
        # ships the CURRENT function code inside the task closure (and
        # keeps reload semantics honest on workers: each job serializes
        # the freshly reloaded code, no stale executor-side import).
        try:  # pragma: no cover - depends on bundled cloudpickle API
            from pyspark import cloudpickle  # noqa: PLC0415

            cloudpickle.register_pickle_by_value(mod)
        except (ImportError, AttributeError):
            pass
    return fn


def _as_callable(fn: Callable | str, project_dir: str | None = None) -> Callable:
    """Accept a callable or a 'module:function' name (reference O7)."""
    if callable(fn):
        return fn
    return resolve_function(fn, project_dir=project_dir)


def broadcast_aux(spark: SparkSession, aux: Any):
    """Ship auxiliary data to every task (reference O22).

    The reference re-reads a JSON file from shared disk in every map and
    reduce task (mapper.py:150-157, reducer.py:141-148); a Spark
    broadcast ships it once per executor.
    """
    return spark.sparkContext.broadcast(aux)


def flat_map(
    df: DataFrame,
    fn: Callable[[tuple, Any], Iterable[tuple]] | str,
    schema: str,
    aux: Any = None,
    project_dir: str | None = None,
) -> DataFrame:
    """The reference map phase (O6): one input row -> zero or more output
    rows.

    ``fn(row, aux)`` receives each input row as a tuple of Python values
    (single-column inputs are unwrapped to the bare value, matching the
    reference's "raw line in" contract, mapper.py:58-59) and returns an
    iterable of output tuples matching ``schema``. The plan is a
    ``mapInArrow``: rows cross the Python boundary as Arrow batches and
    only the user function itself is per-row Python. ``fn`` may also be
    a ``'module:function'`` name, resolved from ``project_dir`` with
    per-job reload semantics (:func:`resolve_function`).
    """
    fn = _as_callable(fn, project_dir)
    cols = range(len(df.columns))
    unwrap = len(cols) == 1
    out_schema = _arrow_schema(schema)
    b = broadcast_aux(df.sparkSession, aux)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        a = b.value
        rows = _rows(batches, cols)
        if unwrap:
            rows = (v for (v,) in rows)
        yield from _batches(itertools.chain.from_iterable(fn(r, a) for r in rows), out_schema)

    return df.mapInArrow(gen, schema)


def reduce_groups(
    df: DataFrame,
    keys: str | Sequence[str],
    fn: Callable[[tuple, Iterator[tuple], Any], Iterable[tuple]] | str,
    schema: str,
    aux: Any = None,
    project_dir: str | None = None,
) -> DataFrame:
    """The reference reduce phase (O17+O18): the whole group for one key,
    as one call — streamed, as the reference's DiskList streams a group
    that outgrows RAM (disk_based_input, reducer.py:76-86,
    disk_list.py:6-63).

    ``fn(key, rows, aux)`` gets ``key`` as a tuple of Python values and
    the group as a LAZY iterator of value tuples (the non-key columns,
    decoded as in :func:`flat_map`), and returns output tuples matching
    ``schema``. The plan is a grouped Arrow map (``applyInArrow``) behind
    a spilling sort: the group arrives as Arrow batches of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows and is decoded
    one batch at a time, so a group larger than executor memory streams
    from disk as long as ``fn`` does not hold it. Row order within the
    group is NOT deterministic (shuffle arrival order); order-sensitive
    reduces must sort themselves, and float sums should use
    ``math.fsum`` for order-independent exactness. ``fn`` may also be a
    ``'module:function'`` name, resolved from ``project_dir`` with
    per-job reload (:func:`resolve_function`).
    """
    fn = _as_callable(fn, project_dir)
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    val_cols = [c for c in df.columns if c not in key_cols]
    out_schema = _arrow_schema(schema)
    b = broadcast_aux(df.sparkSession, aux)

    # The hints select PySpark's iterator form (one group streamed as
    # batches); they must resolve from this module's globals.
    def run(
        key: tuple[pa.Scalar, ...], batches: Iterator[pa.RecordBatch]
    ) -> Iterator[pa.RecordBatch]:
        rows = _rows(batches, val_cols)
        yield from _batches(fn(tuple(k.as_py() for k in key), rows, b.value), out_schema)

    return df.groupBy(*key_cols).applyInArrow(run, schema)


def to_pairs(df: DataFrame, key_col: str, value_cols: Sequence[str] | None = None):
    """Expose a DataFrame as the reference's raw (key, value) RDD surface
    (item = (key, value), README.txt:259-261; key = item[0],
    mapper.py:61).

    Only for genuinely imperative per-partition logic — everything
    relational should stay in DataFrames where Catalyst can see it.
    """
    cols = value_cols or [c for c in df.columns if c != key_col]
    return df.rdd.map(lambda row: (row[key_col], tuple(row[c] for c in cols)))


def pairs_to_df(pairs, schema: str) -> DataFrame:
    """Back from (key, value-tuple) pairs to a typed DataFrame."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(pairs.map(lambda kv: (kv[0], *kv[1])), schema)


def run_mapreduce(
    df: DataFrame,
    map_fn: Callable[[tuple, Any], Iterable[tuple]] | str,
    map_schema: str,
    reduce_fn: Callable[[tuple, Iterator[tuple], Any], Iterable[tuple]] | str,
    reduce_schema: str,
    aux: Any = None,
    key: str | Sequence[str] | None = None,
    project_dir: str | None = None,
) -> DataFrame:
    """One reference job end-to-end: map -> shuffle on the first output
    column -> streaming whole-group reduce (the fixed physical pipeline of
    SURVEY.md §0: scan -> flatMap -> hash shuffle -> sort -> group ->
    reduce). Key defaults to the first map-output column, matching
    ``item[0]`` (reference mapper.py:61).

    ``map_fn`` / ``reduce_fn`` may be ``'module:function'`` names,
    resolved from ``project_dir`` with per-job reload — the reference's
    full project layout (map_functions.py / reduce_functions.py resolved
    by configured name, mapper.py:44-53)."""
    map_fn = _as_callable(map_fn, project_dir)
    reduce_fn = _as_callable(reduce_fn, project_dir)
    mapped = flat_map(df, map_fn, map_schema, aux=aux)
    group_key = key if key is not None else _parse_datatype_string(map_schema).names[0]
    return reduce_groups(mapped, group_key, reduce_fn, reduce_schema, aux=aux)
