"""The benchmark's workloads: which operations a pass runs and how each
one's output is checked.

An operation is either

- ``engine``: ``run(spark, input_dir)`` returns a Spark DataFrame; a
  timed pass writes it to Spark's ``noop`` sink, so every row and
  column is computed and nothing is collected; or
- ``compat``: ``run(frame)`` is a pandas-in/pandas-out ``parallel_*``
  call through ``pandarallel.initialize``; its result reaches the caller.

``check(result)`` raises ``AssertionError`` naming the difference when
the output disagrees with its reference. References are independent of
the library: the registry's DuckDB oracles for the registry workloads,
stock pandas on the same generated frame for ``udf_ops``.

Each workload's builder takes ``wrap_load``, which wraps the input reads
so a traced pass can time them apart (``sources.load_s``).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Spark and pandas evaluate the same Python UDFs; only the vectorized
# fast path and the engine's summation order may move the last bits.
RTOL = 1e-9
ATOL = 1e-12


@dataclass
class Op:
    name: str
    kind: str  # "engine" | "compat"
    run: Callable
    check: Callable[[object], None]


# -- udf_ops: the reference notebook's UDFs (bench.py keeps the same ones) --


def _row(r):
    return math.sin(r.a**2) + math.sin(r.b**2)


def _row_arith(r):
    return r.a * 2 + r.b / 3 - 1


def _group_sum(g):
    return sum(math.log10(math.sqrt(math.exp(x**2))) for x in g.b)


def _close(got, exp, what: str) -> None:
    got = np.asarray(got, dtype="float64")
    exp = np.asarray(exp, dtype="float64")
    if got.shape != exp.shape:
        raise AssertionError(f"{what}: shape {got.shape} != reference {exp.shape}")
    np.testing.assert_allclose(got, exp, rtol=RTOL, atol=ATOL, equal_nan=True, err_msg=what)


def _by(key: str, col: str, ref: pd.Series):
    """Check a collected Spark frame: sort by ``key``, compare ``col``
    with ``ref`` (indexed by the key's values)."""

    def check(pdf: pd.DataFrame) -> None:
        pdf = pdf.sort_values(key, kind="mergesort")
        if not np.array_equal(pdf[key].to_numpy(), ref.index.to_numpy()):
            raise AssertionError(f"{key}: output keys differ from the reference keys")
        _close(pdf[col], ref.to_numpy(), col)

    return check


def _series_equal(ref: pd.Series):
    def check(got) -> None:
        pd.testing.assert_series_equal(
            got, ref, check_exact=False, rtol=RTOL, atol=ATOL, check_names=False
        )

    return check


def udf_ops(frame: pd.DataFrame, wrap_load: Callable) -> list[Op]:
    """Row apply (stock and ``_vectorize`` fast path) and groupby apply
    over few and many groups on the engine facade, and the compat shim's
    row apply."""
    from pandarallel_spark import parallelize

    parquet = wrap_load(lambda spark, path: spark.read.parquet(path))

    def read(spark, d, *cols):
        return parquet(spark, os.path.join(d, "frame.parquet")).select(*cols)

    f = frame.set_index("idx", drop=False)
    row_ref = f.apply(_row, axis=1)
    row_schema = "idx bigint, a bigint, b double, result double"
    return [
        Op("row_apply", "engine",
           lambda s, d: parallelize(read(s, d, "idx", "a", "b"))
           .parallel_apply(_row, axis=1, schema=row_schema),
           _by("idx", "result", row_ref)),
        Op("row_apply_arith", "engine",
           lambda s, d: parallelize(read(s, d, "idx", "a", "b"))
           .parallel_apply(_row_arith, axis=1, schema=row_schema),
           _by("idx", "result", f.apply(_row_arith, axis=1))),
        Op("groupby_apply_few", "engine",
           lambda s, d: parallelize(read(s, d, "few", "b")).groupby("few")
           .parallel_apply(_group_sum, schema="few bigint, result double", mode="scalar"),
           _by("few", "result", f.groupby("few")[["b"]].apply(_group_sum))),
        Op("groupby_apply_many", "engine",
           lambda s, d: parallelize(read(s, d, "many", "b")).groupby("many")
           .parallel_apply(_group_sum, schema="many bigint, result double", mode="scalar"),
           _by("many", "result", f.groupby("many")[["b"]].apply(_group_sum))),
        Op("compat_row_apply", "compat",
           lambda p: p[["a", "b"]].parallel_apply(_row, axis=1),
           _series_equal(row_ref)),
    ]


# -- registry workloads ------------------------------------------------------

# Registry queries per workload; the rest of each family is left out to
# fit the run length (NOTES.md). ``text_pipelines`` is not in
# BENCHMARK.json (NOTES.md says why) but runs the same way by hand.
REGISTRY = {
    "windows": (
        "grouped_expanding_max",
        "time_rolling_purchase_cents_1h",
        "rolling_corr_qty_price",
        "groupby_agg_pricing_summary",
    ),
    "text_pipelines": (
        "dedup_minhash_lsh",
        "dedup_substring_spans",
        "bm25_topk",
    ),
}


class _Collected:
    """A collected result in the shape ``oracle_utils.compare`` reads,
    so the comparison runs on the very rows the pass produced."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - Spark's name
        return self._pdf


def registry_ops(workload: str, oracle_dir: str, wrap_load: Callable) -> list[Op]:
    """Registry queries checked against their DuckDB oracles with the
    test suite's own comparison (``tests/oracle_utils.compare``). The
    queries read their inputs through the registry modules' own
    ``load_table`` binding, so that binding is what ``wrap_load`` wraps."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
    import oracle_utils

    from pandarallel_spark.workload import core_ops, extensions, oracle_sql, queries, relational_ops

    for mod in (core_ops, extensions, relational_ops):
        mod.load_table = wrap_load(mod.load_table)
    qs, oracles = queries(), oracle_sql()

    def checker(name):
        return lambda pdf: oracle_utils.compare(_Collected(pdf), oracles[name], oracle_dir)

    return [Op(n, "engine", qs[n], checker(n)) for n in REGISTRY[workload]]


WORKLOADS = ("udf_ops", *REGISTRY)
