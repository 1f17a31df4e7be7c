"""Seeded input generation.

Every input the benchmark feeds the library is made here from the run's
``--seed``: the same seed gives byte-identical parquet files. The tables
follow the testdata schemas; ``lineitem`` and ``events``, which the
``windows`` queries read, and ``documents``, which ``text_pipelines``
reads, also follow its value distributions, at the row counts in
``SIZES``. The ``udf_ops`` frame follows the reference notebook's
inputs.

Prices and event values are whole cents divided by 100, as in the
testdata, so the registry's exact-cents oracles hold.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; sized so one pass of each workload takes a few seconds
# on four cores
SIZES = {
    "lineitem": 60_000,
    "events": 20_000,
    "documents": 5_000,
    "embeddings": 100,
    "orders": 200,
    "customer": 50,
    "part": 50,
    "supplier": 10,
}
UDF_ROWS = 8_000
FEW_GROUPS = 6
MANY_GROUPS = 2_000

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, start: str, ndays: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]")


def tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = SIZES["lineitem"]
    out = {
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n // 4, n),
            "l_partkey": rng.integers(0, n // 30, n),
            "l_suppkey": rng.integers(0, 1000, n),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _cents(rng, 90_068, 10_499_992, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n),
        })
    }
    n = SIZES["events"]
    # distinct, increasing microsecond timestamps over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n, replace=False))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(
            np.array(["signup", "purchase", "view", "click", "error"]), n
        ),
        "value": np.minimum(rng.exponential(5000, n).astype("int64"), 56_021) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = SIZES["documents"]
    # 8-80 words from a small vocabulary, with a few exact copies and a
    # few one-word edits, so the dedup queries find pairs. Edits go only
    # into copies of 20 words or more: they keep word-3-gram Jaccard at
    # 0.7 or above, where dedup_minhash_lsh's oracle is exact (its
    # registry entry), as on the testdata
    words = np.array(_WORDS)
    texts = [list(rng.choice(words, k)) for k in rng.integers(8, 81, n)]
    for src, dst in rng.integers(0, n, (n // 100, 2)):
        texts[dst] = list(texts[src])
        if dst % 2 and len(texts[dst]) >= 20:
            texts[dst][int(rng.integers(len(texts[dst])))] = str(rng.choice(words))
    texts = [" ".join(t) for t in texts]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    out.update(_unread_tables(rng))
    return out


def _unread_tables(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    """The other testdata tables, small: the workloads read none of them,
    but the oracle connection binds every testdata table."""
    n_cust, n_part, n_supp, n_ord, n_vec = (
        SIZES[k] for k in ("customer", "part", "supplier", "orders", "embeddings")
    )
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    return {
        "embeddings": pd.DataFrame({
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": list(vecs / np.linalg.norm(vecs, axis=1, keepdims=True)),
            "label": rng.integers(0, 10, n_vec).astype("int32"),
        }),
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": rng.choice(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"]), n_cust
            ),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": rng.choice(np.array(["cold widget", "small widget", "big gear"]), n_part),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(np.array(["ECONOMY", "STANDARD", "PROMO"]), n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": _cents(rng, 90_000, 200_000, n_part),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _days(rng, "1992-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                n_ord,
            ),
        }),
    }


def udf_frames(seed: int) -> dict[str, pd.DataFrame]:
    """Input of the reference notebook's row apply and groupby apply
    (FIXTURES F2, F5): ``a`` a small int, ``b`` a float in [0, 1),
    ``idx`` the row order, ``few`` and ``many`` group keys with
    ``FEW_GROUPS`` and about ``MANY_GROUPS`` groups."""
    rng = np.random.default_rng(seed + 1)
    n = UDF_ROWS
    return {
        "frame": pd.DataFrame({
            "idx": np.arange(n, dtype="int64"),
            "a": rng.integers(1, 8, n),
            "b": rng.random(n),
            "few": rng.integers(0, FEW_GROUPS, n),
            "many": rng.integers(0, MANY_GROUPS, n),
        })
    }


def write(frames: dict[str, pd.DataFrame], out_dir: str) -> str:
    """Write each frame to ``<out_dir>/<name>.parquet`` and return a
    digest of the bytes written: the input identity of the run record."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name in sorted(frames):
        path = os.path.join(out_dir, f"{name}.parquet")
        table = pa.Table.from_pandas(frames[name], preserve_index=False)
        pq.write_table(table, path)
        with open(path, "rb") as f:
            digest.update(name.encode())
            digest.update(f.read())
    return digest.hexdigest()[:16]
