"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: numpy draws written with
pyarrow, so the same seed gives byte-identical parquet and no Spark job
runs during generation. The shapes follow the sf0.1 test tables the
registered queries were written for (column names, row counts, date
range), so the registered DuckDB oracles run over these files unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 sizes of the TPC-H-like tables the finance queries derive from
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_DAYS = 2_405  # 1995-01-01 .. 2001-08-01: 2,404 daily returns
START = dt.date(1995, 1, 1)

# documents / embeddings at sf0.1
N_DOCS = 5_000
N_VECS = 2_000
EMB_DIM = 64
N_CLUSTERS = 16

# the panel: assets x business days
PANEL_ASSETS = 300
PANEL_DAYS = 2_520

VOCAB = (
    "a the data spark table query scan filter join agg group sort hash key "
    "value row column window stream batch merge order line part customer "
    "vector index small big fast slow shard token model train eval score "
    "cache plan stage task job"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _timestamps(day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(START.isoformat(), "us")
    return pa.array(base + day_offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def write_tpch(out_dir: str, seed: int) -> None:
    """``orders`` and ``lineitem`` with the columns the returns and benchmark
    loaders read. Daily order revenue follows a slow random walk, so the
    derived returns frame has drawdown episodes of realistic length."""
    rng = _rng(seed, 1)
    drift = np.exp(np.cumsum(rng.normal(0.0, 0.01, N_DAYS)))
    day = np.sort(rng.integers(0, N_DAYS, N_ORDERS))
    price = np.round(drift[day] * rng.uniform(900.0, 200_000.0, N_ORDERS), 2)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), pa.int64()),
            "o_totalprice": pa.array(price, pa.float64()),
            "o_orderdate": _timestamps(day),
        }),
        os.path.join(out_dir, "orders.parquet"),
    )
    rng = _rng(seed, 2)
    lday = np.sort(rng.integers(0, N_DAYS, N_LINEITEM))
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(rng.integers(1, N_ORDERS + 1, N_LINEITEM), pa.int64()),
            "l_extendedprice": pa.array(
                np.round(drift[lday] * rng.uniform(900.0, 100_000.0, N_LINEITEM), 2),
                pa.float64(),
            ),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0, pa.float64()),
            "l_shipdate": _timestamps(lday),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )


def write_documents(out_dir: str, seed: int) -> None:
    """``documents``: word-salad texts over a small vocabulary, one in eight
    a light edit of an earlier document, so admission against the index
    finds near-duplicates at the 0.5 Jaccard threshold."""
    rng = _rng(seed, 3)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * N_DOCS, pa.string()),
            "source": pa.array([f"s{i % 7}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )


def write_embeddings(out_dir: str, seed: int) -> None:
    """``embeddings``: a 16-cluster Gaussian mixture of 64-d float vectors."""
    rng = _rng(seed, 4)
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, EMB_DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = (centers[label] + rng.normal(0.0, 0.6, (N_VECS, EMB_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def panel_arrays(seed: int):
    """The long panel as numpy arrays: ``(dates, returns[asset, day],
    benchmark[day])``. Per-asset volatility varies tenfold so the
    per-asset metrics differ; a few exact zeros exercise win-rate's
    non-zero denominator."""
    rng = _rng(seed, 5)
    dates = np.busday_offset("2010-01-01", np.arange(PANEL_DAYS), roll="forward")
    vol = rng.uniform(0.002, 0.02, PANEL_ASSETS)[:, None]
    rets = np.round(rng.normal(0.0003, 1.0, (PANEL_ASSETS, PANEL_DAYS)) * vol, 6)
    bench = np.round(rng.normal(0.0002, 0.01, PANEL_DAYS), 6)
    return dates, rets, bench


def write_panel(out_dir: str, seed: int):
    """``panel`` (asset, d, r) and ``panel_bench`` (d, b) parquet; returns
    the arrays for the pandas reference computation."""
    dates, rets, bench = panel_arrays(seed)
    d = pa.array(dates.astype("datetime64[D]"), pa.date32())
    pq.write_table(
        pa.table({
            "asset": pa.array(
                np.repeat([f"a{i:03d}" for i in range(PANEL_ASSETS)], PANEL_DAYS), pa.string()
            ),
            "d": pa.concat_arrays([d] * PANEL_ASSETS),
            "r": pa.array(rets.reshape(-1), pa.float64()),
        }),
        os.path.join(out_dir, "panel.parquet"),
        row_group_size=PANEL_ASSETS * PANEL_DAYS // 4,
    )
    pq.write_table(
        pa.table({"d": d, "b": pa.array(bench, pa.float64())}),
        os.path.join(out_dir, "panel_bench.parquet"),
    )
    return dates, rets, bench
