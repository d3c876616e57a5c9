"""Output checks. A failed check counts its op as failed.

``report`` outputs and ``index_ingest`` admissions are compared with the
DuckDB oracles of the matching registered queries, through the same
type-tagged, order-insensitive normalisation ``scripts/check_oracle.py``
uses. The IVF probe is compared with a numpy transcription of the
``ann_ivf_append`` oracle: its DuckDB form evaluates a list lambda per
vector and centroid and takes over two minutes on 2,000 vectors, longer
than a whole run. ``panel`` outputs are compared with a pandas computation
over the generated arrays.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import norm_rows  # noqa: E402

TABLES = ("orders", "lineitem", "documents", "embeddings")


class Expected:
    """An oracle's result, normalised once at set-up."""

    def __init__(self, cols: list[str], records: list[dict]):
        self.cols = sorted(cols)
        self.records = records
        self.rows = norm_rows(records, self.cols)

    @classmethod
    def from_oracle(cls, sql: str, data_dir: str) -> Expected:
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            df = con.sql(sql).df()
        finally:
            con.close()
        return cls(list(df.columns), df.to_dict("records"))

    def matches(self, records: list[dict]) -> bool:
        if not records:
            return not self.rows
        if sorted(records[0]) != self.cols or len(records) != len(self.rows):
            return False
        return norm_rows(records, self.cols) == self.rows


def ivf_probe_reference(
    emb_path: str, k: int, n_centroids: int, nprobe: int, train_mod: tuple[int, int]
) -> Expected:
    """The ``ann_ivf_append`` oracle in numpy: centroids re-trained on the
    ``vec_id % m != r`` vectors by the same seeded k-means, every vector
    assigned to its nearest centroid (first index on ties), the ``nprobe``
    lists nearest the query of vector 0 scanned, and the top ``k`` by
    cosine (rounded to 7 places, ties by id)."""
    import pyarrow.parquet as pq

    from alphastats_spark.functions import similarity

    t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype="float64")
    m, r = train_mod
    keep = np.nonzero(ids % m != r)[0]
    order = keep[np.argsort(ids[keep], kind="stable")][:10_000]
    cents = np.asarray(similarity.kmeans_train(vecs[order], n_centroids, 5, 42))
    q = vecs[int(np.nonzero(ids == 0)[0][0])]
    probes = similarity.ivf_probes(list(q), cents.tolist(), nprobe)
    lists = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    sel = np.isin(lists, probes)
    cos = np.round(vecs[sel] @ q / (np.linalg.norm(vecs[sel], axis=1) * np.linalg.norm(q)), 7)
    top = sorted(zip(-cos, ids[sel]))[:k]
    return Expected(["vec_id", "cosine"], [{"vec_id": int(i), "cosine": -c} for c, i in top])


def report_matches(rows, expected: Expected) -> bool:
    """The numeric tear-sheet against the formatted ``report_full_bench``
    oracle: every numeric cell, rendered by the report's own formatter,
    equals the oracle's cell for that metric and column. Integral counts
    (e.g. drawdown days) are strings of ints in the formatted table."""
    from alphastats_spark.reports import _format_value

    want = {r["Metric"]: r for r in expected.records}
    if not rows or len(rows) > len(want):
        return False
    for r in rows:
        exp = want.get(r["Metric"])
        if exp is None:
            return False
        for col in ("Benchmark", "Strategy"):
            v = r[col]
            got = {_format_value(v)}
            if isinstance(v, float) and v.is_integer():
                got.add(str(int(v)))
            if exp[col] not in got:
                return False
    return True


def panel_reference(rets: np.ndarray, bench: np.ndarray) -> dict[str, np.ndarray]:
    """Per-asset comp, sharpe, volatility, max drawdown and win rate, plus
    beta and correlation against the benchmark, with pandas (rows are
    assets in ``a000`` order)."""
    df = pd.DataFrame(rets.T)
    std = df.std(ddof=1)
    wealth = (1.0 + df).cumprod()
    b = pd.Series(bench)
    return {
        "comp": ((1.0 + df).prod() - 1.0).to_numpy(),
        "sharpe": (df.mean() / std * math.sqrt(252)).to_numpy(),
        "volatility": (std * math.sqrt(252)).to_numpy(),
        "max_drawdown": (wealth / wealth.cummax() - 1.0).min().clip(upper=0.0).to_numpy(),
        "win_rate": ((df > 0).sum() / (df != 0).sum()).to_numpy(),
        "beta": (df.apply(lambda c: c.cov(b)) / b.var(ddof=1)).to_numpy(),
        "correlation": df.corrwith(b).to_numpy(),
    }


def _close(got, want) -> bool:
    return math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)


def panel_matches(per_key, rel, expected: dict[str, np.ndarray]) -> bool:
    n = len(expected["comp"])
    if len(per_key) != n or len(rel) != n:
        return False
    for rows, names in (
        (per_key, ("comp", "sharpe", "volatility", "max_drawdown", "win_rate")),
        (rel, ("beta", "correlation")),
    ):
        for r in rows:
            i = int(r["asset"][1:])
            if not all(_close(r[m], float(expected[m][i])) for m in names):
                return False
    return True
