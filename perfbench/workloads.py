"""The three workloads: what one op is, how its inputs are set up and how
its output is checked.

Each workload exposes ``prep()`` (inputs, base index and expected outputs;
repeatable), ``reset()`` (called before every cycle) and ``cycle()``: the
ops of one closed-loop cycle as ``(kind, fn)`` pairs, where ``fn(rec)``
makes the op's library calls through the recorder ``rec`` and returns
whether every output check passed. See README.md for why each workload
exists.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
from probes import dir_stats


class Context:
    """What every workload shares: the session, the seed, a data directory
    and the registered oracles (built once, after the inputs exist)."""

    def __init__(self, spark, seed: int, data_dir: str):
        self.spark = spark
        self.seed = seed
        self.data = data_dir
        self.oracles: dict[str, str] | None = None

    def build_registry(self) -> None:
        # the IVF oracles re-train their centroids from the embeddings at
        # registry build time: point them at this run's generated table
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.data
        inputs.write_embeddings(self.data, self.seed)
        from alphastats_spark import harness

        self.oracles = harness.build_registry()[1]

    def expected(self, name: str) -> checks.Expected:
        return checks.Expected.from_oracle(self.oracles[name], self.data)


def _released(fn, count_as=None):
    """Run ``fn(rec)`` and release the pass caches it registered (the
    library leaves their release to a fully-materialising caller); the
    registry delta is recorded as ``count_as`` when given."""
    from alphastats_spark.operators import ordered

    def op(rec):
        mark = ordered.pass_cache_mark()
        try:
            out = fn(rec)
            if count_as:
                rec.value(count_as, ordered.pass_cache_mark() - mark)
            return out
        finally:
            ordered.release_pass_caches(mark)

    return op


class Report:
    """One op: the full tear-sheet with benchmark, CAPM greeks and the
    drawdown series over 2,404 daily returns."""

    name = "report"
    warmup = 4

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prep(self) -> None:
        inputs.write_tpch(self.ctx.data, self.ctx.seed)
        self.exp_report = self.ctx.expected("report_full_bench")
        self.exp_greeks = self.ctx.expected("greeks")
        self.exp_dd = self.ctx.expected("to_drawdowns")

    def reset(self) -> None:
        pass

    def cycle(self):
        return [("report", _released(self._op, "operators.ordered.pass_caches"))]

    def _op(self, rec) -> bool:
        from alphastats_spark import harness, reports, stats

        spark, data = self.ctx.spark, self.ctx.data
        rets = harness.load_returns(spark, data)
        bench = harness.load_benchmark(spark, data)
        rep = rec.call(
            "reports.metrics",
            lambda: reports.metrics(
                rets, benchmark=bench, display=False, mode="full", numeric=True
            ).collect(),
            counters=("jobs", "stages", "tasks", "caller_jobs"),
        )
        greeks = rec.lazy("stats.greeks", lambda: stats.greeks(rets, bench))
        dd = rec.lazy("stats.to_drawdowns", lambda: stats.to_drawdowns(rets))
        return (
            checks.report_matches(rep, self.exp_report)
            and self.exp_greeks.matches(
                [{"alpha": r["r"]["alpha"], "beta": r["r"]["beta"]} for r in greeks]
            )
            and self.exp_dd.matches(
                [{"d": r["d"].isoformat(), "drawdown": r["r"]} for r in dd]
            )
        )


_PANEL_PLAN = ("shuffle_bytes", "spill_bytes")


class Panel:
    """One op: per-asset scalar metrics and benchmark-relative metrics over
    a 300-asset x 2,520-business-day long frame (756k rows)."""

    name = "panel"
    warmup = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prep(self) -> None:
        dates, rets, bench = inputs.write_panel(self.ctx.data, self.ctx.seed)
        self.expected = checks.panel_reference(rets, bench)

    def reset(self) -> None:
        pass

    def cycle(self):
        return [("panel", self._op)]

    def _op(self, rec) -> bool:
        from alphastats_spark import long_frame

        spark, data = self.ctx.spark, self.ctx.data
        panel = spark.read.parquet(f"{data}/panel.parquet")
        bench = spark.read.parquet(f"{data}/panel_bench.parquet")
        try:
            per_key = rec.lazy(
                "long_frame.metrics_by_key",
                lambda: long_frame.metrics_by_key(panel, "asset", "r", "d"),
                plan=_PANEL_PLAN,
            )
            rel = rec.lazy(
                "long_frame.benchmark_metrics_by_key",
                lambda: long_frame.benchmark_metrics_by_key(panel, bench, "asset", "r", "d"),
                plan=_PANEL_PLAN,
            )
        finally:
            # metrics_by_key persists its keyed drawdown frame for the
            # caller's action and leaves eviction to the caller
            spark.catalog.clearCache()
        return checks.panel_matches(per_key, rel, self.expected)


class IndexIngest:
    """A fixed cycle over a dedup index and an IVF index, both reset to a
    base built in ``prep()``: two dedup appends, an admission, an IVF
    append and probe, a compaction, and an admission after it."""

    name = "index_ingest"
    warmup = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        root = os.path.dirname(ctx.data)
        self.base = os.path.join(root, "index_base")
        self.live = os.path.join(root, "index_live")
        self.storage: list[tuple] = []  # per traced cycle, see _compact
        self.cycle_storage: list = []

    def _docs(self):
        return self.ctx.spark.read.parquet(f"{self.ctx.data}/documents.parquet")

    def _embs(self):
        return self.ctx.spark.read.parquet(f"{self.ctx.data}/embeddings.parquet")

    def prep(self) -> None:
        from alphastats_spark.functions import dedup, similarity

        data, seed = self.ctx.data, self.ctx.seed
        inputs.write_documents(data, seed)
        inputs.write_embeddings(data, seed)
        shutil.rmtree(self.base, ignore_errors=True)
        # the registered admission and IVF-append splits: the corpus is
        # doc_id % 5 != 0, built as a base (% 3 == 0) plus two appends;
        # the held-out % 5 == 0 docs admit against it. IVF centroids train
        # on vec_id % 5 != 0 and the % 5 == 0 vectors are appended.
        corpus = self._docs().where(F.col("doc_id") % 5 != 0)
        dedup.write_dedup_index(corpus.where(F.col("doc_id") % 3 == 0), f"{self.base}/dedup")
        embs = self._embs()
        base_embs = embs.where(F.col("vec_id") % 5 != 0)
        self.cents = similarity.ivf_centroids(base_embs, n_centroids=16, seed=42)
        similarity.write_ivf_index(base_embs, self.cents, f"{self.base}/ivf")

        t = pq.read_table(f"{data}/embeddings.parquet", columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy()
        self.qvec = [float(x) for x in t.column("embedding")[int(np.argmax(ids == 0))].as_py()]
        d = pq.read_table(f"{data}/documents.parquet", columns=["doc_id", "text"]).to_pandas()
        in_corpus = d.doc_id % 5 != 0
        self.input_bytes = int(
            d.text[in_corpus & (d.doc_id % 3 != 0)].str.encode("utf-8").str.len().sum()
        )
        self.exp_admit = self.ctx.expected("dedup_index_admit")
        self.exp_probe = checks.ivf_probe_reference(
            f"{data}/embeddings.parquet", k=20, n_centroids=16, nprobe=8, train_mod=(5, 0)
        )
        self.base_bytes = dir_stats(f"{self.base}/dedup")[1]
        self.storage = []

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.base, self.live)
        self.cycle_storage = []

    def cycle(self):
        return [
            ("append", _released(lambda rec: self._append(rec, 1))),
            ("append", _released(lambda rec: self._append(rec, 2))),
            ("admit", _released(self._admit)),
            ("ivf_append", _released(self._ivf_append)),
            ("probe", _released(self._probe)),
            ("compact", _released(self._compact)),
            ("admit", _released(self._admit)),
        ]

    def _append(self, rec, part: int) -> bool:
        from alphastats_spark.functions import dedup

        batch = self._docs().where((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 == part))
        path = f"{self.live}/dedup"
        rec.call(
            "functions.dedup.write_dedup_index",
            lambda: dedup.write_dedup_index(batch, path, mode="append"),
        )
        if rec.traced:
            files, size = dir_stats(path)
            self.cycle_storage.append((files, size))
        if part == 2 and rec.traced:
            rec.value("sources.index_files", files)
            rec.value("sources.index_bytes", size)
            rec.value(
                "sources.bytes_written_per_input_byte",
                (size - self.base_bytes) / self.input_bytes,
            )
        return True

    def _admit(self, rec) -> bool:
        from alphastats_spark.functions import dedup

        batch = self._docs().where(F.col("doc_id") % 5 == 0)
        path = f"{self.live}/dedup"
        rows = rec.lazy(
            "functions.dedup.admit_against_index",
            lambda: dedup.admit_against_index(batch, path, threshold=0.5),
            plan=("files_read",),
        )
        return self.exp_admit.matches([r.asDict() for r in rows])

    def _ivf_append(self, rec) -> bool:
        from alphastats_spark.functions import similarity

        batch = self._embs().where(F.col("vec_id") % 5 == 0)
        rec.call(
            "functions.similarity.append_to_ivf_index",
            lambda: similarity.append_to_ivf_index(batch, self.cents, f"{self.live}/ivf"),
        )
        return True

    def _probe(self, rec) -> bool:
        from alphastats_spark.functions import similarity

        spark = self.ctx.spark
        rows = rec.lazy(
            "functions.similarity.ivf_topk",
            lambda: similarity.ivf_topk(
                spark.read.parquet(f"{self.live}/ivf"), self.qvec, self.cents,
                k=20, nprobe=8, indexed=True,
            ),
            plan=("partitions_read",),
        )
        return self.exp_probe.matches([r.asDict() for r in rows])

    def _compact(self, rec) -> bool:
        from alphastats_spark.functions import dedup

        path = f"{self.live}/dedup"
        st = rec.call(
            "functions.dedup.compact_dedup_index",
            lambda: dedup.compact_dedup_index(self.ctx.spark, path, max_files=1),
        )
        before = st["bands"]["files_before"] + st["shingles"]["files_before"]
        after = st["bands"]["files_after"] + st["shingles"]["files_after"]
        rec.value("functions.dedup.compact_dedup_index.files_before", before)
        rec.value("functions.dedup.compact_dedup_index.files_after", after)
        ok = after < before
        if rec.traced:
            # the storage counters are deterministic: every cycle of a run
            # must leave the same files and bytes behind each append and
            # the compaction
            self.storage.append(tuple(self.cycle_storage) + (before, after, dir_stats(path)))
            ok = ok and self.storage[0] == self.storage[-1]
        return ok


WORKLOADS = {w.name: w for w in (Report, Panel, IndexIngest)}

