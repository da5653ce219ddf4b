"""The three workloads. Each drives the package through its public
functions only, from one closed-loop client (the caller's thread).

A workload has three phases the runner times separately:

- ``setup(i)``: the program-side preparation (index builds, data loads),
  repeated so its median is stable; the last one is what ``ops`` use;
- ``warmup()``: untimed operations that pay JVM start-up and code
  generation before timing starts;
- ``ops()``: an endless iterator of :class:`Op`, each one operation of the
  closed loop, in blocks of the same mix. The runner times ``Op.run`` and
  afterwards calls ``Op.check`` on its result, outside the timed region.

``finish()`` runs the end-of-run correctness gates, and ``report()`` the
workload's own figures. Every miss is recorded in ``self.outcomes``.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.summarize import QUERIES
from perfbench.trace import Outcomes, Tracer, median, tail

SF = 0.01  # 1.5k customers, 2k parts, 15k orders, 60k line items, 500 docs


@dataclass
class Op:
    kind: str  # root span name; one of the workload's op kinds
    items: int  # work units it completes (cells·sweeps, queries, docs)
    run: Callable[[], object]
    check: Callable[[object], bool] = lambda result: True
    # the loop may only stop after an op that ends a block, so every run
    # measures the same mix of op kinds
    ends_block: bool = True


class Workload:
    name = ""
    traced_blocks = 1  # fixed block count of the traced run (exact counters)
    # set-ups per untraced run; the first pays JVM warm-up, the median does not
    setup_repeats = 3

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, outcomes: Outcomes):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.outcomes = tracer, outcomes
        self.data = os.path.join(work, "data")

    def generate(self) -> None:
        """Make the seeded inputs and write those the program reads
        (harness work, not timed). Only those: on a slow disk every file
        written costs the next run's delete."""
        self.tabs = datagen.tables(self.seed, SF)
        os.makedirs(self.data)

    def setup(self, i: int) -> None:
        pass

    def warmup(self) -> None:
        pass

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def report(self, durations: dict[str, list[float]]) -> dict:
        """The workload's own figures, ``{name: {"value": …, "unit": …}}``,
        from the timed operations' durations by kind."""
        return {}

    def layer_info(self) -> dict:
        """Denominators and end state for ``summarize.layer_metrics``."""
        return {}

    def span(self, name: str, layer: str = ""):
        return self.tracer.span(name, layer=layer)

    def gate(self, ok: bool, what: str) -> bool:
        return self.outcomes.record(bool(ok), what)


def _rows(rows) -> list[tuple]:
    """Order-insensitive canonical form of collected rows."""
    return sorted((tuple(r) for r in rows), key=repr)


def _du(*dirs: str) -> tuple[int, int]:
    """(bytes, files) under the given directories."""
    nbytes = nfiles = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


def _latency(durations: list[float], p50_name: str, tail_name: str = "") -> dict:
    """The median of ``durations`` and, under ``tail_name``, the highest
    percentile with at least ten samples beyond it (null below 20)."""
    out = {p50_name: {"value": median(durations), "unit": "s", "n": len(durations)}}
    if tail_name:
        tl = tail(durations)
        out[tail_name] = {"value": tl and tl[1], "unit": "s", "percentile": tl and tl[0]}
    return out


def _text_bytes(texts: list[str]) -> int:
    return sum(len(t.encode()) for t in texts)


def _base_split(docs: pa.Table, seed: int, frac: float = 0.8) -> np.ndarray:
    """Seeded mask over the documents: which ones the base index holds."""
    return np.random.default_rng([seed, 4]).random(docs.num_rows) < frac


# -- factorize ----------------------------------------------------------------


class Factorize(Workload):
    """Repeated ``macau()`` training on a planted low-rank matrix."""

    name = "factorize"
    # ALS warm-start sweeps, then Gibbs burn-in and sample sweeps
    NUM_LATENT, WARMUP, BURNIN, PSAMPLES = 8, 12, 2, 2
    SWEEPS = WARMUP + BURNIN + PSAMPLES
    ALPHA = 4.0  # noise precision of the planted matrix (noise sd 0.5)
    RMSE_BOUND = 0.6  # share of the held-out values' stddev

    def generate(self) -> None:
        super().generate()
        cells, side = datagen.planted_matrix(self.tabs, self.seed)
        pq.write_table(cells, os.path.join(self.data, "cells.parquet"))
        pq.write_table(side, os.path.join(self.data, "side.parquet"))

    def setup(self, i: int) -> None:
        from pyspark.sql import functions as F

        from bayesiandatafusion_jl_spark.ml.relation import split_train_test

        cells = split_train_test(
            self.spark.read.parquet(os.path.join(self.data, "cells.parquet")),
            ["cust", "part"], 0.2, seed=self.seed,
        )
        stats = {
            r["split"]: (r["n"], r["sd"])
            for r in cells.groupBy("split")
            .agg(F.count("*").alias("n"), F.stddev("value").alias("sd"))
            .collect()
        }
        self.cells = cells
        self.side = self.spark.read.parquet(os.path.join(self.data, "side.parquet"))
        self.n_train, _ = stats["train"]
        self.n_test, self.test_sd = stats["test"]
        self.rmses: list[float] = []

    def _train(self):
        from bayesiandatafusion_jl_spark.ml.bpmf import macau
        from bayesiandatafusion_jl_spark.ml.relation import Entity, Relation, RelationData

        rd = (
            RelationData()
            .add_entity(Entity("part", side_info=self.side))
            .add_relation(Relation(self.cells, ["cust", "part"], alpha=self.ALPHA))
        )
        # warmup_tol -inf: never stop the warm-start early, so a call runs
        # exactly warmup + burnin + psamples sweeps
        return macau(
            self.spark, rd, num_latent=self.NUM_LATENT, burnin=self.BURNIN,
            psamples=self.PSAMPLES, seed=self.seed, warmup=self.WARMUP, warmup_tol=-math.inf,
        )

    def ops(self) -> Iterator[Op]:
        while True:
            # a block: one training call, then a prediction of the held-out
            # cells; the work counted is the training's cells × sweeps
            yield Op("factorize.call", self.n_train * self.SWEEPS, self._call, self._check_call,
                     ends_block=False)
            yield Op("factorize.predict", 0, self._predict, self._check_predict)

    def _call(self):
        with self.span("ml.macau"):
            self.result = self._train()
        return self.result

    def _check_call(self, res) -> bool:
        rmse = res.rmse
        self.rmses.append(rmse)
        return (
            rmse is not None and rmse < self.RMSE_BOUND * self.test_sd
            # the seed fixes every draw: each call must give the same value
            and math.isclose(rmse, self.rmses[0], rel_tol=1e-9)
        )

    def _predict(self):
        with self.span("ml.predict"):
            return self.result.predict(self.cells.filter("split = 'test'")).collect()

    def _check_predict(self, rows) -> bool:
        return len(rows) == self.n_test

    def layer_info(self) -> dict:
        return {"sweeps": self.SWEEPS, "train_cells": self.n_train}

    def report(self, durations: dict[str, list[float]]) -> dict:
        return {
            **_latency(durations["factorize.call"], "factorize.train_s"),
            "factorize.test_rmse": {"value": self.rmses[0] if self.rmses else None, "unit": "1",
                                    "test_sd": self.test_sd},
            "factorize.cells": {"value": self.n_train + self.n_test, "unit": "count",
                                "test": self.n_test},
        }


# -- serve_ingest -------------------------------------------------------------


class ServeIngest(Workload):
    """Read requests against a persisted hybrid RAG index, then append
    cycles onto a persisted pipeline + hybrid RAG + signature index.

    A block is one request of each kind (hybrid, dense, BM25), one append
    cycle and one compaction. The requests go to a copy of the base RAG
    index that nothing appends to, so a repeated request must return the
    rows it first returned; the cycles append to the set-up's artifacts."""

    name = "serve_ingest"
    # one cold set-up: the three artifact builds take 15-25 s, and a run
    # must stay within its time budget
    setup_repeats = 1
    QUERY_DOCS = 8  # query docs per request
    KINDS = ("hybrid", "dense", "bm25")
    RECALL_FLOOR = 0.75
    SHARD_DOCS = 200
    PROBES = 8  # planted twins probed per cycle (read-your-writes)

    def generate(self) -> None:
        super().generate()
        docs = self.tabs["documents"]
        base = docs.filter(pa.array(_base_split(docs, self.seed)))
        pq.write_table(base, os.path.join(self.data, "base.parquet"))
        base_ids = base.column("doc_id").to_numpy()
        base_texts = base.column("text").to_pylist()
        rng = np.random.default_rng([self.seed, 5])
        long_docs = [i for i, t in enumerate(base_texts) if len(t.split()) >= 20]
        picks = rng.choice(long_docs, self.QUERY_DOCS * len(self.KINDS), replace=False)
        # one request per kind; each query is a twin of an indexed doc, with
        # id 10^6 + the id of its source
        self.requests = {
            kind: [
                (1_000_000 + int(base_ids[i]), datagen.twin(base_texts[i]))
                for i in picks[j * self.QUERY_DOCS : (j + 1) * self.QUERY_DOCS]
            ]
            for j, kind in enumerate(self.KINDS)
        }
        self.order = [self.KINDS[i] for i in rng.permutation(len(self.KINDS))]
        self.base_ids, self.base_texts = base_ids, base_texts
        self.input_bytes = _text_bytes(base_texts)
        self.shard_bytes: dict[int, int] = {}
        self.planted: dict[int, dict[int, int]] = {}

    def _shard_path(self, c: int) -> str:
        """The input shard of cycle ``c``, written the first time it is asked
        for (outside any timed operation)."""
        path = os.path.join(self.data, f"shard{c}.parquet")
        if c not in self.planted:
            shard, planted = datagen.ingest_shard(
                self.base_texts, self.seed, c, self.SHARD_DOCS, 2_000_000 + c * 10_000
            )
            pq.write_table(shard, path)
            self.shard_bytes[c] = _text_bytes(shard.column("text").to_pylist())
            self.planted[c] = {k: int(self.base_ids[v]) for k, v in planted.items()}
        return path

    def setup(self, i: int) -> None:
        from bayesiandatafusion_jl_spark.functions.dedup_index import write_signature_index
        from bayesiandatafusion_jl_spark.functions.pipeline_store import build_pipeline
        from bayesiandatafusion_jl_spark.functions.rag import rag_build_hybrid_index

        art = os.path.join(self.work, f"art{i}")
        self.pipe, self.rag, self.sig = (os.path.join(art, d) for d in ("pipe", "rag", "sig"))
        base = self.spark.read.parquet(os.path.join(self.data, "base.parquet"))
        build_pipeline(base.select("doc_id", "source", "text"), self.pipe).collect()
        rag_build_hybrid_index(base.select("doc_id", "text"), self.rag)
        write_signature_index(base.select("doc_id", "text"), self.sig)
        self.cycles = 0
        self.appended_bytes = self.traced_bytes = 0

    def warmup(self) -> None:
        # the requests read a copy of the base index, taken before any append
        self.index = os.path.join(self.work, "serve-rag")
        shutil.copytree(self.rag, self.index)
        self.reference: dict[str, list[tuple]] = {}
        for kind in self.order:
            rows = self._request(kind)
            if self.gate(len(rows) > 0, f"{kind} warm-up answered nothing"):
                self.reference[kind] = _rows(rows)
        # no warm-up cycle: the set-up's three builds run most of the write
        # path's code, and a cycle and a compaction more would not fit a
        # run's time budget

    def ops(self) -> Iterator[Op]:
        while True:
            for kind in self.order:
                yield Op(
                    "serve.request", self.QUERY_DOCS,
                    lambda kind=kind: self._request(kind),
                    # a repeated identical request must return identical rows
                    lambda rows, kind=kind: _rows(rows) == self.reference.get(kind),
                    ends_block=False,
                )
            c = self.cycles
            self.cycles += 1
            path = self._shard_path(c)
            yield Op("ingest.cycle", self.SHARD_DOCS, lambda c=c, path=path: self._cycle(c, path),
                     lambda res, c=c: self._check_cycle(c, res), ends_block=False)
            yield Op("ingest.compaction", 0, self._compact)

    # -- the read path

    def _request(self, kind: str):
        from pyspark.sql import functions as F

        from bayesiandatafusion_jl_spark.functions.rag import (
            rag_retrieve_hybrid,
            rag_retrieve_index,
        )
        from bayesiandatafusion_jl_spark.functions.sparse_retrieval import bm25_query_index

        q = self.spark.createDataFrame(self.requests[kind], "doc_id long, text string")
        if kind == "hybrid":
            with self.span("rag.hybrid"):
                return rag_retrieve_hybrid(q, self.index, k=3).collect()
        if kind == "dense":
            with self.span("rag.dense"):
                return rag_retrieve_index(q, self.index, k=3).collect()
        with self.span("bm25.lexical"):
            return bm25_query_index(
                q.select(F.col("doc_id").alias("qid"), "text"),
                self.index + "/bm25", k=3,
            ).collect()

    def recall(self) -> dict[str, float]:
        """Per kind, the share of twin queries whose source doc is in the top 3."""
        out = {}
        for kind in ("hybrid", "dense"):
            hits = {(r[0], r[-2]) for r in self.reference.get(kind, [])}  # (qid, nb_doc_id)
            qids = [qid for qid, _ in self.requests[kind]]
            out[kind] = sum((qid, qid - 1_000_000) in hits for qid in qids) / len(qids)
        return out

    # -- the write path

    def _cycle(self, c: int, path: str):
        from bayesiandatafusion_jl_spark.functions.dedup_index import dedup_incremental
        from bayesiandatafusion_jl_spark.functions.pipeline_store import append_pipeline_shard
        from bayesiandatafusion_jl_spark.functions.rag import rag_append_docs, rag_retrieve_index

        if self.tracer.enabled:
            self.traced_bytes += self.shard_bytes[c]
        shard = self.spark.read.parquet(path)
        epoch = f"e{c}"
        with self.span("ingest.pipeline_append"):
            append_pipeline_shard(shard.select("doc_id", "source", "text"), self.pipe, epoch).collect()
        with self.span("ingest.rag_append"):
            rag_append_docs(shard.select("doc_id", "text"), self.rag, epoch)
        with self.span("ingest.dedup"):
            pairs = dedup_incremental(
                shard.select("doc_id", "text"), self.sig, update_index=True, epoch=epoch
            ).collect()
        probe_ids = sorted(self.planted[c])[: self.PROBES]
        q = shard.filter(shard.doc_id.isin(probe_ids)).select("doc_id", "text")
        with self.span("ingest.probe"):
            hits = rag_retrieve_index(q, self.rag, k=3).collect()
        return pairs, hits

    def _check_cycle(self, c: int, res) -> bool:
        pairs, hits = res
        self.appended_bytes += self.shard_bytes[c]
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        probed = {(r["qid"], r["nb_doc_id"]) for r in hits}
        planted = self.planted[c]
        return all((k, v) in found for k, v in planted.items()) and all(
            (k, k) in probed for k in sorted(planted)[: self.PROBES]
        )

    def _compact(self) -> None:
        from bayesiandatafusion_jl_spark.functions.index_compact import (
            compact_ivf_index,
            compact_signature_index,
        )

        with self.span("ingest.compact"):
            compact_ivf_index(self.spark, self.rag).collect()
            compact_signature_index(self.spark, self.sig).collect()

    def _epochs_on_disk(self, d: str) -> set[str]:
        return {
            name.split("=", 1)[1]
            for _, dirs, _ in os.walk(d)
            for name in dirs
            if name.startswith("__epoch=")
        }

    def finish(self) -> None:
        from bayesiandatafusion_jl_spark.functions.index_compact import folded_epochs, vacuum_store
        from bayesiandatafusion_jl_spark.functions.pipeline_store import verify_pipeline

        for kind, r in self.recall().items():
            self.gate(r >= self.RECALL_FLOOR, f"{kind} recall@3 {r} below floor")
        checks = verify_pipeline(self.spark, self.pipe).collect()
        self.gate(all(r["ok"] for r in checks), "verify_pipeline")
        appended = {f"e{c}" for c in range(self.cycles)}
        for d in (self.pipe, self.rag, self.sig):
            residue = vacuum_store(self.spark, d).collect()
            self.gate(not residue, f"vacuum found residue in {d}")
        # the compacted frames: the IVF postings and both signature frames
        for index, data in ((self.rag, self.rag + "/postings"), (self.sig, self.sig)):
            live, folded = self._epochs_on_disk(data), set(folded_epochs(self.spark, index))
            self.gate(
                not (live & folded) and appended <= live | folded,
                f"epochs of {data}: live {sorted(live)} folded {sorted(folded)}",
            )

    def store(self) -> dict:
        nbytes, nfiles = _du(self.pipe, self.rag, self.sig)
        epochs = sum(len(self._epochs_on_disk(d)) for d in (self.pipe, self.rag, self.sig))
        return {"bytes": nbytes, "files": nfiles, "epochs": epochs}

    def layer_info(self) -> dict:
        return {"shard_bytes": self.traced_bytes, **self.store()}

    def report(self, durations: dict[str, list[float]]) -> dict:
        recall, st = self.recall(), self.store()
        cycles, compactions = durations["ingest.cycle"], durations["ingest.compaction"]
        return {
            **_latency(durations["serve.request"], "serve.latency_p50_s", "serve.latency_tail_s"),
            "serve.recall_at_3": {"value": sum(recall.values()) / len(recall), "unit": "ratio",
                                  **recall},
            **_latency(cycles, "ingest.append_p50_s"),
            "ingest.docs_per_s": {
                "value": self.SHARD_DOCS * len(cycles) / (sum(cycles) + sum(compactions)),
                "unit": "1/s",
            },
            "ingest.store_bytes_per_input_byte": {
                "value": st["bytes"] / (self.input_bytes + self.appended_bytes),
                "unit": "ratio", **st,
            },
        }


# -- analytics --------------------------------------------------------------------


def operator_module(query: str) -> str:
    """``operators.<module>`` of a registered query."""
    from bayesiandatafusion_jl_spark.registry import get_query

    return ".".join(get_query(query).fn.__module__.split(".")[-2:])


class Analytics(Workload):
    """Passes over the 18 oracle-checked ``operators.*`` registered queries."""

    name = "analytics"

    def generate(self) -> None:
        super().generate()
        self.sf = os.path.join(self.data, "sf")
        datagen.write_tables(self.sf, self.tabs)

    def setup(self, i: int) -> None:
        from bayesiandatafusion_jl_spark.catalog import load_all

        for df in load_all(self.spark, self.sf).values():
            df.count()
        self.passes = 0
        self.reference: dict[str, list[tuple]] = {}

    def ops(self) -> Iterator[Op]:
        while True:
            order = np.random.default_rng([self.seed, 6, self.passes]).permutation(len(QUERIES))
            self.passes += 1
            yield Op("analytics.pass", len(QUERIES),
                     lambda order=order: self._pass([QUERIES[i] for i in order]), self._check_pass)

    def _pass(self, order: list[str]) -> dict[str, tuple]:
        from bayesiandatafusion_jl_spark.registry import get_query

        out = {}
        for q in order:
            spec = get_query(q)
            with self.span(f"q.{q}", layer=operator_module(q)):
                df = spec.fn(self.spark, self.sf)
                out[q] = (df.collect(), df.schema)
        return out

    def _check_pass(self, out: dict[str, tuple]) -> bool:
        """Every query's rows against its DuckDB oracle, with the comparison
        of ``tests/parity.py`` (fed the collected rows, so the query does
        not run again), and the rows of the run's first pass on every later
        pass."""
        from bayesiandatafusion_jl_spark.registry import get_query
        from tests.conftest import make_duck
        from tests.parity import compare

        ok = True
        con = make_duck(self.sf)
        try:
            for q, (rows, schema) in out.items():
                same, msg = compare(self.spark.createDataFrame(rows, schema), con, get_query(q).oracle)
                ok &= self.gate(same, f"{q}: {msg}")
                ok &= self.reference.setdefault(q, _rows(rows)) == _rows(rows)
        finally:
            con.close()
        return ok

    def report(self, durations: dict[str, list[float]]) -> dict:
        return _latency(durations["analytics.pass"], "analytics.suite_s")


WORKLOADS = {w.name: w for w in (Factorize, ServeIngest, Analytics)}
