"""The benchmark's workloads: input set-up, one timed repetition, and the
oracle checks of its outputs against functions/oracle_numpy.

Every call into a library layer goes through ``Tracer.span`` with the
layer's module name, so the same code gives per-operation seconds when
tracing is off and the per-layer split when it is on.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geminigraph_spark.functions import oracle_numpy as oracle
from geminigraph_spark.functions.edges import symmetrize_df
from geminigraph_spark.functions.graph_algos import (
    connected_components,
    pagerank,
    triangle_count,
)
from geminigraph_spark.operators.algorithms import cc_engine, lp_engine, pagerank_engine
from geminigraph_spark.operators.chunked_graph import ChunkedGraph
from geminigraph_spark.operators.engine import VertexEngine
from geminigraph_spark.plans.checkpoint import SnapshotStore
from geminigraph_spark.plans.encode import encode_edges
from geminigraph_spark.sources.extract import extract_links
from geminigraph_spark.sources.pages_fixture import gen_pages_pandas, golden_edges_pandas

from tracing import WORKLOAD, Tracer, dur

EXTRACT = "sources.extract"
ENCODE = "plans.encode"
GRAPH = "operators.chunked_graph"
ENGINE = "operators.engine"
ALGOS = "operators.algorithms"
DF = "functions.graph_algos"
CKPT = "plans.checkpoint"

LAYERS = (EXTRACT, ENCODE, GRAPH, ENGINE, ALGOS, DF, CKPT)

#: PageRank oracle tolerance (absolute; scores are O(1)..O(100))
PR_ATOL = 1e-6


@dataclass
class Iters:
    pagerank: int
    lp: int = 0
    cc_max: int = 0
    resume_before: int = 0


@dataclass
class Golden:
    """The crawl graph as the fixture defines it, encoded with numpy:
    ids are lexicographic url ranks, the ids encode_edges assigns."""

    src_url: np.ndarray
    dst_url: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    n_vertices: int


def golden_graph(n_pages: int, seed: int) -> Golden:
    ge = golden_edges_pandas(n_pages, seed)
    su = ge["src_url"].to_numpy(dtype=str)
    du = ge["dst_url"].to_numpy(dtype=str)
    uniq, inv = np.unique(np.concatenate([su, du]), return_inverse=True)
    n = len(su)
    return Golden(su, du, inv[:n].astype(np.int64), inv[n:].astype(np.int64), len(uniq))


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """One parquet file per part, so Spark reads the input in ``parts``
    tasks."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        # Spark reads microsecond timestamps only
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"),
            coerce_timestamps="us",
        )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _dense(pdf, col: str, n: int, dtype) -> np.ndarray | None:
    """(id, value) rows → dense array, or None unless the ids are 0..n-1."""
    ids = pdf["id"].to_numpy()
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        return None
    out = np.empty(n, dtype=dtype)
    out[ids] = pdf[col].to_numpy()
    return out


def _pr_ok(got, ref) -> bool:
    return got is not None and np.allclose(got, ref, rtol=0, atol=PR_ATOL)


def _eq(got, ref) -> bool:
    return got is not None and np.array_equal(got, ref)


def _record_superstep(rec, args, _out) -> None:
    rec["counts"] = asdict(args[0].metrics[-1])


def install_wrappers(tracer: Tracer) -> None:
    """Span the layer calls the library makes internally: each engine
    superstep (with its IterationMetrics) and each snapshot save."""
    tracer.wrap(VertexEngine, "edge_aggregate", ENGINE, "edge_aggregate",
                after=_record_superstep)
    tracer.wrap(SnapshotStore, "save", CKPT, "snapshot_save")


class Workload:
    """One workload bound to a session. ``setup`` writes the timed input,
    ``prepare`` builds the oracle answers, ``rep`` runs one repetition and
    returns its end-to-end numbers, per-layer counts and oracle checks.
    ``warmup`` runs the same code, unchecked, on a tiny input with one or
    two iterations, so the JIT and Spark's planner are warm before the
    measured repetitions (Gemini times warm runs: pagerank.cpp:144-147)."""

    checks: tuple[str, ...] = ()

    def __init__(self, spark, tracer: Tracer, tmp: str, seed: int, spec: dict):
        self.spark = spark
        self.tr = tracer
        self.tmp = tmp
        self.seed = seed
        self.spec = spec
        self.cores = spark.sparkContext.defaultParallelism
        self.iters = Iters(**spec["iterations"])
        self.input = ""
        self._n_setups = 0

    def setup(self) -> None:
        if self.input:
            shutil.rmtree(self.input, ignore_errors=True)
        self._n_setups += 1
        self.input = os.path.join(self.tmp, f"input-{self._n_setups}")
        self._write_input(self.spec["sizes"]["n_pages"], self.input)

    def prepare(self) -> None:
        self.golden = golden_graph(self.spec["sizes"]["n_pages"], self.seed)
        g = self.golden
        self.ref = {
            "pagerank": oracle.pagerank_ref(g.src, g.dst, g.n_vertices, self.iters.pagerank),
            "cc": oracle.cc_ref(g.src, g.dst, g.n_vertices),
        }

    def _write_input(self, n_pages: int, path: str) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        full_input, full_iters = self.input, self.iters
        self.input = os.path.join(self.tmp, "warmup-input")
        self.iters = Iters(**self.spec["warmup"]["iterations"])
        try:
            self._write_input(self.spec["warmup"]["n_pages"], self.input)
            self.rep(check=False)
        finally:
            shutil.rmtree(self.input, ignore_errors=True)
            self.input, self.iters = full_input, full_iters

    def rep(self, check: bool = True) -> dict:
        raise NotImplementedError


class CrawlPipeline(Workload):
    checks = ("extract", "encode", "build", "build_sym", "pagerank20", "cc", "lp10")

    def _write_input(self, n_pages: int, path: str) -> None:
        # the rows gen_pages_df generates (it runs gen_pages_pandas per
        # partition), written without Spark so set-up stays out of the JVM
        pages = pa.Table.from_pandas(gen_pages_pandas(n_pages, seed=self.seed), preserve_index=False)
        _write_parts(pages, path, self.cores)

    def prepare(self) -> None:
        super().prepare()
        g = self.golden
        self.ref["lp"] = oracle.lp_ref(g.src, g.dst, g.n_vertices, self.iters.lp)

    def rep(self, check: bool = True) -> dict:
        spark, tr, it = self.spark, self.tr, self.iters
        with tr.span(WORKLOAD, "rep") as rep:
            pages = spark.read.parquet(self.input)
            with tr.span(EXTRACT, "extract_links"):
                links = extract_links(pages).persist()
                n_links = links.count()
            with tr.span(ENCODE, "encode_edges"):
                ids, vdict = encode_edges(links)
                edges = ids.select(
                    F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
                ).persist()
                n_edges = edges.count()
            with tr.span(GRAPH, "build"):
                g = ChunkedGraph.build(spark, edges, n_chunks=self.cores)
            with tr.span(GRAPH, "build_sym"):
                sym = ChunkedGraph.build(spark, symmetrize_df(edges), n_chunks=self.cores)
            with tr.span(ALGOS, "pagerank20"):
                pr, pr_eng = pagerank_engine(g, iters=it.pagerank)
            with tr.span(ALGOS, "cc"):
                cc, cc_eng = cc_engine(sym, max_iters=it.cc_max or 10**6)
            with tr.span(ALGOS, "lp10"):
                lp, lp_eng = lp_engine(sym, iters=it.lp)
        checks = self._check(links, edges, g, sym, pr, cc, lp) if check else {}
        for eng in (pr_eng, cc_eng, lp_eng):
            eng.close()
        for graph in (g, sym):
            graph.unpersist()
        for frame in (links, edges, vdict):
            frame.unpersist()
        return {
            "run_s": dur(rep),
            "window": (rep["start"], rep["end"]),
            "pagerank20_gteps": it.pagerank * n_edges / tr.times["pagerank20"] / 1e9,
            "cc_gteps": sum(m.active_edges for m in cc_eng.metrics) / tr.times["cc"] / 1e9,
            "counts": {
                "extract.links": n_links,
                "encode.vertices": g.n_vertices,
                "cc.supersteps": len(cc_eng.metrics),
            },
            "checks": checks,
        }


    def _check(self, links, edges, g, sym, pr, cc, lp) -> dict[str, bool]:
        gold, ref, V = self.golden, self.ref, self.golden.n_vertices
        got = links.select("src_url", "dst_url").toPandas()
        got_key = np.char.add(
            np.char.add(got["src_url"].to_numpy(dtype=str), "\n"),
            got["dst_url"].to_numpy(dtype=str),
        )
        key = np.char.add(np.char.add(gold.src_url, "\n"), gold.dst_url)
        e = edges.toPandas()
        out_deg = np.bincount(gold.src, minlength=V)
        in_deg = np.bincount(gold.dst, minlength=V)
        return {
            "extract": _eq(np.sort(got_key), np.sort(key)),
            "encode": g.n_vertices == V and _eq(
                np.sort(e["src"].to_numpy() * V + e["dst"].to_numpy()),
                np.sort(gold.src * V + gold.dst),
            ),
            "build": g.n_edges == len(gold.src)
            and _eq(g.out_degree, out_deg)
            and _eq(g.in_degree, in_deg),
            "build_sym": sym.n_edges == 2 * len(gold.src)
            and _eq(sym.out_degree, out_deg + in_deg),
            "pagerank20": _pr_ok(pr, ref["pagerank"]),
            "cc": _eq(cc, ref["cc"]),
            "lp10": _eq(lp, ref["lp"]),
        }


class CrawlCheckpointed(Workload):
    checks = (
        "df_pagerank20", "df_cc", "tc",
        "pagerank20", "snapshots", "graph_roundtrip", "resume",
    )

    def _write_input(self, n_pages: int, path: str) -> None:
        g = golden_graph(n_pages, self.seed)
        _write_parts(pa.table({"src": g.src, "dst": g.dst}), path, self.cores)

    def prepare(self) -> None:
        super().prepare()
        g = self.golden
        self.ref["tc"] = oracle.tc_ref(g.src, g.dst, g.n_vertices)[0]

    def rep(self, check: bool = True) -> dict:
        spark, tr, it = self.spark, self.tr, self.iters
        interval = self.spec["ckpt_interval"]
        work = os.path.join(self.tmp, "ckpt-work")
        graph_dir = os.path.join(work, "graph")
        store = SnapshotStore(os.path.join(work, "snapshots"), "run", "pagerank")
        with tr.span(WORKLOAD, "rep") as rep:
            edges = spark.read.parquet(self.input)
            with tr.span(DF, "df_pagerank20"):
                df_pr = pagerank(edges, iters=it.pagerank, ckpt_interval=interval).toPandas()
            with tr.span(DF, "df_cc"):
                cc_steps = []
                df_cc = connected_components(
                    edges, max_iters=it.cc_max, ckpt_interval=interval, metrics=cc_steps
                ).toPandas()
            with tr.span(DF, "tc"):
                n_tri = triangle_count(edges).first()["n_triangles"]
            with tr.span(GRAPH, "build"):
                g = ChunkedGraph.build(spark, edges, n_chunks=self.cores)
            with tr.span(ALGOS, "pagerank20"):
                pr, eng = pagerank_engine(
                    g, iters=it.pagerank,
                    on_state=lambda i, s: store.save(i, s, g.boundaries),
                )
            with tr.span(GRAPH, "graph_save"):
                g.save(graph_dir, derivation="directed")
            # the crash: the in-memory graph and engine state are gone
            eng.close()
            g.unpersist()
            with tr.span(WORKLOAD, "resume"):
                with tr.span(GRAPH, "graph_load"):
                    g2 = ChunkedGraph.load(spark, graph_dir, expect_derivation="directed")
                with tr.span(CKPT, "snapshot_latest"):
                    saved_iter, state = store.latest(before=it.resume_before)
                with tr.span(ALGOS, "pagerank20_resume"):
                    pr2, eng2 = pagerank_engine(
                        g2, iters=it.pagerank, start=state, start_iter=saved_iter + 1
                    )
        n_saves = len(store.snapshots())
        checks = (
            self._check(df_pr, df_cc, n_tri, pr, n_saves, g, g2, saved_iter, pr2)
            if check else {}
        )
        counts = {"ckpt.saves": n_saves, "ckpt.bytes_written": _dir_bytes(store.dir)}
        eng2.close()
        g2.unpersist()
        shutil.rmtree(work, ignore_errors=True)
        return {
            "run_s": dur(rep),
            "window": (rep["start"], rep["end"]),
            "pagerank20_gteps": it.pagerank * g.n_edges / tr.times["df_pagerank20"] / 1e9,
            "cc_gteps": sum(m.active_edges for m in cc_steps) / tr.times["df_cc"] / 1e9,
            "counts": counts,
            "checks": checks,
        }


    def _check(self, df_pr, df_cc, n_tri, pr, n_saves, g, g2, saved_iter, pr2) -> dict[str, bool]:
        gold, ref, it, V = self.golden, self.ref, self.iters, self.golden.n_vertices
        return {
            "df_pagerank20": _pr_ok(_dense(df_pr, "rank", V, np.float64), ref["pagerank"]),
            "df_cc": _eq(_dense(df_cc, "label", V, np.int64), ref["cc"]),
            "tc": n_tri == ref["tc"],
            "pagerank20": _pr_ok(pr, ref["pagerank"]),
            "snapshots": n_saves == it.pagerank,
            "graph_roundtrip": g2.n_edges == len(gold.src)
            and _eq(g2.out_degree, g.out_degree)
            and _eq(g2.in_degree, g.in_degree),
            "resume": saved_iter == it.resume_before - 1 and _eq(pr2, pr),
        }

WORKLOADS = {"crawl_pipeline": CrawlPipeline, "crawl_checkpointed": CrawlCheckpointed}
