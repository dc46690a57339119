"""The two workloads: inputs, one timed pass, and the checks on its outputs.

A pass starts from the input parquet on disk and ends when every output is
materialized and collected; ``check`` runs afterwards, outside the timed
window, against oracles computed once per seed.  Every public call of the
package that a pass makes is one *operation*, wrapped in a tracer span
named after it, whose name starts with the layer it exercises.  An
operation fails when it raises, does not run, or fails its check.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import zlib

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

DAMPING = 0.85
PR_ITERS = 10
LPA_ITERS = 2

# graph_pillars input size: vertices and undirected edges
PILLARS = dict(n=4_000, m=25_000)


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.oracle: dict = {}

    def params(self) -> dict:
        """Everything the inputs depend on besides the seed."""
        return {}

    def _file(self, stem: str) -> str:
        tag = zlib.crc32(repr(sorted(self.params().items())).encode())
        return os.path.join(self.data_dir, f"{self.name}-{stem}-s{self.seed}-{tag:08x}")

    def checks(self) -> dict:
        """Operation -> check of the pass outputs, returning "" or why it
        failed.  An operation without a check passes when it completes."""
        return {}

    def check(self, out: dict, done: set[str]) -> dict[str, str]:
        """Failed operations, with why.  ``done`` holds the operations that
        completed; a check that raises fails its operation."""
        checks, bad = self.checks(), {}
        for op in self.ops:
            if op not in done:
                bad[op] = "raised or did not run"
                continue
            try:
                msg = checks[op](out) if op in checks else ""
            except Exception as e:
                msg = f"check raised {type(e).__name__}: {e}"
            if msg:
                bad[op] = msg
        return bad

    def _cached_oracle(self, compute) -> None:
        path = self._file("oracle") + ".npz"
        if not os.path.exists(path):
            tmp = f"{path}.tmp{os.getpid()}.npz"
            np.savez(tmp, **compute())
            os.replace(tmp, path)
        with np.load(path) as z:
            self.oracle = {k: z[k] for k in z.files}


# --- corpus_communities -------------------------------------------------------

class CorpusCommunities(Workload):
    name = "corpus_communities"
    ops = ("corpus.read", "corpus.build_file_graph", "corpus.build_repo_graph",
           "louvain", "checkpoint.resume", "edges.write_communities")

    def params(self) -> dict:
        return dict(gen.CORPUS)

    def prepare(self) -> None:
        self.input = gen.cached(self._file("corpus") + ".parquet",
                                lambda: gen.corpus_table(self.seed))

        def compute():
            g = oracle.corpus_graphs(pq.read_table(self.input))
            out = {}
            for kind, (n, keys, w, dropped) in g.items():
                out[f"{kind}_n"] = np.int64(n)
                out[f"{kind}_keys"] = keys
                out[f"{kind}_w"] = w
                out[f"{kind}_dropped"] = np.int64(dropped)
            return out

        self._cached_oracle(compute)
        self.sym_rows = 2 * len(self.oracle["file_keys"])

    def run_pass(self, ctx, out: dict) -> None:
        from pyspark import StorageLevel

        from parallel_louvain_method_spark.operators.louvain import louvain
        from parallel_louvain_method_spark.sources.corpus import (
            build_file_graph, build_repo_graph, read_corpus,
        )
        from parallel_louvain_method_spark.sources.edges import write_communities

        spark, span = ctx.spark, ctx.tracer.span
        with span("corpus.read"):
            corpus = read_corpus(spark, self.input).persist(StorageLevel.MEMORY_AND_DISK)
            corpus.count()
        with span("corpus.build_file_graph") as s:
            fe, fmap, fdrop = build_file_graph(corpus)
            fe = fe.persist(StorageLevel.MEMORY_AND_DISK)
            out["file_edges"] = fe.toPandas()
            out["file_dropped"] = s["dropped"] = fdrop.count()
            s["edges_out"] = len(out["file_edges"])
            n_files = fmap.count()
        with span("corpus.build_repo_graph") as s:
            re_, _, rdrop = build_repo_graph(corpus)
            out["repo_edges"] = re_.toPandas()
            out["repo_dropped"] = s["dropped"] = rdrop.count()
            s["edges_out"] = len(out["repo_edges"])
        ckpt = os.path.join(ctx.pass_dir, "ckpt")
        # build_file_graph emits dense ids 0..n_files-1 (its documented
        # contract); two levels bound the per-level checkpoint cost, so a
        # run fits the benchmark's time budget
        kw = dict(n_blocks=ctx.nproc, checkpoint_dir=ckpt, n_vertices=n_files,
                  assume_dense=True, max_levels=2)
        with span("louvain") as s:
            t0 = time.monotonic()
            res = louvain(spark, fe, **kw)
            s["call_s"] = time.monotonic() - t0
            s["levels"] = res.levels
            out["assign"] = res.assignment.toPandas()
            out["modularity"] = res.modularity
            s["ckpt_bytes"] = _du(ckpt)
        with span("checkpoint.resume"):
            # simulate a crash inside the last level: drop its completeness
            # marker, then resume from the level before it
            last = max(glob.glob(os.path.join(ckpt, "level=*")),
                       key=lambda p: int(p.rsplit("=", 1)[1]))
            os.remove(os.path.join(last, "metrics.json"))
            res2 = louvain(spark, fe, resume=True, **kw)
            out["assign_resumed"] = res2.assignment.toPandas()
        out["communities_dir"] = os.path.join(ctx.pass_dir, "communities")
        with span("edges.write_communities"):
            write_communities(res.assignment, out["communities_dir"])

    def checks(self) -> dict:
        o = self.oracle

        def graph(kind):
            def check(out):
                n = int(o[f"{kind}_n"])
                e = out[f"{kind}_edges"]
                keys = oracle.edge_keys(e["src"], e["dst"], n)
                order = np.argsort(keys)
                if not (np.array_equal(keys[order], o[f"{kind}_keys"])
                        and np.array_equal(e["weight"].to_numpy()[order], o[f"{kind}_w"])):
                    return f"{len(e)} edges differ from the oracle's {len(o[f'{kind}_keys'])}"
                if out[f"{kind}_dropped"] != int(o[f"{kind}_dropped"]):
                    return (f"dropped {out[f'{kind}_dropped']} buckets, "
                            f"oracle {int(o[f'{kind}_dropped'])}")
                return ""
            return check

        def louvain(out):
            n = int(o["file_n"])
            src, dst = o["file_keys"] // n, o["file_keys"] % n
            return _check_louvain(out["assign"], out["modularity"], src, dst, o["file_w"], n)

        def resume(out):
            if not _same_assignment(out["assign"], out["assign_resumed"]):
                return "resumed assignment differs from the uninterrupted one"
            return ""

        def write(out):
            written = pq.read_table(out["communities_dir"]).to_pandas()
            if not _same_assignment(out["assign"], written):
                return "written communities differ from the assignment"
            return ""

        return {"corpus.build_file_graph": graph("file"),
                "corpus.build_repo_graph": graph("repo"),
                "louvain": louvain, "checkpoint.resume": resume,
                "edges.write_communities": write}


# --- graph_pillars -------------------------------------------------------------

class GraphPillars(Workload):
    name = "graph_pillars"
    ops = ("edges.read", "louvain", "pagerank", "components", "labelprop", "triangles")

    def params(self) -> dict:
        return dict(PILLARS)

    def prepare(self) -> None:
        self.input = gen.cached(
            self._file("edges") + ".parquet",
            lambda: gen.edge_table(self.seed, **PILLARS))

        def compute():
            t = pq.read_table(self.input)
            s, d = t["src"].to_numpy(), t["dst"].to_numpy()
            w = t["weight"].to_numpy()
            n = int(max(s.max(), d.max())) + 1
            return {"src": s, "dst": d, "w": w, "n": np.int64(n),
                    "pagerank": oracle.pagerank(s, d, w, n, DAMPING, PR_ITERS),
                    "components": oracle.components(s, d, n),
                    "triangles": np.int64(oracle.triangles(s, d, n))}

        self._cached_oracle(compute)
        self.sym_rows = 2 * len(self.oracle["src"])

    def run_pass(self, ctx, out: dict) -> None:
        from pyspark import StorageLevel

        from parallel_louvain_method_spark.operators.components import connected_components
        from parallel_louvain_method_spark.operators.labelprop import label_propagation
        from parallel_louvain_method_spark.operators.louvain import louvain
        from parallel_louvain_method_spark.operators.pagerank import pagerank
        from parallel_louvain_method_spark.operators.triangles import triangle_count
        from parallel_louvain_method_spark.sources.edges import read_edge_parquet

        spark, span = ctx.spark, ctx.tracer.span
        with span("edges.read"):
            e = read_edge_parquet(spark, self.input).persist(StorageLevel.MEMORY_AND_DISK)
            e.count()
        with span("louvain") as s:
            t0 = time.monotonic()
            # level 0 (2m symmetric rows) runs the barrier engine and the
            # coarse levels the driver kernels; at this size the default
            # threshold would keep every level in the driver, and no
            # workload would measure the barrier phases
            res = louvain(spark, e, n_blocks=ctx.nproc, local_threshold=self.sym_rows // 2)
            s["call_s"] = time.monotonic() - t0
            s["levels"] = res.levels
            out["assign"] = res.assignment.toPandas()
            out["modularity"] = res.modularity
        with span("pagerank"):
            out["pagerank"] = pagerank(e, damping=DAMPING, max_iter=PR_ITERS,
                                       tol=None).toPandas()
        with span("components"):
            out["components"] = connected_components(e).toPandas()
        with span("labelprop"):
            out["labelprop"] = label_propagation(e, max_iter=LPA_ITERS).toPandas()
        with span("triangles"):
            out["triangles"] = triangle_count(e)

    def checks(self) -> dict:
        o = self.oracle
        n = int(o["n"])

        def louvain(out):
            return _check_louvain(out["assign"], out["modularity"], o["src"], o["dst"], o["w"], n)

        def pagerank(out):
            pr = _dense(out["pagerank"], "rank", n)
            if pr is None:
                return "ranks differ from the oracle (missing rows)"
            if not np.allclose(pr, o["pagerank"], rtol=1e-6, atol=1e-12):
                return (f"ranks differ from the oracle "
                        f"(max abs err {np.abs(pr - o['pagerank']).max():.3g})")
            return ""

        def components(out):
            cc = _dense(out["components"], "component", n)
            if cc is None or not np.array_equal(cc, o["components"]):
                return "components differ from the oracle"
            return ""

        def labelprop(out):
            lab = _dense(out["labelprop"], "label", n)
            if lab is None:
                return "not exactly one label per vertex"
            # every label's vertices lie in one component
            idx = np.unique(lab, return_inverse=True)[1]
            lo = np.full(n, n, dtype=np.int64)
            hi = np.full(n, -1, dtype=np.int64)
            np.minimum.at(lo, idx, o["components"])
            np.maximum.at(hi, idx, o["components"])
            if (lo[hi >= 0] != hi[hi >= 0]).any():
                return "a label crosses components"
            return ""

        def triangles(out):
            if out["triangles"] != int(o["triangles"]):
                return f"{out['triangles']} triangles, oracle {int(o['triangles'])}"
            return ""

        return {"louvain": louvain, "pagerank": pagerank, "components": components,
                "labelprop": labelprop, "triangles": triangles}


WORKLOADS = {w.name: w for w in (CorpusCommunities, GraphPillars)}


# --- shared checks ----------------------------------------------------------

def _dense(df, col: str, n: int):
    """Column as an array indexed by vtx, or None unless each of 0..n-1
    appears exactly once."""
    v = df["vtx"].to_numpy()
    if len(v) != n or not np.array_equal(np.sort(v), np.arange(n)):
        return None
    out = np.empty(n, dtype=df[col].dtype)
    out[v] = df[col].to_numpy()
    return out


def _check_louvain(assign, q, src, dst, w, n) -> str:
    v = assign["vtx"].to_numpy()
    if len(v) == 0:
        return "empty assignment"
    if len(np.unique(v)) != len(v) or v.min() < 0 or v.max() >= n:
        return "assignment ids are not unique or out of range"
    if not np.isin(np.union1d(src, dst), v).all():
        return "a vertex of the graph has no community"
    # vertices without edges add nothing to Q; park them in community 0
    comm = np.zeros(n, dtype=np.int64)
    comm[v] = assign["comm"].to_numpy()
    want = oracle.modularity(src, dst, w, comm)
    if not abs(q - want) <= 1e-6:
        return f"reported Q {q:.9f}, recomputed {want:.9f}"
    return ""


def _same_assignment(a, b) -> bool:
    a = a.sort_values("vtx")
    b = b.sort_values("vtx")
    return (len(a) == len(b)
            and np.array_equal(a["vtx"].to_numpy(), b["vtx"].to_numpy())
            and np.array_equal(a["comm"].to_numpy(), b["comm"].to_numpy()))


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
