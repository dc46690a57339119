"""End-to-end tests over the reference's OWN data files (SURVEY.md §5.3).

These are the workloads a reference user runs first: point the engine at an
edge file.  Fixtures:

- ``data/graph/{0..3}``   — weighted per-rank shards of the golden16 graph
  (the gtest graph, /root/reference/tests/main_test.cpp:54-59);
- ``data/graph/x0{0..3}`` — the same graph as RAW 2-column shards (S2:
  unit weight, /root/reference/renumber.py:14-16);
- ``data/cora/cora.cites``— raw tab-separated citation pairs (2,708
  vertices / 5,429 edges);
- ``data/cora8/{0..7}``   — cora AFTER the reference's own renumber.py —
  the ground truth our dense renumber (W3) must reproduce exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallel_louvain_method_spark.functions import kernels
from parallel_louvain_method_spark.operators import graph as G
from parallel_louvain_method_spark.operators.louvain import louvain, louvain_level
from parallel_louvain_method_spark.sources.edges import read_edge_text
from tests.conftest import (
    EPS,
    GOLDEN16_ASSIGNMENT,
    GOLDEN16_N_COMMUNITIES,
    GOLDEN16_Q_FINAL,
)

REF = "/root/reference/data"

# cora, sequential level-0 semantics (deterministic): pinned from the
# reference-exact CSR kernel (tests/test_kernels.py proves kernel parity)
CORA_VCOUNT = 2708
CORA_ECOUNT_LINES = 5429
CORA_L0_Q = 0.552602
CORA_L0_NCOMM = 735


def test_read_golden16_weighted_shards(spark):
    """S1: weighted `src dst w` per-rank shards, read as one multi-file scan."""
    edges = read_edge_text(spark, [f"{REF}/graph/{i}" for i in range(4)])
    assert edges.count() == 28
    sym = G.symmetric_edges(edges)
    assert sym.count() // 2 == 28

    assign, deg, m2, stats = louvain_level(spark, sym, n_blocks=1)
    assert stats.modularity == pytest.approx(GOLDEN16_Q_FINAL, abs=EPS)
    got = {r["vtx"]: r["comm"] for r in assign.collect()}
    assert got == GOLDEN16_ASSIGNMENT


def test_read_golden16_raw_2col_shards(spark):
    """S2: raw 2-column shards get unit weight and the same Louvain result."""
    edges = read_edge_text(spark, [f"{REF}/graph/x0{i}" for i in range(4)], weighted=False)
    assert edges.count() == 28
    assert edges.agg(F.min("weight"), F.max("weight")).first() == (1.0, 1.0)

    res = louvain(spark, edges, n_blocks=1)
    assert res.modularity >= GOLDEN16_Q_FINAL - EPS
    assert res.n_communities <= GOLDEN16_N_COMMUNITIES


def test_malformed_lines_skip_and_warn(spark, tmp_path):
    """src/graph.cpp:41-43 skips unparseable lines; so must the text source."""
    p = tmp_path / "bad.txt"
    p.write_text(
        "1 2 1.0\n"
        "garbage line\n"
        "3\n"            # too few tokens
        "4 5\n"          # missing weight on the weighted path
        "6 7 2.5\n"
        "8 x 1.0\n"      # non-numeric dst
        "\n"
    )
    edges = read_edge_text(spark, str(p))
    rows = {(r["src"], r["dst"], r["weight"]) for r in edges.collect()}
    assert rows == {(1, 2, 1.0), (6, 7, 2.5)}
    # unweighted path keeps the 2-token line
    edges2 = read_edge_text(spark, str(p), weighted=False)
    rows2 = {(r["src"], r["dst"]) for r in edges2.select("src", "dst").collect()}
    assert rows2 == {(1, 2), (4, 5), (6, 7)}


def test_cora_renumber_matches_reference_renumber(spark):
    """W3 parity: dense sorted renumber of raw cora.cites reproduces the
    reference's own renumber.py output (data/cora8) EXACTLY."""
    raw = read_edge_text(spark, f"{REF}/cora/cora.cites", weighted=False)
    assert raw.count() == CORA_ECOUNT_LINES
    renum, mapping = G.renumber_edges(raw)
    assert mapping.count() == CORA_VCOUNT
    assert mapping.agg(F.max("new_id")).first()[0] == CORA_VCOUNT - 1

    ref8 = read_edge_text(spark, [f"{REF}/cora8/{i}" for i in range(8)], weighted=False)
    assert ref8.count() == CORA_ECOUNT_LINES
    # exact set equality of renumbered (src, dst) pairs, both directions
    diff_a = renum.select("src", "dst").exceptAll(ref8.select("src", "dst"))
    diff_b = ref8.select("src", "dst").exceptAll(renum.select("src", "dst"))
    assert diff_a.count() == 0 and diff_b.count() == 0


def test_cora_louvain_pinned(spark):
    """Cora end-to-end: raw file -> renumber -> Louvain level 0, sequential
    semantics.  Per-vertex assignment must match the reference-exact CSR
    kernel bit-for-bit (north rule), plus pinned Q / community count."""
    raw = read_edge_text(spark, f"{REF}/cora/cora.cites", weighted=False)
    sym = G.symmetric_edges(raw)
    assign, deg, m2, stats = louvain_level(spark, sym, n_blocks=1)
    assert stats.modularity == pytest.approx(CORA_L0_Q, abs=1e-5)
    assert assign.select("comm").distinct().count() == CORA_L0_NCOMM

    # per-vertex parity with the kernel run directly on the raw arrays
    pdf = raw.select("src", "dst", "weight").toPandas()
    v, c, sweeps, q, imp, _ = kernels.louvain_sequential_edges(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), pdf["weight"].to_numpy()
    )
    expected = dict(zip(v.tolist(), c.tolist()))
    got = {r["vtx"]: r["comm"] for r in assign.collect()}
    assert got == expected


def test_cora_multilevel_improves(spark):
    """Multi-level Louvain on cora coarsens past level 0 and improves Q."""
    raw = read_edge_text(spark, f"{REF}/cora/cora.cites", weighted=False)
    res = louvain(spark, raw, n_blocks=1)
    assert len(res.levels) >= 2
    assert res.modularity > CORA_L0_Q
    assert res.assignment.count() == CORA_VCOUNT
    # communities after coarsening: far fewer than level 0's 735
    assert res.n_communities < CORA_L0_NCOMM
