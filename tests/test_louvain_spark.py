"""Golden + property tests for the Spark Louvain path (SURVEY.md §5.1-2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_louvain_method_spark.operators import graph as G
from parallel_louvain_method_spark.operators.louvain import (
    coarsen,
    louvain,
    louvain_level,
    modularity_df,
)
from tests.conftest import (
    EPS,
    GOLDEN16_ASSIGNMENT,
    GOLDEN16_N_COMMUNITIES,
    GOLDEN16_Q_FINAL,
    GOLDEN16_Q_INITIAL,
)


def test_golden16_single_block(spark, golden16_df):
    sym = G.symmetric_edges(golden16_df)
    assert sym.count() // 2 == 28
    deg = G.degrees(sym)
    m2 = float(deg.agg(F.sum("degree")).first()[0])
    assert m2 == pytest.approx(56.0)

    # initial modularity with singleton communities
    assign0 = deg.select("vtx", F.col("vtx").alias("comm"))
    q0 = modularity_df(sym, assign0, deg, m2)
    assert q0 == pytest.approx(GOLDEN16_Q_INITIAL, abs=EPS)

    assign, deg, m2u, stats = louvain_level(spark, sym, n_blocks=1)
    assert stats.modularity == pytest.approx(GOLDEN16_Q_FINAL, abs=EPS)
    assert assign.select("comm").distinct().count() == GOLDEN16_N_COMMUNITIES
    # north rule: PER-VERTEX assignment matches the reference semantics
    got = {r["vtx"]: r["comm"] for r in assign.collect()}
    assert got == GOLDEN16_ASSIGNMENT


def test_golden16_anneal_converges(spark, golden16_df):
    """A4: the temperature schedule (beat-the-best-by-> exp(-sweep),
    src/distcommunity.cpp:549-562, 227-231) converges deterministically on
    golden16 — it suppresses early marginal moves and lands at Q=0.374
    with 3 communities (same quality class as the plain result)."""
    sym = G.symmetric_edges(golden16_df)
    assign, deg, m2, stats = louvain_level(spark, sym, n_blocks=1, anneal=True)
    assert stats.modularity == pytest.approx(0.3743622448979591, abs=EPS)
    assert assign.select("comm").distinct().count() == 3


def test_golden16_multiblock_converges(spark, golden16_df):
    sym = G.symmetric_edges(golden16_df)
    assign, deg, m2, stats = louvain_level(spark, sym, n_blocks=4, mode="superstep")
    # bulk-synchronous multi-block must still converge (0-move sweep) and
    # land in the same quality class as the sequential result
    assert stats.moves_per_sweep[-1] == 0
    # single-LEVEL Q on a 16-vertex toy varies with the stochastic active
    # sets (sequential semantics land at 0.346; synchronous dynamics land
    # anywhere in ~0.27-0.35); the multilevel test below pins final quality
    assert stats.modularity >= 0.25


def test_golden16_barrier_engine(spark, golden16_df):
    """The barrier-mode level engine (whole level in one stage, mover
    deltas via allGather) converges to a zero-move superstep and the same
    quality class as the other engines, with consistent state across
    tasks (assignment covers every vertex exactly once)."""
    sym = G.symmetric_edges(golden16_df)
    assign, deg, m2, stats = louvain_level(
        spark, sym, mode="superstep", superstep_engine="barrier"
    )
    assert m2 == pytest.approx(56.0)
    assert stats.moves_per_sweep[-1] == 0
    assert stats.modularity >= 0.25
    assert assign.count() == 16
    assert assign.select("vtx").distinct().count() == 16
    # degree table reassembled from the per-task exchange matches reality
    got_deg = {r["vtx"]: r["degree"] for r in deg.collect()}
    want = {r["vtx"]: r["degree"] for r in G.degrees(sym).collect()}
    assert {k: v for k, v in got_deg.items() if v > 0} == want
    # phase telemetry: per-phase critical path (max over tasks) covers the
    # one bulk transfer, the degree exchange, and one (kernel, gather)
    # pair per executed sweep — the decomposition BENCH_SCALING.md's
    # per-phase attribution reads
    assert {"unpack", "deg_exchange"} <= set(stats.phase_crit)
    for i in range(stats.sweeps):
        assert f"kernel_{i}" in stats.phase_crit, i
        assert f"gather_{i}" in stats.phase_crit, i
    assert all(v >= 0.0 for v in stats.phase_crit.values())
    # the work-sum twin covers the same phases, and sum >= max always
    assert set(stats.phase_sum) == set(stats.phase_crit)
    for k, mx in stats.phase_crit.items():
        assert stats.phase_sum[k] >= mx - 1e-9, k


def test_golden16_coarsen(spark, golden16_df):
    sym = G.symmetric_edges(golden16_df)
    assign, deg, m2, stats = louvain_level(spark, sym, n_blocks=1)
    coarse, cmap = coarsen(sym, assign)
    # 4 communities -> coarse graph has 4 vertices, ids dense 0..3
    verts = sorted(r["v"] for r in G.vertex_ids(coarse).collect())
    assert verts == list(range(GOLDEN16_N_COMMUNITIES))
    # total coarse weight = total original symmetric weight (mass conserved)
    tot_coarse = coarse.agg(F.sum("weight")).first()[0]
    assert tot_coarse == pytest.approx(56.0)
    # self-loop weight = 2x internal weight: sum of self-loops + inter = 56
    selfw = coarse.filter("src = dst").agg(F.sum("weight")).first()[0]
    assert selfw > 0


def test_multilevel_louvain(spark, golden16_df):
    res = louvain(spark, golden16_df, n_blocks=1)
    assert res.modularity >= GOLDEN16_Q_FINAL - EPS
    assert res.n_communities <= GOLDEN16_N_COMMUNITIES
    # every original vertex keeps exactly one assignment
    assert res.assignment.count() == 16
    assert res.assignment.select("vtx").distinct().count() == 16


def test_louvain_input_symmetric_parity(spark, golden16_df):
    """input_symmetric=True on the pre-built working representation must
    reproduce the raw-input run exactly — same Q, same per-vertex
    assignment — in both the local and superstep paths.  The declared
    table is exactly what the level-0 build would have produced
    (symmetrize + set-dedup + per-(src,dst) weight collapse)."""
    from parallel_louvain_method_spark.operators.graph import symmetric_edges

    pre = (
        symmetric_edges(golden16_df)
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    base = louvain(spark, golden16_df, n_blocks=1)
    skip = louvain(spark, pre, n_blocks=1, input_symmetric=True)
    assert skip.modularity == pytest.approx(base.modularity, abs=1e-9)
    a = {r["vtx"]: r["comm"] for r in base.assignment.collect()}
    b = {r["vtx"]: r["comm"] for r in skip.assignment.collect()}
    assert a == b
    # the distributed paths read the same level-0 cache; compare against
    # the raw-input run of the SAME mode/engine (superstep's visit order
    # differs from local mode's, so cross-mode Q equality is not the
    # invariant)
    for eng in ("auto", "sql"):
        base_ss = louvain(
            spark, golden16_df, mode="superstep", superstep_engine=eng
        )
        skip_ss = louvain(
            spark, pre, mode="superstep", superstep_engine=eng,
            input_symmetric=True,
        )
        assert skip_ss.modularity == pytest.approx(
            base_ss.modularity, abs=1e-9
        ), eng
        a_ss = {r["vtx"]: r["comm"] for r in base_ss.assignment.collect()}
        b_ss = {r["vtx"]: r["comm"] for r in skip_ss.assignment.collect()}
        assert a_ss == b_ss, eng


def test_checkpoint_resume(spark, golden16_df, tmp_path):
    ck = str(tmp_path / "ck")
    res1 = louvain(spark, golden16_df, n_blocks=1, checkpoint_dir=ck)
    from parallel_louvain_method_spark.sources.checkpoint import latest_level

    lvl = latest_level(spark, ck)
    assert lvl is not None
    res2 = louvain(spark, golden16_df, n_blocks=1, checkpoint_dir=ck, resume=True)
    # resume from the final level converges immediately to the same Q class
    assert res2.modularity >= res1.modularity - 1e-9


@pytest.mark.parametrize("engine", ["sql", "numpy_broadcast", "barrier"])
def test_golden16_engine_matrix(spark, golden16_df, engine):
    """Every superstep engine converges on golden16 to the same quality
    class with a consistent assignment — guards the non-default engines
    (auto picks barrier; sql serves sparse/overflow graphs, and
    numpy_broadcast is the barrier fallback)."""
    sym = G.symmetric_edges(golden16_df)
    assign, deg, m2, stats = louvain_level(
        spark, sym, mode="superstep", superstep_engine=engine
    )
    assert m2 == pytest.approx(56.0)
    assert stats.moves_per_sweep[-1] == 0  # converged, not capped
    assert stats.modularity >= 0.25
    assert assign.count() == 16
    assert assign.select("vtx").distinct().count() == 16


def test_barrier_engine_deterministic(spark, golden16_df):
    """Hash partitioning + sweep-seeded kernels: two runs of the barrier
    engine produce IDENTICAL per-vertex assignments (reproducibility is a
    SURVEY §7.3 requirement; Spark ordering alone does not give it)."""
    sym = G.symmetric_edges(golden16_df)
    runs = []
    for _ in range(2):
        assign, _, _, _ = louvain_level(
            spark, sym, mode="superstep", superstep_engine="barrier"
        )
        runs.append(sorted((r["vtx"], r["comm"]) for r in assign.collect()))
    assert runs[0] == runs[1]


def test_barrier_error_classification_unit():
    """Scheduling failures fall back; worker-side Python errors re-raise
    (r2 ADVICE: a blanket `except Exception` masked kernel bugs by
    silently rerunning the level on numpy_broadcast)."""
    from parallel_louvain_method_spark.operators.louvain import (
        _is_worker_python_error,
    )

    sched = Exception(
        "[SPARK-24819] Barrier execution mode does not support scheduling "
        "because the total number of slots is fewer than tasks"
    )
    kern = Exception(
        "Job aborted due to stage failure ... PythonException: Traceback "
        "(most recent call last): IndexError: index 15 is out of bounds"
    )
    assert not _is_worker_python_error(sched)
    assert _is_worker_python_error(kern)


def test_barrier_kernel_error_propagates(spark, golden16_df, capfd):
    """A worker-side bug inside the barrier stage (injected: an n_vertices
    hint too small for the real id range -> out-of-bounds numpy indexing)
    must RAISE, not silently rerun on numpy_broadcast."""
    sym = G.symmetric_edges(golden16_df)
    with pytest.raises(Exception):
        louvain_level(
            spark,
            sym,
            mode="superstep",
            superstep_engine="barrier",
            n_vertices_hint=4,  # graph really has 16 vertices
            dense_hint=True,
        )
    err = capfd.readouterr().err
    assert "falling back to numpy_broadcast" not in err


def test_louvain_engine_cutover_and_telemetry(spark, golden16_df):
    """Past broadcast_vertex_threshold the auto selection must cut over
    barrier -> sql (the only path past 20M vertices), and per-level engine
    telemetry records which strategy ran each level."""
    res = louvain(
        spark,
        golden16_df,
        mode="superstep",
        broadcast_vertex_threshold=4,  # golden16 has 16 > 4 vertices
    )
    assert res.levels[0].engine == "sql"
    assert res.modularity >= 0.25
    assert res.assignment.count() == 16
    # below the threshold auto picks barrier again (both directions tested)
    res2 = louvain(spark, golden16_df, mode="superstep")
    assert res2.levels[0].engine == "barrier"
    # the PER-TASK adjacency gate also cuts over to sql: a barrier task
    # materializes its whole partition in worker memory, so rows/task —
    # not total edges — is the binding constraint
    res3 = louvain(spark, golden16_df, mode="superstep", barrier_rows_per_task=2)
    assert res3.levels[0].engine == "sql"
    assert res3.modularity >= 0.25


def test_checkpoint_metrics_record_engine(spark, golden16_df, tmp_path):
    """Resumable checkpoints carry per-level engine telemetry (r2 VERDICT
    next-step #8): an audited run shows which path produced each level."""
    from parallel_louvain_method_spark.sources.checkpoint import (
        latest_level,
        load_level,
    )

    ck = str(tmp_path / "ck_engine")
    louvain(spark, golden16_df, n_blocks=1, checkpoint_dir=ck)
    lvl = latest_level(spark, ck)
    assert lvl is not None
    for k in range(lvl + 1):
        _, _, metrics = load_level(spark, ck, k)
        assert metrics.get("engine"), metrics


def test_louvain_negative_ids_renumbered(spark):
    """Negative vertex ids pass the old max==n-1 dense check ({-1,0,1,3}:
    n=4, max=3) but must NOT reach the numpy-indexing engines; louvain
    renumbers them and restores original ids in the result."""
    edges = spark.createDataFrame(
        [(-1, 0, 1.0), (0, 1, 1.0), (1, 3, 1.0), (3, -1, 1.0)],
        "src long, dst long, weight double",
    )
    res = louvain(spark, edges, mode="superstep")
    rows = {r["vtx"] for r in res.assignment.collect()}
    assert rows == {-1, 0, 1, 3}


def test_sql_engine_quality_parity_planted(spark):
    """The sql engine's synchronous dynamics (full first sweep +
    pointer-jump collapse + delta tails) must land in the same quality
    class as the reference-sequential kernel on a planted-community
    graph, not just on golden16."""
    import random

    rng = random.Random(7)
    edges = []
    # 10 planted cliques of 30 + sparse random cross links
    for c in range(10):
        base = c * 30
        members = list(range(base, base + 30))
        for i in members:
            for j in members:
                if i < j and rng.random() < 0.4:
                    edges.append((i, j, 1.0))
    for _ in range(60):
        a, b = rng.randrange(300), rng.randrange(300)
        if a != b:
            edges.append((min(a, b), max(a, b), 1.0))
    df = spark.createDataFrame(edges, "src long, dst long, weight double")

    res_seq = louvain(spark, df, mode="local")
    res_sql = louvain(
        spark, df, mode="superstep", superstep_engine="sql", max_sweeps=15
    )
    assert res_sql.levels[0].engine == "sql"
    assert res_sql.modularity >= res_seq.modularity - 0.03, (
        res_sql.modularity, res_seq.modularity,
    )


def test_sql_engine_skew_salt_parity(spark, golden16_df):
    """Explicit salting for mega-community skew (north rule): with
    ``skew_salt > 1`` the sql engine's per-sweep state⋈totals join keys
    on (comm, salt) so one huge community spreads over S tasks.  Salting
    must be placement-only — identical per-vertex assignments, identical
    per-sweep move counts, identical modularity.  Exercised on golden16
    AND a hub-heavy star-of-cliques where one community absorbs most
    vertices (the skew shape the salt exists for)."""
    base = louvain(
        spark, golden16_df, mode="superstep", superstep_engine="sql"
    )
    salted = louvain(
        spark, golden16_df, mode="superstep", superstep_engine="sql",
        skew_salt=4,
    )
    assert salted.modularity == pytest.approx(base.modularity, abs=EPS)
    got_b = {r["vtx"]: r["comm"] for r in base.assignment.collect()}
    got_s = {r["vtx"]: r["comm"] for r in salted.assignment.collect()}
    assert got_s == got_b
    assert (
        salted.levels[0].moves_per_sweep == base.levels[0].moves_per_sweep
    )

    # hub graph: vertex 0 linked to every other vertex + a sparse ring —
    # sweep 0 collapses almost everything into one mega-community, so the
    # salted join actually carries a skewed key before convergence
    n = 400
    star = spark.range(1, n).select(
        F.lit(0).cast("long").alias("src"),
        F.col("id").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    ring = spark.range(1, n).select(
        F.col("id").alias("src"),
        (F.col("id") % (n - 1) + 1).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    hub = star.union(ring)
    a0, _, _, s0 = louvain_level(
        spark, G.symmetric_edges(hub), mode="superstep",
        superstep_engine="sql", max_sweeps=6,
    )
    a4, _, _, s4 = louvain_level(
        spark, G.symmetric_edges(hub), mode="superstep",
        superstep_engine="sql", max_sweeps=6, skew_salt=4,
    )
    assert s4.moves_per_sweep == s0.moves_per_sweep
    assert {r["vtx"]: r["comm"] for r in a4.collect()} == {
        r["vtx"]: r["comm"] for r in a0.collect()
    }


@pytest.mark.slow
def test_sql_engine_end_to_end_past_cutover(spark):
    """CI guard for the declared 100 TB path (r3 VERDICT next-step #7):
    run the sql engine END-TO-END on a graph past the auto-cutover size
    class (150k vertices / 690k sym edges — golden16-with-lowered-
    threshold only covered the seam), multiple levels, and assert sane
    quality AND bounded per-sweep wall.  The r3 hang (compounding
    Catalyst stats) showed exactly here: tail sweeps growing 5-10× each —
    the sweep_wall_sec telemetry turns that into an assertable property."""
    import statistics

    n_comm, csize = 15_000, 10
    pairs = [(i, j) for i in range(csize) for j in range(csize) if i < j]
    pair_df = spark.createDataFrame(pairs, "i int, j int")
    intra = spark.range(n_comm).crossJoin(pair_df).select(
        (F.col("id") * csize + F.col("i")).alias("src"),
        (F.col("id") * csize + F.col("j")).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    ring = spark.range(n_comm).select(
        (F.col("id") * csize).alias("src"),
        (((F.col("id") + 1) % n_comm) * csize).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    res = louvain(
        spark,
        intra.union(ring),
        mode="superstep",
        superstep_engine="sql",
        max_sweeps=8,
    )
    assert res.levels[0].engine == "sql"
    assert res.levels[0].n_vertices == n_comm * csize
    # ring-of-cliques: the planted partition scores ~0.9975
    assert res.modularity >= 0.95, res.modularity
    for lv in res.levels:
        walls = lv.sweep_wall_sec
        if len(walls) >= 4:
            med = statistics.median(walls)
            # r3's failure curve was 2.1 -> 2.7 -> 11.8 -> 129 s; a healthy
            # tail stays within a small factor of the median
            assert max(walls) <= max(4 * med, med + 10), (lv.level, walls)


def test_multigraph_parallel_edges_sum(spark, golden16_df):
    """Parallel edges with distinct weights survive set-dedup (reference
    std::set semantics, src/graph.h:25) and their contributions SUM in
    compute_neighbors (src/community.cpp:122-148).  The multilevel driver
    collapses them at its level-0 build, so louvain() on a multigraph must
    equal louvain() on the pre-summed simple graph; and the sql engine's
    sweep-0 fast path (unique_pairs=True on collapsed input) must equal
    the aggregation path (unique_pairs=False on the raw multigraph)."""
    base = golden16_df
    # split every even-src edge's unit weight into 0.25 + 0.75 parallel rows
    split = base.filter(F.col("src") % 2 == 0)
    multi = (
        base.filter(F.col("src") % 2 != 0)
        .union(split.withColumn("weight", F.col("weight") * 0.25))
        .union(split.withColumn("weight", F.col("weight") * 0.75))
    )
    r_simple = louvain(spark, base, n_blocks=1)
    r_multi = louvain(spark, multi, n_blocks=1)
    assert r_multi.modularity == pytest.approx(r_simple.modularity, abs=EPS)
    got_m = {r["vtx"]: r["comm"] for r in r_multi.assignment.collect()}
    got_s = {r["vtx"]: r["comm"] for r in r_simple.assignment.collect()}
    assert got_m == got_s

    # sql-engine seam: one synchronous sweep, fast path vs aggregation path
    sym_multi = G.symmetric_edges(multi)
    sym_sum = sym_multi.groupBy("src", "dst").agg(
        F.sum("weight").alias("weight")
    )
    a_fast, _, _, _ = louvain_level(
        spark, sym_sum, mode="superstep", superstep_engine="sql",
        max_sweeps=1, unique_pairs=True,
    )
    a_agg, _, _, _ = louvain_level(
        spark, sym_multi, mode="superstep", superstep_engine="sql",
        max_sweeps=1, unique_pairs=False,
    )
    fast = {r["vtx"]: r["comm"] for r in a_fast.collect()}
    agg = {r["vtx"]: r["comm"] for r in a_agg.collect()}
    assert fast == agg


def test_transport_error_classification_unit():
    """Mid-level star-transport losses are retriable (level rerun over
    allGather); they must NOT be classified as kernel bugs even though
    they carry a worker Python traceback."""
    from parallel_louvain_method_spark.operators.louvain import (
        _is_transport_error,
        _is_worker_python_error,
    )

    transport = Exception(
        "Job aborted due to stage failure ... PythonException: Traceback "
        "(most recent call last): AllGatherTransportError: star all-gather "
        "round failed at rank 2/8: ConnectionError('peer closed mid-frame')"
    )
    kern = Exception(
        "PythonException: Traceback (most recent call last): IndexError"
    )
    assert _is_transport_error(transport)
    assert _is_worker_python_error(transport)  # ordering in the caller matters
    assert not _is_transport_error(kern)


def test_barrier_transport_death_midlevel_retries_on_allgather(
    spark, golden16_df, monkeypatch, capfd
):
    """Failure injection (VERDICT r4 next-round #3): rank 0 kills every
    transport socket at sweep 1 — the level must complete via the
    coordinator-allGather retry within a bounded wall, converge, and say
    so on stderr (no silent hour-long ROUND_TIMEOUT stall, no silent
    partial gather)."""
    import time

    monkeypatch.setenv("PLM_TEST_KILL_TRANSPORT_SWEEP", "1")
    sym = G.symmetric_edges(golden16_df)
    t0 = time.monotonic()
    assign, deg, m2, stats = louvain_level(
        spark, sym, mode="superstep", superstep_engine="barrier"
    )
    wall = time.monotonic() - t0
    assert wall < 300.0, wall
    assert m2 == pytest.approx(56.0)
    assert stats.engine == "barrier"
    assert stats.moves_per_sweep[-1] == 0
    assert assign.count() == 16
    assert assign.select("vtx").distinct().count() == 16
    err = capfd.readouterr().err
    assert "retrying the level over coordinator allGather" in err


def _ring_of_cliques(spark, n_cliques=24, size=5):
    """Cliques joined in a ring: level 0 finds the cliques and later
    levels merge neighbouring ones (the resolution limit), so a run
    completes several levels."""
    edges = []
    for c in range(n_cliques):
        base = c * size
        edges += [
            (base + i, base + j, 1.0)
            for i in range(size) for j in range(i + 1, size)
        ]
        edges.append((base, ((c + 1) % n_cliques) * size + 1, 1.0))
    return spark.createDataFrame(edges, "src long, dst long, weight double")


def _assignment(res) -> dict:
    return {r["vtx"]: r["comm"] for r in res.assignment.collect()}


def _drop_last_level_marker(ck: str) -> int:
    """Simulate a crash inside the last level: remove its completeness
    marker.  Returns the number of levels the run completed."""
    import glob
    import os

    lv = sorted(
        glob.glob(os.path.join(ck, "level=*")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    os.remove(os.path.join(lv[-1], "metrics.json"))
    return len(lv)


def test_checkpointed_run_matches_plain_run(spark, tmp_path):
    """Checkpointing changes no result: same per-vertex assignment, same
    Q and the same levels as the run without a checkpoint directory, and
    each level's metrics.json names the next level's vertex count."""
    from parallel_louvain_method_spark.sources.checkpoint import load_level

    df = _ring_of_cliques(spark)
    plain = louvain(spark, df)
    ck = str(tmp_path / "ck")
    saved = louvain(spark, df, checkpoint_dir=ck)
    assert len(plain.levels) >= 2
    assert _assignment(saved) == _assignment(plain)
    assert saved.modularity == plain.modularity
    assert [lv.n_vertices for lv in saved.levels] == [
        lv.n_vertices for lv in plain.levels
    ]
    for k, lv in enumerate(saved.levels):
        edges, _, meta = load_level(spark, ck, k)
        assert meta["moves_per_sweep"] == lv.moves_per_sweep
        # n_next = the dense vertex count of the coarse table written
        n_next = meta["n_next"]
        verts = sorted(r["v"] for r in G.vertex_ids(edges).collect())
        assert verts == list(range(n_next))
        if k + 1 < len(saved.levels):
            # a level the run continued past moved vertices
            assert sum(lv.moves_per_sweep) > 0
            assert n_next == saved.levels[k + 1].n_vertices


@pytest.mark.parametrize("path", ["numpy", "dataframe"])
def test_resume_after_lost_level_is_exact(
    spark, tmp_path, monkeypatch, capfd, path
):
    """Losing the last level's metrics.json and resuming reproduces the
    uninterrupted assignment and Q exactly, on the numpy coarsen path and
    on the DataFrame path (driver budget forced to 0); stderr names the
    path each level took."""
    import parallel_louvain_method_spark.operators.louvain as L

    if path == "dataframe":
        monkeypatch.setattr(L, "DRIVER_STATE_MAX_VERTICES", 0)
    monkeypatch.setenv("PLM_DEBUG_SWEEPS", "1")
    df = _ring_of_cliques(spark)
    ck = str(tmp_path / "ck")
    full = louvain(spark, df, checkpoint_dir=ck)
    assert _drop_last_level_marker(ck) >= 2
    capfd.readouterr()
    resumed = louvain(spark, df, checkpoint_dir=ck, resume=True)
    err = capfd.readouterr().err
    assert _assignment(resumed) == _assignment(full)
    assert resumed.modularity == full.modularity
    # only the levels after the last complete one ran again
    assert 0 < len(resumed.levels) < len(full.levels)
    want = "coarsen=numpy" if path == "numpy" else "coarsen=DataFrame"
    lines = [ln for ln in err.splitlines() if ln.startswith("[louvain] level")]
    assert len(lines) == len(resumed.levels), err
    assert all(want in ln for ln in lines), err
    if path == "dataframe":
        # both coarsen paths renumber communities the same way
        monkeypatch.undo()
        assert _assignment(louvain(spark, df)) == _assignment(full)


def test_resume_from_checkpoint_without_n_next(
    spark, tmp_path, monkeypatch, capfd
):
    """A checkpoint written before metrics.json carried ``n_next`` still
    resumes to exactly the uninterrupted result (on the DataFrame path)."""
    import glob
    import json
    import os

    monkeypatch.setenv("PLM_DEBUG_SWEEPS", "1")
    df = _ring_of_cliques(spark)
    ck = str(tmp_path / "ck")
    full = louvain(spark, df, checkpoint_dir=ck)
    assert _drop_last_level_marker(ck) >= 2
    for f in glob.glob(os.path.join(ck, "level=*", "metrics.json")):
        with open(f) as fh:
            meta = json.load(fh)
        del meta["n_next"]
        with open(f, "w") as fh:
            json.dump(meta, fh)
        # the local Hadoop filesystem checks a .crc sidecar on read
        crc = os.path.join(os.path.dirname(f), ".metrics.json.crc")
        if os.path.exists(crc):
            os.remove(crc)
    capfd.readouterr()
    resumed = louvain(spark, df, checkpoint_dir=ck, resume=True)
    err = capfd.readouterr().err
    assert _assignment(resumed) == _assignment(full)
    assert resumed.modularity == full.modularity
    assert "coarsen=DataFrame (vertex count unknown" in err, err
