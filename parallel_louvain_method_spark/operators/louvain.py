"""Louvain community detection as bulk-synchronous Spark supersteps.

Replaces the reference's per-vertex MPI barrier protocol
(/root/reference/src/distcommunity.cpp:212-385 — Isend/Iprobe per move) with
the semantic redesign SURVEY.md §7 calls for: bulk-synchronous sweeps over
an immutable edge table, with community totals recomputed by aggregation
(no incremental mutation — reference src/community.cpp:33-45 mutates;
recompute is order-free and shuffle-parallel) and a zero-move sweep as the
convergence signal (src/community.cpp:98).

A level picks one of five execution strategies by size:

1. **local/sequential** (≤ ``sequential_threshold`` sym rows): one
   ``applyInPandas`` task runs the reference-exact CSR kernel — ascending
   visit order, strict-> argmax, current-community-first tie break — the
   semantics the golden tests pin (tests/main_test.cpp:64-81);
2. **local/vectorized** (≤ ``local_threshold``): one task, whole-graph
   numpy loop;
3. **superstep/barrier** (the production default while vertex ids are
   dense 0..n-1 and per-vertex state fits executor memory,
   ``broadcast_vertex_threshold``): the WHOLE level runs inside one Spark
   barrier stage — each task holds its src-partition's packed adjacency in
   memory for every sweep and exchanges per-sweep MOVER DELTAS via
   ``BarrierTaskContext.allGather``.  The edge table crosses the
   JVM→Python boundary exactly once per level; per-sweep traffic is
   O(movers).  This is the Spark-native re-expression of the reference's
   MPI protocol (src/distcommunity.cpp:212-385), with the barrier
   scheduler replacing MPI_Barrier and allGather replacing its
   communicate-deltas rounds;
4. **superstep/numpy_broadcast** (fallback when barrier scheduling is
   unavailable): per-vertex state ships as numpy broadcast arrays, one
   ``mapInPandas`` pass per sweep, movers-only Arrow collect.  Same kernel
   as (3) but re-pays the edge-table transfer every sweep;
5. **superstep/sql** (auto-selected past the broadcast threshold or on
   sparse ids): every sweep is PURE DataFrame algebra — the small
   assignment/degree/totals tables broadcast-hash-join onto the edges,
   candidate weights aggregate with map-side partials, the gain/argmax
   runs as codegen'd expressions.  The edge table never moves; one
   partial-agg shuffle per sweep; no Python in the loop.  This is the
   10^9-vertex path: nothing per-vertex ever lands on one machine.

Shared machinery: hashed pseudo-random active halves per sweep (strict
parity LOCKS period-2 oscillations; hashed halves provably vary), plateau /
near-convergence exits that hand label churn to the next (much smaller)
coarsened level, per-sweep ``fresh_checkpoint`` lineage AND statistics
truncation (plain ``localCheckpoint`` keeps ``originStats``, whose
sizeInBytes the per-sweep self-joins square into a doubly-exponential
BigInt — see plans/lineage.py), and per-level parquet
checkpoints for resume (north rule; the reference left this as a TODO,
src/distcommunity.cpp:899).
"""

from __future__ import annotations

import math
import os
import sys
import time
from dataclasses import dataclass, field
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from parallel_louvain_method_spark.functions import kernels
from parallel_louvain_method_spark.operators.graph import (
    degrees as degrees_op,
    symmetric_edges,
)
from parallel_louvain_method_spark.plans.lineage import fresh_checkpoint

ASSIGN_SCHEMA = "vtx long, comm long"
PROPOSAL_SCHEMA = "vtx long, comm long, moved int"

# Largest vertex count whose per-vertex state the multilevel driver holds as
# numpy arrays (the same O(|V|) budget the barrier / broadcast engines
# spend): at or below it a level coarsens and composes the flat assignment
# in numpy, and a resume reads the flat table back into numpy state
DRIVER_STATE_MAX_VERTICES = 5_000_000
# Largest assignment / relabel map hinted into a broadcast join: its hash
# relation builds serially in the driver (well under a second at this size);
# past it the join is hinted shuffle_hash and stays parallel
BROADCAST_MAP_MAX_ROWS = 200_000

# one probe per SparkContext: can this cluster schedule a barrier stage at
# all?  (local[N] always can; a dynamic-allocation cluster cannot, and its
# slot check would otherwise retry ~40x15 s before failing the real job)
_BARRIER_PROBED: dict[str, bool] = {}


def _is_transport_error(exc: Exception) -> bool:
    """True when a barrier-stage failure wraps a mid-level star-transport
    loss (functions/exchange.py raises AllGatherTransportError inside the
    worker; Spark embeds the class name in the wrapped message).  These
    are RETRIABLE over the coordinator allGather — unlike kernel/data
    bugs, which must propagate."""
    return "AllGatherTransportError" in str(exc)


def _is_worker_python_error(exc: Exception) -> bool:
    """True when a barrier-stage failure wraps a WORKER-side Python error
    (kernel or data bug) — those must propagate.  Spark embeds the worker
    traceback in the Java exception message, which barrier SCHEDULING
    failures (slot check, dynamic allocation) never carry."""
    msg = str(exc)
    return "Traceback" in msg or "PythonException" in msg


def _barrier_supported(sc) -> bool:
    key = sc.applicationId
    if key not in _BARRIER_PROBED:
        try:
            n = max(1, int(sc.defaultParallelism))
            sc.parallelize(range(n), n).barrier().mapPartitions(
                lambda it: iter([1])
            ).count()
            _BARRIER_PROBED[key] = True
        except Exception:
            _BARRIER_PROBED[key] = False
    return _BARRIER_PROBED[key]


@dataclass
class LevelStats:
    level: int
    n_vertices: int
    n_edges_sym: int
    sweeps: int = 0
    # vertices that changed community, per sweep.  A local/vectorized level
    # returns its best-Q snapshot, so it lists the sweeps up to that
    # snapshot only; for every engine the sum is > 0 iff the level moved
    moves_per_sweep: list[int] = field(default_factory=list)
    # wall seconds per sweep (sql engine): the r3 hang manifested as
    # MONOTONICALLY GROWING sweep walls (compounding Catalyst stats, see
    # plans/lineage.py) — recording them makes 'tail sweeps stay flat' a
    # testable property instead of a debug-env printout
    sweep_wall_sec: list[float] = field(default_factory=list)
    modularity: float = float("nan")
    wall_sec: float = 0.0
    # which execution strategy actually ran the level ("local/sequential",
    # "local/vectorized", "barrier", "numpy_broadcast", "sql", "block/..."):
    # audit telemetry — a resumed/checkpointed run shows which path produced
    # each level, and the auto-cutover (barrier -> sql past the broadcast
    # threshold) becomes a testable seam instead of an invisible branch
    engine: str = ""
    # barrier engine only: per-phase CRITICAL PATH across tasks — for each
    # instrumented phase (unpack / deg_exchange / kernel_i / gather_i), the
    # MAX wall over all barrier tasks.  In a BSP stage the slowest task
    # gates every barrier, so these maxima decompose the level's wall into
    # compute (kernel_*) vs data-movement (unpack, gather_*) — the split
    # that lets a scaling run attribute efficiency per phase instead of
    # reporting one end-to-end scalar (BENCH_SCALING.md §0)
    phase_crit: dict = field(default_factory=dict)
    # ... and the SUM across tasks (total work).  The max is what gates the
    # wall but any one stolen core inflates it; the sum is conserved under
    # repartitioning, so comparing phase SUMS between core counts is the
    # steal-robust attribution: kernel sum ≈ constant when compute scales,
    # unpack sum GROWS when concurrent converters saturate the memory bus.
    # Caveat shared with phase_crit: a task's gather_i/deg_exchange wall
    # includes time WAITING at the barrier for stragglers of the previous
    # phase, so comm phases absorb skew from compute/transfer phases.
    phase_sum: dict = field(default_factory=dict)


@dataclass
class LouvainResult:
    assignment: DataFrame  # vtx -> final community (original vertex ids)
    modularity: float
    levels: list[LevelStats]

    @property
    def n_communities(self) -> int:
        return self.assignment.select("comm").distinct().count()


def comm_totals(assign: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-community degree totals: ``tot[c] = Σ degree(v), v ∈ c``
    (recompute-by-aggregation form of src/community.cpp:33-45)."""
    return (
        assign.join(deg, "vtx")
        .groupBy("comm")
        .agg(F.sum("degree").alias("tot"), F.count("*").alias("size"))
    )


def _assign_df(spark: SparkSession, vtx, comm) -> DataFrame:
    """A (vtx, comm) DataFrame over driver-side arrays (one Arrow
    conversion in the driver, no Spark job)."""
    return spark.createDataFrame(
        pd.DataFrame({"vtx": vtx, "comm": comm}), schema=ASSIGN_SCHEMA
    )


def modularity_df(
    sym_edges: DataFrame,
    assign: DataFrame,
    deg: DataFrame,
    m2: float,
    include_self_loops: bool = True,
) -> float:
    """Q = Σ_c in[c]/m2 − (tot[c]/m2)² (src/community.cpp:49-60).

    ``in[c]`` counts each internal undirected edge twice (both directions of
    the symmetric table).  Self-loops appear once in the deduped symmetric
    table; on coarse graphs they carry the community's internal weight
    (already doubled by :func:`coarsen`), so they MUST count toward ``in``
    or coarse-level modularity collapses.  The reference never adds
    self-loop weight to ``in`` (compute_neighbors skips them,
    src/community.cpp:134, and init zeroes ``in``) — pass
    ``include_self_loops=False`` to reproduce that quirk; on the golden
    level-0 graphs (no self-loops) both settings agree to 1e-15.
    """
    a_src = assign.select(F.col("vtx").alias("src"), F.col("comm").alias("c_src"))
    a_dst = assign.select(F.col("vtx").alias("dst"), F.col("comm").alias("c_dst"))
    # shuffle_hash on the (small, checkpointed-so-statless) assignment side:
    # without the hint the planner sort-merge-joins, re-sorting the big edge
    # side twice for a one-shot scalar.  dst joins FIRST: the sql engine's
    # edge cache is dst-partitioned, so that join moves only the assignment
    # and the big side is exchanged once (for the src join) instead of twice
    internal = (
        sym_edges.join(a_dst.hint("shuffle_hash"), "dst")
        .join(a_src.hint("shuffle_hash"), "src")
        .filter(F.col("c_src") == F.col("c_dst"))
    )
    if not include_self_loops:
        internal = internal.filter(F.col("src") != F.col("dst"))
    in_c = internal.groupBy(F.col("c_src").alias("comm")).agg(
        F.sum("weight").alias("in_w")
    )
    tot_c = comm_totals(assign, deg)
    row = (
        tot_c.join(in_c, "comm", "left")
        .na.fill({"in_w": 0.0})
        .filter(F.col("tot") > 0)
        .select(
            F.sum(
                F.col("in_w") / F.lit(m2) - F.pow(F.col("tot") / F.lit(m2), F.lit(2.0))
            ).alias("q")
        )
        .first()
    )
    return float(row["q"]) if row["q"] is not None else 0.0


def _make_block_udf(m2: float, min_gain: float, kernel: str = "local", sweep: int = 0):
    def block_moves(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {
                    "vtx": pd.Series(dtype="int64"),
                    "comm": pd.Series(dtype="int64"),
                    "moved": pd.Series(dtype="int32"),
                }
            )
        if kernel in ("local", "vectorized"):
            out_v, out_c = kernels.louvain_block_local(
                pdf["src"].to_numpy(),
                pdf["src_comm"].to_numpy(),
                pdf["src_deg"].to_numpy(),
                pdf["dst"].to_numpy(),
                pdf["dst_comm"].to_numpy(),
                pdf["weight"].to_numpy(),
                pdf["tot_src"].to_numpy(),
                pdf["tot_dst"].to_numpy(),
                m2,
                min_gain,
                max_inner=20 if kernel == "local" else 1,
                seed=sweep,
            )
        else:  # "sequential": reference semantics within the block
            tot_by_comm: dict[int, float] = {}
            for c, t in zip(pdf["dst_comm"].to_numpy(), pdf["tot_dst"].to_numpy()):
                tot_by_comm[int(c)] = float(t)
            for c, t in zip(pdf["src_comm"].to_numpy(), pdf["tot_src"].to_numpy()):
                tot_by_comm[int(c)] = float(t)
            out_v, out_c = kernels.louvain_block_moves(
                pdf["src"].to_numpy(),
                pdf["src_comm"].to_numpy(),
                pdf["src_deg"].to_numpy(),
                pdf["dst"].to_numpy(),
                pdf["dst_comm"].to_numpy(),
                pdf["weight"].to_numpy(),
                tot_by_comm,
                m2,
                min_gain,
            )
        # moved flag: compare against the sweep-start community (first row
        # per src — pdf is the block's full adjacency)
        start = (
            pdf[["src", "src_comm"]]
            .drop_duplicates("src")
            .set_index("src")["src_comm"]
        )
        moved = (start.reindex(out_v).to_numpy() != out_c).astype("int32")
        return pd.DataFrame({"vtx": out_v, "comm": out_c, "moved": moved})

    return block_moves


def _broadcast_superstep_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
) -> tuple[DataFrame, DataFrame]:
    """Superstep loop with BROADCAST vertex state (the mid-scale fast path).

    While per-vertex state (community, degree, community totals — ~24 bytes
    per vertex) fits executor memory, shipping it as numpy broadcast arrays
    removes BOTH per-sweep shuffles: the edge table is partitioned by src
    once and never moves again; each sweep is one ``mapInPandas`` pass over
    the cached partitions plus an Arrow collect of MOVERS ONLY (~16 B per
    moved vertex — the mover set decays geometrically after sweep 0, so the
    serial driver cost shrinks with convergence).  Sweep cost becomes pure
    parallel kernel compute — this is what makes core-count scaling
    visible.  Beyond ~10^8 vertices the join-based sql engine (see the
    caller) takes over; on a real cluster the driver is the reduce point of
    this path, which is exactly why the cutover threshold exists — it is
    the same broadcast-vs-shuffle-join decision Catalyst makes for
    dimension tables.

    Requires DENSE vertex ids 0..n-1 (the caller renumbers level 0; coarsen
    guarantees it afterwards).  Returns ``(assign, deg)``.

    Transport layout: ids cast to int32 (the engine only runs below the
    2^31 vertex threshold) — 16 B/row instead of 24.  Weights stay
    float64: on COARSE levels they are community-internal sums that exceed
    float32's exact-integer range (2^24) long before the vertex gate, and
    the 1e-6 modularity guarantee must hold at every level.
    """
    import numpy as np

    sc = spark.sparkContext
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges_p = (
        sym_edges.select(
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
        .repartition(n_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # warm-up pass INSTEAD of a count(): materializes the cache through the
    # same Python/Arrow path the sweeps use, so sweep 0 doesn't pay worker
    # fork + numpy import + first Arrow conversion (~10 s measured at sf0.1
    # on a cold 32-core session — the single biggest serial cost of the
    # level before this)
    def _warm(batches):
        import pandas as _pd
        from parallel_louvain_method_spark.functions import kernels as _k  # noqa: F401
        n = 0
        for b in batches:
            n += len(b)
        yield _pd.DataFrame({"n": [n]})

    n_rows = int(
        edges_p.mapInPandas(_warm, schema="n long").agg(F.sum("n")).first()[0] or 0
    )
    if stats.n_edges_sym == 0:
        stats.n_edges_sym = n_rows

    # weighted degrees from the src-partitioned cache: the aggregation's
    # grouping key matches the cached outputPartitioning, so this is a
    # map-side-only pass — no second shuffle of the edge table
    deg = edges_p.groupBy(F.col("src").alias("vtx")).agg(
        F.sum(F.col("weight").cast("double")).alias("degree")
    )
    deg_pdf = deg.toPandas().astype({"vtx": "int64"})
    deg_arr = np.zeros(n_vertices, dtype=np.float64)
    deg_arr[deg_pdf["vtx"].to_numpy()] = deg_pdf["degree"].to_numpy()
    comm_arr = np.arange(n_vertices, dtype=np.int64)
    deg_bc = sc.broadcast(deg_arr)

    best_moves = float("inf")
    best_sweep = -1
    for sweep in range(max_sweeps):
        min_gain = math.exp(-(sweep + 1)) if anneal else 0.0
        tot_arr = np.bincount(comm_arr, weights=deg_arr, minlength=n_vertices)
        state_bc = sc.broadcast((comm_arr, tot_arr))
        sweep_no = sweep

        def run(batches, _state=state_bc, _deg=deg_bc, _m2=m2, _mg=min_gain, _sw=sweep_no):
            # mapInArrow, not mapInPandas: this engine pays the JVM→Python
            # conversion EVERY sweep, and the pandas Series wrapper was
            # measured at ~2× the raw Arrow→numpy cost (same finding as the
            # barrier engine's pack step)
            import numpy as _np
            import pyarrow as _pa

            ss, dd, ww = [], [], []
            for b in batches:
                ss.append(b.column(0).to_numpy(zero_copy_only=False))
                dd.append(b.column(1).to_numpy(zero_copy_only=False))
                ww.append(b.column(2).to_numpy(zero_copy_only=False))
            if not ss:
                yield _pa.RecordBatch.from_pydict(
                    {
                        "vtx": _np.empty(0, _np.int64),
                        "comm": _np.empty(0, _np.int64),
                        "moved": _np.empty(0, _np.int32),
                    }
                )
                return
            s = _np.concatenate(ss)
            d = _np.concatenate(dd)
            w = _np.concatenate(ww)
            comm, tot = _state.value
            degv = _deg.value
            out_v, out_c = kernels.louvain_block_local_dense(
                s, d, w, comm, degv, tot, _m2, _mg, max_inner=6, seed=_sw,
            )
            # ship MOVERS ONLY back to the driver: after sweep 0 the mover
            # set decays geometrically, so the Arrow collect (the one serial
            # cost of this engine) shrinks with it instead of staying
            # O(n_vertices) every sweep
            keep = comm[out_v] != out_c
            out_v, out_c = out_v[keep], out_c[keep]
            yield _pa.RecordBatch.from_pydict(
                {
                    "vtx": out_v.astype("int64"),
                    "comm": out_c.astype("int64"),
                    "moved": _np.ones(len(out_v), dtype="int32"),
                }
            )

        t_sw = time.monotonic()
        proposals = edges_p.mapInArrow(run, schema=PROPOSAL_SCHEMA).toPandas()
        state_bc.destroy()
        if os.environ.get("PLM_DEBUG_SWEEPS"):
            print(
                f"[louvain] sweep {sweep}: map+collect "
                f"{time.monotonic() - t_sw:.1f}s movers={len(proposals)}",
                file=sys.stderr,
                flush=True,
            )
        moves = len(proposals)
        comm_arr = comm_arr.copy()
        comm_arr[proposals["vtx"].to_numpy()] = proposals["comm"].to_numpy()
        stats.moves_per_sweep.append(moves)
        stats.sweeps = sweep + 1

        if moves == 0:
            # full active sets + locally-converged blocks: a zero-move
            # superstep is a global fixed point
            break
        threshold = int(min_moves_frac * n_vertices)
        if sweep > 0 and threshold > 0 and moves <= threshold:
            break
        if sweep > 0 and moves >= 50 and moves >= 0.9 * stats.moves_per_sweep[-2]:
            break
        if moves < best_moves:
            best_moves, best_sweep = moves, sweep
        elif sweep - best_sweep >= 8:
            break

    # level modularity with ONE scalar pass over the still-cached edges:
    # Q = W_internal/m2 − Σ_c (tot[c]/m2)².  The first term is LINEAR in the
    # internal symmetric weight, so each partition returns one float — no
    # joins, no per-community rows over the wire.  tot comes from the
    # driver-side state (self-loop rows count once, the engine convention).
    final_bc = sc.broadcast(comm_arr)

    def _internal_w(batches, _c=final_bc):
        import pandas as _pd
        comm = _c.value
        tot_w = 0.0
        for b in batches:
            s = b["src"].to_numpy()
            d = b["dst"].to_numpy()
            same = comm[s] == comm[d]
            tot_w += float(b["weight"].to_numpy()[same].sum())
        yield _pd.DataFrame({"w": [tot_w]})

    w_int = float(
        edges_p.mapInPandas(_internal_w, schema="w double")
        .agg(F.sum("w"))
        .first()[0]
        or 0.0
    )
    tot_final = np.bincount(comm_arr, weights=deg_arr, minlength=n_vertices)
    stats.modularity = float(
        w_int / m2 - np.sum((tot_final[tot_final > 0] / m2) ** 2)
    )
    final_bc.destroy()

    deg_bc.destroy()
    edges_p.unpersist()
    assign_pdf = __import__("pandas").DataFrame(
        {"vtx": np.arange(n_vertices, dtype=np.int64), "comm": comm_arr}
    )
    assign = spark.createDataFrame(assign_pdf, schema=ASSIGN_SCHEMA).localCheckpoint(
        eager=True
    )
    # deg re-materialized as a plain DataFrame for the caller (tiny: one
    # row per vertex, already on the driver)
    deg_out = spark.createDataFrame(
        deg_pdf, schema="vtx long, degree double"
    ).localCheckpoint(eager=True)
    return assign, deg_out


def _barrier_superstep_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
    pre_partitioned: str | None = None,
    force_allgather: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Whole-level barrier execution: ALL sweeps inside ONE Spark stage.

    The measured bottleneck of per-sweep ``mapInPandas`` (the
    ``numpy_broadcast`` engine) is not the kernel — it is Spark re-reading
    the cached edge table and re-serializing it JVM→Arrow→Python EVERY
    sweep (the kernel itself scales at ~1.0 efficiency 8→32 processes;
    tools/kernel_scaling.py).  This engine pays the transfer ONCE: each
    src-partition's adjacency is packed into a single numpy blob, and a
    barrier stage (``RDD.barrier().mapPartitions``) holds it in worker
    memory for the whole level, exchanging per-sweep MOVER DELTAS through
    an in-stage raw-TCP star all-gather (functions/exchange.py) — the
    re-expression of the reference's MPI communicate-deltas design
    (src/distcommunity.cpp:212-385).  ``BarrierTaskContext.allGather``
    remains the bootstrap (degree exchange + hub address + connect
    handshake) and the verified whole-level fallback; it is not used per
    sweep because its driver-coordinated sync has a measured ~1 s latency
    floor per call regardless of payload.

    Per-sweep traffic is O(movers), not O(edges): sweep 0 gathers ~n/2
    int32 pairs, decaying geometrically after.  Every task applies the
    same gathered deltas to its own full community array, so all tasks
    hold identical state and take identical exit decisions — no
    coordinator logic beyond allGather itself.

    Cluster requirement (standard for barrier mode): one concurrent slot
    per partition; partition count is capped at ``defaultParallelism``.
    Requires DENSE ids 0..n-1, like the broadcast engine.  Returns
    ``(assign, deg)``.

    ``force_allgather=True`` skips the TCP setup entirely and syncs every
    sweep over ``ctx.allGather`` — the retry path after a mid-level
    transport failure (AllGatherTransportError): the level restarts from
    consistent singleton state on the transport that needs no
    connections, trading the ~1 s/sync coordinator floor for guaranteed
    progress.
    """
    import numpy as np

    sc = spark.sparkContext
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        sc.defaultParallelism,
    )
    casted = sym_edges.select(
        F.col("src").cast("int").alias("src"),
        F.col("dst").cast("int").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    if (
        pre_partitioned == "src"
        and sym_edges.rdd.getNumPartitions() <= sc.defaultParallelism
    ):
        # caller already partitioned by src (the projection preserves row
        # placement): the barrier stage can consume it directly — the one
        # exchange of the level's biggest table disappears
        n_parts = sym_edges.rdd.getNumPartitions()
        edges_p = casted
    else:
        edges_p = casted.repartition(n_parts, "src")

    # pack: one binary blob per partition.  NOT persisted and NOT counted —
    # the barrier stage below is its only consumer, so the pack fuses into
    # that stage and the full edge table crosses the JVM->Python boundary
    # exactly ONCE per level.  mapInArrow, not mapInPandas: the pack wants
    # raw numpy columns, and the pandas wrapper's Series construction was
    # measured at ~2× the whole conversion cost on this path.
    def _pack(batches):
        import pickle

        import numpy as _np
        import pyarrow as _pa

        ss, dd, ww = [], [], []
        for b in batches:
            ss.append(b.column(0).to_numpy(zero_copy_only=False))
            dd.append(b.column(1).to_numpy(zero_copy_only=False))
            ww.append(b.column(2).to_numpy(zero_copy_only=False))
        s = _np.concatenate(ss) if ss else _np.empty(0, _np.int32)
        d = _np.concatenate(dd) if dd else _np.empty(0, _np.int32)
        w = _np.concatenate(ww) if ww else _np.empty(0, _np.float64)
        # sort by src + delta-encode + zstd: the blob crosses two more
        # process boundaries (Python->JVM, JVM->barrier-Python) before the
        # kernel sees it, and at scale-test sizes those crossings are the
        # level's bandwidth bill.  Sorted src deltas are mostly tiny ints
        # and level-0 weights repeat, so zstd-1 lands ~4x (measured 139 MB
        # -> 35 MB per 8.7M rows at ~0.7 s compress + ~0.6 s decompress,
        # both fully parallel) — trading a little task CPU for 4x fewer
        # bytes on the shared bus here and 4x less shuffle I/O on a real
        # cluster.  Sorted rows also make the kernel's structural prep and
        # its per-pass group-sort cache-friendlier.
        if len(s):
            # the JVM already sorted within the partition
            # (sortWithinPartitions below) — verify cheaply (one sequential
            # pass) and only fall back to a local argsort if something
            # upstream stopped guaranteeing it
            if len(s) > 1 and not bool((s[1:] >= s[:-1]).all()):
                order = _np.argsort(s, kind="stable")
                s, d, w = s[order], d[order], w[order]
            sdelta = _np.diff(s, prepend=_np.int32(0)).astype(_np.int32)
        else:
            sdelta = s
        raw = pickle.dumps((sdelta, d, w), protocol=4)
        comp = _pa.Codec("zstd", compression_level=1).compress(
            raw, asbytes=True
        )
        yield _pa.RecordBatch.from_pydict(
            {"n": [len(s)], "raw_len": [len(raw)], "blob": [comp]}
        )

    # sort on the JVM side (whole-stage-codegen'd, narrow — preserves the
    # src partitioning): the pack's delta encoding wants src-sorted rows,
    # and the JVM sort is far cheaper than a numpy argsort in the Python
    # worker (~2 s per 8.7M rows on this host)
    blobs = edges_p.sortWithinPartitions("src").mapInArrow(
        _pack, schema="n long, raw_len long, blob binary"
    )

    nv = int(n_vertices)
    m2_ = float(m2)
    anneal_ = bool(anneal)
    max_sweeps_ = int(max_sweeps)
    mmf_ = float(min_moves_frac)
    n_parts_ = int(n_parts)
    force_ag_ = bool(force_allgather)
    # failure-injection hook (tests only), read DRIVER-side and shipped in
    # the closure — the reused python-worker daemons never see env changes
    # made after session start.  At this sweep rank 0 kills its transport
    # sockets, simulating hub death mid-level.
    _kill_sweep_ = int(os.environ.get("PLM_TEST_KILL_TRANSPORT_SWEEP", "-1"))

    def _level(rows):
        import base64
        import math as _math
        import pickle

        import numpy as _np
        from pyspark import BarrierTaskContext

        from parallel_louvain_method_spark.functions import kernels as _k

        import time as _time

        ctx = BarrierTaskContext.get()
        pid = ctx.partitionId()
        t_start = _time.monotonic()
        blob = None
        raw_len = 0
        for r in rows:
            blob = r["blob"]
            raw_len = r["raw_len"]
        if blob is not None:
            import pyarrow as _pa

            raw = _pa.Codec("zstd").decompress(
                bytes(blob), int(raw_len), asbytes=True
            )
            sdelta, d, w = pickle.loads(raw)
            # src was delta-encoded against 0 by the pack step; cumsum in
            # int64 (no overflow), back to the ids' native int32
            s = _np.cumsum(sdelta, dtype=_np.int64).astype(_np.int32)
        else:
            s = _np.empty(0, _np.int32)
            d = _np.empty(0, _np.int32)
            w = _np.empty(0, _np.float32)
        timings: dict[str, float] = {"unpack": _time.monotonic() - t_start}

        # one-time degree exchange: src-partitioning makes per-task degree
        # partials EXACT for the task's own vertices (the reference's
        # ghost-degree Allgather, src/distcommunity.cpp init), so one
        # allGather of ~(srcs/partition) sparse pairs replaces a full
        # aggregation job + driver broadcast
        s64 = s.astype(_np.int64)
        d64 = d.astype(_np.int64)
        if len(s):
            my_v = _np.unique(s64)
            idx = _np.searchsorted(my_v, s64)
            my_deg = _np.bincount(
                idx, weights=w.astype(_np.float64), minlength=len(my_v)
            )
        else:
            my_v = _np.empty(0, _np.int64)
            my_deg = _np.empty(0, _np.float64)
        # per-sweep sync transport: ctx.allGather routes through the
        # driver's BarrierCoordinator whose task-side wait loop has a
        # measured ~1.0 s floor PER SYNC regardless of payload (hardcoded
        # Thread.sleep poll) — sweeps x 1 s of pure latency.  The star
        # transport (functions/exchange.py, the MPI_Allgather analog)
        # exchanges per-sweep movers over raw TCP inside the stage;
        # task 0's address rides the one-time degree allGather below, and
        # a status allGather confirms EVERY task connected before anyone
        # commits — all tasks take the same branch or all fall back, so
        # the sync semantics are preserved either way.
        from parallel_louvain_method_spark.functions.exchange import (
            StarAllGather,
        )

        xg = StarAllGather(pid, n_parts_)
        hub_addr = None
        if pid == 0 and n_parts_ > 1 and not force_ag_:
            try:
                hub_addr = xg.listen()
            except OSError:
                hub_addr = None

        t0 = _time.monotonic()
        degv = _np.zeros(nv, dtype=_np.float64)
        if n_parts_ > 1 and force_ag_:
            # coordinator-only mode (transport-failure retry): one
            # combined gather carries the degree partials, as before
            deg_payload = base64.b64encode(
                pickle.dumps(
                    (my_v.astype(_np.int32), my_deg, hub_addr), protocol=4
                )
            ).decode("ascii")
            for g in ctx.allGather(deg_payload):
                gv, gd, gaddr = pickle.loads(base64.b64decode(g))
                if gaddr is not None:
                    hub_addr = gaddr
                if len(gv):
                    degv[gv.astype(_np.int64)] = gd
        elif n_parts_ > 1:
            # each coordinator allGather has a measured ~1 s latency
            # floor: keep round 1 minimal (the hub address only) and ride
            # the degree partials on round 2, which the handshake needs
            # anyway — two floors total instead of three, and the bulky
            # partials cross the coordinator once, not alongside an
            # already-serialized address round
            for g in ctx.allGather(
                base64.b64encode(pickle.dumps(hub_addr, protocol=4)).decode(
                    "ascii"
                )
            ):
                gaddr = pickle.loads(base64.b64decode(g))
                if gaddr is not None:
                    hub_addr = gaddr
        elif len(my_v):
            # single partition: everything is local, no sync needed
            degv[my_v] = my_deg
        timings["deg_exchange"] = _time.monotonic() - t0

        t0 = _time.monotonic()
        use_sockets = n_parts_ == 1
        if n_parts_ > 1 and not force_ag_:
            try:
                if hub_addr is None:
                    raise ConnectionError("no hub advertised")
                if pid == 0:
                    xg.accept_all()
                else:
                    xg.connect(tuple(hub_addr))
                st = "ok"
            except Exception as e:
                st = f"fail: {e!r}"
            statuses = ctx.allGather(st)
            use_sockets = all(x == "ok" for x in statuses)
            # degree partials: over the raw-TCP star when it came up
            # (sub-second), over the coordinator only on the rare
            # handshake-failure fallback — either way every task applies
            # the same disjoint (src-partitioned) partials
            deg_blob = pickle.dumps(
                (my_v.astype(_np.int32), my_deg), protocol=4
            )
            if use_sockets:
                deg_frames = xg.exchange(deg_blob)
            else:
                deg_frames = [
                    base64.b64decode(g)
                    for g in ctx.allGather(
                        base64.b64encode(deg_blob).decode("ascii")
                    )
                ]
            for fr in deg_frames:
                gv, gd = pickle.loads(fr)
                if len(gv):
                    degv[gv.astype(_np.int64)] = gd
            if not use_sockets:
                xg.close()
                if pid == 0:
                    # one diagnosable line: on multi-homed hosts a
                    # non-routable _advertise_host pick lands here, and
                    # the silent 10x slowdown (1 s/sync coordinator
                    # floor) was otherwise invisible
                    import sys as _sys

                    bad = [x for x in statuses if x != "ok"]
                    print(
                        "[louvain/barrier] star-transport handshake failed"
                        f" on {len(bad)}/{n_parts_} tasks"
                        f" (hub={hub_addr}, first={bad[0] if bad else '?'});"
                        " level falls back to coordinator allGather"
                        " (~1 s/sync)",
                        file=_sys.stderr,
                        flush=True,
                    )
        timings["xchg_setup"] = _time.monotonic() - t0
        # structural prep (self-loop filter + row->position maps) ONCE per
        # level: it is community-independent, and leaving it inside the
        # kernel re-paid it every sweep (searchsorted alone measured ~5 s
        # per 8.7M-row call on this host)
        t0 = _time.monotonic()
        pre = _k.prepare_dense_block(s, d, w, nv) if len(s) else None
        timings["prep"] = _time.monotonic() - t0
        comm = _np.arange(nv, dtype=_np.int64)
        moves_log: list[int] = []
        best_moves, best_sweep = float("inf"), -1
        slowest_sweep = 0.0
        try:
            for sweep in range(max_sweeps_):
                t0 = _time.monotonic()
                min_gain = _math.exp(-(sweep + 1)) if anneal_ else 0.0
                tot = _np.bincount(comm, weights=degv, minlength=nv)
                if len(s):
                    out_v, out_c = _k.louvain_block_local_dense(
                        s, d, w, comm, degv, tot, m2_, min_gain,
                        max_inner=6, seed=sweep, pre=pre,
                    )
                    keep = comm[out_v] != out_c
                    mv_v = out_v[keep].astype(_np.int32)
                    mv_c = out_c[keep].astype(_np.int32)
                else:
                    mv_v = _np.empty(0, _np.int32)
                    mv_c = _np.empty(0, _np.int32)
                payload = pickle.dumps((mv_v, mv_c), protocol=4)
                timings[f"kernel_{sweep}"] = _time.monotonic() - t0
                t0 = _time.monotonic()
                # the superstep barrier: every task contributes its
                # (disjoint — src-partitioned) movers and receives
                # everyone's; both transports return the same multiset on
                # every task, so exit decisions stay identical
                if use_sockets:
                    if pid == 0 and sweep == _kill_sweep_:
                        xg.kill_for_test()  # injected hub death (tests)
                    # a socket failure here raises AllGatherTransportError
                    # (exchange.py): NOT downgraded task-locally, because
                    # a partially-delivered round leaves tasks disagreeing
                    # on the current sweep — the driver retries the whole
                    # level over allGather from consistent state instead
                    frames = xg.exchange(payload)
                else:
                    frames = [
                        base64.b64decode(g)
                        for g in ctx.allGather(
                            base64.b64encode(payload).decode("ascii")
                        )
                    ]
                timings[f"gather_{sweep}"] = _time.monotonic() - t0
                if use_sockets:
                    # adapt the round timeout to the slowest sweep seen:
                    # gather wall includes waiting for the slowest peer's
                    # kernel, so 20x that is generous for stragglers while
                    # bounding a dead-hub stall to minutes, not the old
                    # fixed hour
                    slowest_sweep = max(
                        slowest_sweep,
                        timings[f"kernel_{sweep}"] + timings[f"gather_{sweep}"],
                    )
                    xg.set_round_timeout(20.0 * slowest_sweep)
                total_moves = 0
                for fr in frames:
                    gv, gc = pickle.loads(fr)
                    if len(gv):
                        comm[gv.astype(_np.int64)] = gc.astype(_np.int64)
                    total_moves += len(gv)
                moves_log.append(int(total_moves))
                # identical inputs -> identical exit decision on every task
                if total_moves == 0:
                    break
                threshold = int(mmf_ * nv)
                if sweep > 0 and threshold > 0 and total_moves <= threshold:
                    break
                if (
                    sweep > 0
                    and total_moves >= 50
                    and total_moves >= 0.9 * moves_log[-2]
                ):
                    break
                if total_moves < best_moves:
                    best_moves, best_sweep = total_moves, sweep
                elif sweep - best_sweep >= 8:
                    break
        finally:
            # python workers are REUSED across tasks — sockets must not
            # leak into the next task on this worker
            xg.close()
        # local internal-weight partial for the level's modularity
        if len(s):
            same = comm[s64] == comm[d64]
            w_int = float(w[same].astype(_np.float64).sum())
        else:
            w_int = 0.0
        # strided assignment slice: tasks hold identical state, so each
        # returns 1/n_parts of it and the driver reassembles
        assign_slice = comm[pid::n_parts_]
        yield (
            pid,
            int(len(s)),
            w_int,
            moves_log if pid == 0 else None,
            pickle.dumps(assign_slice, protocol=4),
            pickle.dumps((my_v, my_deg), protocol=4),
            {k: round(v, 3) for k, v in timings.items()},
        )

    t_job = time.monotonic()
    # larger Arrow batches for the one bulk transfer of the level: the
    # session default (64k rows) is sized for wide documents/media rows,
    # but the pack reads 3 fixed-width columns — fewer, bigger batches
    # measurably cut the JVM→Python conversion wall.  Restore on exit.
    _abatch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
    try:
        results = blobs.rdd.barrier().mapPartitions(_level).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", _abatch)
    import pickle as _pickle

    comm_arr = np.empty(nv, dtype=np.int64)
    deg_arr = np.zeros(nv, dtype=np.float64)
    w_int_total = 0.0
    n_rows = 0
    moves_log = []
    for pid, n_part, w_int, mlog, ablob, dblob, tm in results:
        comm_arr[pid::n_parts] = _pickle.loads(bytes(ablob))
        dv, dd = _pickle.loads(bytes(dblob))
        if len(dv):
            deg_arr[dv] = dd
        w_int_total += w_int
        n_rows += n_part
        if mlog is not None:
            moves_log = list(mlog)
        for k, v in (tm or {}).items():
            # max(), not a > guard: a 0.000-rounded phase must still CREATE
            # its key so crit/sum stay aligned
            stats.phase_crit[k] = max(stats.phase_crit.get(k, 0.0), v)
            stats.phase_sum[k] = stats.phase_sum.get(k, 0.0) + v
    if os.environ.get("PLM_DEBUG_SWEEPS"):
        print(
            f"[louvain] barrier level: job={time.monotonic() - t_job:.1f}s "
            f"phase_crit={ {k: round(v, 2) for k, v in stats.phase_crit.items()} }",
            file=sys.stderr, flush=True,
        )
    if stats.n_edges_sym == 0:
        stats.n_edges_sym = int(n_rows)
    stats.moves_per_sweep.extend(int(m) for m in moves_log)
    stats.sweeps = len(moves_log)
    tot_final = np.bincount(comm_arr, weights=deg_arr, minlength=nv)
    stats.modularity = float(
        w_int_total / m2_ - np.sum((tot_final[tot_final > 0] / m2_) ** 2)
    )

    assign_pdf = pd.DataFrame(
        {"vtx": np.arange(nv, dtype=np.int64), "comm": comm_arr}
    )
    assign = spark.createDataFrame(assign_pdf, schema=ASSIGN_SCHEMA).localCheckpoint(
        eager=True
    )
    deg_pdf = pd.DataFrame(
        {"vtx": np.arange(nv, dtype=np.int64), "degree": deg_arr}
    )
    deg_out = spark.createDataFrame(
        deg_pdf, schema="vtx long, degree double"
    ).localCheckpoint(eager=True)
    return assign, deg_out


def _sql_superstep_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    deg: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
    unique_pairs: bool = False,
    skew_salt: int = 0,
) -> DataFrame:
    """Superstep loop where every sweep is PURE DataFrame algebra.

    No Python touches the edge table: per sweep, the (small) assignment is
    broadcast-hash-joined onto the edges, candidate weights aggregate with
    map-side partials, and the argmax + gain test run as codegen'd
    expressions.  One sweep = one shuffle of the PARTIAL aggregation output
    (≪ edge count) — the edge table itself never moves.  This is the sweep
    engine that scales with executors: measured on this box, the
    Arrow/Python exchange path burns ~7 µs of CPU per row that does not
    parallelize past ~4M rows/s, while this path is ordinary whole-stage
    codegen.

    gain(v,c) = w(v→c) − (tot[c] − deg(v)·[c=comm(v)])·deg(v)/m2
    (src/community.cpp:151-159 after removal); movers need
    gain > max(gain_stay, min_gain) with ties to the lower community id.
    Hashed active halves per sweep break synchronous oscillation.
    """
    assign = fresh_checkpoint(deg.select("vtx", F.col("vtx").alias("comm")))

    # AQE re-plans every stage boundary of the ~8-stage sweep DAG on the
    # driver — measured at several SERIAL seconds per sweep, which caps
    # core-count scaling.  The sweep plan is fixed and its stats are known
    # (state tables are small, the edge side is cached), so adaptive
    # planning buys nothing inside the loop; restore the caller's setting
    # afterwards.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # runtime bloom-filter injection is also pointless inside the loop —
    # the sweep joins are already minimal and fixed-shape, every extra
    # creation-side aggregate is a per-sweep job; with the stats-free
    # checkpoint leaves (plans/lineage.py) the injector's size heuristics
    # see defaultSizeInBytes anyway, so pin the decision to off
    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    bloom_before = spark.conf.get(bloom_key, "true")
    spark.conf.set(bloom_key, "false")
    try:
        return _sql_sweep_loop(
            spark, sym_edges, deg, m2, n_vertices, max_sweeps, anneal,
            stats, min_moves_frac, assign, unique_pairs=unique_pairs,
            skew_salt=skew_salt,
        )
    finally:
        # restore on EVERY exit path — an exception mid-sweep must not
        # leave AQE disabled for the rest of the shared session
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set(bloom_key, bloom_before)


def _sql_sweep_loop(
    spark: SparkSession,
    sym_edges: DataFrame,
    deg: DataFrame,
    m2: float,
    n_vertices: int,
    max_sweeps: int,
    anneal: bool,
    stats: LevelStats,
    min_moves_frac: float,
    assign: DataFrame,
    delta_frac: float = 0.05,
    unique_pairs: bool = False,
    skew_salt: int = 0,
) -> DataFrame:
    """The sweep loop of the at-scale sql engine.  Three design rules make
    it SCALE WITH EXECUTORS (r2's measured failure mode was serial
    per-sweep work that no core count amortizes):

    1. **No driver broadcasts inside the loop.**  Building a megarow
       broadcast hash relation of the per-vertex state is SERIAL driver
       work (~seconds per sweep at 10^6 vertices).  Every state-onto-edges
       join is hinted ``shuffle_hash``: the state table exchanges (tiny,
       fully parallel) and each task builds its partition's hash map; the
       cached edge side's partitioning (``repartition(n, "dst")`` in the
       caller) already satisfies the join's required distribution, so the
       BIG side never moves.
    2. **One consolidated state table (vtx, comm, degree, moved).**  Degree
       is static per level — folding it in once removes two joins per
       sweep; ``tot_dst`` rides along on the dst-state into the edge join
       (recovered with ``max`` in the same aggregation), removing the
       separate totals join on the candidate side.
    3. **Delta active sets.**  Once a sweep moves fewer than ``delta_frac``
       of the vertices, only movers ∪ neighbors(movers) can change their
       argmax through the w(v→c) term — the next sweep semi-joins the edge
       table against that (small, geometrically decaying, broadcast) set,
       turning tail sweeps from O(E) scans into O(E_local).  Both driver
       broadcasts are gated by ABSOLUTE row caps (``delta_movers_cap`` /
       ``delta_active_cap``): the fractional gate alone is 50M movers at
       10^9 vertices, and a single high-degree mover makes the active set
       unbounded by the mover count — past either cap the sweep runs full
       instead (the one sanctioned broadcast family in this loop is
       therefore bounded by construction).  The filter is
       the standard delta-Louvain approximation (a vertex affected ONLY
       through a totals change is deferred); a zero-move FILTERED sweep
       therefore triggers one FULL confirmation sweep; a SECOND zero-move
       filtered sweep ends the level (the residual is threshold-hovering
       label churn that the far smaller coarse level resolves).

    Skew note (10^9-vertex design point): the per-sweep ``state ⋈ tot``
    join clusters by community id, so a mega-community concentrates its
    members' STATE rows (~16 B each) in one task — at 10^9 vertices and a
    50% mega-community that is ~8 GB in one partition.  The edge-side
    joins are unaffected (keyed by vtx), communities that large only
    emerge near convergence, and the coarsen cadence caps level length.
    ``skew_salt > 1`` turns on EXPLICIT SALTING of that join: the state
    side gains ``salt = xxhash64(vtx) mod S`` and the (small) totals side
    replicates S× via a broadcast cross join, so a mega-community's state
    rows spread over S tasks instead of one.  Pure plan algebra — no
    per-sweep driver work, no semantic change (the joined rows are
    identical; only their placement moves), at the cost of an S×-larger
    totals exchange — so it stays opt-in for unskewed runs.  The
    alternative is re-enabling AQE inside the loop
    (``spark.sql.adaptive.enabled``) for runtime skew-join splitting at
    the cost of per-sweep driver re-planning.
    """
    sh = lambda df: df.hint("shuffle_hash")  # noqa: E731
    # static neighbor COUNT per vertex (one extra O(E)→O(n) partial-agg at
    # level start): Σ nc over a sweep's movers is an exact upper bound on
    # |movers ∪ neighbors(movers)|, so the delta-broadcast safety gate
    # below reads it from the tiny state table instead of paying an extra
    # edge-table scan + checkpoint per delta sweep (measured: the r4
    # count-the-active-set gate cost ~0.05 efficiency at 87M edges)
    nbr_cnt = sym_edges.groupBy(F.col("dst").alias("vtx")).agg(
        F.count("*").alias("nc")
    )
    state = fresh_checkpoint(
        assign.join(deg, "vtx")
        .join(sh(nbr_cnt), "vtx", "left")
        .select(
            "vtx",
            "comm",
            "degree",
            F.coalesce("nc", F.lit(0)).alias("nc"),
            F.lit(1).alias("moved"),
        )
    )

    # absolute caps on the delta machinery's DRIVER-SIDE broadcasts: the
    # mover set is collected to build the neighbor semi-join and the
    # active set is collected for the edge filter — both are serial driver
    # memory, so the fractional gate (delta_frac·n, which is 50M rows at
    # the 10^9-vertex design point) must not be the only bound.  Past
    # either cap the sweep simply runs full — correct, just unfiltered.
    delta_movers_cap = 1_000_000
    delta_active_cap = 4_000_000

    # explicit-salting build side (see Skew note): a tiny S-row relation
    # broadcast-cross-joined onto the totals each sweep replicates every
    # (comm, tot) row S times executor-side — constant plan source across
    # sweeps, so the codegen cache stays hot
    salts = (
        spark.range(skew_salt).select(F.col("id").cast("int").alias("salt"))
        if skew_salt > 1
        else None
    )

    zero_streak = 0
    best_moves = float("inf")
    best_sweep = -1
    prev_moves = n_vertices
    zero_delta_events = 0
    force_full = False  # confirmation sweep: disable delta AND half filters
    churn_streak = 0  # consecutive sweeps at <= max(2, threshold) movers
    for sweep in range(max_sweeps):
        t_sw = time.monotonic()
        min_gain = math.exp(-(sweep + 1)) if anneal else 0.0
        # Per-sweep scalars (hash seed, anneal margin, m2) ride as DATA —
        # a 1-row broadcast cross join — NEVER as literals.  A literal is
        # pasted into the whole-stage-codegen SOURCE, so every sweep
        # compiled a fresh janino class per stage; freshly loaded classes
        # run interpreted until the JIT catches up, measured here as
        # random 10-40x per-sweep CPU inflation (task Executor CPU Time
        # grew 2.7→3.9 s on identical 5.7k-row inputs while a pure-CPU
        # probe in a sibling process stayed flat; disabling codegen
        # removed every stall).  With the scalars as columns the sweep's
        # plan SOURCE is identical across sweeps AND levels (m2 was the
        # only cross-level literal), the codegen cache hits, and each of
        # the loop's ~5 stage shapes compiles exactly once per session —
        # which at the 10^9-vertex design point also removes the
        # per-sweep serial driver compile latency.
        # swp is INT on purpose: xxhash64 hashes by input type, and the
        # pre-params code seeded with F.lit(sweep) (int32) — keeping the
        # type keeps every historical half-assignment bit-identical
        params = spark.createDataFrame(
            [(sweep, float(min_gain), float(m2))],
            "swp int, min_gain double, m2 double",
        )
        tot = state.groupBy("comm").agg(F.sum("degree").alias("tot"))
        if salts is not None:
            # salted skew join: state exchanges on (comm, salt) so one
            # mega-community spreads over skew_salt tasks; the totals side
            # (≤ one row per community) pays the S× replication
            state2 = (
                state.withColumn(
                    "salt",
                    F.pmod(F.xxhash64("vtx"), F.lit(skew_salt)).cast("int"),
                )
                .join(sh(tot.crossJoin(F.broadcast(salts))), ["comm", "salt"])
                .select("vtx", "comm", "degree", "tot")
            )
        else:
            state2 = state.join(sh(tot), "comm").select(
                "vtx", "comm", "degree", "tot"
            )

        # sweep 0 activates EVERYONE (same rule as the local vectorized
        # kernel): under hashed halves a vertex first moves at its first
        # active sweep, so the mover count halves per sweep and the level
        # stretches to ~log(n) full-table sweeps — measured exactly that.
        # A full synchronous first sweep settles ~all vertices at once;
        # the pointer-jump collapse below unwinds the pair-swap hazard
        # that the halves exist to prevent, and later sweeps keep halves
        # for the (now small) correction phase.
        active_edges = sym_edges.filter(F.col("src") != F.col("dst"))
        if sweep > 0 and not force_full:
            # a CONFIRMATION sweep must examine EVERY vertex — the
            # two-zero-delta exit below is only sound if the full sweep it
            # forced really was full, so the hashed-half filter is skipped
            # along with the delta filter.  The sweep seed arrives via the
            # 1-row params BNLJ (appends swp in-stage; a 1-row build side
            # preserves the edge cache's dst partitioning) so the filter's
            # generated source is sweep-invariant.
            active_edges = (
                active_edges.crossJoin(F.broadcast(params.select("swp")))
                .filter(
                    F.pmod(F.xxhash64("src", F.col("swp")), F.lit(2)) == 0
                )
                .drop("swp")
            )
        delta_sweep = (
            not force_full
            and 0 < prev_moves <= min(delta_frac * n_vertices, delta_movers_cap)
        )
        if delta_sweep:
            # bound BEFORE building the broadcast: the mover count bounds
            # nothing about the neighborhood (one high-degree mover can
            # pull in ~all vertices), and a multi-GB driver-built
            # broadcast is exactly what this loop forbids.  Σ nc + |movers|
            # ≥ |movers ∪ neighbors(movers)| exactly, read from the tiny
            # state table — no edge scan spent deciding.
            movers = state.filter(F.col("moved") == 1)
            row = movers.agg(F.sum("nc"), F.count("*")).first()
            bound = int(row[0] or 0) + int(row[1] or 0)
            if bound <= delta_active_cap:
                mv = movers.select("vtx")
                nbrs = sym_edges.join(
                    F.broadcast(mv.withColumnRenamed("vtx", "dst")), "dst"
                ).select("src")
                active_vtx = nbrs.union(
                    mv.withColumnRenamed("vtx", "src")
                ).distinct()
                active_edges = active_edges.join(F.broadcast(active_vtx), "src")
            else:
                delta_sweep = False  # neighborhood too big — run full
        full_coverage = sweep == 0 or force_full  # no half/delta filter
        force_full = False

        s_dst = state2.select(
            F.col("vtx").alias("dst"),
            F.col("comm").alias("dst_comm"),
            F.col("tot").alias("tot_dst"),
        )
        s_src = state2.crossJoin(
            F.broadcast(params.select("min_gain", "m2"))
        ).select(
            F.col("vtx").alias("src"),
            F.col("comm").alias("src_comm"),
            F.col("degree"),
            F.col("tot").alias("tot_own"),
            "min_gain",
            "m2",
        )
        if sweep == 0 and unique_pairs:
            # sweep-0 fast path: every community is a singleton, so the
            # candidate aggregation below groups NOTHING — valid ONLY
            # under the caller-declared ``unique_pairs`` invariant (one
            # row per (src, dst); set-dedup alone keeps parallel edges
            # with distinct weights, whose w(v→{dst}) must SUM as in the
            # reference's compute_neighbors).  Then (src, dst_comm) =
            # (src, dst) is unique, w(v→{dst}) is the single edge weight
            # and tot({dst}) is dst's degree.  Skipping the groupBy
            # removes one full E-row exchange from the most expensive
            # sweep of the level.
            cand = (
                active_edges.join(sh(s_dst), "dst")
                .select(
                    "src",
                    "dst_comm",
                    F.col("weight").alias("w_to"),
                    F.col("tot_dst").alias("tot"),
                )
                .join(sh(s_src), "src")
            )
        else:
            cand = (
                active_edges.join(sh(s_dst), "dst")
                .groupBy("src", "dst_comm")
                # tot_dst is constant within a (dst_comm) group — max()
                # recovers it in the SAME aggregation, saving a per-sweep
                # totals join
                .agg(F.sum("weight").alias("w_to"), F.max("tot_dst").alias("tot"))
                .join(sh(s_src), "src")
            )
        is_own = F.col("dst_comm") == F.col("src_comm")
        gain = (
            F.col("w_to")
            - (F.col("tot") - F.when(is_own, F.col("degree")).otherwise(0.0))
            * F.col("degree")
            / F.col("m2")
        )
        scored = cand.withColumn("gain", gain)
        per_src = scored.groupBy("src").agg(
            F.max_by(
                F.col("dst_comm"),
                F.struct(F.col("gain"), (-F.col("dst_comm")).alias("nc")),
            ).alias("best_comm"),
            F.max("gain").alias("best_gain"),
            F.max(F.when(is_own, F.col("gain"))).alias("gain_own_cand"),
            F.first("src_comm").alias("src_comm"),
            F.first(
                -(F.col("tot_own") - F.col("degree"))
                * F.col("degree")
                / F.col("m2")
            ).alias("gain_stay_base"),
            F.first("min_gain").alias("min_gain"),
        )
        # acceptance: beat max(gain_stay, 0) by MORE than min_gain.  The
        # 0-floor is the reference's best_increase = 0.0 init
        # (src/community.cpp:108, src/distcommunity.cpp:551): never move
        # INTO a negative-gain community even when staying scores worse.
        # min_gain is the anneal temperature margin (A4,
        # src/distcommunity.cpp:549-562; temp = exp(-(sweep+1)),
        # src/distcommunity.cpp:227-231,383); min_gain == 0 when anneal is
        # off, reducing to the plain strict > of src/community.cpp:106-118.
        gain_stay = F.coalesce(F.col("gain_own_cand"), F.col("gain_stay_base"))
        accept = F.col("best_gain") > F.greatest(
            gain_stay, F.lit(0.0)
        ) + F.col("min_gain")
        proposals = per_src.filter(accept).select(
            F.col("src").alias("vtx"), F.col("best_comm").alias("new_comm")
        )

        upd = state.join(sh(proposals), "vtx", "left").select(
            "vtx",
            F.col("comm").alias("old_comm"),
            F.col("new_comm"),
            F.coalesce("new_comm", "comm").alias("mid_comm"),
            "degree",
            "nc",
        )
        # label-chase collapse (pointer jumping, the CC trick applied to
        # community labels): a community is labeled by its representative
        # vertex's id, so when v adopts label u in the SAME sweep that
        # vertex u adopts label w, v would otherwise chase u through one
        # sweep per hop — the measured mover cascade halves per sweep and
        # stretches the level to ~log(n) full-table sweeps.  One
        # MOVERS-sized self-join follows the label one hop
        # (comm <- comm(comm)); a mutual swap (u<->w, the synchronous
        # oscillation case) maps both back to themselves, which also
        # neutralizes the pair-swap failure mode.  BOTH sides are
        # restricted to vertices that moved THIS sweep: a settled member
        # of community u must NOT be dragged along when u departs (it
        # keeps the now-orphaned label — standard synchronous label-based
        # Louvain; un-scoped, the jump applied gain-unchecked bulk merges
        # of whole settled communities, ADVICE r3 #1), and chasing into a
        # label whose representative moved in an EARLIER sweep would
        # target a community the mover never scored.
        jump = upd.filter(F.col("new_comm").isNotNull()).select(
            F.col("vtx").alias("mid_comm"),
            F.col("mid_comm").alias("jump_comm"),
        )
        chased = F.when(
            F.col("new_comm").isNotNull(),
            F.coalesce("jump_comm", "mid_comm"),
        ).otherwise(F.col("mid_comm"))
        state = fresh_checkpoint(
            upd.join(sh(jump), "mid_comm", "left")
            .select(
                "vtx",
                chased.alias("comm"),
                "degree",
                "nc",
                (chased != F.col("old_comm")).cast("int").alias("moved"),
            )
        )
        moves = int(state.agg(F.sum("moved")).first()[0] or 0)
        stats.moves_per_sweep.append(moves)
        stats.sweep_wall_sec.append(time.monotonic() - t_sw)
        stats.sweeps = sweep + 1
        prev_moves = moves
        if os.environ.get("PLM_DEBUG_SWEEPS"):
            tag = " (delta)" if delta_sweep else (
                " (full-confirmation)" if full_coverage and sweep > 0 else ""
            )
            print(
                f"[louvain/sql] sweep {sweep}: "
                f"{time.monotonic() - t_sw:.1f}s moves={moves}" + tag,
                file=sys.stderr,
                flush=True,
            )

        if moves == 0 and full_coverage:
            # a zero-move sweep that examined EVERY vertex is a global
            # fixed point — no streak needed
            break
        if moves == 0 and delta_sweep:
            zero_delta_events += 1
            if zero_delta_events >= 2:
                # TWICE the delta filter has declared every mover
                # neighborhood quiet while a full confirmation still found
                # totals-driven stragglers: that residual is label churn
                # oscillating around the exit threshold, and each further
                # confirmation is a full-table sweep.  End the level — the
                # coarsened next level (orders of magnitude smaller)
                # resolves the churn, the same division of labor as the
                # plateau exit.
                break
            # a zero-move FILTERED sweep is not a global fixed point — run
            # a full confirmation sweep: force_full disables BOTH the
            # delta semi-join and the hashed-half filter (a confirmation
            # that rechecks only half the vertices cannot confirm,
            # ADVICE r3 #3)
            force_full = True
            prev_moves = n_vertices
            zero_streak = 0
            continue
        zero_streak = zero_streak + 1 if moves == 0 else 0
        if zero_streak >= 3:
            break
        # floor at 1: on graphs tiny enough that the fractional threshold
        # floors to 0 (n < 1/min_moves_frac) a 1-mover tail can otherwise
        # churn for dozens of sweeps (r3's observed 8,3,2,3,... tail) —
        # one residual mover is always below any meaningful exit bar
        threshold = max(1, int(min_moves_frac * n_vertices))
        if sweep > 0 and moves <= threshold:
            break
        # small-graph churn guard: a handful of vertices trading 2-3
        # moves per sweep for dozens of sweeps — five consecutive such
        # sweeps end the level (backstop behind the floored threshold)
        churn_streak = churn_streak + 1 if 0 < moves <= max(2, threshold) else 0
        if churn_streak >= 5:
            break
        # plateau: <10% of the previous sweep's movers retired — but only
        # against a NONZERO previous sweep (a zero-move delta sweep just
        # forced a full confirmation; its count is not a retirement rate)
        if (
            sweep > 0
            and moves >= 50
            and stats.moves_per_sweep[-2] > 0
            and moves >= 0.9 * stats.moves_per_sweep[-2]
        ):
            break
        if moves < best_moves:
            best_moves, best_sweep = moves, sweep
        elif sweep - best_sweep >= 8:
            break
    return state.select("vtx", "comm")


def _louvain_level(
    spark: SparkSession,
    sym_edges: DataFrame,
    n_blocks: int = 1,
    m2: float | None = None,
    max_sweeps: int = 100,
    anneal: bool = False,
    level_no: int = 0,
    mode: str = "auto",
    local_threshold: int = 1_500_000,
    sequential_threshold: int = 150_000,
    kernel: str = "local",
    min_moves_frac: float = 0.001,
    broadcast_vertex_threshold: int = 20_000_000,
    barrier_rows_per_task: int = 12_000_000,
    superstep_engine: str = "auto",
    n_vertices_hint: int | None = None,
    dense_hint: bool | None = None,
    pre_partitioned: str | None = None,
    unique_pairs: bool = False,
    skew_salt: int = 0,
) -> tuple[DataFrame, DataFrame, float, LevelStats, tuple | None]:
    """Body of :func:`louvain_level` (parameters documented there).

    Returns ``(assign, deg, m2_used, stats, local)``.  For a level whose
    kernel ran in the driver, ``local`` is the kernel's ``(vertices,
    communities)`` arrays and ``assign`` is None: the multilevel driver
    coarsens the arrays directly and builds the DataFrame only on a path
    that needs one.  Otherwise ``local`` is None.
    """
    t0 = time.monotonic()
    spark_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", str(n_blocks))
    )
    if n_vertices_hint is not None and dense_hint is not None:
        # hinted path: ONE count+sum scan for m2 + row count; no degree
        # shuffle here — each engine derives degrees on its own partitioning
        row = sym_edges.agg(F.count("*"), F.sum("weight")).first()
        n_edges_sym = int(row[0] or 0)
        if m2 is None:
            m2 = float(row[1] or 0.0)
        n_vertices = int(n_vertices_hint)
        is_dense = bool(dense_hint)
        deg: DataFrame | None = None
    else:
        # ONE shuffle + ONE tiny aggregation yields every statistic the
        # strategy decision needs — n_vertices, m2 (= Σ degree), max id
        # (dense check) and the symmetric row count (Σ per-vertex adjacency
        # counts).  Separate full-table jobs here were several serial
        # seconds that no executor count can parallelize away.
        deg_full = (
            sym_edges.groupBy(F.col("src").alias("vtx"))
            .agg(F.sum("weight").alias("degree"), F.count("*").alias("_adj"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        row = deg_full.agg(
            F.count("*"), F.sum("degree"), F.max("vtx"), F.sum("_adj"),
            F.min("vtx"),
        ).first()
        n_vertices = int(row[0] or 0)
        if m2 is None:
            m2 = float(row[1] or 0.0)
        max_id = row[2]
        n_edges_sym = int(row[3] or 0)
        # dense = ids exactly 0..n-1; the min >= 0 clause stops negative ids
        # (which satisfy the max check, e.g. {-1,0,1,3}) from reaching the
        # numpy-indexing engines
        is_dense = (
            max_id is not None
            and int(max_id) == n_vertices - 1
            and int(row[4]) >= 0
        )
        deg = deg_full.select("vtx", "degree")
    stats = LevelStats(level=level_no, n_vertices=n_vertices, n_edges_sym=n_edges_sym)

    if mode == "auto":
        mode = "local" if n_edges_sym <= local_threshold else "superstep"

    if mode == "local":
        local_kernel = (
            "sequential" if n_edges_sym <= sequential_threshold else "vectorized"
        )
        stats.engine = f"local/{local_kernel}"
        # run the kernel IN-DRIVER: the old path shipped the whole level
        # to one applyInPandas task anyway (same O(level) memory, just on
        # a worker), paying a shuffle + Python-worker round trip + an
        # aggregation job for the metadata.  One Arrow toPandas + one
        # createDataFrame replaces all of that; the kernel densifies and
        # sorts internally, so it is invariant to row order (the grouped
        # shuffle's arrival order was arbitrary already).
        pdf = sym_edges.select("src", "dst", "weight").toPandas()
        if len(pdf) == 0:
            assign = spark.createDataFrame([], ASSIGN_SCHEMA)
            stats.modularity = 0.0
            stats.wall_sec = time.monotonic() - t0
            if deg is None:
                deg = degrees_op(sym_edges)
            return assign, deg, m2, stats, None
        fn = (
            kernels.louvain_sequential_edges
            if local_kernel == "sequential"
            else kernels.louvain_vectorized_edges
        )
        v, c, sweeps, q, _, moves = fn(
            pdf["src"].to_numpy(),
            pdf["dst"].to_numpy(),
            pdf["weight"].to_numpy(),
            m2=m2,
            max_sweeps=max_sweeps,
            anneal=anneal,
        )
        stats.sweeps = int(sweeps)
        # the kernel already computed level modularity over its own CSR
        stats.modularity = float(q)
        # movers per sweep; both kernels make their sum > 0 exactly when
        # they report ``improved``, the multilevel driver's go-on signal
        stats.moves_per_sweep = [int(m) for m in moves]
        stats.wall_sec = time.monotonic() - t0
        if deg is None:
            deg = degrees_op(sym_edges)  # lazy; callers rarely consume it
        return None, deg, m2, stats, (v, c)

    # Engine auto-selection (the same broadcast-vs-shuffle decision Catalyst
    # makes for dimension tables): while per-vertex state fits executor
    # memory AND ids are dense 0..n-1, the broadcast-state engine removes
    # BOTH per-sweep shuffles and collapses convergence into ~4 supersteps
    # (measured ~3x the sql engine at sf0.1); past the threshold, or on
    # sparse ids, the sql engine's broadcast-join sweeps take over.
    #
    # Second gate, PER-TASK adjacency size: a barrier task materializes its
    # whole src-partition's adjacency in worker memory (that is the point —
    # one JVM→Python transfer per level), so the binding constraint is rows
    # per task, not total edges.  Measured: 8.7M rows/task runs clean; at
    # ~22M rows/task (87M-edge graph on 8 cores) the one-time transfer
    # alone costs ~160 s and worker memory pressure stalls kernels — the
    # streaming sql engine wins there.  The gate self-scales with the
    # cluster: more executors → smaller slices → barrier stays viable, the
    # same "fits in executor memory" rule as the vertex threshold.
    engine = superstep_engine
    if engine in ("auto", "barrier", "numpy_broadcast"):
        fits = is_dense and n_vertices <= broadcast_vertex_threshold
        if engine == "auto":
            n_parts_eff = max(
                1, min(spark_parts, spark.sparkContext.defaultParallelism)
            )
            fits = fits and (
                n_edges_sym / n_parts_eff <= barrier_rows_per_task
            )
        if not fits:
            engine = "sql" if engine == "auto" else "block"
        elif engine == "auto":
            engine = "barrier"

    if engine == "barrier" and not _barrier_supported(spark.sparkContext):
        # cheap upfront probe (once per SparkContext): a cluster that cannot
        # schedule ANY barrier stage (dynamic allocation, too few slots)
        # must not pay the pack + slot-check retry loop on the real job
        print(
            "[louvain] barrier scheduling unavailable (probe failed); "
            "using numpy_broadcast",
            file=sys.stderr,
        )
        engine = "numpy_broadcast"

    if engine == "barrier":
        # whole level in ONE barrier stage, mover deltas via allGather —
        # falls back to the per-sweep broadcast engine ONLY for barrier
        # SCHEDULING failures.  A worker-side Python error (kernel or data
        # bug) carries its traceback in the Spark message and MUST
        # propagate: silently rerunning it on numpy_broadcast would mask
        # real defects and double wall time.
        try:
            assign, deg = _barrier_superstep_level(
                spark, sym_edges, m2, n_vertices,
                max_sweeps, anneal, stats, min_moves_frac,
                pre_partitioned=pre_partitioned,
            )
            stats.engine = "barrier"
            stats.wall_sec = time.monotonic() - t0
            return assign, deg, m2, stats, None
        except Exception as exc:
            if _is_transport_error(exc):
                # mid-level socket loss (hub/peer death): the level state
                # is consistent only at singleton init, so rerun the WHOLE
                # level on the connectionless coordinator transport —
                # bounded outage = adaptive ROUND_TIMEOUT + one level rerun
                print(
                    "[louvain] star transport failed mid-level; retrying "
                    "the level over coordinator allGather",
                    file=sys.stderr,
                )
                stats.moves_per_sweep.clear()
                stats.sweeps = 0
                stats.phase_crit.clear()
                stats.phase_sum.clear()
                assign, deg = _barrier_superstep_level(
                    spark, sym_edges, m2, n_vertices,
                    max_sweeps, anneal, stats, min_moves_frac,
                    pre_partitioned=pre_partitioned,
                    force_allgather=True,
                )
                stats.engine = "barrier"
                stats.wall_sec = time.monotonic() - t0
                return assign, deg, m2, stats, None
            if _is_worker_python_error(exc):
                raise  # kernel/data bug inside the stage — surface it
            print(
                f"[louvain] barrier engine unavailable ({exc!r}); "
                "falling back to numpy_broadcast",
                file=sys.stderr,
            )
            stats.moves_per_sweep.clear()
            stats.sweeps = 0
            engine = "numpy_broadcast"

    if engine == "numpy_broadcast":
        # the helper owns partitioning (by src), warm-up, the degree table
        # (map-side over its own cache), and the level's modularity (one
        # scalar pass over the cached edges before they unpersist)
        assign, deg = _broadcast_superstep_level(
            spark, sym_edges, m2, n_vertices,
            max_sweeps, anneal, stats, min_moves_frac,
        )
        stats.engine = "numpy_broadcast"
        stats.wall_sec = time.monotonic() - t0
        return assign, deg, m2, stats, None

    # pre-partition by dst: the per-sweep assignment join hits dst, and a
    # cached repartition exposes its outputPartitioning to the planner so
    # the (large) edge side is never re-shuffled inside the loop.  When the
    # CALLER already built the table partitioned+cached on dst
    # (pre_partitioned — the multilevel driver does at level 0), skipping
    # the repartition here saves one full exchange + duplicate cache of the
    # biggest table of the run.
    if pre_partitioned != "dst":
        sym_edges = sym_edges.repartition(spark_parts, "dst").persist(
            StorageLevel.MEMORY_AND_DISK
        )
    if deg is None:
        deg = degrees_op(sym_edges).persist(StorageLevel.MEMORY_AND_DISK)

    # pure-SQL supersteps: broadcast-hash-join the small state onto the
    # edges, codegen'd gain/argmax, one partial-agg shuffle per sweep —
    # the edge table never moves and no Python touches it
    if engine == "sql":
        t_loop = time.monotonic()
        assign = _sql_superstep_level(
            spark, sym_edges, deg, m2, n_vertices,
            max_sweeps, anneal, stats, min_moves_frac,
            unique_pairs=unique_pairs, skew_salt=skew_salt,
        )
        stats.engine = "sql"
        t_q = time.monotonic()
        stats.modularity = modularity_df(sym_edges, assign, deg, m2)
        if os.environ.get("PLM_DEBUG_SWEEPS"):
            print(
                f"[louvain/sql] level {level_no}: setup "
                f"{t_loop - t0:.1f}s loop {t_q - t_loop:.1f}s "
                f"modularity {time.monotonic() - t_q:.1f}s",
                file=sys.stderr, flush=True,
            )
        stats.wall_sec = time.monotonic() - t0
        return assign, deg, m2, stats, None

    stats.engine = f"block/{kernel}"
    # singleton init (src/community.cpp:25-29)
    assign = deg.select(F.col("vtx"), F.col("vtx").alias("comm")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    assign.count()

    # Parallel-move oscillation breaker (SURVEY.md §7.3 hard part (a)):
    # synchronous moves let adjacent vertices swap into each other's
    # communities forever.  Each sweep activates a PSEUDO-RANDOM half of the
    # vertices (hash(vtx, sweep)) — unlike strict parity alternation, the
    # active sets vary every sweep, so period-2 cycles cannot lock in
    # (verified: strict parity oscillates on the golden16 fixture, hashed
    # halves converge in ~8 sweeps).  Convergence = 3 consecutive zero-move
    # sweeps (different active sets), plus a stall detector: if the moves
    # floor hasn't improved for 8 sweeps, end the level and let coarsening
    # merge the oscillators.
    # all kernels activate pseudo-random vertex subsets, so demand repeated
    # zero-move supersteps before declaring the level converged
    zero_streak_needed = 1 if n_blocks == 1 else (2 if kernel == "local" else 3)
    zero_streak = 0
    best_moves = float("inf")
    best_sweep = -1
    for sweep in range(max_sweeps):
        min_gain = math.exp(-(sweep + 1)) if anneal else 0.0
        # one consolidated per-vertex state table (vtx, comm, deg, tot):
        # two SMALL joins here buy the big edge table exactly TWO shuffle
        # joins per sweep instead of five
        tot = comm_totals(assign, deg).select("comm", "tot")
        state = assign.join(deg, "vtx").join(tot, "comm")
        s_dst = state.select(
            F.col("vtx").alias("dst"),
            F.col("comm").alias("dst_comm"),
            F.col("tot").alias("tot_dst"),
        )
        s_src = state.select(
            F.col("vtx").alias("src"),
            F.col("comm").alias("src_comm"),
            F.col("degree").alias("src_deg"),
            F.col("tot").alias("tot_src"),
        )
        joined = sym_edges.join(s_dst, "dst").join(s_src, "src")
        if n_blocks > 1 and kernel != "local":
            # per-sweep pseudo-random active half (seeded by sweep number).
            # The block-local-convergence kernel instead needs its block's
            # FULL row set and handles oscillation with internal hashed
            # halves (seeded by the superstep number).
            joined = joined.filter(
                F.pmod(F.xxhash64("src", F.lit(sweep)), F.lit(2)) == 0
            )
        # community-aware blocking: routing a vertex's adjacency by its
        # CURRENT community puts forming communities in one block, so the
        # block-local kernel merges them wholesale instead of one stale
        # vertex at a time (sweep 0 is identical to hash(src): comm == vtx).
        # Skew note: a community bigger than one block's memory would need
        # salting here; Louvain communities at level 0 are bounded by the
        # coarsen cadence, and AQE skew-split covers the join itself.
        block_key = (
            F.pmod(F.hash("src_comm"), F.lit(n_blocks))
            if kernel == "local"
            else F.pmod(F.hash("src"), F.lit(n_blocks))
        )
        joined = joined.withColumn("block", block_key)
        proposals = joined.groupBy("block").applyInPandas(
            _make_block_udf(m2, min_gain, kernel, sweep),
            schema=PROPOSAL_SCHEMA,
        )
        if kernel != "local" and n_blocks > 1:
            # active-half kernels only see half the vertices; frozen ones
            # keep their assignment via union with the previous state
            prop_assign = proposals.select("vtx", "comm")
            frozen = assign.join(prop_assign.select("vtx"), "vtx", "left_anti")
            new_state = prop_assign.union(frozen)
            new_assign = (
                new_state.join(proposals.select("vtx", "moved"), "vtx", "left")
                .na.fill({"moved": 0})
            )
        else:
            # every vertex of the level appears as src in exactly one block,
            # so the kernel output IS the next assignment — no join needed
            new_assign = proposals
        # truncate lineage EVERY sweep: the sweep plan references assign
        # several times, so without truncation the logical plan grows
        # exponentially and analysis time explodes (state is tiny next to
        # the edge table, so an eager localCheckpoint per sweep is cheap)
        new_assign = fresh_checkpoint(new_assign)
        moves = int(new_assign.agg(F.sum("moved")).first()[0] or 0)
        stats.moves_per_sweep.append(moves)
        stats.sweeps = sweep + 1

        old = assign
        assign = new_assign.select("vtx", "comm")
        old.unpersist()

        zero_streak = zero_streak + 1 if moves == 0 else 0
        if zero_streak >= zero_streak_needed:
            break
        # near-convergence exit: when under min_moves_frac of vertices still
        # move, the residual Q gain is marginal — coarsen and let the next
        # (much smaller) level finish the job
        threshold = int(min_moves_frac * n_vertices)
        if sweep > 0 and threshold > 0 and moves <= threshold:
            break
        # plateau break: when a sweep retires <10% of the previous sweep's
        # movers, the remainder is label churn (communities collectively
        # hopping ids), not structure — coarsening resolves it at the next,
        # far smaller level
        if sweep > 0 and moves >= 50 and moves >= 0.9 * stats.moves_per_sweep[-2]:
            break
        if moves < best_moves:
            best_moves, best_sweep = moves, sweep
        elif sweep - best_sweep >= 8:
            break  # stalled: coarsen and continue at the next level

    stats.modularity = modularity_df(sym_edges, assign, deg, m2)
    stats.wall_sec = time.monotonic() - t0
    return assign, deg, m2, stats, None


def louvain_level(
    spark: SparkSession, sym_edges: DataFrame, **kwargs
) -> tuple[DataFrame, DataFrame, float, LevelStats]:
    """One Louvain level.  Returns (assign, deg, m2_used, stats).

    ``sym_edges`` must already be symmetric + deduped.  ``unique_pairs``
    declares the stronger invariant that (src, dst) is UNIQUE (parallel
    edges already weight-summed — coarsen output and the multilevel
    driver's level-0 build both guarantee it); it only enables the sql
    engine's sweep-0 aggregation skip, never changes semantics, and must
    stay False for raw set-deduped input where parallel edges with
    distinct weights survive.  ``m2`` defaults to
    Σ degree = total symmetric weight, which equals the reference's
    ``2·ecount`` on unit-weight simple graphs (SURVEY.md §1.5) and is the
    standard 2m on weighted/coarse graphs.

    ``n_vertices_hint`` / ``dense_hint``: the multilevel driver always
    knows both (level 0 runs after its own dense check / renumber; coarse
    graphs are dense 0..k-1 by construction), which reduces level setup to
    ONE count+sum scan of the (checkpointed) symmetric table — the degree
    table is then computed by whichever engine runs, on its own cached
    partitioning.  Direct callers may omit them.

    ``mode``:
    - ``"superstep"`` — bulk-synchronous supersteps: one shuffle join +
      block kernel per superstep (the at-scale path).  ``kernel`` picks the
      block kernel: ``"local"`` (default — each block runs to LOCAL
      convergence against frozen ghosts, collapsing most convergence into
      2-4 supersteps), ``"vectorized"`` (one synchronous pass per
      superstep), or ``"sequential"`` (reference per-vertex semantics
      within the block);
    - ``"local"`` — the level's edges are collected once and the whole
      level runs to convergence in the driver.  Below
      ``sequential_threshold`` symmetric rows it uses the
      reference-sequential kernel (ascending visit order — the golden-test
      semantics); above, the whole-graph vectorized numpy loop.  No Spark
      job per sweep — per-job overhead dominates below ~10^6 edges, and
      coarsening shrinks every real graph into this regime after a level
      or two;
    - ``"auto"`` — local iff the symmetric table has ≤ ``local_threshold``
      rows.
    """
    assign, deg, m2, stats, local = _louvain_level(spark, sym_edges, **kwargs)
    if local is not None:
        assign = _assign_df(spark, *local)
    return assign, deg, m2, stats


def coarsen(
    sym_edges: DataFrame,
    assign: DataFrame,
    broadcast_assign: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build the community graph (src/community.cpp:162-201 /
    src/distcommunity.cpp:766-915): communities renumbered dense 0..k-1 by
    sorted id (prefix-sum renumbering W2), edge weights summed, internal
    edges becoming self-loops whose weight is 2× internal weight (each
    internal edge contributes both directions).

    ``broadcast_assign``: hint the (localCheckpoint'ed, hence
    statistics-less) assignment side into broadcast joins — the caller
    gates it on its vertex count, since past ~10^7 vertices the map-side
    relation no longer fits and the shuffle join is correct.

    Returns (coarse_sym_edges, comm_renumber_map[comm, new_id]).
    """
    from parallel_louvain_method_spark.operators.graph import dense_ids

    # past the broadcast gate the assignment is still the SMALL side of
    # every join here — hint shuffle_hash so the planner never sort-merges
    # (localCheckpoint erased the stats it would need to figure that out)
    hint = (
        (lambda df: F.broadcast(df))
        if broadcast_assign
        else (lambda df: df.hint("shuffle_hash"))
    )
    cmap = dense_ids(assign.select(F.col("comm").alias("v"))).withColumnsRenamed(
        {"v": "comm", "new_id": "new_comm"}
    )
    a = assign.join(hint(cmap), "comm").select(
        "vtx", F.col("new_comm").alias("comm")
    )
    a_src = a.select(F.col("vtx").alias("src"), F.col("comm").alias("c_src"))
    a_dst = a.select(F.col("vtx").alias("dst"), F.col("comm").alias("c_dst"))
    coarse = (
        sym_edges.join(hint(a_src), "src")
        .join(hint(a_dst), "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )
    return coarse, cmap


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    n_blocks: int = 1,
    max_levels: int = 20,
    max_sweeps: int = 100,
    min_q_gain: float = 1e-6,
    anneal: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    mode: str = "auto",
    local_threshold: int = 1_500_000,
    kernel: str = "local",
    superstep_engine: str = "auto",
    broadcast_vertex_threshold: int = 20_000_000,
    barrier_rows_per_task: int = 12_000_000,
    n_vertices: int | None = None,
    assume_dense: bool = False,
    input_symmetric: bool = False,
    skew_salt: int = 0,
    refine_levels: bool = False,
) -> LouvainResult:
    """Multi-level Louvain over an arbitrary edge table.

    ``refine_levels=True`` runs Leiden-style connectivity refinement
    (operators/components.py:refine_communities) on every level's
    partition before coarsening — the "From Louvain to Leiden" §2
    guarantee that no community's induced subgraph is disconnected
    (splitting one never decreases THAT level's Q, so each level's
    modularity is recomputed post-split and only improves in place —
    but the refined coarse graph steers later levels onto a different
    trajectory, so the END-TO-END Q may land slightly above or below
    plain Louvain's; what is guaranteed is connectivity of every flat
    community).  This is the paper's connectivity guarantee, not its
    full randomized merge refinement; the cost is one
    connected-components run per level over the strictly sparser
    intra-community subgraph.

    The flat assignment (original vtx -> final community) is maintained by
    composing each level's coarsening map: in numpy while the level has at
    most ``DRIVER_STATE_MAX_VERTICES`` vertices, as DataFrame joins past
    that.  When ``checkpoint_dir`` is set, each level's coarse edges + flat
    assignment + metrics land in ``<dir>/level=<k>/`` (layout and fields in
    sources/checkpoint.py) and ``resume=True`` restarts after the last
    complete level (S7; the reference's unimplemented TODO,
    src/distcommunity.cpp:899).  Checkpointing does not change the path a
    level takes: each coarse table is built once and both the checkpoint
    and the next level read it, and a resume restores the next level's
    vertex count (``n_next``) and, within the driver budget, the numpy flat
    assignment, so a resumed run continues exactly as the uninterrupted
    one would.

    ``skew_salt > 1`` enables explicit salting of the sql engine's
    per-sweep state⋈totals join (the one join in the engine keyed by
    community id, hence the one a mega-community skews) — see
    :func:`_sql_sweep_loop`'s Skew note for the mechanics and cost model.

    ``n_vertices`` + ``assume_dense=True`` skip the level-0 dense-id check
    (one count-distinct over the full vertex set) when the PRODUCER
    guarantees dense 0..n-1 ids — true for every `build_*_graph` /
    `_densify` output (sources/corpus.py), whose renumber map's row count
    is exactly ``n_vertices``.  Wrong hints corrupt results; omit them for
    arbitrary input.

    ``input_symmetric=True`` declares that ``edges`` is ALREADY the
    engine's working representation — both directions of every edge
    present, (src, dst) unique with weights pre-summed, self-loops one
    row — i.e. exactly what ``symmetric_edges`` + the per-(src, dst)
    weight collapse below would produce.  True for coarsen output, for
    any level checkpoint written by this driver, and for a symmetric
    adjacency table a graph store maintains natively.  Level 0 then skips
    the symmetrize union AND the two hash aggregations and pays only the
    single partitioning exchange — at 100 TB that is the difference
    between re-shuffling the full edge corpus and a straight repartition
    of it.  Like ``assume_dense``, a wrong declaration corrupts results
    (asymmetric input under-counts one direction's degrees); omit for
    arbitrary input.
    """
    from parallel_louvain_method_spark.sources.checkpoint import (
        latest_level,
        load_level,
        save_level,
    )

    flat: DataFrame | None = None
    flat_np: "tuple | None" = None  # (vtx array, comm array) fast-path flat
    levels: list[LevelStats] = []
    q_prev = -math.inf
    start_level = 0

    # dense ids unlock the broadcast-state superstep path at level 0 (and
    # match the reference's renumber-first pipeline, renumber.py).  The
    # dense check is ONE aggregation over the distinct vertex set; when a
    # renumber is needed it rewrites the RAW edge table (half the rows of
    # the symmetric one) and symmetrizes afterwards — renumbering is a
    # bijection, so the two orders commute.
    from parallel_louvain_method_spark.operators.graph import vertex_ids

    restore_map: DataFrame | None = None
    if assume_dense and n_vertices is not None:
        n_verts = int(n_vertices)
    else:
        vrow = vertex_ids(edges).agg(F.count("*"), F.max("v"), F.min("v")).first()
        n_verts = int(vrow[0] or 0)
        # dense means ids are EXACTLY 0..n-1: max == n-1 AND min >= 0 (a
        # negative id can hide behind a matching max and would wrap numpy
        # indexing in the broadcast/barrier engines)
        if vrow[1] is not None and (
            int(vrow[1]) != n_verts - 1 or int(vrow[2]) < 0
        ):
            from parallel_louvain_method_spark.operators.graph import renumber_edges

            edges, restore_map = renumber_edges(edges)
    # Level-0 symmetric build, PRE-PARTITIONED on the key the chosen engine
    # will join/pack on: symmetrize → ONE exchange on that key → dedup (a
    # hash aggregation whose clustering requirement a single-key
    # partitioning already satisfies — no second exchange) → persist.  A
    # localCheckpoint here would ERASE the partitioning (measured: the
    # engines then re-exchange the level's biggest table), so level 0 keeps
    # a persisted cache instead; its lineage is one exchange deep.
    from parallel_louvain_method_spark.operators.graph import (
        dedup as dedup_op,
        symmetrize as symmetrize_op,
    )

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    will_sql = superstep_engine == "sql" or (
        superstep_engine == "auto" and n_verts > broadcast_vertex_threshold
    )
    part_key = "dst" if will_sql else "src"
    # then a weight-sum collapse of parallel edges: set-dedup keeps parallel
    # edges with DISTINCT weights (reference std::set semantics), whose
    # contributions always SUM downstream (compute_neighbors, degrees,
    # modularity) — summing them once here is semantics-preserving, gives
    # every level the unique-(src, dst) invariant the sql engine's sweep-0
    # fast path needs (coarsen output already has it), and is another
    # exchange-free hash aggregation on the same single-key partitioning
    if input_symmetric:
        # producer-declared working representation (see docstring): no
        # union, no set-dedup, no weight collapse — one exchange onto the
        # engine's join/pack key and the level-0 cache is ready
        sym = edges.select("src", "dst", "weight").repartition(
            n_parts, part_key
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        sym = (
            dedup_op(symmetrize_op(edges).repartition(n_parts, part_key))
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    level0_cache: DataFrame | None = sym
    pre_part: str | None = part_key

    # hints for louvain_level: entering level 0 the ids are dense (just
    # renumbered or verified); each coarsen emits dense 0..k-1 ids, k from
    # its renumber map — so every level skips its own stats shuffle
    nv_hint: int | None = n_verts

    if checkpoint_dir and resume:
        lvl = latest_level(spark, checkpoint_dir)
        if lvl is not None:
            sym, flat, meta = load_level(spark, checkpoint_dir, lvl)
            q_prev = meta["modularity"]
            start_level = lvl + 1
            pre_part = None
            # n_next = the checkpointed coarse table's dense vertex count.
            # With it the resumed level keeps its hint and, within the
            # driver budget, the flat table comes back as numpy state — the
            # same path the uninterrupted run takes.  Checkpoints written
            # before n_next existed resume on the DataFrame path, and the
            # level re-derives its vertex count.
            nv_hint = meta.get("n_next")
            if nv_hint is not None and n_verts <= DRIVER_STATE_MAX_VERTICES:
                fpdf = flat.toPandas()
                flat_np = (fpdf["vtx"].to_numpy(), fpdf["comm"].to_numpy())
                flat = None

    final_q = q_prev if q_prev != -math.inf else float("nan")
    for level_no in range(start_level, max_levels):
        assign, deg, m2, stats, local = _louvain_level(
            spark,
            sym,
            n_blocks=n_blocks,
            max_sweeps=max_sweeps,
            anneal=anneal,
            level_no=level_no,
            mode=mode,
            local_threshold=local_threshold,
            kernel=kernel,
            superstep_engine=superstep_engine,
            broadcast_vertex_threshold=broadcast_vertex_threshold,
            barrier_rows_per_task=barrier_rows_per_task,
            n_vertices_hint=nv_hint,
            dense_hint=True if nv_hint is not None else None,
            pre_partitioned=pre_part if level_no == start_level else None,
            # level 0 collapsed parallel edges above; coarsen's groupBy
            # guarantees it for every later level (and for checkpointed
            # tables, which this driver wrote from one of the two)
            unique_pairs=True,
            skew_salt=skew_salt,
        )
        if refine_levels:
            from parallel_louvain_method_spark.operators.components import (
                refine_communities,
            )

            if local is not None:
                assign, local = _assign_df(spark, *local), None
            # split disconnected communities before this level freezes
            # into the coarse graph; Q never decreases under the split,
            # so the recomputed value both corrects the level stats and
            # keeps the min_q_gain convergence test monotone
            assign = fresh_checkpoint(
                refine_communities(
                    sym, assign.select("vtx", "comm"), input_symmetric=True
                )
            )
            stats.modularity = modularity_df(sym, assign, deg, m2)
        levels.append(stats)
        moved = sum(stats.moves_per_sweep) > 0
        t_co = time.monotonic()
        # Coarsen + flat composition.  FAST PATH while the level fits the
        # driver budget (DRIVER_STATE_MAX_VERTICES), checkpointed or not:
        # the community renumber (np.unique = sorted distinct, exactly
        # dense_ids' rank), the relabel, and the flat-composition join all
        # run as numpy array ops — on the kernel's own arrays when the
        # level ran in the driver — and the coarse-graph aggregation joins
        # the edge table against ONE small relabeled map.  That replaces
        # dense_ids' range shuffle + window, the cmap count, and two
        # checkpointed DataFrame joins (~6 driver-serial jobs per level,
        # measured ~1.6-2.3 s/level at sf0.1).  Past the budget (or when
        # the flat table is already a DataFrame: level 0 was past it, or
        # the run resumed from a checkpoint without n_next) the
        # distributed coarsen runs; both paths produce row-identical
        # output (monotone renumber, same inner-join drop semantics).
        if nv_hint is None:
            use_np, why = False, "vertex count unknown (resumed without n_next)"
        elif nv_hint > DRIVER_STATE_MAX_VERTICES:
            use_np, why = False, (
                f"{nv_hint} vertices > driver budget {DRIVER_STATE_MAX_VERTICES}"
            )
        elif flat is not None:
            use_np, why = False, "flat assignment is a DataFrame"
        else:
            use_np, why = True, (
                f"{nv_hint} vertices <= driver budget {DRIVER_STATE_MAX_VERTICES}"
                + (", kernel arrays passed through" if local is not None else "")
            )
        if use_np:
            import numpy as np

            if local is not None:
                av, ac = local
            else:
                apdf = assign.select("vtx", "comm").toPandas()
                av = apdf["vtx"].to_numpy()
                ac = apdf["comm"].to_numpy()
            uniq = np.unique(ac)  # sorted distinct = dense_ids' rank order
            newc = np.searchsorted(uniq, ac).astype(np.int64)
            amap = _assign_df(spark, av, newc)
            # the map has a known size; hint it exactly as coarsen would:
            # broadcast while small, shuffle-hash past that
            hint = (
                (lambda df: F.broadcast(df))
                if len(av) <= BROADCAST_MAP_MAX_ROWS
                else (lambda df: df.hint("shuffle_hash"))
            )
            coarse = (
                sym.join(
                    hint(
                        amap.select(
                            F.col("vtx").alias("src"),
                            F.col("comm").alias("c_src"),
                        )
                    ),
                    "src",
                )
                .join(
                    hint(
                        amap.select(
                            F.col("vtx").alias("dst"),
                            F.col("comm").alias("c_dst"),
                        )
                    ),
                    "dst",
                )
                .groupBy(
                    F.col("c_src").alias("src"), F.col("c_dst").alias("dst")
                )
                .agg(F.sum("weight").alias("weight"))
            )
            n_next = int(len(uniq))
            if flat_np is None:
                # level 0: the relabeled assignment IS the flat table
                flat_np = (av.copy(), newc)
            else:
                fv, fc = flat_np
                # inner join flat.mid == assign.vtx, exactly as the
                # DataFrame path: ids absent from assign drop out
                lut = np.full(int(nv_hint), -1, dtype=np.int64)
                lut[av] = newc
                mapped = lut[fc]
                keep = mapped >= 0
                flat_np = (fv[keep], mapped[keep])
        else:
            # flat_np is None here: numpy state exists only once a level
            # fitted the budget, and levels only shrink
            if local is not None:
                assign = _assign_df(spark, *local)
            # broadcast the assignment only while its hash relation builds
            # in well under a second — the build is SERIAL driver work;
            # past that the shuffle_hash fallback inside coarsen keeps
            # every byte of the join parallel
            coarse, cmap = coarsen(
                sym, assign,
                broadcast_assign=(
                    nv_hint is not None and nv_hint <= BROADCAST_MAP_MAX_ROWS
                ),
            )
            n_next = cmap.count()  # communities = next level's dense 0..k-1
            relabeled = assign.join(
                cmap.withColumnRenamed("new_comm", "final_comm"), "comm"
            ).select("vtx", F.col("final_comm").alias("comm"))
            if flat is None:
                flat = relabeled
            else:
                flat = (
                    flat.withColumnRenamed("comm", "mid")
                    .join(relabeled.withColumnRenamed("vtx", "mid"), "mid")
                    .select("vtx", "comm")
                )
            flat = fresh_checkpoint(flat)
        nv_hint = n_next
        final_q = stats.modularity
        last = (
            not moved
            or (stats.modularity - q_prev) <= min_q_gain
            or level_no == max_levels - 1
        )
        if not last:
            # build the coarse table ONCE: the next level and this level's
            # checkpoint both read the materialized rows.  The final level
            # has no reader but the checkpoint, which computes it directly.
            coarse = fresh_checkpoint(coarse)
        if checkpoint_dir:
            save_level(
                spark,
                checkpoint_dir,
                level_no,
                coarse,
                flat if flat_np is None else _assign_df(spark, *flat_np),
                {
                    "level": level_no,
                    "modularity": stats.modularity,
                    "sweeps": stats.sweeps,
                    "moves_per_sweep": stats.moves_per_sweep,
                    "n_vertices": stats.n_vertices,
                    "n_edges_sym": stats.n_edges_sym,
                    "n_next": n_next,
                    "wall_sec": stats.wall_sec,
                    "engine": stats.engine,
                },
            )
        if os.environ.get("PLM_DEBUG_SWEEPS"):
            print(
                f"[louvain] level {level_no}: engine={stats.engine} "
                f"wall {stats.wall_sec:.1f}s; coarsen="
                f"{'numpy' if use_np else 'DataFrame'} ({why}); "
                f"coarsen+save {time.monotonic() - t_co:.1f}s",
                file=sys.stderr, flush=True,
            )
        if last:
            break
        q_prev = stats.modularity
        sym = coarse
        if level0_cache is not None:
            # the coarse table is checkpointed: the level-0 cache (the
            # biggest object of the run) has no further consumer
            level0_cache.unpersist()
            level0_cache = None

    if level0_cache is not None:
        level0_cache.unpersist()
    if flat_np is not None:
        flat = _assign_df(spark, *flat_np).localCheckpoint(eager=True)
    assert flat is not None
    if restore_map is not None:
        flat = (
            flat.join(restore_map.withColumnRenamed("new_id", "vtx"), "vtx")
            .select(F.col("v").alias("vtx"), "comm")
        )
    return LouvainResult(assignment=flat, modularity=final_q, levels=levels)
