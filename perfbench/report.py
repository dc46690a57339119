"""Per-layer report of a traced run.

Layers are named after the package's modules; a span's layer is the part
of its name before the first dot (``corpus.read`` -> ``corpus``).  Every
value is the median over the run's traced warm passes (the cold pass when
it is the only traced one).
"""

from __future__ import annotations

import json
import os
import statistics

LAYERS = ("corpus", "edges", "louvain", "pagerank", "components", "labelprop", "triangles")
STANDARD = (
    ("wall_s", "s"), ("jobs", "count"), ("busy_frac", "ratio"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("gc_s", "s"), ("py_mb", "MB"), ("py_run_s", "s"),
    ("task_skew", "ratio"), ("failed_tasks", "count"),
)
SPECIFIC = (
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("corpus.read_s", "s"), ("corpus.build_file_s", "s"), ("corpus.build_repo_s", "s"),
    ("corpus.dropped_buckets", "count"), ("corpus.edges_out", "count"),
    ("louvain.levels", "count"), ("louvain.sweeps", "count"),
    ("louvain.level0_s", "s"), ("louvain.coarsen_s", "s"),
    ("kernels.kernel_s", "s"), ("kernels.kernel_crit_s", "s"),
    ("exchange.gather_s", "s"), ("exchange.gather_crit_s", "s"), ("exchange.unpack_s", "s"),
    ("checkpoint.resume_s", "s"), ("checkpoint.resume_jobs", "count"),
    ("checkpoint.bytes_written", "bytes"),
    ("edges.read_s", "s"), ("edges.write_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("trace.coverage", "ratio"), ("trace.overhead_frac", "ratio"),
    ("failed_frac", "ratio"),
)


def metric_specs() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    std = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in STANDARD]
    return std + list(SPECIFIC)


_SUMS = ("jobs", "stages", "tasks", "run_s", "shuffle_mb", "spill_mb",
         "py_mb", "py_run_s", "failed_tasks")


def _spark_totals(spans: list[dict], ev: dict[int, dict]) -> dict:
    t = {k: 0.0 for k in _SUMS}
    t["skews"] = []
    for s in spans:
        e = ev.get(s["id"])
        if e:
            for k in _SUMS:
                t[k] += e[k]
            t["skews"] += e["stage_skews"]
    return t


def _phase(levels, table: str, keep) -> float:
    return sum(v for lv in levels for k, v in getattr(lv, table).items() if keep(k))


def _is_gather(k: str) -> bool:
    return k.startswith("gather_") or k == "deg_exchange"


def _pass_metrics(pass_span: dict, children: list[dict], ev: dict, nproc: int) -> dict:
    m: dict[str, float] = {}
    wall = pass_span["end"] - pass_span["start"]
    for layer in LAYERS:
        spans = [s for s in children if s["name"].split(".")[0] == layer]
        w = sum(s["end"] - s["start"] for s in spans)
        t = _spark_totals(spans, ev)
        m.update({
            f"{layer}.wall_s": w,
            f"{layer}.jobs": t["jobs"],
            f"{layer}.busy_frac": t["run_s"] / (w * nproc) if w else 0.0,
            f"{layer}.shuffle_mb": t["shuffle_mb"],
            f"{layer}.spill_mb": t["spill_mb"],
            f"{layer}.gc_s": sum(s.get("gc_s", 0.0) for s in spans),
            f"{layer}.py_mb": t["py_mb"],
            f"{layer}.py_run_s": t["py_run_s"],
            f"{layer}.task_skew": max(t["skews"], default=0.0),
            f"{layer}.failed_tasks": t["failed_tasks"],
        })
    by_name = {s["name"]: s for s in children}

    def wall_of(name):
        s = by_name.get(name)
        return s["end"] - s["start"] if s else 0.0

    m["corpus.read_s"] = wall_of("corpus.read")
    m["corpus.build_file_s"] = wall_of("corpus.build_file_graph")
    m["corpus.build_repo_s"] = wall_of("corpus.build_repo_graph")
    m["corpus.dropped_buckets"] = sum(s.get("dropped", 0) for s in children)
    m["corpus.edges_out"] = sum(s.get("edges_out", 0) for s in children)
    lv_span = by_name.get("louvain", {})
    levels = lv_span.get("levels", [])
    m["louvain.levels"] = len(levels)
    m["louvain.sweeps"] = sum(lv.sweeps for lv in levels)
    m["louvain.level0_s"] = levels[0].wall_sec if levels else 0.0
    m["louvain.coarsen_s"] = (
        lv_span.get("call_s", 0.0) - sum(lv.wall_sec for lv in levels))
    m["kernels.kernel_s"] = _phase(levels, "phase_sum", lambda k: k.startswith("kernel_"))
    m["kernels.kernel_crit_s"] = _phase(levels, "phase_crit", lambda k: k.startswith("kernel_"))
    m["exchange.gather_s"] = _phase(levels, "phase_sum", _is_gather)
    m["exchange.gather_crit_s"] = _phase(levels, "phase_crit", _is_gather)
    m["exchange.unpack_s"] = _phase(levels, "phase_sum", lambda k: k == "unpack")
    resume = by_name.get("checkpoint.resume")
    m["checkpoint.resume_s"] = wall_of("checkpoint.resume")
    m["checkpoint.resume_jobs"] = _spark_totals([resume], ev)["jobs"] if resume else 0
    m["checkpoint.bytes_written"] = lv_span.get("ckpt_bytes", 0)
    m["edges.read_s"] = wall_of("edges.read")
    m["edges.write_s"] = wall_of("edges.write_communities")
    tot = _spark_totals([pass_span] + children, ev)
    m["spark.jobs"], m["spark.stages"], m["spark.tasks"] = tot["jobs"], tot["stages"], tot["tasks"]
    m["trace.coverage"] = sum(s["end"] - s["start"] for s in children) / wall
    return m


def per_layer(spans: list[dict], ev: dict[int, dict], nproc: int, setup,
              overhead_frac: float, failed_frac: float) -> dict[str, tuple[float, str]]:
    passes = [s for s in spans if s["name"] == "pass" and s.get("traced")]
    warm = [p for p in passes if p["pass"] > 0] or passes
    rows = [
        _pass_metrics(p, [s for s in spans if s["parent"] == p["id"]], ev, nproc)
        for p in warm
    ]
    units = dict(metric_specs())
    out = {}
    for name, unit in units.items():
        vals = [r[name] for r in rows if name in r]
        out[name] = (float(statistics.median(vals)) if vals else 0.0, unit)
    out["session.start_s"] = (setup[0], "s")
    out["session.warm_s"] = (setup[1], "s")
    out["trace.overhead_frac"] = (overhead_frac, "ratio")
    out["failed_frac"] = (failed_frac, "ratio")
    return out


def dump(path: str, spans: list[dict], metrics: dict) -> None:
    """Spans as JSON lines plus the per-layer table, for reading later."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps({k: v for k, v in s.items() if k != "levels"}) + "\n")
    with open(os.path.join(path, "per_layer.json"), "w") as f:
        json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, f, indent=1)
