"""Link-graph benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload corpus_communities --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a checkout.  Generates (or reuses) the seeded inputs
and their oracles under ``perfbench/_data``, starts the session once, cold
(timed as set-up), then runs the cold pass and warm passes back to back
(one client, closed loop) while a ``--seconds`` window that opens after the
cold pass lasts.  Every pass is checked; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the package under test; without it the benchmark has nothing to run
import parallel_louvain_method_spark  # noqa: E402,F401

import report  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, clean  # noqa: E402

MAX_PASSES = 12
DRIVER_MEM = "2g"   # ample for these inputs; the 15 GB host is shared


def _warm(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    from parallel_louvain_method_spark.functions import kernels  # noqa: F401
    for b in batches:
        yield b


class Ctx:
    def __init__(self, spark, tracer, nproc, pass_dir):
        self.spark, self.tracer, self.nproc, self.pass_dir = spark, tracer, nproc, pass_dir


def start_session(nproc: int, conf: dict) -> tuple[object, float, float]:
    """get_spark plus the one-time Python-worker warm-up, timed apart."""
    from parallel_louvain_method_spark import get_spark

    t0 = time.monotonic()
    spark = get_spark(app_name="plm-perfbench", cores=nproc,
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    # one partition per core, so every core starts a Python worker
    spark.range(0, nproc, 1, nproc).mapInPandas(_warm, schema="id long").count()
    return spark, t1 - t0, time.monotonic() - t1


def _stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when its
    stdin closes (its Python daemon and workers went with ``spark.stop``)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    data_dir = os.path.join(HERE, "_data")
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)

    wl = WORKLOADS[args.workload](args.seed, data_dir)
    wl.prepare()  # inputs + oracles: cached per seed, in no metric
    phases = {"prepare": time.monotonic() - T0}

    # pinned environment: heap sized to the host, spill and temp files
    # inside the checkout, workers import the package from it
    os.environ["PLM_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PLM_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at its cap: grown on demand, how far it grew (and
        # so the JVM's peak RSS) varied by ~500 MB between runs of one input
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(tracing.event_log_conf(log_dir))
    host = {"before": tracing.host_snapshot(), "spill_dir": os.environ["PLM_LOCAL_DIR"],
            "driver_mem": DRIVER_MEM}

    spark = None
    try:
        spark, start_s, warm_s = start_session(nproc, conf)
        phases["setup"] = time.monotonic() - T0
        tracer = tracing.Tracer(spark)
        ctx = Ctx(spark, tracer, nproc, "")
        passes: list[dict] = []
        attempted = failed = 0
        failures: dict[str, str] = {}
        t_warm = 0.0
        # the cold pass, then warm passes while the --seconds window that
        # opens after it lasts, at least one.  A traced run alternates
        # traced and untraced warm passes, at least traced-untraced-traced:
        # passes still get faster as the JIT warms, and this order keeps
        # that trend out of the traced/untraced ratio
        min_passes = 4 if args.trace else 2
        while len(passes) < MAX_PASSES and (
            len(passes) < min_passes or time.monotonic() - t_warm < args.seconds
        ):
            k = len(passes)
            if k == 1:
                t_warm = time.monotonic()
            tracer.enabled = bool(args.trace) and (k == 0 or k % 2 == 1)
            tracer.pass_id = k
            ctx.pass_dir = os.path.join(work, f"pass{k}")
            spark.catalog.clearCache()
            # run_pass fills `out` call by call, so the outputs of the
            # operations before one that raises are still checked
            out: dict = {}
            with tracer.span("pass") as ps:
                try:
                    wl.run_pass(ctx, out)
                except Exception:  # a failed operation must not end the run
                    traceback.print_exc(file=sys.stderr)
            attempted += len(wl.ops)
            done = {s["name"] for s in tracer.spans if s["pass"] == k and s["ok"]}
            bad = wl.check(out, done)
            failed += len(bad)
            failures.update({f"pass{k}:{op}": msg for op, msg in bad.items()})
            wall = ps["end"] - ps["start"]
            passes.append({"wall": wall, "traced": tracer.enabled})
            if "modularity" in out:
                passes[-1]["modularity"] = out["modularity"]
            clean(ctx.pass_dir)
            calls = " ".join(f"{s['name']}={s['end'] - s['start']:.2f}"
                             for s in tracer.spans if s["parent"] == ps["id"])
            print(f"[perfbench] {args.workload} pass {k}: {wall:.2f}s"
                  f"{' traced' if tracer.enabled else ''} {bad or 'ok'} ({calls})",
                  file=sys.stderr, flush=True)
        phases["passes"] = time.monotonic() - T0
        peak_rss = tracing.spark_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
    host["after"] = tracing.host_snapshot()
    phases["stopped"] = time.monotonic() - T0

    warm = passes[1:]
    untraced = [p["wall"] for p in warm if not p["traced"]]
    pipeline_s = statistics.median(untraced)
    e2e = {
        "setup_s": (start_s + warm_s, "s"),
        "first_pass_s": (passes[0]["wall"], "s"),
        "pipeline_s": (pipeline_s, "s"),
        "edges_per_s": (wl.sym_rows / pipeline_s, "edges/s"),
        # a pass whose louvain raised has no Q (NaN is not valid JSON)
        "modularity": (statistics.median(
            [p["modularity"] for p in passes if "modularity" in p] or [0.0]), "Q"),
        "peak_rss_mb": (peak_rss, "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    for name, (v, unit) in e2e.items():
        print(f"[perfbench] {args.workload} seed={args.seed} {name} = {v:.6g} {unit}",
              file=sys.stderr)
    for where, msg in failures.items():
        print(f"[perfbench] FAILED {where}: {msg}", file=sys.stderr)
    print("[perfbench] " + json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": nproc, "host": host,
        "passes": [round(p["wall"], 3) for p in passes], "setup": [start_s, warm_s],
        "phases_at": phases}),
        file=sys.stderr)

    if args.trace:
        traced = [p["wall"] for p in warm if p["traced"]]
        metrics = report.per_layer(
            tracer.spans, tracing.parse_event_log(log_dir, app_id), nproc, (start_s, warm_s),
            statistics.median(traced) / pipeline_s - 1.0, failed / attempted)
        report.dump(os.path.join(HERE, "_work", f"trace-{args.workload}-s{args.seed}"),
                    [s for s in tracer.spans if s["traced"]], metrics)
    else:
        metrics = {k: vu for k, vu in e2e.items() if k != "failed_frac"}
    clean(work)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
