"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pages_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs and their references are generated
from the seed (cached under ``.perfbench_cache/``) before any timing. A
closed loop then runs one pass at a time for ``--seconds``, checks every
pass's output, and prints a detail line followed by the result line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1`` prints the
per-layer metrics instead and writes the spans to ``.perfbench_work/``.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "2g"  # the package default (32g) exceeds a 15 GB host

# gated metrics; the detail line also carries error_rate, peak_rss_mb and the
# workload-specific ones (see README.md for why those are not gated)
END_TO_END = {"rows_per_s": "rows/s", "setup_s": "s"}

# every layer metric a traced run can write to its trace file and detail line
LAYER_UNITS = {
    "extract.self_s": "s",
    "extract.geotag_hit_ratio": "ratio",
    "grid.self_s": "s",
    "pip.plan_s": "s",
    "pip.self_s": "s",
    "pip.candidates_per_point": "ratio",
    "pip.refine_pass_ratio": "ratio",
    "pip.broadcast_bytes": "B",
    "tiles.self_s": "s",
    "tiles.pyramid_self_s": "s",
    "tiles.shuffle_bytes_per_row": "B/row",
    "tiles.task_skew": "ratio",
    "knn.plan_s": "s",
    "knn.self_s": "s",
    "knn.rows_out": "count",
    "zonal.self_s": "s",
    "lineage.self_s": "s",
    "layout.self_s": "s",
    "catalog.write_s": "s",
    "catalog.commit_s": "s",
    "catalog.files_written": "count",
    "runner.units_resumed": "count",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "session.gc_share": "ratio",
    "session.shuffle_bytes": "B",
    "session.spill_bytes": "B",
    "session.jobs": "count",
    "session.tasks": "count",
    "trace.overhead": "ratio",
    "trace.unaccounted_share": "ratio",
}

# the result line of a traced run carries every layer metric; one whose
# layer the workload does not run reads 0 (README.md lists which apply
# where). tiles.task_skew stays in the trace file only: at these sizes AQE
# coalesces the salted aggregate into one task, so it always reads 1.0
PER_LAYER = {k: u for k, u in LAYER_UNITS.items() if k != "tiles.task_skew"}


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    return {"value": v[n - 11], "percentile": round(100.0 * (n - 10) / n, 2), "count": n}


def run_loop(wl, ref, seconds: float, tracer=None) -> list:
    """Closed loop: the next pass starts only when the previous one ended,
    and only while the ``seconds`` window is open (at least one pass)."""
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        if tracer is None:
            passes.append(wl.run_pass(ref))
        else:
            with tracer.span("pass"):
                passes.append(wl.run_pass(ref))
    return passes


def rate(passes) -> float:
    """Median rows/s over the loop's passes."""
    return median(p.rows / p.wall_s for p in passes)


def end_to_end(passes, side, setup_s: float, peak_mb: float) -> dict:
    """Rates come from the timed ``passes``; resume and stream metrics from
    whichever of ``passes`` and the traced ladder's ``side`` passes ran them."""
    out = {
        "rows_per_s": {"value": rate(passes), "unit": "rows/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "error_rate": {"value": sum(p.failed for p in passes) / sum(p.attempted for p in passes),
                       "unit": "ratio"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }
    resumes = [p.extra for p in passes + side if "resume_s" in p.extra]
    streams = [p.extra for p in passes + side if "batch_s" in p.extra]
    if resumes:
        out["resume_s"] = {"value": median(e["resume_s"] for e in resumes), "unit": "s"}
        out["bytes_written_per_row"] = {
            "value": median(e["bytes_written_per_row"] for e in resumes), "unit": "B/row"}
    if streams:
        batches = [b for e in streams for b in e["batch_s"]]
        out["batch_s_p50"] = {"value": median(batches), "unit": "s"}
        t = tail(batches)
        out["batch_s_tail"] = (
            {"value": t["value"], "unit": "s", "percentile": t["percentile"], "batches": t["count"]}
            if t else {"value": None, "unit": "s", "batches": len(batches),
                       "note": "fewer than 11 batches: no percentile has 10 beyond it"}
        )
    return out


def streaming_layers(passes) -> dict:
    extra = [p.extra for p in passes if "batch_s" in p.extra]
    if not extra:
        return {}
    return {
        "streaming.batches": float(median(len(e["batch_s"]) for e in extra)),
        "streaming.add_batch_s": median(b for e in extra for b in e["add_batch_s"]),
        "streaming.planning_s": median(b for e in extra for b in e["planning_s"]),
        "streaming.wal_commit_s": median(b for e in extra for b in e["wal_commit_s"]),
    }


def jvm_conf(work: Path) -> dict:
    """Keep the Spark JVM's temporary files inside the run's scratch dir:
    its java.io.tmpdir there, and no hsperfdata file (always under /tmp)."""
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"}


def traced_run(cls, inp, work: Path, ref, args, master: str, untraced: list):
    """The same warm-up and loop in a fresh SparkContext with the event log
    on, then the prefix ladder; per-layer metrics come from both. Returns
    the layer metrics, the warm-up and traced passes and the ladder's
    checked side passes."""
    from perfbench.trace import EventLog, Tracer
    from ult_spark.session import get_spark

    log_dir = work / "eventlog"
    log_dir.mkdir()
    spark = get_spark(master=master, app_name=f"perfbench-{args.workload}", extra_conf={
        **jvm_conf(work),
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    wl = cls(spark, inp, work)
    tracer = Tracer(spark)
    try:
        # the restarted SparkContext gets the same warm-up as the first, so
        # both loops time warm passes
        warm = [wl.run_pass(ref) for _ in range(wl.warm_passes)]
        traced = run_loop(wl, ref, args.seconds / 4, tracer)
        layers = wl.ladder(tracer, ref)
    finally:
        spark.stop()
    log = EventLog(log_dir)
    layers.update(wl.ladder_counts(log, tracer, layers))
    groups = [p.extra.get("job_group") for p in traced]
    if None in groups:
        groups = tracer.groups("pass")
    layers.update({f"session.{k}": v for k, v in log.session(groups).items()})
    # the traced loop runs in the JVM the untraced loop warmed, so JIT
    # warm-up favours it: this ratio is an upper bound on traced ÷ untraced
    layers["trace.overhead"] = rate(traced) / rate(untraced)
    accounted = layers.pop("_accounted_s", None)
    if accounted is not None:
        layers["trace.unaccounted_share"] = 1.0 - accounted / median(p.wall_s for p in untraced)
    side = untraced + wl.side_passes
    layers.update(streaming_layers(side))
    resumed = [p.extra["units_resumed"] for p in side if "units_resumed" in p.extra]
    if resumed:
        layers["runner.units_resumed"] = float(median(resumed))
    tracer.write(WORK / f"trace-{args.workload}-{args.seed}.json", {"layers": layers})
    return layers, warm + traced, wl.side_passes


def stop_spark() -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait for it
    and its Python workers to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.host import wait_children

    if (active := SparkSession.getActiveSession()) is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    alive = wait_children()
    if alive:
        raise RuntimeError(f"child processes still running: {alive}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the checkout root, not this directory, is the import root: the
    # benchmark's module names must not shadow the standard library's
    sys.path[0] = str(ROOT)
    from perfbench import host as H
    from perfbench import inputs as I
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    import pandas as pd
    import pyspark  # noqa: F401  (import cost belongs to set-up)

    from ult_spark.session import get_spark

    # process start -> imports done: what every spark-submit job pays first
    startup_s = H.process_age_s()

    cls = WORKLOADS[args.workload]
    inp = I.ensure(CACHE, args.workload, args.seed)
    ref_path = inp.root / "reference.pkl"
    if not ref_path.exists():
        tmp = ref_path.with_name(f".reference-{os.getpid()}.pkl")
        pd.to_pickle(cls.reference(inp), tmp)
        os.replace(tmp, ref_path)
    ref = pd.read_pickle(ref_path)

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = min(4, os.cpu_count() or 1)
    master = f"local[{cores}]"
    os.environ["ULT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # pyspark's gateway handshake files and every child's temporary files
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    record = H.HostRecord(master, DRIVER_MEM)
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        with H.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark(master=master, app_name=f"perfbench-{args.workload}",
                              extra_conf=jvm_conf(work))
            wl = cls(spark, inp, work)
            layers = wl.plan_probe() if args.trace else {}
            cold = wl.run_pass(ref)
            setup_s = startup_s + time.perf_counter() - t0
            # untimed warm-up: passes keep getting faster for several rounds
            # after the cold one while the JIT compiles the hot code. Counted
            # in passes, not seconds, so the timed loop starts at the same
            # point of that ramp on a slow host as on a fast one
            warm = [wl.run_pass(ref) for _ in range(wl.warm_passes)]
            # a traced run gives each loop a quarter of the window, to leave
            # time for the restart and the ladder
            passes = run_loop(wl, ref, args.seconds / 4 if args.trace else args.seconds)
            spark.stop()
            traced, side = [], []
            if args.trace:
                more, traced, side = traced_run(cls, inp, work, ref, args, master, passes)
                layers.update(more)
        all_passes = [cold] + warm + passes + traced + side
        detail["host"] = record.finish()
        detail["end_to_end"] = end_to_end(passes, side, setup_s, rss.peak_mb)
        # each pass with its per-call split (spatial_ops: tiles_s, zonal_s;
        # runner_resume: resume_s), in run order: the cold pass, the
        # warm-up passes, the timed loop, then a traced run's passes
        detail["warm_passes"] = len(warm)
        detail["passes"] = [
            {"rows": p.rows, "wall_s": p.wall_s, "failed": p.failed, "reason": p.reason,
             **{k: v for k, v in p.extra.items() if isinstance(v, float)}}
            for p in all_passes
        ]
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(p.attempted for p in all_passes)
    failed = sum(p.failed for p in all_passes)
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        detail["layers"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        e2e = detail["end_to_end"]
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in END_TO_END.items()}
    bad = [m for m in metrics.values() if not math.isfinite(m["value"])]
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
