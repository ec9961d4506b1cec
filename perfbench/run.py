"""Seeded end-to-end benchmark of the ``hashio_spark`` validator.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout; the benchmark imports
``hashio_spark`` and ``tools/oracle_check.py`` from there and exits with
code 2 when they are missing.  Workloads (see ``workloads.py``):

* ``ingest``  -- ``hashio-spark validate`` into a fresh manifest store;
* ``resume``  -- ``validate --resume`` of an interrupted run, then
  ``verify`` and ``diff`` against the previous run;
* ``neardup`` -- the registry's near-dup legs and the dedupe operator tier;
* ``stream``  -- the ingest corpus replayed through ``stream_validation``.

One process is one run: it starts its own ``session.get_spark`` session
at ``local[<cores>]``, writes its inputs from ``--seed``, warms up with
one checked run, then repeats reset / timed run / check, closed loop,
until ``--seconds`` have passed (at least four timed runs).  With
``--trace 1`` half the runs are traced: spans around the calls into
each layer, with Spark's stage and SQL metrics attached, give the
per-layer metrics, and the traced minus untraced median wall time is the
tracing overhead.  Metric names and units come from ``BENCHMARK.json``.

The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

and the line before it the run's full record (every metric, the samples,
failures by exception class, and the session settings).  Spans of traced
runs are written to ``.perfbench_out/``; scratch data lives in
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# runs take >= 3 s, so a 10 s window always holds exactly MIN_RUNS runs and
# every process takes the median of the same run positions
MIN_RUNS = 4


def _session_conf(work: str) -> dict[str, str]:
    """Every setting the benchmark passes to ``get_spark`` on top of its
    defaults: a heap that fits a shared 4-core/15 GB host (2g makes
    garbage collection a visible, noisy share of every run), and every
    scratch path inside the checkout."""
    return {
        "spark.driver.memory": "4g",
        # a fixed-size heap: no resizing pauses, and peak RSS does not
        # depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms4g -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        # scan nodes print their full input path, so traced runs can tell
        # a scan of the documents from a scan of the manifest store
        "spark.sql.maxMetadataStringLength": "1000",
    }


def start_session(app: str, work: str):
    """``session.get_spark`` at ``local[<cores>]`` with every scratch
    path under ``work``; returns ``(spark, conf, cores, seconds)``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import hashio_spark (the Arrow UDF legs) from the
    # checkout; temp files of every process stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = _session_conf(work)
    cores = len(os.sched_getaffinity(0))
    from hashio_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app=app, cores=cores, extra_conf=conf)
    return spark, conf, cores, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _timed(fn, *args):
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def measure(w, seconds: float, trace: bool) -> dict:
    """Setup, warm-up and the closed measurement loop for workload ``w``."""
    from measure import median

    tracer = w.tracer
    setup = {"datagen.generate_s": _timed(w.generate, os.path.join(w.work, "in"))}
    setup["prepare_s"] = _timed(w.prepare)
    setup["warmup_s"] = 0.0
    for _ in range(w.warmup_runs):
        w.reset()
        warm = {}
        setup["warmup_s"] += _timed(lambda: warm.update(w.run_once()))
        w.check(warm)

    plain, traced, layer_runs = [], [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or len(plain) + len(traced) < MIN_RUNS or (trace and not traced):
        # untraced and traced runs alternate as ABBA, so a JIT still
        # warming up slows both sides alike
        traced_run = trace and i % 4 in (1, 2)
        i += 1
        w.reset()
        tracer.enabled = traced_run
        out = {}
        with tracer.span("run") as root:
            t0 = time.perf_counter()
            out.update(w.run_once())
            dt = time.perf_counter() - t0
        out["open_persisted_rdds"] = w.spark.sparkContext._jsc.getPersistentRDDs().size()
        tracer.enabled = False
        (traced if traced_run else plain).append(dt)
        w.check(out)
        if traced_run:
            tracer.harvest()
            layer_runs.append(w.layers(root, out))
    if trace:
        tracer.enabled = True
        w.probes()
        tracer.enabled = False
        tracer.harvest()
    layers = {}
    for k in {k for run in layer_runs for k in run}:
        layers[k] = median([run[k] for run in layer_runs if k in run])
    layers.update(w.probe_metrics)
    if trace:
        layers["trace.overhead_s"] = median(traced) - median(plain)
    return {"setup": setup, "plain": plain, "traced": traced, "layers": layers}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in ("hashio_spark/__init__.py", "tools/oracle_check.py", "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing} under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    import workloads
    from measure import PeakRss, median
    from spans import Tracer, wrap_library_calls

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        spark, conf, cores, session_s = start_session(f"perfbench-{args.workload}", work)
        rss = PeakRss(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, enabled=False)
        if args.trace:
            wrap_library_calls(tracer)
        w = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed, cores)
        res = measure(w, args.seconds, bool(args.trace))
        peak_rss = rss.stop()
        with open(f"/proc/{rss.pid}/status") as f:
            jvm_hwm = int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1]) * 1024
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup = res["setup"]
    wall = median(res["plain"])
    e2e = {
        "setup_s": session_s + setup["datagen.generate_s"] + setup["prepare_s"] + setup["warmup_s"],
        "wall_s": wall,
        "docs_per_s": w.n_docs / wall if wall else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }
    layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
    layers.update({"session.get_spark_s": session_s, "datagen.generate_s": setup["datagen.generate_s"]})
    layers.update(res["layers"])

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(tracer.records(), f)

    chosen, names = (spec["per_layer"], layers) if args.trace else (spec["end_to_end"], e2e)
    unknown = [m["name"] for m in chosen if m["name"] not in names]
    if unknown:
        print(f"perfbench: BENCHMARK.json names metrics this program does not produce: {unknown}",
              file=sys.stderr)
        return 2
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "n_docs": w.n_docs, "runs": len(res["plain"]), "traced_runs": len(res["traced"]),
        "wall_s_samples": res["plain"], "traced_wall_s_samples": res["traced"],
        "failed_share": w.failed / max(w.attempted, 1), "failures": dict(w.errors),
        "setup": {"session.get_spark_s": session_s, **setup},
        "session_conf": conf, "jvm_vmhwm_mb": jvm_hwm / 2**20,
        "env": {k: os.environ[k] for k in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS")},
        "end_to_end": e2e, "per_layer": layers,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {m["name"]: {"value": names[m["name"]], "unit": m["unit"]} for m in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
