#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates the seeded corpus and queries,
builds the index through the program's public entry points, measures the
workload for ``--seconds``, checks every result against the pure-Python
reference and prints, as the last line of standard output, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans go to
``.perfbench_work/trace-<workload>-<seed>.json``.

All files are written under ``.perfbench_work/`` in the checkout; the run
directory is removed at the end and every process started is stopped.
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
sys.path.insert(0, HERE)

SERVE_THREADS = 4
DRIVER_MEMORY = "1g"
SHARE_LAYERS = ("analysis", "wand", "engine", "scoring", "lineage")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail(f"{path} not found")
    with open(path) as f:
        return json.load(f)


def environment(threads: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_threads": threads,
        "spark_master": f"local[{len(os.sched_getaffinity(0))}]",
        "driver_memory": DRIVER_MEMORY,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def start_spark(work: str, nproc: int):
    from pyspark_codesearch.pyfiles import ensure_py_files
    from pyspark_codesearch.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            # session.get_spark defaults to a 16g heap; always size it here
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            # -Xms = the heap size: a heap that grows on demand left the
            # JVM's peak RSS 25% apart between runs. -XX:-UsePerfData: no
            # hsperfdata file outside the checkout.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)
    return spark


def stop_spark(spark) -> None:
    import procs
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = procs.tree(os.getpid())[1:]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procs.wait_gone(tree, 30)


def tracer_overhead(n_calls: int) -> float:
    """Seconds the tracer itself cost: ``n_calls`` spans at the per-span
    cost measured here on empty spans."""
    from spans import Tracer

    probe = Tracer(True)
    t = time.perf_counter()
    for _ in range(2000):
        with probe.span("probe", "r"):
            pass
    return n_calls * (time.perf_counter() - t) / 2000


def main(argv=None) -> None:
    args = parse_args(argv)
    spec = load_spec()
    if not os.path.isdir(os.path.join(ROOT, "pyspark_codesearch")):
        fail(f"the program (pyspark_codesearch/) is not in {ROOT}")
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; one of {names}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    nproc = len(os.sched_getaffinity(0))
    threads = SERVE_THREADS if args.workload == "serve" else 1
    if threads > nproc:
        fail(f"{threads} load threads would exceed nproc={nproc}")
    sys.path.insert(0, ROOT)

    import gen
    import workloads
    from calib import Calibration, normalize
    from spans import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first: no hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env = environment(threads)
    tracer = Tracer(bool(args.trace))
    spark = None
    cal = Calibration(os.path.join(work, "probe.txt"))
    try:
        cal.start()
        corpus = gen.make_corpus(workloads.N_DOCS, args.seed)
        corpus_path = os.path.join(work, "corpus.parquet")
        gen.write_corpus(corpus, corpus_path)
        t = time.perf_counter()
        spark = start_spark(work, nproc)
        start_s = time.perf_counter() - t
        run = workloads.Run(spark, corpus, corpus_path, work, args.seed, args.seconds, threads, tracer)
        e2e, attempted, failed = workloads.WORKLOADS[args.workload](run)
    finally:
        # first: stop_spark waits for every child of this process to end
        cal.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    # the end-to-end metrics are in reference-host units (calib.py); the
    # detail line keeps the measured ones and the host's speed
    run.detail["probe_s"] = cal.probe_s()
    run.detail["probe_samples"] = len(cal.samples)
    run.detail["stolen_share"] = cal.stolen_share()
    run.detail["host_scale"] = cal.scale()
    run.detail["measured"] = {k: v[0] for k, v in e2e.items()}
    e2e = normalize(e2e, cal.scale())
    if args.trace:
        n_spans = len(tracer.spans)
        layer = dict(run.layer)
        layer["session.start_s"] = start_s
        layer.update(tracer.request_shares(SHARE_LAYERS))
        layer["trace.overhead_share"] = (
            (tracer_overhead(n_spans) + run.jobs.cost_s) / sum(tracer.durations("request"))
        )
        metrics = {m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]} for m in spec["per_layer"]}
        os.makedirs(base, exist_ok=True)
        tracer.write(
            os.path.join(base, f"trace-{args.workload}-{args.seed}.json"),
            {"env": env, "layers": layer, "end_to_end_traced": {k: v[0] for k, v in e2e.items()},
             "detail": run.detail},
        )
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"env": env, "detail": {k: v for k, v in run.detail.items() if k != "failures"},
                      "failures": run.detail.get("failures", [])}))
    print(json.dumps({"correct": run.detail["wrong"] == 0, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
