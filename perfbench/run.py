"""Document-engine benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload documents --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding
``mongo_arrow_spark/``). The corpus for a seed is generated once, in a
separate process, under ``perfbench/.work/`` and reused by later runs.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
See README.md for the workloads, op types and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: set-ups per run, after the untimed JVM start; ``setup_s`` is their median,
#: so the first set-up's one-off costs (class loading, the first Python
#: worker) do not count
SETUP_REPEATS = 3
#: cores the local session uses, never more than the host has
MAX_CORES = 4
DRIVER_MEMORY = "2g"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def session_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.executorEnv.PYTHONPATH": ROOT,
    }


def start_session(cores: int):
    from mongo_arrow_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=session_conf())


def stop_session(spark, gateway_proc) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    spark.stop()
    SparkContext._gateway.shutdown()
    gateway_proc.stdin.close()  # the gateway JVM exits on EOF
    gateway_proc.wait(timeout=60)


def start_corpus(seed: int):
    """Start generating the seed's corpus, once, in a child process, so its
    memory never counts toward this client's peak RSS. Returns the corpus
    directory and the child (None when the corpus is already on disk)."""
    out = os.path.join(WORK, "corpus", str(seed))
    if os.path.exists(os.path.join(out, "corpus.json")):
        return out, None
    return out, subprocess.Popen([sys.executable, os.path.join(HERE, "corpus.py"),
                                  "--seed", str(seed), "--out", out])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mongo_arrow_spark", "__init__.py")):
        fail(f"no mongo_arrow_spark package under {ROOT}; run from a source checkout")
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # every JVM (launcher and driver) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    from layers import JobCounter, Tracer, probe_layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    corpus_dir, generator = start_corpus(args.seed)

    import mongo_arrow_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(mongo_arrow_spark.__file__))) != ROOT:
        fail(f"mongo_arrow_spark imported from outside {ROOT}")
    from mongo_arrow_spark.sources import register

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    tracer = Tracer(bool(args.trace))

    # the JVM starts once, untimed, while the corpus is generated; each
    # set-up then restarts the session in it
    t0 = time.perf_counter()
    spark = start_session(cores)
    cold_start = time.perf_counter() - t0
    gateway_proc = spark.sparkContext._gateway.proc
    if generator is not None and generator.wait() != 0:
        stop_session(spark, gateway_proc)
        fail(f"corpus generation for seed {args.seed} failed")
    bench = WORKLOADS[args.workload](corpus_dir, WORK, random.Random(args.seed), tracer)
    setup, starts = [], []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_session(cores)
            starts.append(time.perf_counter() - t0)
            with tracer.span("sources.register"):
                register(spark)
            bench.open(spark)
            setup.append(time.perf_counter() - t0)
    bench.prepare()

    jobs = JobCounter(spark) if args.trace else None
    attempted = failed = 0

    def one(op: str, rid: str):
        nonlocal attempted, failed
        attempted += 1
        tracer.request = rid
        if jobs:
            jobs.begin(rid)
        try:
            with tracer.span("request"):
                t0 = time.perf_counter()
                n, check = bench.request(op)
                dt = time.perf_counter() - t0
            if jobs:
                jobs.end(rid)
            with tracer.span("check"):
                ok = bool(check())
        except Exception as exc:  # a failed request is counted, not fatal
            print(f"perfbench: request {rid} ({op}) failed: {exc!r}", file=sys.stderr)
            ok, n, dt = False, 0, None
        failed += not ok
        tracer.request = None
        return n, dt

    for c in range(bench.warmup_cycles):
        for op in bench.ops:
            one(op, f"warm-{c}-{op}")
    bench.bytes = bench.byte_docs = 0

    lat = {op: [] for op in bench.ops}
    rates, busy, cycle = [], 0.0, 0
    give_up = time.perf_counter() + 3 * args.seconds + 30  # if requests keep failing
    # whole cycles, so every op type is timed equally often
    while busy < args.seconds and time.perf_counter() < give_up:
        docs = cycle_busy = 0
        for op in bench.ops:
            n, dt = one(op, f"req-{cycle}-{op}")
            if dt is not None:
                lat[op].append(dt)
                cycle_busy += dt
            docs += n
        busy += cycle_busy
        rates.append(docs / cycle_busy if cycle_busy else 0.0)
        cycle += 1
    # a cycle's documents over its request time; the median over cycles
    # keeps one slow stretch of the host from moving the run's figure
    docs_per_s = statistics.median(rates)

    correct = failed == 0 and all(lat.values())
    p50 = {op: 1000 * statistics.median(v) if v else 0.0 for op, v in lat.items()}
    print(f"perfbench: {args.workload} "
          + " ".join(f"op{i}={op} n={len(lat[op])} p50={p50[op]:.1f}ms"
                     for i, op in enumerate(bench.ops, 1)))
    if args.trace:
        metrics = {
            "session.cold_start_s": (cold_start, "s"),
            "session.start_s": (statistics.median(starts), "s"),
            "spark.jobs": (statistics.median(j for j, _, _ in jobs.per_request), "count"),
            "spark.stages": (statistics.median(s for _, s, _ in jobs.per_request), "count"),
            "spark.tasks": (statistics.median(t for _, _, t in jobs.per_request), "count"),
            "trace.spans": (len(tracer.spans), "count"),
            "trace.overhead_frac": (
                len(tracer.spans) * tracer.cost_per_span_s() / max(busy, 1e-9), "ratio"),
            "trace.docs_per_s": (docs_per_s, "1/s"),
        }
        for i, op in enumerate(bench.ops, 1):
            metrics[f"op{i}.latency_p50_ms"] = (p50[op], "ms")
        metrics.update(probe_layers(spark, corpus_dir, WORK))
        tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "docs_per_s": (docs_per_s, "1/s"),
            "bytes_per_doc": (bench.bytes / bench.byte_docs if bench.byte_docs else 0.0,
                              "bytes"),
            "peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
        }

    stop_session(spark, gateway_proc)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
