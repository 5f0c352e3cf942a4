#!/usr/bin/env python3
"""Layered benchmark for iceberg_core_spark: streaming ingest, pruned range
queries and the registry analytics mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload range_query --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md). ``--workload all`` runs every workload untraced and
traced, each in its own process, and prints each report plus the tracing
overhead.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
(prefixed ``report``) carries the workload's named metrics, sample counts
and diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# local[N] cores. The workloads' jobs are a few tasks wide, and on a 4-core
# host local[2] ran them as fast as local[4] while its run-to-run spread
# was smaller: the spare cores absorb JIT, GC and the driver's Python
MAX_CORES = 2
# set-up repetitions per run; setup_s takes their median, so the first,
# cold repetition does not decide it
SETUP_REPEATS = {"ingest": 3, "range_query": 3, "analytics": 3}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "range_query", "analytics", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> int:
    """Environment for the session: everything Spark, Python workers and
    the JVM write goes under ``work``; workers import the package from the
    checkout; timestamps are UTC. Returns the local[N] core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_session(cores: int, work: str):
    """``get_spark`` on local[N] plus one job to bring the JVM up; each
    workload's set-up and untimed first ops warm the paths it uses.
    Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from iceberg_core_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    import subprocess

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def sentinel() -> float:
    """Fixed pure-Python CPU work: a host-interference probe."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def layer_metrics(tracer, ctx) -> dict:
    """Per-op medians of span totals and of self time per layer. Write-path
    metrics come from the ``ingest`` ops (on ``range_query``, the set-up's
    streaming commits), read-path metrics from the ``query`` ops (on
    ``ingest``, its visibility probes), the rest from the timed ops."""
    from perfbench.trace import LAYERS, layer_of
    from perfbench.workloads import median as med

    per_op = tracer.per_op()

    def ops(kind=None, timed=True):
        return [per_op[i] for i in sorted(per_op)
                if (kind is None or ctx.kinds[i] == kind)
                and (i in ctx.timed or not timed)]

    # timed ops of a kind, else its untimed ones (the set-up's commits)
    ingest = ops("ingest") or ops("ingest", timed=False)
    reads = ops("query") or ingest
    timed = ops()

    def totals(spans_by_op, name):
        return [sum(s["end"] - s["start"] for s in spans
                    if s["name"] == name) for spans in spans_by_op]

    def calls(spans_by_op, name):
        """Per-op totals over the ops that made the call at all."""
        return [t for spans, t in zip(spans_by_op, totals(spans_by_op, name))
                if any(s["name"] == name for s in spans)]

    out = {
        # the first commit of a new table is a create, not an append
        "table.append_s": med(calls(ingest, "table.append")),
        "table.maintain_s": (sum(totals(ingest, "table.maintain"))
                             / max(1, len(ingest))),
        "manifest.commit_s": med(totals(ingest, "manifest.commit")),
        "streaming.start_s": med(totals(
            ingest, "streaming.stream_ingest_to_table")),
        "table.prune_s": med(totals(reads, "table.query")),
        "table.scan_s": med(totals(reads, "table.query.action")),
        "manifest.load_s": med(totals(timed, "manifest.load")),
        "manifest.loads_per_op": med([sum(s["name"] == "manifest.load"
                                          for s in spans)
                                      for spans in timed]),
    }
    by_id = {s["id"]: s for s in tracer.spans}
    layers = LAYERS + ("bench",)
    selfs = {layer: [] for layer in layers}
    calls = []
    for spans in timed:
        st = tracer.self_times(spans)
        tot = dict.fromkeys(layers, 0.0)
        n_calls = 0
        for s in spans:
            layer = layer_of(s["name"])
            tot[layer] += st[s["id"]]
            parent = by_id.get(s["parent"])
            if s["name"] in tracer.wrapped and layer == "table" and (
                    parent is None or layer_of(parent["name"]) != "table"):
                n_calls += 1
        for layer, v in tot.items():
            selfs[layer].append(v)
        calls.append(n_calls)
    for layer, v in selfs.items():
        out[f"{layer}.self_s"] = med(v)
    out["table.calls_per_op"] = med(calls)
    out["trace.spans_per_op"] = (sum(map(len, timed)) / len(timed)
                                 if timed else 0.0)
    out["trace.op_p50_s"] = med(ctx.latencies)
    out["spark.jobs_per_op"] = med(ctx.jobs_per_op)
    out["spark.tasks_per_op"] = med(ctx.tasks_per_op)
    return out


def jvm_peak_heap_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def run_workload(name, spark, session_s, work, seed, seconds, trace) -> dict:
    import resource

    from perfbench import workloads
    from perfbench.trace import JobCounter, Tracer

    tracer = Tracer() if trace else None
    if tracer is not None:
        tracer.install()
    try:
        ctx = workloads.Context(
            spark, os.path.join(work, f"{name}-t{trace}"), seed, seconds,
            tracer=tracer,
            jobs=JobCounter(spark.sparkContext) if trace else None)
        os.makedirs(ctx.work)
        wl = workloads.WORKLOADS[name](ctx)
        sent = [sentinel()]
        setups = []
        for _ in range(SETUP_REPEATS[name]):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        sent.append(sentinel())
        t0 = time.perf_counter()
        res = wl.run()
        run_s = time.perf_counter() - t0
        sent.append(sentinel())
    finally:
        if tracer is not None:
            tracer.uninstall()

    lat = ctx.latencies
    busy = sum(lat)
    e2e = {
        "setup_s": (session_s + statistics.median(setups), "s"),
        "op_p50_s": (workloads.median(lat), "s"),
        "ops_per_s": (len(lat) / busy if busy else 0.0, "1/s"),
    }
    report = {
        "workload": name, "seed": seed, "trace": trace,
        "samples": len(lat),
        "named": {k: {"value": v, "unit": u, "samples": n}
                  for k, (v, u, n) in res["named"].items()},
        "error_rate": ctx.failed / max(1, ctx.attempted),
        "failures": ctx.failures[:10],
        "setup_samples_s": setups,
        "session_s": session_s,
        "run_s": run_s,
        "op_p90_s": workloads.percentile(lat, 90, beyond=10),
        "op_p99_s": workloads.percentile(lat, 99, beyond=10),
        "op_max_s": max(lat) if lat else None,
        "host_sentinel_s": sent,
    }
    for key in ("digests", "per_query_s", "verify_s"):
        if key in res:
            report[key] = res[key]
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if trace:
        layer = layer_metrics(tracer, ctx)
        layer.update(res["layer"])
        layer["session.load_s"] = session_s
        layer["driver.peak_rss_mb"] = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024
        layer["jvm.peak_heap_mb"] = jvm_peak_heap_mb(spark)
        layer["host.sentinel_s"] = statistics.median(sent)
        spec = per_layer_spec()
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec}
        # layer figures BENCHMARK.json does not list (e.g. the maintenance
        # ticks, which only ``ingest`` reaches) go to the report
        report["layer_extra"] = {k: v for k, v in layer.items()
                                 if k not in metrics}
        path = os.path.join(ROOT, ".perfbench_out",
                            f"spans-{name}-{seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tracer.write(path)
        report["spans_file"] = os.path.relpath(path, ROOT)
        report["end_to_end_traced"] = {k: v for k, (v, _) in e2e.items()}
    return {"report": report, "result": {
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed, "metrics": metrics}}


def per_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process (so
    neither run warms the other's JVM); prints both reports, the traced
    run's per-layer metrics and the tracing overhead, then a summary
    result line."""
    import subprocess

    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ("ingest", "range_query", "analytics"):
        p50 = {}
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 name, "--seed", str(args.seed), "--seconds",
                 str(args.seconds), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, check=True).stdout
            lines = out.strip().splitlines()
            print(lines[-2], flush=True)
            result = json.loads(lines[-1])
            report = json.loads(lines[-2][len("report "):])
            p50[trace] = (report["end_to_end_traced"]["op_p50_s"] if trace
                          else result["metrics"]["op_p50_s"]["value"])
            if trace:
                print("report " + json.dumps({
                    "workload": name, "per_layer": result["metrics"]}),
                    flush=True)
            final["correct"] &= result["correct"]
            final["attempted"] += result["attempted"]
            final["failed"] += result["failed"]
            if not trace:
                final["metrics"].update(
                    {f"{name}.{k}": v for k, v in result["metrics"].items()})
        print("report " + json.dumps({"workload": name,
                                      "trace_overhead_s": p50[1] - p50[0]}),
              flush=True)
    print(json.dumps(final), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_core_spark")):
        print("perfbench: iceberg_core_spark/ not found beside perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        cores = prepare_env(work)
        spark, session_s = start_session(cores, work)
        out = run_workload(args.workload, spark, session_s, work, args.seed,
                           args.seconds, args.trace)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("report " + json.dumps(out["report"]), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
