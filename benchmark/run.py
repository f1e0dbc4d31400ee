"""Benchmark entry point: one workload, one seed, one process.

    python3 benchmark/run.py --workload route_fanout --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Set-up (timed as ``setup_s``) starts
the JVM, generates the inputs from ``--seed`` into ``.bench_work/`` under
the checkout and runs one untimed warm-up job; then the
workload's job runs in a closed loop (one job at a time) for
``--seconds``, at least once, every job's outputs are checked, and the
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans around every layer
call, writes them to ``.bench_out/`` and reports the per-layer metrics.
See benchmark/README.md for the workloads, metrics and predictions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# Input rows per workload (sizing notes in README.md).
ROWS = {"route_fanout": 60_000, "token_pack": 40_000}
DRIVER_MEM = "2g"

# per-layer time metric -> the spans whose self times it sums
SPAN_METRICS = {
    "parse.s": ["parse.parse_lines"],
    "pipeline.s": ["pipeline.build"],
    "lattice.s": ["lattice.route_schemas"],
    "route_cast.s": ["route_cast.cast_single_pass"],
    "fanout.s": ["fanout.write_partitioned", "fanout.route_counts"],
    "manifest.s": ["manifest.new_manifest", "manifest.resume_fanout"],
    "agg.hist_s": ["agg.hist"],
    "tokens.dedup_s": ["tokens.dedup"],
    "packing.bins_s": ["packing.bins"],
    "packing.rows_s": ["packing.rows"],
    "sharding.s": ["sharding.write_shards"],
}


def _spec() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def layer_times(tracer, trace_id: int, wall: float, n_rows: int,
                counters: dict) -> dict[str, float]:
    """Per-layer self times of one traced iteration, plus the share of the
    job wall that the spans' self times add up to."""
    selfs = tracer.self_times(trace_id)
    by_name: dict[str, float] = {}
    for s in tracer.spans:
        if s["trace"] == trace_id:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    out = {m: sum(by_name.get(n, 0.0) for n in names)
           for m, names in SPAN_METRICS.items()}
    if counters.get("manifest.commits"):
        out["manifest.s_per_commit"] = (
            by_name.get("manifest.resume_fanout", 0.0)
            / counters["manifest.commits"])
    out["trace.rows_per_s"] = n_rows / wall
    out["trace.self_sum_frac"] = sum(selfs.values()) / wall
    return out


def start_session(work: str, cpus: int):
    from ulp_spark.session import get_spark

    spark = get_spark("benchmark", master=f"local[{cpus}]", extra_conf={
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM gateway process and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


T_PROCESS = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr)


def output_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n))
                     for n in names if not n.endswith(".crc"))
    return total


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import gen
    import probes
    from spans import Tracer
    from workloads import WORKLOADS

    e2e_units, layer_units = _spec()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    # keep every temporary file of Python and of the JVMs (the launcher's
    # too) inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the environment variable, if set, would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tracer = Tracer(bool(args.trace))
    cpus = len(os.sched_getaffinity(0))
    canary = probes.HostCanary()
    canary.loop()

    spark = None
    try:
        # set-up, timed once: launch the JVM and start the session,
        # generate the inputs, read them and digest the expected outputs,
        # then one untimed job (checked like the timed ones) that pays the
        # first run's query planning, code generation and JIT compilation
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        jvm = probes.jvm_pid(spark)
        sc = spark.sparkContext
        log("session started")

        data = os.path.join(work, "data")
        summary = gen.generate(args.workload, args.seed, ROWS[args.workload],
                               data, cpus)
        wl = WORKLOADS[args.workload](spark, tracer, data,
                                      os.path.join(work, "out"), summary)
        wl.warm()
        log("inputs generated and digested")

        def job(k: int):
            """Free every cached block, run job ``k`` and check it:
            (wall, problems, result, GC deltas)."""
            probes.release_blocks(spark)
            gc.collect()
            wl.clear()
            wl.counters.clear()
            tracer.trace_id = k
            sc.setJobGroup(f"job-{k}", "job")
            gc0 = probes.gc_totals(spark)
            try:
                t = time.perf_counter()
                res = wl.run()
                wall = time.perf_counter() - t
                gc1 = probes.gc_totals(spark)
                log(f"job {k}: {wall:.3f} s")
                sc.setJobGroup(f"check-{k}", "output check")
                problems = wl.check(res)
                log(f"job {k} checked: {problems or 'ok'}")
            except Exception:
                traceback.print_exc()
                return 0.0, ["job raised"], None, None
            canary.loop()
            return wall, problems, res, (gc1[0] - gc0[0], gc1[1] - gc0[1])

        _, problems, _, _ = job(0)
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.3f} s")
        attempted, failed = 1, int(bool(problems))

        walls, sizes, layer_rows = [], [], []
        t_start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - t_start < args.seconds:
            k += 1
            attempted += 1
            wall, problems, res, gcd = job(k)
            if problems:
                failed += 1
                continue
            walls.append(wall)
            sizes.append(output_bytes(wl.out_dir))
            if args.trace:
                wl.layer_counters(res)
                layer_rows.append({
                    **wl.counters,
                    **probes.job_group_totals(sc, f"job-{k}"),
                    "jvm.gc_s": gcd[0],
                    "jvm.gc_count": gcd[1],
                    **layer_times(tracer, k, wall, wl.n_rows, wl.counters),
                })
        peak_rss = probes.vm_hwm_mb(jvm)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    n = ROWS[args.workload]
    rates = [n / w for w in walls]
    if args.trace:
        units = layer_units
        metrics = {m: statistics.median([r.get(m, 0.0) for r in layer_rows])
                   if layer_rows else 0.0 for m in units}
        metrics.update(canary.readings())
        metrics["jvm.peak_rss_mb"] = peak_rss
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_out",
                                 f"trace-{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "rows": n, "walls": walls})
    else:
        units = e2e_units
        q1, med, q3 = quartiles(rates) if rates else (0.0, 0.0, 0.0)
        log(f"rows_per_s median {med:.1f} q1 {q1:.1f} q3 {q3:.1f} "
            f"n={len(rates)}; failed_frac {failed / attempted:.3f}; "
            f"host {canary.readings()}")
        metrics = {
            "rows_per_s": med,
            "setup_s": setup_s,
            "sink_bytes_per_row": statistics.median(sizes) / n if sizes else 0.0,
            "ok_frac": (attempted - failed) / attempted,
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
