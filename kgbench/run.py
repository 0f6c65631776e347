"""KG-construction benchmark: one workload per driver process.

    python3 kgbench/run.py --workload crawl_batches --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Set-up generates the seeded inputs as
parquet, starts a fresh ``local[<cores>]`` session and warms it up with
a small dictionary build.  The timed phase is a closed
loop of the workload's operations (see ``workloads.py``); correctness
gates run after it.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` tags every
span's Spark jobs with a job group, turns on the Python UDF profiler and
reports the per-layer metrics read from Spark's status stores
(``layers.py``).  Spans of the run are written to
``.kgbench_out/<workload>-seed<seed>-trace<t>.spans.jsonl``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
metric names and units come from BENCHMARK.json at the checkout root.
Lines above it show each metric with its samples.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_metrics() -> dict:
    """``{"end_to_end" | "per_layer": {name: unit}}`` from the
    benchmark's declaration in BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def start_session(work: str, cores: int, traced: bool):
    from graphgen_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no JVM perf-data file under /tmp; temp files in the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    spark = get_spark(master=f"local[{cores}]", app_name="kgbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tail_percentile(samples: list) -> str:
    """Highest of p50/p90/p99 with at least ten samples beyond it."""
    n = len(samples)
    best = None
    for p in (50, 90, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return f"n={n}, no tail percentile (needs more than 10 samples)"
    v = statistics.quantiles(samples, n=100)[best - 1]
    return f"n={n}, p{best}={v:.4f}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graphgen_spark")):
        print(f"graphgen_spark not found under {ROOT}", file=sys.stderr)
        return 2
    declared = declared_metrics()
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import RssSampler, Tracer, cpu_times, steal_share

    cpu_start = cpu_times()

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".kgbench_work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".kgbench_out")
    for d in ("tmp", "spark-local", "in", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import graphgen_spark too; everything temporary
    # stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM, like the driver JVM, writes no
    # perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"),
                      "-XX:-UsePerfData"]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, work)
    tr = Tracer(run_id, traced=traced)
    spark = None
    rss = None
    try:
        with tr.span("inputs.generate"):
            wl.prepare()
        with tr.span("session.start"):
            spark = start_session(work, cores, traced)
        from pyspark import SparkContext

        rss = RssSampler(SparkContext._gateway.proc.pid).start()
        tr.sc = spark.sparkContext
        with tr.span("session.warmup"):
            wl.warm_up(spark, tr)
        if traced:
            spark.profile.clear()
        setup_s = time.perf_counter() - T_START
        epoch_offset = time.time() - time.perf_counter()
        with tr.span("timed"):
            wl.timed(spark, tr)
        rss.stop()
        layers = None
        if traced:
            from layers import layer_metrics

            with tr.span("trace.read"):
                layers = layer_metrics(spark, tr, wl, epoch_offset)
        tr.sc = None
        with tr.span("check"):
            wl.check(spark)
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    tr.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))

    if len(wl.ops) < wl.min_ops:
        print(f"only {len(wl.ops)} operations completed", file=sys.stderr)
        return 1
    e2e = wl.end_to_end()
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss.peak_bytes / (1 << 20)
    samples = e2e.pop("_batch_samples")

    print(f"# {run_id}: {len(wl.ops)} {wl.op_name} operations on "
          f"local[{cores}], {wl.attempted} attempted, {wl.failed} failed "
          f"(ops_failed_ratio {wl.failed / max(wl.attempted, 1):.4f})")
    print(f"#   timed phase wall {tr.wall(tr.by_name('timed')[0]):.4f} s; "
          f"host CPU steal during the run "
          f"{100 * steal_share(cpu_start, cpu_times()):.1f}%")
    print(f"#   {'batch_s.p50 samples':<20} "
          f"[{tail_percentile(samples)}]")
    kind = "per_layer" if traced else "end_to_end"
    values = layers if traced else e2e
    units = declared[kind]
    if set(values) != set(units):
        print(f"{kind} metrics differ from BENCHMARK.json: measured only "
              f"{sorted(set(values) - set(units))}, declared only "
              f"{sorted(set(units) - set(values))}", file=sys.stderr)
        return 1
    if traced:
        from layers import MOVES

        for name in sorted(values):
            v = values[name]
            moves, where = MOVES[name]
            shown = "missing" if v is None else f"{v:.4f}"
            print(f"#   {name:<40} {shown:>16} {units[name]:<6}"
                  f" -> {moves} ({where})")
    else:
        for name in units:
            print(f"#   {name:<20} {values[name]:>14.4f} {units[name]}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
