"""Extraction + evaluation benchmark.

    python3 perfbench/run.py --workload crawl_eval --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs the engine on
``local[<nproc>]`` as a closed loop with one client: each repetition
starts after the previous one has finished and its output was checked.

* set-up (``setup_s``): input generation and parquet write, Spark
  session start, and one warm-up repetition;
* the expected output is built from direct calls to the ``algo``
  functions before the session starts, and the warm-up's output is
  checked against it; neither is part of ``setup_s``;
* timed section: repetitions until ``--seconds`` have passed (at least
  one); ``wall_s`` is their median;
* ``--trace 1``: after the timed section, one more untraced repetition
  and then a traced one, which records spans, the Spark status store
  and in-process algo timings; the run prints the layer table and
  reports the per-layer metrics.

The last line of standard output is the JSON result. Metric names and
units come from BENCHMARK.json. Scratch files go to
``.perfbench_work/`` under the working directory and are removed at
exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def capacity_mops(seconds: float = 0.25) -> float:
    """Single-core Python capacity probe: million loop steps per
    second. Recorded as context only; no timing is scaled by it."""
    n = 0
    end = time.perf_counter() + seconds
    t0 = time.perf_counter()
    while time.perf_counter() < end:
        for _ in range(10_000):
            n += 1
    return n / (time.perf_counter() - t0) / 1e6


def start_spark(work: str, cores: int):
    """The program's own session (``get_spark``) on ``local[cores]``,
    with every scratch path kept inside ``work``. ``SPARK_LOCAL_DIRS``
    moves shuffle files from ``get_spark``'s /dev/shm default into
    ``work``, as a run may write only inside its working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    from text_extraction_evaluation_spark.sources.readers import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM PySpark launched and its Python
    workers, waiting until each has ended."""
    from pyspark import SparkContext

    workers = tr.pyspark_worker_pids()
    jvm = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def timed_loop(wl, seconds: float) -> tuple[list[float], int, list[str]]:
    walls: list[float] = []
    failed = 0
    errors: list[str] = []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        try:
            result = wl.run()
            wall = time.perf_counter() - t0
            errs = wl.check(result)
            wl.discard(result)
        except Exception:  # a failed repetition is counted, not fatal
            wall = time.perf_counter() - t0
            errs = [traceback.format_exc(limit=3)]
        walls.append(wall)
        if errs:
            failed += 1
            errors += errs
    return walls, failed, errors


def traced_run(wl, spark, cores: int) -> tuple[dict, list[tuple], list[str]]:
    """One untraced repetition, then the traced one right after it: the
    JVM is still speeding up over its first repetitions, so the
    overhead is taken between neighbours, not against ``wall_s``."""
    walls, _failed, errors = timed_loop(wl, 0)
    untraced_wall = walls[0]
    tracer = tr.Tracer(spark.sparkContext, f"trace-{os.getpid()}")
    store = tr.StatusStore(spark)
    with tracer.span("repetition") as root_span:
        result = wl.run(tracer)
    errors += wl.check(result)
    groups = {s.group for s in tracer.leaves()}
    snap = store.snapshot(groups)
    metrics, intervals = wl.layer_metrics(snap, tracer, result)
    wl.discard(result)
    pages, pairs = wl.algo_inputs()
    metrics.update(tr.algo_metrics(pages, pairs))
    metrics.update(tr.engine_metrics(snap, root_span.seconds, cores))
    metrics["python.worker_peak_rss_mb"] = tr.python_worker_peak_rss_mb()

    self_times = tr.layer_self_times(root_span, tracer.leaves(), intervals)
    layer_sum = sum(v for k, v in self_times.items() if k != "bench.glue")
    metrics.update({
        "trace.wall_s": root_span.seconds,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": root_span.seconds - untraced_wall,
        "trace.layer_sum_s": layer_sum,
        "trace.reconcile_frac": layer_sum / untraced_wall,
        "trace.residue_s": self_times.get("bench.glue", 0.0),
    })
    rows = sorted(self_times.items(), key=lambda kv: -kv[1])
    return metrics, [(k, v, v / root_span.seconds) for k, v in rows], errors


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    sys.path.insert(0, ROOT)
    try:
        with open(spec_path) as f:
            spec = json.load(f)
        import pyspark  # noqa: F401
        import text_extraction_evaluation_spark  # noqa: F401
    except (OSError, ImportError) as exc:
        log(f"perfbench: cannot run here: {exc}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        host = {"nproc": cores, "python": platform.python_version(),
                "capacity_before_mops": capacity_mops()}

        wl = WORKLOADS[args.workload](work, args.seed, cores)
        t0 = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.build_expected()
        expected_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = wl.spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        t0 = time.perf_counter()
        result = wl.run()
        warm_s = time.perf_counter() - t0
        setup_s = inputs_s + session_s + warm_s
        setup_errors = wl.check(result) + wl.check_operators()
        wl.discard(result)

        walls, failed, errors = timed_loop(wl, args.seconds)
        if setup_errors:  # a wrong warm-up or operator output makes every repetition wrong
            failed = len(walls)
        errors = setup_errors + errors
        wall_s = statistics.median(walls)

        layer_rows = []
        if args.trace:
            layer, layer_rows, trace_errors = traced_run(wl, spark, cores)
            errors += trace_errors
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run is using it
            os.rmdir(os.path.dirname(work))
    host["capacity_after_mops"] = capacity_mops()

    for e in errors[:10]:
        log(f"perfbench: check failed: {e}")
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "docs_per_s": wl.docs / wall_s,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    attempted = len(walls)
    print(f"host {json.dumps(host, sort_keys=True)}")
    print(f"{args.workload}: setup_s {setup_s:.3f} s (inputs {inputs_s:.3f}, "
          f"session {session_s:.3f}, warm-up {warm_s:.3f}; expected output built "
          f"apart in {expected_s:.3f} s)")
    print(f"{args.workload}: wall_s {wall_s:.4f} s (median of n={attempted}: "
          f"{', '.join(f'{w:.3f}' for w in walls)})")
    print(f"{args.workload}: docs_per_s {end_to_end['docs_per_s']:.2f} 1/s ({wl.docs} input docs)")
    print(f"{args.workload}: runs_failed_frac {failed / attempted:.4f} frac ({failed}/{attempted})")
    if args.trace:
        print(f"{args.workload}: layer self times of one traced repetition "
              f"({layer['trace.wall_s']:.3f} s; the untraced one before it "
              f"{layer['trace.untraced_wall_s']:.3f} s)")
        for name, s, frac in layer_rows:
            print(f"  {name:<42} {s:9.4f} s {100 * frac:6.1f}%")
        print(f"  layer sum / untraced wall_s = {layer['trace.reconcile_frac']:.3f}; "
              f"residue bench.glue = {layer['trace.residue_s']:.4f} s; "
              f"tracing overhead = {layer['trace.overhead_s']:+.4f} s")
        names = [m["name"] for m in spec["per_layer"]]
        values = {n: layer.get(n, 0.0) for n in names}
        for n in names:
            if n not in layer:
                why = wl.UNMEASURED.get(n, "the layer is not on this workload's path")
                print(f"  {n} = 0: {why}")
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = end_to_end
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
