"""zoi-spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload validate_pages --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the seeded corpus
under ``.perfbench_work/``, starts one driver on ``local[n]`` with
n = min(4, cores), sets up once (timed from process start), runs one
cold operation and the workload's warm-up operations, then repeats the
operation for ``--seconds`` and checks every output against the corpus
oracle. The last stdout line
is one JSON object: ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a run whose operations
alternate untraced and traced (names and units come from
BENCHMARK.json). See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "1g"
PR_SET_CHILD_SUBREAPER = 36
# zoi_spark modules whose self time per traced operation is reported
LAYERS = ("compile", "validate", "tablechecks", "runner", "pipeline",
          "text", "dedup")


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def load_corpus(seed: int, rows: int):
    """Generate in a child process, so the driver's peak memory does not
    depend on whether the corpus was cached."""
    import corpus

    code = (f"import sys; sys.path.insert(0, {HERE!r}); import corpus; "
            f"corpus.load({seed}, {rows}, {WORK!r})")
    done = subprocess.run([sys.executable, "-c", code], timeout=600)
    if done.returncode != 0:
        raise RuntimeError(f"corpus generation failed ({done.returncode})")
    return corpus.load(seed, rows, WORK)


def adopt_orphans() -> None:
    """Become the parent of every orphaned descendant (the launcher shell
    the JVM leaves behind, Spark's Python workers once the JVM is gone),
    so reap_children can wait for each to end."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(entry))
    return out


def reap_children(grace_s: float = 5.0) -> None:
    """Wait for every child to end: give them ``grace_s`` to exit on their
    own, then SIGTERM, then SIGKILL. Children of a killed child are
    adopted and handled in the next pass."""
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.02)


def start_session():
    from pyspark.sql import SparkSession

    cores = min(4, os.cpu_count() or 1)
    local = os.path.join(WORK, "spark-local")
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(WORK, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, if it was started, then the JVM it runs in, and wait
    for it to exit. Safe to call more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def percentile_line(xs: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return f"n={n}, no percentile has 10 samples beyond it"
    p = int(100 * (n - 10) / n)
    q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return f"n={n}, p{p}={q:.4f}s"


def main() -> int:
    """Run one workload; on every way out, stop the JVM and wait for every
    process the run started."""
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run()
    finally:
        try:
            stop_jvm()
        finally:
            reap_children()


def run() -> int:
    started = process_start_epoch()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metric_spec = spec["per_layer" if args.trace else "end_to_end"]

    # the package under test is imported from this checkout, in the
    # driver and in the Python workers Spark starts
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temporary files (the gateway's connection file among them) stay in
    # the checkout
    tempfile.tempdir = os.path.join(WORK, "tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}")
    if importlib.util.find_spec("zoi_spark") is None:
        print(f"zoi_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    import probe
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    t0 = time.time()
    corpus = load_corpus(args.seed, wl.rows)
    corpus_s = time.time() - t0
    input_bytes = probe.dir_bytes(corpus.path)
    out_dir = os.path.join(WORK, "out", wl.name)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    attempted = failed = 0
    problems: list[str] = []

    def run_op(ctx, op_id: str, traced: bool):
        nonlocal attempted, failed
        wl.prepare(ctx)
        attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.op(op_id, traced):
                result = wl.op(ctx)
            seconds = time.perf_counter() - t0
            errs = wl.check(ctx, result)
        except Exception:   # a failed operation is counted, not fatal
            result, seconds = None, time.perf_counter() - t0
            errs = [traceback.format_exc()]
        if errs:
            failed += 1
            problems.extend(f"{op_id}: {e}" for e in errs)
        return seconds, result

    # -- set-up, timed from process start (corpus generation excluded) ---
    spark = start_session()
    tracer = probe.Tracer(spark.sparkContext)
    ctx = workloads.Ctx(spark, tracer, corpus, out_dir)
    with tracer.op("setup", bool(args.trace)):
        wl.setup(ctx)
    setup_s = time.time() - started - corpus_s

    # -- the first operation of the process, warm-up, then the timed ones --
    cold_op_s, last = run_op(ctx, f"{wl.name}#cold", False)
    for j in range(wl.warm_ops):
        run_op(ctx, f"{wl.name}#warm{j}", False)
    once = wl.run_once_checks(ctx)
    attempted += 1
    failed += bool(once)
    problems += once

    if args.trace:
        wl.trace_wraps(ctx, tracer)
    times = {False: [], True: []}
    t_begin = time.perf_counter()
    i = 0
    # a traced run needs one untraced and one traced operation
    min_ops = 2 if args.trace else 1
    while time.perf_counter() - t_begin < args.seconds or i < min_ops:
        traced = bool(args.trace) and i % 2 == 1
        seconds, result = run_op(ctx, f"{wl.name}#{i}", traced)
        times[traced].append(seconds)
        last = result or last
        i += 1
    if args.trace:
        probed = wl.probe(ctx)
        attempted += 1
        failed += bool(probed)
        problems += probed
        tracer.collect_jobs()
    written = wl.output_bytes(ctx)
    from pyspark import SparkContext
    peak_rss_mb = (probe.vm_hwm_mb()
                   + probe.vm_hwm_mb(SparkContext._gateway.proc.pid))

    op_s_p50 = statistics.median(times[False])
    values = {
        "setup_s": setup_s,
        "cold_op_s": cold_op_s,
        "op_s_p50": op_s_p50,
        "docs_per_s": corpus.rows / op_s_p50,
        "peak_rss_mb": peak_rss_mb,
        "write_amp": written / input_bytes,
    }
    if args.trace:
        values = {}
        if last is not None:
            values = wl.layer_metrics(ctx, tracer, last)
        for layer, s in tracer.self_times(wl.name).items():
            if layer in LAYERS:
                values[f"self_s.{layer}"] = s
        values["trace.op_s_p50"] = statistics.median(times[True])
        values["trace.overhead_s"] = (values["trace.op_s_p50"] - op_s_p50)
        tracer.dump(os.path.join(WORK, f"trace_{wl.name}.json"))
    stop_jvm()

    print(f"workload {wl.name}: seed {args.seed}, {corpus.rows} pages, "
          f"{input_bytes} input bytes")
    print(f"op_s_p50 over {len(times[False])} untraced operations; "
          f"{percentile_line(times[False])}; samples: "
          f"{', '.join(f'{s:.3f}' for s in times[False])}")
    print(f"failed_ops_ratio: {failed / attempted:.4f} "
          f"({failed} of {attempted})")
    for p in problems:
        print("FAILED", p, file=sys.stderr)
    units = {m["name"]: m["unit"] for m in metric_spec}
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    # a layer this workload does not call reads 0
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
