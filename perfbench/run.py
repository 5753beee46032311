"""Benchmark entry point.

    python3 perfbench/run.py --workload secure_lake --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds the KMS jar if needed, pins the
run environment (``local[nproc]``, driver memory below RAM, scratch and
Spark local dirs inside the checkout, ``PYTHONPATH`` for Python workers),
sets the workload up several times and reports the median, runs one
discarded warm-up pass and then closed-loop passes for ``--seconds`` (two
at least). The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Progress and machine state go to
stderr. Exits non-zero, printing no result, when the engine's sources are
not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("secure_lake", "dedup_pipeline")
# a run must finish well inside three minutes even when a pass is slow
HARD_STOP_S = 140.0
# untraced passes per run at least, so pass_s is a median of several
MIN_PASSES = 2
# Driver heap, fixed from start (-Xms = -Xmx) and far below RAM: a heap the
# JVM grows on demand makes peak RSS follow GC timing, not the workload.
HEAP_MB = 1536


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return (ROOT / "parquet_modular_encryption_spark").is_dir() and (
        ROOT / "scripts" / "build_kms_jar.sh"
    ).is_file()


def pin_environment(work: Path) -> None:
    """Environment for the driver, the JVM and the Python workers; must
    run before the first Spark session starts."""
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        PYTHONPATH=str(ROOT),
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{HEAP_MB}m",
        PYSPARK_PYTHON=sys.executable,
        # spark-submit's own launcher JVM: no perf-data or temp files in /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


@contextmanager
def spark_session(work: Path, app: str):
    """A ``local[nproc]`` session with the KMS jar (already built) on its
    classpath. Stops the session and the JVM behind it on exit, and waits
    for the JVM."""
    from pyspark import SparkContext

    from parquet_modular_encryption_spark.session import get_spark
    from parquet_modular_encryption_spark.sources import encrypted_native as en

    spark = get_spark(
        app,
        extra_conf=en.native_session_conf()
        | {
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP_MB}m -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    gateway = SparkContext._gateway
    try:
        yield spark
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on end of input
        gateway.proc.wait(timeout=60)


def make_workload(name: str):
    if name == "secure_lake":
        from perfbench.secure_lake import SecureLake

        return SecureLake()
    from perfbench.dedup_pipeline import DedupPipeline

    return DedupPipeline()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: the engine's sources are not under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = str(ROOT)  # import the engine and ``perfbench.*``, not this directory's modules
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        from parquet_modular_encryption_spark.sources.encrypted_native import build_jar
        from perfbench import harness

        build_jar()  # a build step, not set-up: compiles the KMS jar once per checkout
        machine0 = harness.machine_sample()
        t0 = time.perf_counter()
        with spark_session(work, f"perfbench-{args.workload}") as spark:
            wl = make_workload(args.workload)
            try:
                launch_s = time.perf_counter() - t0
                result = measure(spark, wl, work, args, launch_s, machine0)
            finally:
                wl.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(spark, wl, work: Path, args: argparse.Namespace, launch_s: float, machine0) -> dict:
    """Set ``wl`` up, warm it, run its passes and return the result
    object: end-to-end metrics untraced, per-layer metrics traced."""
    from perfbench import harness
    from perfbench.harness import Ctx, log, median
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.spans import SparkMeter, Tracer

    started = time.perf_counter()
    tracer = Tracer(enabled=False)
    ctx = Ctx(spark=spark, seed=args.seed, work=work, tracer=tracer, meter=SparkMeter(spark))
    setup_times = []
    for i in range(wl.setup_repeats):
        d = work / f"setup-{i}"
        t = time.perf_counter()
        wl.setup(ctx, d)
        setup_times.append(time.perf_counter() - t)
        if i + 1 < wl.setup_repeats:
            shutil.rmtree(d, ignore_errors=True)
    setup_s = launch_s + median(setup_times)
    log(f"launch {launch_s:.2f}s, setup runs {[round(t, 2) for t in setup_times]}")

    if args.trace:
        install_patches(tracer)
    try:
        untraced, traced, attempted, failed = _passes(ctx, wl, work, args, started)
        calib = wl.calibrate(ctx) if args.trace else {}
    finally:
        tracer.unpatch()

    steal1, total1 = harness.machine_sample()
    machine = {
        "machine.cpus": harness.cpu_count(),
        "machine.steal_pct": 100.0 * (steal1 - machine0[0]) / max(1, total1 - machine0[1]),
        "machine.loadavg_1m": harness.loadavg_1m(),
    }
    log(f"machine {machine}; passes {len(untraced)} untraced, {len(traced)} traced")
    repeats = {(r.kms["wrap"], r.kms["unwrap"], r.stored_ratio) for r in untraced + traced}
    if len(repeats) > 1:
        log(f"KMS counts or stored-bytes ratio differ between passes: {sorted(repeats)}")

    pass_s = median([r.seconds for r in untraced])
    if args.trace:
        log("spans " + json.dumps([s for r in traced for s in r.spans]))
        # a layer this workload does not exercise reports 0
        values = {name: 0.0 for name, _unit, _better in PER_LAYER}
        for name in traced[0].layers:
            values[name] = median([r.layers[name] for r in traced])
        t_pass = median([r.seconds for r in traced])
        values |= calib | machine
        values |= {
            "trace.pass_s": t_pass,
            "trace.untraced_pass_s": pass_s,
            "trace.overhead_s": t_pass - pass_s,
            "run.passes": len(untraced) + len(traced),
        }
        catalogue = [(n, u) for n, u, _better in PER_LAYER]
    else:
        kms = untraced[-1].kms
        values = {
            "pass_s": pass_s,
            "rows_per_s": wl.input_rows() / pass_s,
            "setup_s": setup_s,
            "kms_requests": kms["wrap"] + kms["unwrap"],
            "ok_rate": 1.0 - failed / attempted,
            "stored_bytes_ratio": untraced[-1].stored_ratio,
            "peak_rss_mb": harness.peak_rss_mb(spark._jvm.ProcessHandle.current().pid()),
        }
        catalogue = [(n, u) for n, u, _better, _bound in END_TO_END]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in catalogue},
    }


def _passes(ctx, wl, work: Path, args: argparse.Namespace, started: float):
    """The discarded warm-up pass, then the measured ones."""
    from perfbench.harness import log, run_pass

    warm = run_pass(ctx, wl, work / "pass-warmup", traced=False)
    attempted, failed = warm.attempted, warm.failed
    log(f"warm-up pass {warm.seconds:.2f}s, failed {warm.failed}")

    # Closed loop for --seconds and at least MIN_PASSES untraced passes. A
    # traced run alternates untraced and traced passes and ends on an
    # untraced one, so a pass-to-pass trend (the JIT still warming) cancels
    # out of the overhead estimate.
    untraced, traced = [], []
    t_measure = time.perf_counter()
    i = 0
    while True:
        trace_this = bool(args.trace) and i % 2 == 1
        r = run_pass(ctx, wl, work / f"pass-{i % 2}", traced=trace_this)
        (traced if trace_this else untraced).append(r)
        attempted += r.attempted
        failed += r.failed
        log(f"pass {i} {'traced' if trace_this else 'untraced'} {r.seconds:.3f}s kms {r.kms} failed {r.failed}")
        i += 1
        elapsed = time.perf_counter() - t_measure
        enough = (
            elapsed >= args.seconds
            and len(untraced) >= MIN_PASSES
            and (not args.trace or (traced and not trace_this))
        )
        if enough or time.perf_counter() - started > HARD_STOP_S:
            break
    return untraced, traced, attempted, failed


def install_patches(tracer) -> None:
    """Spans around the engine's public functions, including the calls
    the engine makes to them internally (they resolve module attributes
    at call time)."""
    from parquet_modular_encryption_spark.crypto import kms_core, kms_server
    from parquet_modular_encryption_spark.sources import encrypted, encrypted_native
    from parquet_modular_encryption_spark.streaming import ingest

    tracer.patch(kms_core, "wrap", "kms.wrap")
    tracer.patch(kms_core, "unwrap", "kms.unwrap")
    tracer.count_denials(kms_server, "can_unwrap")
    for attr in (
        "write_encrypted_native",
        "read_encrypted_native",
        "decrypting_scan",
        "pinned_decrypting_scan",
    ):
        tracer.patch(encrypted_native, attr)
    tracer.patch(encrypted, "write_encrypted")
    tracer.patch(ingest, "encrypted_stream_ingest")
    tracer.patch(ingest, "read_encrypted_batches")


if __name__ == "__main__":
    sys.exit(main())
