"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

They check that generated inputs depend only on the seed, that the metric
names a run prints are the ones ``BENCHMARK.json`` declares, that KMS round
trips and the stored-bytes ratio repeat exactly from pass to pass at a tiny
scale, that a must-deny probe run with a permissive token counts as a
failure, and that the benchmark refuses to run without the engine's sources
beside it. The Spark-backed tests share one session and take a few minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[0] = str(ROOT)

from perfbench import dedup_pipeline, gen, harness, lake_ingest, lake_scan, run  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.spans import SparkMeter, Tracer  # noqa: E402

WORK = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"


def test_inputs_depend_only_on_seed() -> None:
    makers = (
        lambda s: gen.lineitem(s, 500),
        lambda s: gen.customer(s, 100),
        lambda s: gen.orders(s, 500, 100),
        lambda s: gen.documents(s, 60),
    )
    for make in makers:
        assert make(7).equals(make(7))
        assert not make(7).equals(make(8))


def test_catalogue_matches_benchmark_json() -> None:
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == list(PER_LAYER)
    assert tuple(w["name"] for w in doc["workloads"]) == run.WORKLOADS


def test_refuses_without_engine() -> None:
    """Beside only BENCHMARK.json and its own files the benchmark exits
    non-zero and prints no result."""
    bare = WORK / "bare"
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    argv = ["perfbench/run.py", "--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run([sys.executable, *argv], cwd=bare, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0, proc.returncode
    assert not proc.stdout.strip(), proc.stdout


def spark_tests(spark) -> None:
    """Tiny-scale runs of every workload in one session."""
    lake_scan.N_ORDERS, lake_ingest.N_ORDERS, dedup_pipeline.N_DOCS = 2_000, 500, 40
    for name in run.WORKLOADS:
        wl = run.make_workload(name)
        wl.setup_repeats = 1
        try:
            check_printed_names(spark, wl, name)
            check_repeats(spark, wl, name)
            if name == "secure_lake":
                check_permissive_probe_fails(spark, wl)
        finally:
            wl.close()


def check_printed_names(spark, wl, name: str) -> None:
    for trace, catalogue in ((0, END_TO_END), (1, PER_LAYER)):
        args = argparse.Namespace(seed=3, seconds=0.0, trace=trace)
        result = run.measure(spark, wl, WORK / f"{name}-{trace}", args, 0.0, harness.machine_sample())
        assert result["correct"], result
        assert list(result["metrics"]) == [row[0] for row in catalogue]
        assert all(isinstance(m["value"], float) for m in result["metrics"].values())


def check_repeats(spark, wl, name: str) -> None:
    """KMS round trips and the stored-bytes ratio repeat exactly."""
    ctx = harness.Ctx(spark=spark, seed=4, work=WORK, tracer=Tracer(False), meter=SparkMeter(spark))
    wl.setup(ctx, WORK / f"{name}-repeat")
    passes = [harness.run_pass(ctx, wl, WORK / f"{name}-pass-{i}", traced=False) for i in range(3)]
    assert all(p.failed == 0 for p in passes)
    # the first pass may write state later passes reuse (q49f's encrypted corpus)
    assert passes[1].kms == passes[2].kms, [p.kms for p in passes]
    assert passes[1].stored_ratio == passes[2].stored_ratio, [p.stored_ratio for p in passes]
    assert sum(passes[2].kms.values()) > 0


def check_permissive_probe_fails(spark, wl) -> None:
    """A must-deny probe that is served counts as a failed op."""
    ctx = harness.Ctx(spark=spark, seed=5, work=WORK, tracer=Tracer(False), meter=SparkMeter(spark))
    wl.setup(ctx, WORK / "probe")
    wl.probe_token = "RESTRICTED"
    try:
        result = harness.run_pass(ctx, wl, WORK / "probe-pass", traced=False)
    finally:
        wl.probe_token = "PUBLIC"
    assert result.failed == 2, result.failed


def main() -> int:
    if not run.engine_present():
        print("selftest: run it from a checkout that holds the engine", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    run.pin_environment(WORK)
    from parquet_modular_encryption_spark.sources.encrypted_native import build_jar

    build_jar()
    tests = [test_inputs_depend_only_on_seed, test_catalogue_matches_benchmark_json, test_refuses_without_engine]
    failed = 0
    try:
        for test in tests:
            failed += _report(test.__name__, test)
        with run.spark_session(WORK, "perfbench-selftest") as spark:
            failed += _report("spark_tests", lambda: spark_tests(spark))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"selftest: {failed} failed" if failed else "selftest: all passed")
    return 1 if failed else 0


def _report(name: str, fn) -> int:
    try:
        fn()
    except Exception:  # noqa: BLE001 - report every failing test, then exit non-zero
        print(f"FAIL {name}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return 1
    print(f"ok   {name}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
