"""Closed-loop pass runner shared by the workloads.

One client runs one pass at a time; a pass runs the workload's ops in a
fixed order. Each op checks its own output and raises on a wrong answer, so
a failed op is counted and the run goes on. End-to-end numbers come from
untraced passes; a traced run alternates untraced and traced passes, takes
the per-layer numbers from the traced ones and reports the difference of
the two medians as the tracing overhead.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.metrics import DEDUP_QUERIES, OPS, SELF_LAYERS, SPARK_TOTALS
from perfbench.spans import SparkMeter, Tracer


class CheckFailed(AssertionError):
    """An op returned a result that differs from its reference."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def canon(rows) -> list[tuple]:
    """Order-insensitive exact form of a result: rows sorted by repr."""
    return sorted((tuple(r) for r in rows), key=repr)


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def parquet_files(path: Path) -> int:
    return sum(1 for _ in Path(path).rglob("*.parquet"))


# Spark hands Arrow writers batches of at most this many rows
# (spark.sql.execution.arrow.maxRecordsPerBatch, left at its default)
ARROW_BATCH_ROWS = 10_000


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    name: str  # one of metrics.OPS
    fn: Callable[[], None]


@dataclass
class Ctx:
    spark: object
    seed: int
    work: Path
    tracer: Tracer
    meter: SparkMeter
    op_stats: dict[str, dict[str, float]] = field(default_factory=dict)


class Workload:
    """Base class: subclasses fill in setup, the ops of one pass and the
    workload-specific per-layer numbers."""

    setup_repeats = 3

    def setup(self, ctx: Ctx, dirpath: Path) -> None:
        raise NotImplementedError

    def kms(self):
        """The KmsServer whose wire counters this workload reports."""
        raise NotImplementedError

    def begin_pass(self, ctx: Ctx, pass_dir: Path) -> None:
        """Each pass models one fresh job: empty KEK caches and counters."""
        ctx.spark._jvm.org.apache.parquet.crypto.keytools.KeyToolkit.removeCacheEntriesForAllTokens()
        self.kms().reset_counters()

    def ops(self, ctx: Ctx, pass_dir: Path) -> list[Op]:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def files_touched(self, pass_dir: Path) -> int:
        """Encrypted files one pass wrote or read."""
        raise NotImplementedError

    def stored_bytes_ratio(self, pass_dir: Path) -> float:
        raise NotImplementedError

    def layer_metrics(self, ctx: Ctx, pass_dir: Path) -> dict[str, float]:
        """Workload-specific per-layer counts of one traced pass."""
        return {}

    def calibrate(self, ctx: Ctx) -> dict[str, float]:
        """Traced-run-only calibration ops (plain twins)."""
        return {}

    def close(self) -> None:
        pass


@dataclass
class PassResult:
    seconds: float
    attempted: int
    failed: int
    kms: dict
    stored_ratio: float
    layers: dict[str, float] = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)


def run_pass(ctx: Ctx, wl: Workload, pass_dir: Path, traced: bool) -> PassResult:
    shutil.rmtree(pass_dir, ignore_errors=True)
    pass_dir.mkdir(parents=True)
    tracer = ctx.tracer
    tracer.enabled = traced
    tracer.reset()
    ctx.op_stats = defaultdict(lambda: defaultdict(float))
    wl.begin_pass(ctx, pass_dir)
    attempted = failed = 0
    op_seconds: list[tuple[str, float]] = []
    sc = ctx.spark.sparkContext
    t0 = time.perf_counter()
    for op in wl.ops(ctx, pass_dir):
        attempted += 1
        tracer.op_id += 1
        before = ctx.meter.last_job_id() if traced else 0
        if traced:
            sc.setJobGroup(f"op-{tracer.op_id}-{op.name}", op.name)
        t_op = time.perf_counter()
        try:
            with tracer.span(f"op.{op.name}"):
                op.fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            failed += 1
            log(f"op {op.name} failed: {type(exc).__name__}: {str(exc)[:400]}")
            if not isinstance(exc, CheckFailed):
                traceback.print_exc(file=sys.stderr)
        finally:
            op_seconds.append((op.name, time.perf_counter() - t_op))
            if traced:
                sc.setJobGroup("", "")
                for k, v in ctx.meter.window(before).items():
                    ctx.op_stats[op.name][k] += v
    seconds = time.perf_counter() - t0
    tracer.enabled = False
    log("ops " + " ".join(f"{name}={s:.2f}" for name, s in op_seconds))
    kms = dict(wl.kms().counters)
    result = PassResult(seconds, attempted, failed, kms, wl.stored_bytes_ratio(pass_dir))
    if traced:
        result.layers = _layers(ctx, wl, pass_dir, kms, seconds)
        result.spans = tracer.dump()
    return result


def _layers(ctx: Ctx, wl: Workload, pass_dir: Path, kms: dict, seconds: float) -> dict[str, float]:
    tr, stats = ctx.tracer, ctx.op_stats
    totals: dict[str, float] = defaultdict(float)
    for op_stats in stats.values():
        for k, v in op_stats.items():
            totals[k] += v

    def wall_pct(*spans: str) -> float:
        return 100.0 * sum(tr.total(s) for s in spans) / seconds

    def pct(part: float, whole: float) -> float:
        return 100.0 * part / whole if whole else 0.0

    files = wl.files_touched(pass_dir)
    out: dict[str, float] = {
        "kms.wrap_calls": kms["wrap"],
        "kms.unwrap_calls": kms["unwrap"],
        "kms.denied_calls": tr.denied,
        "kms.calls_per_file": (kms["wrap"] + kms["unwrap"]) / files if files else 0.0,
        "kms.busy_pct": wall_pct("kms.wrap", "kms.unwrap"),
        "encrypted_native.write_pct": wall_pct("encrypted_native.write_encrypted_native"),
        "encrypted_native.scan_pct": wall_pct("encrypted_native.decrypting_scan"),
        "encrypted_native.pin_pct": wall_pct("encrypted_native.read_encrypted_native"),
        "encrypted.write_pct": wall_pct("encrypted.write_encrypted"),
        "encrypted.read_pct": wall_pct("encrypted.read"),
        "ingest.stream_pct": wall_pct("ingest.encrypted_stream_ingest"),
        "numeric.report_cpu_pct": pct(stats.get("report", {}).get("executor_cpu_s", 0.0), totals["executor_cpu_s"]),
        "numeric.join_cpu_pct": pct(stats.get("join", {}).get("executor_cpu_s", 0.0), totals["executor_cpu_s"]),
    }
    for q in DEDUP_QUERIES:
        out[f"dedup.{q}.build_pct"] = wall_pct(f"dedup.{q}.build")
        out[f"dedup.{q}.exec_pct"] = wall_pct(f"dedup.{q}.exec")
        out[f"dedup.{q}.jobs"] = stats.get(q, {}).get("jobs", 0.0)
        out[f"dedup.{q}.build_jobs"] = stats.get(q, {}).get("build_jobs", 0.0)
    for m, _unit in SPARK_TOTALS:
        out[f"spark.{m}"] = totals.get(m, 0.0)
    out["spark.storage_bytes_after_pass"] = ctx.meter.storage_bytes()
    for op in OPS:
        op_stats = stats.get(op, {})
        out[f"spark.op.{op}.executor_run_pct"] = pct(op_stats.get("executor_run_s", 0.0), totals["executor_run_s"])
        out[f"spark.op.{op}.executor_cpu_pct"] = pct(op_stats.get("executor_cpu_s", 0.0), totals["executor_cpu_s"])
        out[f"spark.op.{op}.shuffle_write_bytes"] = op_stats.get("shuffle_write_bytes", 0.0)
    self_time = tr.self_time()
    for layer in SELF_LAYERS:
        out[f"self_pct.{layer}"] = pct(self_time.get(layer, 0.0), seconds)
    out.update(wl.layer_metrics(ctx, pass_dir))
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def machine_sample() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat's aggregate line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return math.nan


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def plain_arrow_write(table, path: Path, level: int, page_version: str) -> None:
    """One plain file written the way ``sources.encrypted.write_encrypted``
    writes an encrypted one (the same Arrow writer, codec, level, page
    version and record batches), minus encryption. Its bytes are the plain
    side of ``stored_bytes_ratio``."""
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    with pq.ParquetWriter(
        path, table.schema, compression="zstd", compression_level=level, data_page_version=page_version
    ) as writer:
        for batch in table.to_batches(max_chunksize=ARROW_BATCH_ROWS):
            writer.write_batch(batch)


def plain_native_write(df, path: str, level: int, page_version: str, extra: dict | None = None) -> None:
    """Spark's own parquet writer with the codec settings
    ``write_encrypted_native`` applies, minus the crypto factory."""
    writer = (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", str(level))
        .option("parquet.writer.version", "PARQUET_2_0" if page_version == "2.0" else "PARQUET_1_0")
    )
    for k, v in (extra or {}).items():
        writer = writer.option(k, v)
    writer.parquet(path)


def is_denial(exc: BaseException) -> bool:
    """A KMS 403 as parquet-mr surfaces it through Spark."""
    text = str(exc)
    return "KeyAccessDenied" in text or "not authorized" in text
