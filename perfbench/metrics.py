"""The benchmark's metric catalogue: every name it prints, with unit and
direction. ``BENCHMARK.json`` carries the same lists (``python3
perfbench/selftest.py`` checks that they agree).

End-to-end metrics are printed by every untraced run, per-layer metrics by
every traced run. A layer a workload does not exercise reports 0, so one
metric name means the same thing on every workload.

Per-layer time is attributed as a share of the traced pass, in percent, as
Chukonu attributes a query's time to its layers: ``*_pct`` of a span is its
share of the pass's wall time, ``*_cpu_pct`` and ``executor_*_pct`` are
shares of the pass's executor CPU and run time. Shares compare across
workloads whose passes differ in length; seconds for any layer are its share
times ``trace.pass_s`` (or the ``spark.executor_*_s`` totals).
"""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median by
# which the metric may worsen before a change counts as a regression. Failed
# ops are reported as ok_rate = 1 - failed/attempted, because a metric whose
# healthy value is 0 cannot carry a bound relative to its median.
END_TO_END = (
    ("pass_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("kms_requests", "count", "lower", 0.05),
    ("ok_rate", "ratio", "higher", 0.01),
    ("stored_bytes_ratio", "ratio", "lower", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.2),
)

DEDUP_QUERIES = (
    "q55d_allpairs_sparse_grouped",
    "q49f_jaccard_grouped_encrypted",
    "q57d_cc_two_phase",
)

# op types whose Spark stage metrics are reported one by one
OPS = (
    "report",
    "join",
    "lookup",
    "pinned",
    "probe",
    "stream",
    "readback",
    "native_load",
    *DEDUP_QUERIES,
)

SPARK_TOTALS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("input_bytes", "bytes"),
    ("gc_s", "s"),
    ("storage_bytes_after_pass", "bytes"),
)
SPARK_PER_OP = (("executor_run_pct", "%"), ("executor_cpu_pct", "%"), ("shuffle_write_bytes", "bytes"))

# layers with spans, for self time (``op`` is time inside an op that no
# layer span covers: the benchmark's own Spark actions and checks)
SELF_LAYERS = ("op", "kms", "encrypted_native", "encrypted", "ingest", "dedup")


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    rows = [
        ("kms.wrap_calls", "count", "lower"),
        ("kms.unwrap_calls", "count", "lower"),
        ("kms.denied_calls", "count", "lower"),
        ("kms.calls_per_file", "ratio", "lower"),
        ("kms.busy_pct", "%", "lower"),
        ("encrypted_native.write_pct", "%", "lower"),
        ("encrypted_native.files_written", "count", "lower"),
        ("encrypted_native.write_vs_plain", "ratio", "lower"),
        ("encrypted_native.scan_pct", "%", "lower"),
        ("encrypted_native.pin_pct", "%", "lower"),
        ("encrypted_native.scan_vs_plain", "ratio", "lower"),
        ("encrypted.write_pct", "%", "lower"),
        ("encrypted.read_pct", "%", "lower"),
        ("encrypted.files_written", "count", "lower"),
        ("ingest.batches", "count", "lower"),
        ("ingest.stream_pct", "%", "lower"),
        ("numeric.report_cpu_pct", "%", "lower"),
        ("numeric.join_cpu_pct", "%", "lower"),
    ]
    for q in DEDUP_QUERIES:
        rows += [
            (f"dedup.{q}.build_pct", "%", "lower"),
            (f"dedup.{q}.exec_pct", "%", "lower"),
            (f"dedup.{q}.jobs", "count", "lower"),
            (f"dedup.{q}.build_jobs", "count", "lower"),
        ]
    rows += [(f"spark.{m}", unit, "lower") for m, unit in SPARK_TOTALS]
    for op in OPS:
        rows += [(f"spark.op.{op}.{m}", unit, "lower") for m, unit in SPARK_PER_OP]
    rows += [(f"self_pct.{layer}", "%", "lower") for layer in SELF_LAYERS]
    rows += [
        ("trace.pass_s", "s", "lower"),
        ("trace.untraced_pass_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("run.passes", "count", "higher"),
        ("machine.cpus", "count", "higher"),
        ("machine.steal_pct", "%", "lower"),
        ("machine.loadavg_1m", "count", "lower"),
    ]
    return tuple(rows)


PER_LAYER = _per_layer()
