"""The write-mostly half of ``secure_lake``: both PME writers.

Setup splits a generated ``lineitem`` into micro-batch files and writes
plain twins of everything the ops write encrypted, with the same codec,
level and page version (the plain side of ``stored_bytes_ratio``).

Ops: the micro-batches arrive through ``encrypted_stream_ingest``
(the Arrow writer on Python workers, one file per batch), a RESTRICTED
``read_encrypted_batches`` read-back is checked against the source's row
count and checksums, and a native bulk load of the same rows goes through
``write_encrypted_native`` (zstd-19, DataPage v2) and is read back the
same way.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
from parquet_modular_encryption_spark.sources import encrypted_native as en
from parquet_modular_encryption_spark.streaming import ingest
from perfbench import gen
from perfbench.harness import (
    Ctx,
    Op,
    check,
    parquet_bytes,
    parquet_files,
    plain_arrow_write,
    plain_native_write,
)
from perfbench.lake_scan import LINEITEM_POLICY

N_ORDERS = 7_500  # about 30k lineitem rows
N_BATCHES = 6
NATIVE_FILES = 4
# the writers' defaults, which follow the reference: zstd-19, DataPage v2
LEVEL, PAGE_VERSION = 19, "2.0"


def summary(df: DataFrame) -> tuple:
    """Row count and two order-free checksums over every column."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum("l_orderkey"),
        F.sum(F.hash(*sorted(df.columns)).cast("bigint")),
    ).collect()[0]
    return tuple(row)


class IngestPart:
    """The write-mostly half of ``secure_lake``: inputs, ops and checks."""

    def __init__(self, kms: KmsServer) -> None:
        self.kms = kms

    def setup(self, ctx: Ctx, d: Path) -> None:
        spark = ctx.spark
        table = gen.lineitem(ctx.seed, N_ORDERS)
        self.rows = table.num_rows
        self.src = d / "src"
        self.src.mkdir(parents=True)
        step = -(-table.num_rows // N_BATCHES)
        for b in range(N_BATCHES):
            pq.write_table(table.slice(b * step, step), self.src / f"batch-{b:03d}.parquet")
        self.expect = summary(spark.read.parquet(str(self.src)))
        plain = d / "plain"
        for f in sorted(self.src.iterdir()):
            plain_arrow_write(pq.read_table(f), plain / "stream" / f.name, LEVEL, PAGE_VERSION)
        plain_native_write(self.bulk(spark), str(plain / "native"), LEVEL, PAGE_VERSION)
        self.plain_bytes = parquet_bytes(plain)

    def bulk(self, spark) -> DataFrame:
        return spark.read.parquet(str(self.src)).repartition(NATIVE_FILES)

    def ops(self, ctx: Ctx, out: Path) -> list[Op]:
        spark, url, tr = ctx.spark, self.kms.url, ctx.tracer
        stream, native = out / "stream", out / "native"

        def op_stream():
            ingest.encrypted_stream_ingest(
                spark,
                str(self.src),
                str(stream),
                LINEITEM_POLICY,
                kms_url=url,
                checkpoint_dir=str(out / "checkpoint"),
            )
            batches = [p for p in stream.iterdir() if p.name.startswith("batch_id=")]
            check(len(batches) == N_BATCHES, f"{len(batches)} micro-batches landed, want {N_BATCHES}")

        def op_readback():
            with tr.span("encrypted.read"):
                got = summary(ingest.read_encrypted_batches(spark, str(stream), token="RESTRICTED", kms_url=url))
            check(got == self.expect, f"read-back {got} differs from source {self.expect}")

        def op_native_load():
            en.write_encrypted_native(self.bulk(spark), str(native), LINEITEM_POLICY, url)
            with en.decrypting_scan(spark, str(native), url, "RESTRICTED") as df:
                got = summary(df)
            check(got == self.expect, f"bulk load {got} differs from source {self.expect}")

        return [Op("stream", op_stream), Op("readback", op_readback), Op("native_load", op_native_load)]

    def files_touched(self, out: Path) -> int:
        # every file is written once and read back once
        return 2 * parquet_files(out)

    def layer_metrics(self, out: Path) -> dict[str, float]:
        return {
            "encrypted_native.files_written": parquet_files(out / "native"),
            "encrypted.files_written": parquet_files(out / "stream"),
            "ingest.batches": sum(1 for p in (out / "stream").iterdir() if p.name.startswith("batch_id=")),
        }

    def calibrate(self, ctx: Ctx) -> dict[str, float]:
        """The plain write with the same codec: the bulk load written by
        Spark's own writer without encryption, against the encrypted one."""
        spark, url = ctx.spark, self.kms.url
        enc, plain = [], []
        for i in range(2):
            t0 = time.perf_counter()
            en.write_encrypted_native(self.bulk(spark), str(ctx.work / f"calib-enc-{i}"), LINEITEM_POLICY, url)
            t1 = time.perf_counter()
            plain_native_write(self.bulk(spark), str(ctx.work / f"calib-plain-{i}"), LEVEL, PAGE_VERSION)
            t2 = time.perf_counter()
            enc.append(t1 - t0)
            plain.append(t2 - t1)
        return {"encrypted_native.write_vs_plain": statistics.median(enc) / statistics.median(plain)}
