"""``secure_lake``: the encrypted lake, read side and write side, against
one KMS of its own.

One pass runs the read-mostly ops of :mod:`perfbench.lake_scan` (decrypting
scans, the pinned scan, must-deny probes) and then the write-mostly ops of
:mod:`perfbench.lake_ingest` (streaming ingest through the Arrow writer,
its read-back, and a native bulk load). Each layer's share shows in the
per-op Spark metrics and spans of a traced run.
"""

from __future__ import annotations

from pathlib import Path

from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
from perfbench.harness import Ctx, Op, Workload, parquet_bytes
from perfbench.lake_ingest import IngestPart
from perfbench.lake_scan import ScanPart


class SecureLake(Workload):
    def __init__(self) -> None:
        self._kms = KmsServer().start()
        self.scan = ScanPart(self._kms)
        self.ingest = IngestPart(self._kms)
        self.probe_token = "PUBLIC"

    def kms(self) -> KmsServer:
        return self._kms

    def close(self) -> None:
        self._kms.stop()

    def setup(self, ctx: Ctx, d: Path) -> None:
        self.scan.setup(ctx, d / "scan")
        self.ingest.setup(ctx, d / "ingest")

    def input_rows(self) -> int:
        return self.scan.rows + self.ingest.rows

    def ops(self, ctx: Ctx, pass_dir: Path) -> list[Op]:
        return self.scan.ops(ctx, self.probe_token) + self.ingest.ops(ctx, pass_dir)

    def files_touched(self, pass_dir: Path) -> int:
        return self.scan.files_touched() + self.ingest.files_touched(pass_dir)

    def stored_bytes_ratio(self, pass_dir: Path) -> float:
        enc = self.scan.enc_bytes + parquet_bytes(pass_dir)
        return enc / (self.scan.plain_bytes + self.ingest.plain_bytes)

    def layer_metrics(self, ctx: Ctx, pass_dir: Path) -> dict[str, float]:
        return self.ingest.layer_metrics(pass_dir)

    def calibrate(self, ctx: Ctx) -> dict[str, float]:
        return self.scan.calibrate(ctx) | self.ingest.calibrate(ctx)
