"""``dedup_pipeline``: registered dedup/similarity queries, each checked
against its DuckDB oracle.

Setup generates a ``documents`` corpus whose near-duplicates and document
order come from the seed, and runs the registry's oracle SQL on DuckDB over
the same file. One pass builds and collects ``q55d_allpairs_sparse_grouped``,
``q49f_jaccard_grouped_encrypted`` and ``q57d_cc_two_phase`` through the
registry, timing the builder (where the driver-side build actions run)
apart from the collect. Results are canonicalized as the repository's
oracle-parity test does: columns sorted by name, rows sorted.

The three cover the engine's dedup families within the run-time budget:
q55d is the grouped all-pairs cosine join (at this size its bound
prescreen fits one chunk and runs the same monolithic plan as q55c), q49f
the grouped PPJoin Jaccard join (the pipeline q49c runs) over an encrypted
corpus, and q57d the iterative connected-components build. q49f reads an Arrow-encrypted copy
of the corpus through the process-wide ``shared_kms_url()`` KMS; its KMS
counters are the ones reported.
"""

from __future__ import annotations

import datetime
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from parquet_modular_encryption_spark import registry
from parquet_modular_encryption_spark.crypto import kms_server
from perfbench import gen
from perfbench.harness import Ctx, Op, Workload, check, parquet_bytes, parquet_files, plain_arrow_write
from perfbench.metrics import DEDUP_QUERIES

N_DOCS = 150
# how the registry writes q49f's encrypted corpus (pipeline/dedup.py,
# _encrypted_docs_dir): doc_id and text, zstd-19, v1 pages; a corpus this
# small is one partition, so one file
LAKE_COLUMNS, LAKE_LEVEL, LAKE_PAGE_VERSION = ["doc_id", "text"], 19, "1.0"


def _cell(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def canon_cols(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in idx], sorted((tuple(_cell(r[i]) for i in idx) for r in rows), key=repr)


class DedupPipeline(Workload):
    def __init__(self) -> None:
        kms_server.shared_kms_url()
        registered = registry.load_all()
        self.queries = {name: registered[name] for name in DEDUP_QUERIES}

    def kms(self):
        return kms_server._shared

    def setup(self, ctx: Ctx, d: Path) -> None:
        d.mkdir(parents=True, exist_ok=True)
        self.sf_dir = str(d)
        table = gen.documents(ctx.seed, N_DOCS)
        pq.write_table(table, d / "documents.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{d / 'documents.parquet'}'")
            by_sql: dict[str, tuple] = {}
            for q in self.queries.values():
                if q.oracle not in by_sql:
                    rel = con.sql(q.oracle)
                    by_sql[q.oracle] = canon_cols(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        self.expect = {name: by_sql[q.oracle] for name, q in self.queries.items()}
        self.rows = table.num_rows
        plain = d / "lake_plain.parquet"
        plain_arrow_write(table.select(LAKE_COLUMNS), plain, LAKE_LEVEL, LAKE_PAGE_VERSION)
        self.plain_bytes = plain.stat().st_size

    def input_rows(self) -> int:
        return self.rows

    def ops(self, ctx: Ctx, pass_dir: Path) -> list[Op]:
        return [Op(name, self._query(ctx, name)) for name in DEDUP_QUERIES]

    def _query(self, ctx: Ctx, name: str):
        tr, meter = ctx.tracer, ctx.meter

        def run():
            before = meter.last_job_id() if tr.enabled else 0
            with tr.span(f"dedup.{name}.build"):
                df = self.queries[name].builder(ctx.spark, self.sf_dir)
            if tr.enabled:
                ctx.op_stats[name]["build_jobs"] = meter.window(before)["jobs"]
            with tr.span(f"dedup.{name}.exec"):
                rows = df.collect()
            check(canon_cols(list(df.columns), rows) == self.expect[name], f"{name} differs from its DuckDB oracle")

        return run

    def _lake(self) -> Path:
        """The encrypted corpus q49f wrote under the process scratch root."""
        from parquet_modular_encryption_spark import scratch

        lakes = list(Path(scratch._ROOT).glob("pme_q47e_*")) if scratch._ROOT else []
        if not lakes:
            raise FileNotFoundError("q49f's encrypted corpus has not been written yet")
        return max(lakes, key=lambda p: p.stat().st_mtime)  # the current corpus's

    def files_touched(self, pass_dir: Path) -> int:
        return parquet_files(self._lake())

    def stored_bytes_ratio(self, pass_dir: Path) -> float:
        return parquet_bytes(self._lake()) / self.plain_bytes
