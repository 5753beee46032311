"""The read-mostly half of ``secure_lake``: analytics over a natively
encrypted lake.

Setup writes a parquet-mr PME ``lineitem`` (price and discount
CONFIDENTIAL, tax and quantity INTERNAL; row groups sorted by
``l_orderkey``), ``customer`` under ``CUSTOMER_POLICY`` and a plain
``orders``, plus plain twins of the encrypted tables written with the same
codec settings. Every op's reference answer is the same query run on
DuckDB over the plaintext twins: the rows must be exactly equal (``dsum``
and ``davg`` are exact and have SQL twins, so equality is exact).

Ops: the pricing report (q01 shape), the regional revenue join (q05
shape, two decrypting scans and plain orders), four seeded narrow lookups
under an INTERNAL token with least-privilege projection and row-group
pruning ranges, one pinned decrypting scan queried three times and then
released, and two must-deny probes (a PUBLIC token projecting a
CONFIDENTIAL column).
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
from parquet_modular_encryption_spark.crypto.policy import (
    CUSTOMER_POLICY,
    EncryptionPolicy,
    Privilege,
)
from parquet_modular_encryption_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum
from parquet_modular_encryption_spark.sources import encrypted_native as en
from perfbench import gen
from perfbench.harness import (
    Ctx,
    Op,
    canon,
    check,
    is_denial,
    parquet_bytes,
    parquet_files,
    plain_native_write,
)

LINEITEM_POLICY = EncryptionPolicy(
    column_levels={
        "l_extendedprice": Privilege.CONFIDENTIAL,
        "l_discount": Privilege.CONFIDENTIAL,
        "l_tax": Privilege.INTERNAL,
        "l_quantity": Privilege.INTERNAL,
    },
    name="lineitem_pricing",
)

N_ORDERS = 25_000  # about 100k lineitem rows
N_CUSTOMERS = 5_000
LINEITEM_FILES = 4
CUSTOMER_FILES = 2
N_LOOKUPS = 4
# Small row groups so that narrow l_orderkey ranges prune most of them. The
# fixture keeps parquet-mr's default zstd level; the reference's level 19 is
# measured by secure_ingest's bulk load.
WRITE_CONF = {"parquet.block.size": str(256 * 1024), "parquet.compression.codec.zstd.level": "3"}
CODEC_LEVEL = 3

REPORT_COLS = [
    "l_returnflag",
    "l_linestatus",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_shipdate",
]
JOIN_LI_COLS = ["l_orderkey", "l_extendedprice", "l_discount"]
JOIN_CUST_COLS = ["c_custkey", "c_nationkey", "c_mktsegment"]
LOOKUP_COLS = ["l_orderkey", "l_quantity", "l_tax"]
PIN_COLS = ["l_returnflag", "l_linestatus", "l_extendedprice", "l_discount", "l_shipdate"]


def report(li: DataFrame) -> list:
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .collect()
    )


REPORT_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity")}, {sql_dsum("l_extendedprice")},
           {sql_dsum("l_extendedprice * (1 - l_discount)")},
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")},
           {sql_davg("l_quantity")}, {sql_davg("l_extendedprice")}, {sql_davg("l_discount")},
           COUNT(*)
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus"""


def revenue_join(li: DataFrame, orders: DataFrame, cust: DataFrame) -> list:
    window = (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp")) & (
        F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp")
    )
    return (
        li.join(orders.filter(window), li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .collect()
    )


JOIN_SQL = f"""
    SELECT c_nationkey, c_mktsegment,
           {sql_dsum("l_extendedprice * (1 - l_discount)")}, COUNT(DISTINCT o_orderkey)
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1995-01-01'
    GROUP BY c_nationkey, c_mktsegment"""


def lookup(li: DataFrame, lo: int, hi: int) -> list:
    return (
        li.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
        .agg(F.count(F.lit(1)), dsum("l_quantity"), dsum("l_tax"))
        .collect()
    )


def lookup_sql(lo: int, hi: int) -> str:
    return f"""
    SELECT COUNT(*), {sql_dsum("l_quantity")}, {sql_dsum("l_tax")}
    FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"""


def pinned_queries(df: DataFrame) -> list[list]:
    return [
        df.groupBy("l_returnflag").agg(F.count(F.lit(1)), dsum("l_extendedprice")).collect(),
        df.filter(F.col("l_discount") >= 0.05)
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")))
        .collect(),
        df.groupBy("l_linestatus")
        .agg(
            F.min(F.unix_micros("l_shipdate")),
            F.max(F.unix_micros("l_shipdate")),
            davg("l_discount"),
        )
        .collect(),
    ]


PINNED_SQL = [
    f"""SELECT l_returnflag, COUNT(*), {sql_dsum("l_extendedprice")}
        FROM lineitem GROUP BY l_returnflag""",
    f"""SELECT {sql_dsum("l_extendedprice * l_discount")}
        FROM lineitem WHERE l_discount >= 0.05""",
    f"""SELECT l_linestatus, MIN(epoch_us(l_shipdate)), MAX(epoch_us(l_shipdate)),
               {sql_davg("l_discount")}
        FROM lineitem GROUP BY l_linestatus""",
]


class ScanPart:
    """The read-mostly half of ``secure_lake``: fixture, ops and checks."""

    def __init__(self, kms: KmsServer) -> None:
        self.kms = kms

    def setup(self, ctx: Ctx, d: Path) -> None:
        spark, seed, url = ctx.spark, ctx.seed, self.kms.url
        src = d / "src"
        src.mkdir(parents=True)
        pq.write_table(gen.lineitem(seed, N_ORDERS), src / "lineitem.parquet")
        pq.write_table(gen.customer(seed, N_CUSTOMERS), src / "customer.parquet")
        pq.write_table(gen.orders(seed, N_ORDERS, N_CUSTOMERS), src / "orders.parquet")
        self.orders_path = str(src / "orders.parquet")
        self.rows = sum(pq.ParquetFile(p).metadata.num_rows for p in src.iterdir())

        li = (
            spark.read.parquet(str(src / "lineitem.parquet"))
            .repartitionByRange(LINEITEM_FILES, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .persist()
        )
        cust = spark.read.parquet(str(src / "customer.parquet")).repartition(CUSTOMER_FILES, "c_custkey").persist()
        self.li_path, self.li_plain = str(d / "lineitem_enc"), str(d / "lineitem_plain")
        self.cust_path, self.cust_plain = str(d / "customer_enc"), str(d / "customer_plain")
        try:
            en.write_encrypted_native(li, self.li_path, LINEITEM_POLICY, url, extra_conf=WRITE_CONF)
            plain_native_write(li, self.li_plain, CODEC_LEVEL, "2.0", WRITE_CONF)
            en.write_encrypted_native(cust, self.cust_path, CUSTOMER_POLICY, url, extra_conf=WRITE_CONF)
            plain_native_write(cust, self.cust_plain, CODEC_LEVEL, "2.0", WRITE_CONF)
        finally:
            li.unpersist()
            cust.unpersist()

        rng = np.random.default_rng([seed, 1])
        width = N_ORDERS // 200
        self.ranges = [(int(lo), int(lo) + width) for lo in rng.integers(1, N_ORDERS - width, N_LOOKUPS)]
        self.li_files = parquet_files(Path(self.li_path))
        self.cust_files = parquet_files(Path(self.cust_path))
        # probes read one file: one task, so exactly one refused unwrap
        self.li_probe = str(min(Path(self.li_path).glob("*.parquet")))
        self.cust_probe = str(min(Path(self.cust_path).glob("*.parquet")))
        self.enc_bytes = parquet_bytes(Path(self.li_path)) + parquet_bytes(Path(self.cust_path))
        self.plain_bytes = parquet_bytes(Path(self.li_plain)) + parquet_bytes(Path(self.cust_plain))
        self.expect = self._reference_answers()

    def _reference_answers(self) -> dict:
        """The same queries over the plaintext twins, on DuckDB."""
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            con.execute("SET TimeZone = 'UTC'")
            for table, path in (
                ("lineitem", f"{self.li_plain}/*.parquet"),
                ("customer", f"{self.cust_plain}/*.parquet"),
                ("orders", self.orders_path),
            ):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

            def sql(q: str) -> list[tuple]:
                return canon(con.sql(q).fetchall())

            return {
                "report": sql(REPORT_SQL),
                "join": sql(JOIN_SQL),
                "lookup": [sql(lookup_sql(lo, hi)) for lo, hi in self.ranges],
                "pinned": [sql(q) for q in PINNED_SQL],
            }
        finally:
            con.close()

    def ops(self, ctx: Ctx, probe_token: str = "PUBLIC") -> list[Op]:
        spark, url = ctx.spark, self.kms.url

        def op_report():
            with en.decrypting_scan(spark, self.li_path, url, "CONFIDENTIAL", columns=REPORT_COLS) as li:
                check(canon(report(li)) == self.expect["report"], "report differs from plaintext twin")

        def op_join():
            orders = spark.read.parquet(self.orders_path)
            with en.decrypting_scan(spark, self.li_path, url, "CONFIDENTIAL", columns=JOIN_LI_COLS) as li:
                with en.decrypting_scan(spark, self.cust_path, url, "CONFIDENTIAL", columns=JOIN_CUST_COLS) as c:
                    got = canon(revenue_join(li, orders, c))
            check(got == self.expect["join"], "revenue join differs from plaintext twin")

        def op_lookup(i: int):
            def run():
                lo, hi = self.ranges[i]
                with en.decrypting_scan(spark, self.li_path, url, "INTERNAL", columns=LOOKUP_COLS) as li:
                    got = canon(lookup(li, lo, hi))
                check(got == self.expect["lookup"][i], f"lookup {lo}..{hi} differs from plaintext twin")

            return run

        def op_pinned():
            with en.pinned_decrypting_scan(spark, self.li_path, url, "CONFIDENTIAL", columns=PIN_COLS) as df:
                got = [canon(r) for r in pinned_queries(df)]
            check(got == self.expect["pinned"], "pinned-scan queries differ from plaintext twin")

        def op_probe(path: str, columns: list[str]):
            return lambda: must_deny(spark, path, url, probe_token, columns)

        return [
            Op("report", op_report),
            Op("join", op_join),
            *[Op("lookup", op_lookup(i)) for i in range(N_LOOKUPS)],
            Op("pinned", op_pinned),
            Op("probe", op_probe(self.li_probe, ["l_orderkey", "l_extendedprice"])),
            Op("probe", op_probe(self.cust_probe, ["c_custkey", "c_acctbal"])),
        ]

    def files_touched(self) -> int:
        # report, join (lineitem and customer), each lookup, the pin, two one-file probes
        li, cust = self.li_files, self.cust_files
        return li + (li + cust) + N_LOOKUPS * li + li + 2

    def calibrate(self, ctx: Ctx) -> dict[str, float]:
        """The plain-twin scan: the pricing report over the plaintext twin
        against the same report through the decrypting scan."""
        spark, url = ctx.spark, self.kms.url
        enc, plain = [], []
        for _ in range(2):
            t0 = time.perf_counter()
            with en.decrypting_scan(spark, self.li_path, url, "CONFIDENTIAL", columns=REPORT_COLS) as li:
                report(li)
            t1 = time.perf_counter()
            report(spark.read.parquet(self.li_plain).select(*REPORT_COLS))
            t2 = time.perf_counter()
            enc.append(t1 - t0)
            plain.append(t2 - t1)
        return {"encrypted_native.scan_vs_plain": statistics.median(enc) / statistics.median(plain)}


def must_deny(spark, path: str, url: str, token: str, columns: list[str]) -> None:
    """Fail-closed probe: the projection needs a key ``token`` may not
    unwrap, so the scan must be refused by the KMS. Being served is a
    failure, and so is failing for any other reason."""
    try:
        with en.decrypting_scan(spark, path, url, token, columns=columns) as df:
            df.agg(*[F.count(c) for c in columns]).collect()
    except Exception as exc:  # noqa: BLE001 - the expected outcome is a refusal
        check(is_denial(exc), f"probe failed, but not by a KMS refusal: {str(exc)[:200]}")
        return
    check(False, f"must-deny probe with token {token} was served {columns}")
