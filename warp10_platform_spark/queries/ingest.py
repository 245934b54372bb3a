"""Ingest/export queries: GTS text-format parse + format roundtrips.

The lines are generated in-engine from the driver parquet tables, so the
DuckDB oracle can recompute the expected result from the same tables —
a full parse(format(x)) == x gate without touching the filesystem.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.queries import register
from warp10_platform_spark.queries.gts import PTS
from warp10_platform_spark.sources.gts_text import format_gts_lines, parse_gts_lines
from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.sources.tables import canonical_points, epoch_ticks_col, load_table


@register(
    "gts_text_roundtrip",
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM pts",
)
def gts_text_roundtrip(spark, sf_dir):
    """format_gts_lines → parse_gts_lines roundtrip over the full events
    projection (GTSHelper.java:2682 wire format; doubles exported in
    shortest-roundtrip form so the parse is loss-free)."""
    pts = canonical_points(spark, sf_dir)
    parsed = parse_gts_lines(format_gts_lines(pts))
    return parsed.select(
        "class", F.element_at(F.col("labels"), "user").alias("user"), "ts", "v_double"
    )


TYPED_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey::VARCHAR AS k, {tu.duck_epoch('o_orderdate')} AS ts,
         o_orderstatus, o_orderpriority, o_orderkey
  FROM orders
)
SELECT 'orders.status' AS class, k, ts, 'STRING' AS vtype, o_orderstatus AS vrepr FROM base
UNION ALL
SELECT 'orders.urgent' AS class, k, ts, 'BOOLEAN' AS vtype,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 'true' ELSE 'false' END AS vrepr FROM base
UNION ALL
SELECT 'orders.key' AS class, k, ts, 'LONG' AS vtype, o_orderkey::VARCHAR AS vrepr FROM base
"""


@register("gts_text_typed", TYPED_ORACLE)
def gts_text_typed(spark, sf_dir):
    """Value typing of the text parser (parseValue_regexp:3582-3584):
    STRING / BOOLEAN / LONG lines built from the orders table, parsed into
    the typed value columns, re-emitted with a type tag."""
    o = load_table(spark, sf_dir, "orders")
    o = o.select(
        F.col("o_orderkey").cast("string").alias("k"),
        epoch_ticks_col(o, "o_orderdate").alias("ts"),
        "o_orderstatus",
        "o_orderpriority",
        "o_orderkey",
    )
    mk = lambda cls, val: o.select(  # noqa: E731
        F.concat(
            F.col("ts").cast("string"), F.lit("// "), F.lit(cls),
            F.lit("{k="), F.col("k"), F.lit("} "), val,
        ).alias("value")
    )
    lines = (
        mk("orders.status", F.concat(F.lit("'"), F.col("o_orderstatus"), F.lit("'")))
        .unionAll(mk("orders.urgent", F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("T")).otherwise(F.lit("F"))))
        .unionAll(mk("orders.key", F.col("o_orderkey").cast("string")))
    )
    parsed = parse_gts_lines(lines)
    return parsed.select(
        "class",
        F.element_at(F.col("labels"), "k").alias("k"),
        "ts",
        F.when(F.col("v_string").isNotNull(), "STRING")
        .when(F.col("v_bool").isNotNull(), "BOOLEAN")
        .when(F.col("v_long").isNotNull(), "LONG")
        .otherwise("DOUBLE")
        .alias("vtype"),
        F.coalesce(
            F.col("v_string"),
            F.col("v_bool").cast("string"),
            F.col("v_long").cast("string"),
            F.col("v_double").cast("string"),
        ).alias("vrepr"),
    )
