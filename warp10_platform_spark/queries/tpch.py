"""TPC-H-style relational queries — exercise scan/filter/join/agg at scale.

These prove the relational substrate under the GTS engine: predicate
pushdown to parquet, broadcast joins for dims, partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.plans import plan_bytes
from warp10_platform_spark.queries import register
from warp10_platform_spark.sources.tables import epoch_us_col, load_table

# r10 (guide §3.2): below this Catalyst size estimate of the FILTERED
# orders side, q3 prunes lineitem with a broadcast left-semi join on the
# qualifying orderkeys before its shuffle. Above it (real 100 TB scale,
# where the key set outgrows any broadcast), the semi-prune is skipped
# and the eager pre-aggregation alone carries the win. Measured points:
# filtered-orders estimate is 2.7 MB / 30 MB / 300 MB at sf0.1/1/10 —
# all far below the 1 GB default (keys broadcast ≈ tens of MB there).
_Q3_SEMI_MAX_BYTES = 1 << 30

# Money columns are fixed-point cents (quantization invariant asserted in
# tests/test_tpch_quantization.py), so sums accumulate as UNSCALED LONGS:
# exact and order-independent like DECIMAL, but whole-stage-codegen long
# arithmetic instead of BigDecimal (measured 2.4× on q1's agg at sf0.1 —
# this is how columnar engines execute small-scale DECIMAL internally).
# Every round() happens in INTEGER space ((2s+c) DIV (2c) half-up) with one
# final correctly-rounded division by a power of ten, so both engines see
# identical bits — no float-rounding boundary to disagree on.
# Headroom: charge sums carry scale 1e6 → int64 overflows around sf≈10 per
# group; beyond that the DECIMAL(28,6) form (kept in git history / the
# bucketize tier) is the fallback. The gate SFs are 0.01–0.1.
#
# r9 (Spark side only; oracle SQL unchanged): the cents recovery is written
# `CAST(x*100 + 0.5D AS BIGINT)` instead of `CAST(round(x*100) AS BIGINT)`.
# Equivalent for these NON-NEGATIVE cent-quantized columns: the quantization
# test pins |x*100 − round(x*100)| < 1e-6, so x*100 = m ± δ with δ ≪ 0.5 and
# m + 0.5 ± δ truncates (double→long cast, toward zero == floor for
# positives) to exactly m — the same integer round() produces. round() on
# DOUBLE routes through BigDecimal.valueOf → Double.toString PER ROW, which
# dominated the scan stage (measured r9: q1 exec 0.69 s → 0.39 s at sf0.1
# from this change alone); the additive form stays in codegen'd primitive
# arithmetic. Negative-capable columns (c_acctbal) use a sign-aware form —
# see tpch2.py q22.
Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       (sum(round(l_quantity*100)::BIGINT)::BIGINT)::DOUBLE / 100.0 AS sum_qty,
       (sum(round(l_extendedprice*100)::BIGINT)::BIGINT)::DOUBLE / 100.0 AS sum_base_price,
       ((sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT + 50) // 100)::DOUBLE / 100.0 AS sum_disc_price,
       ((sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT) * (100 + round(l_tax*100)::BIGINT))::BIGINT + 5000) // 10000)::DOUBLE / 100.0 AS sum_charge,
       ((2*10000*sum(round(l_quantity*100)::BIGINT)::BIGINT + count(*)) // (2*count(*)))::DOUBLE / 1000000.0 AS avg_qty,
       ((2*10000*sum(round(l_extendedprice*100)::BIGINT)::BIGINT + count(*)) // (2*count(*)))::DOUBLE / 1000000.0 AS avg_price,
       ((2*10000*sum(round(l_discount*100)::BIGINT)::BIGINT + count(*)) // (2*count(*)))::DOUBLE / 1000000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1", Q1_ORACLE)
def tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    qc = "CAST(l_quantity*100 + 0.5D AS BIGINT)"
    pc = "CAST(l_extendedprice*100 + 0.5D AS BIGINT)"
    dc = "CAST(l_discount*100 + 0.5D AS BIGINT)"
    tc = "CAST(l_tax*100 + 0.5D AS BIGINT)"
    avg6 = lambda s: f"CAST((2*10000*sum({s}) + count(*)) DIV (2*count(*)) AS DOUBLE)/1000000.0"  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST(sum({qc}) AS DOUBLE)/100.0").alias("sum_qty"),
            F.expr(f"CAST(sum({pc}) AS DOUBLE)/100.0").alias("sum_base_price"),
            F.expr(f"CAST((sum({pc} * (100 - {dc})) + 50) DIV 100 AS DOUBLE)/100.0").alias("sum_disc_price"),
            F.expr(f"CAST((sum({pc} * (100 - {dc}) * (100 + {tc})) + 5000) DIV 10000 AS DOUBLE)/100.0").alias("sum_charge"),
            F.expr(avg6(qc)).alias("avg_qty"),
            F.expr(avg6(pc)).alias("avg_price"),
            F.expr(avg6(dc)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q6_ORACLE = """
SELECT ((sum(round(l_extendedprice*100)::BIGINT * round(l_discount*100)::BIGINT)::BIGINT + 50) // 100)::DOUBLE / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@register("tpch_q6", Q6_ORACLE)
def tpch_q6(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.expr("CAST((sum(CAST(l_extendedprice*100 + 0.5D AS BIGINT) * CAST(l_discount*100 + 0.5D AS BIGINT)) + 50) DIV 100 AS DOUBLE)/100.0").alias("revenue"))
    )


Q3_ORACLE = """
SELECT o.o_orderkey,
       ((sum(round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT))::BIGINT + 50) // 100)::DOUBLE / 100.0 AS revenue,
       epoch_us(o.o_orderdate) AS o_orderdate_us,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
"""


@register("tpch_q3", Q3_ORACLE)
def tpch_q3(spark, sf_dir):
    """Join order: big fact (lineitem) last; customer is the only dim-sized
    input → broadcast it. orders is fact-sized (1.5M rows/sf) so
    orders⋈lineitem stays a shuffle join; AQE picks shuffle-hash/sort-merge
    and handles skew at scale.

    r10 (guide §2.3 + §3.2, measured): the revenue aggregation moves BELOW
    the orders join — lineitem pre-aggregates by l_orderkey, so the map
    side ships ~2× fewer, narrower rows (partial agg compresses the ~4
    clustered lines per order), the pre-agg's exchange doubles as the
    join's (hash(l_orderkey) satisfies both), and the post-join
    HashAggregate over joined rows disappears. Equivalent because
    o_orderkey is unique in orders: grouping lineitem by l_orderkey alone
    produces exactly the per-(orderkey, orderdate, orderpriority) sums the
    joined groupBy did — verified row-identical at sf0.1/sf1/sf10 and
    oracle-gated. Below _Q3_SEMI_MAX_BYTES (filtered-orders estimate),
    lineitem is additionally pruned with a broadcast LEFT SEMI join on the
    qualifying orderkeys BEFORE its shuffle (§3.2's semi-join form: ~80 %
    of lineitem rows have no BUILDING-customer order and drop pre-shuffle
    for free); above it the key set outgrows a broadcast and the pre-agg
    alone carries the win. Interleaved medians, outputs identical:
    sf1 3.55 s → 1.71 s (pre-agg) → 1.16 s (+semi); sf10 3.66 → 3.29 →
    2.41 s."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz"))
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz"))
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    o_bytes = plan_bytes(o)  # unknown size: no semi prune
    if o_bytes is not None and o_bytes < _Q3_SEMI_MAX_BYTES:
        li = li.join(
            F.broadcast(oc.select("o_orderkey")), li.l_orderkey == F.col("o_orderkey"), "left_semi"
        )
    li_agg = li.groupBy("l_orderkey").agg(
        F.expr("CAST((sum(CAST(l_extendedprice*100 + 0.5D AS BIGINT) * (100 - CAST(l_discount*100 + 0.5D AS BIGINT))) + 50) DIV 100 AS DOUBLE)/100.0").alias("revenue")
    )
    return (
        oc.join(li_agg, F.col("l_orderkey") == oc.o_orderkey)
        .select(
            "o_orderkey",
            "revenue",
            epoch_us_col(o, "o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
    )


Q5_ORACLE = """
SELECT n.n_name,
       ((sum(round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT))::BIGINT + 50) // 100)::DOUBLE / 100.0 AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("tpch_q5", Q5_ORACLE)
def tpch_q5(spark, sf_dir):
    """Star join: all dims broadcast; single shuffle for the final groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(F.expr("CAST((sum(CAST(l_extendedprice*100 + 0.5D AS BIGINT) * (100 - CAST(l_discount*100 + 0.5D AS BIGINT))) + 50) DIV 100 AS DOUBLE)/100.0").alias("revenue"))
    )


Q4_ORACLE = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01' AND o.o_orderdate < TIMESTAMP '1995-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
"""


@register("tpch_q4_semi", Q4_ORACLE)
def tpch_q4_semi(spark, sf_dir):
    """TPC-H Q4 shape on the reduced schema: EXISTS → LEFT SEMI join.
    The semi join never materializes matched lineitem rows — the shuffle
    carries only the distinct fact keys that survive the pushed-down
    returnflag filter, the cheapest correct plan for an existence test."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q10_ORACLE = """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         ((sum(round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT))::BIGINT + 50) // 100)::DOUBLE / 100.0 AS revenue
  FROM customer c
  JOIN orders o   ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, n.n_name
)
SELECT c_custkey, c_name, n_name, revenue FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rk FROM rev
) WHERE rk <= 20
"""


@register("tpch_q10_returns", Q10_ORACLE)
def tpch_q10_returns(spark, sf_dir):
    """TPC-H Q10 shape: lost-revenue-by-customer on returned items.
    customer/nation broadcast, orders⋈lineitem is the only big shuffle,
    integer-cents revenue for cross-engine exactness, global top-20 ranked on
    the ROUNDED revenue with custkey tie-break so float ulps cannot
    reorder the cut. orderBy+limit (NOT a global window) so the top-N
    compiles to TakeOrderedAndProject: per-partition heaps + a driver
    merge of 20-row candidates, no single-partition global sort."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr("CAST((sum(CAST(l_extendedprice*100 + 0.5D AS BIGINT) * (100 - CAST(l_discount*100 + 0.5D AS BIGINT))) + 50) DIV 100 AS DOUBLE)/100.0").alias("revenue"))
    )
    # (revenue, custkey) is a total order, so this is exactly the
    # oracle's row_number cut
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


Q12_ORACLE = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01' AND l.l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l.l_linestatus
"""


@register("tpch_q12_priority", Q12_ORACLE)
def tpch_q12_priority(spark, sf_dir):
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) over a
    fact-fact join — integer counts, exact by construction; the priority
    flag is evaluated scan-side so the shuffle carries one bit."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_count"),
            F.sum(1 - high).alias("low_count"),
        )
    )


Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c.c_name, o.o_orderkey, o.o_totalprice,
       (sum(round(l.l_quantity*100)::BIGINT)::BIGINT)::DOUBLE / 100.0 AS total_qty
FROM orders o
JOIN big      ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
"""


@register("tpch_q18_bigorders", Q18_ORACLE)
def tpch_q18_bigorders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING pre-aggregation then join back — the
    aggregate (big) is orders-of-magnitude smaller than the fact, so it
    broadcasts into the semi filter; lineitem is scanned twice but
    shuffled on the same key both times."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("sum(CAST(l_quantity*100 + 0.5D AS BIGINT))").alias("_q"))
        .where(F.col("_q") > 15000)
        .select(F.col("l_orderkey").alias("_big_orderkey"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == F.col("_big_orderkey"))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.expr("CAST(sum(CAST(l_quantity*100 + 0.5D AS BIGINT)) AS DOUBLE)/100.0").alias("total_qty"))
    )


# Shared integer-cents revenue fragments (see header comment).
_REV_SPARK = (
    "CAST((sum(CAST(l_extendedprice*100 + 0.5D AS BIGINT) * "
    "(100 - CAST(l_discount*100 + 0.5D AS BIGINT))) + 50) DIV 100 AS DOUBLE)/100.0"
)
_REV_DUCK = (
    "((sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT"
    " + 50) // 100)::DOUBLE / 100.0"
)

Q7_ORACLE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       {_REV_DUCK.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
"""


@register("tpch_q7_volume", Q7_ORACLE)
def tpch_q7_volume(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    The disjunctive nation predicate can only be applied AFTER both dim
    joins, so the plan keeps all dims broadcast (supplier/customer/
    nation×2) and the fact flows through one pipeline; year() on the
    NTZ ship date is session-tz-independent by construction."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.expr(_REV_SPARK).alias("revenue"))
    )


Q14_ORACLE = """
SELECT (100 * sum(CASE WHEN p.p_type = 'ECONOMY'
                  THEN round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT)
                  ELSE 0 END)::BIGINT)::DOUBLE
       / (sum(round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT))::BIGINT)::DOUBLE
       AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
"""


@register("tpch_q14_promo", Q14_ORACLE)
def tpch_q14_promo(spark, sf_dir):
    """TPC-H Q14 shape: conditional-revenue share. Both sums are exact
    integers, so the single double division is correctly rounded from
    identical operands on any engine — the ratio needs no round() at
    all to hash-match."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    cents = "CAST(l_extendedprice*100 + 0.5D AS BIGINT) * (100 - CAST(l_discount*100 + 0.5D AS BIGINT))"
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_type")), li.l_partkey == F.col("p_partkey"))
        .agg(
            F.expr(
                f"CAST(100 * sum(CASE WHEN p_type = 'ECONOMY' THEN {cents} ELSE 0 END) AS DOUBLE)"
                f" / CAST(sum({cents}) AS DOUBLE)"
            ).alias("promo_pct")
        )
    )


Q19_ORACLE = f"""
SELECT {_REV_DUCK.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")} AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("tpch_q19_brackets", Q19_ORACLE)
def tpch_q19_brackets(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive brackets spanning
    BOTH join sides. Per-side conjunct unions ARE pushable (brand/size
    to the part scan, quantity to the lineitem scan) and Catalyst
    derives them from the residual OR; the full predicate applies after
    the broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p.select("p_partkey", "p_brand", "p_size")), li.l_partkey == F.col("p_partkey"))
    br = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.where(
        br("Brand#12", 15, 1, 11) | br("Brand#23", 25, 10, 20) | br("Brand#3", 35, 20, 30)
    ).agg(F.expr(_REV_SPARK).alias("revenue"))


Q8_ORACLE = """
WITH vol AS (
  SELECT year(o.o_orderdate) AS o_year,
         sum(CASE WHEN sn.n_name = 'NATION_3'
             THEN round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT)
             ELSE 0 END)::BIGINT AS nation_vol,
         sum(round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT))::BIGINT AS total_vol
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN region r   ON cn.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
  GROUP BY year(o.o_orderdate)
)
SELECT o_year, (nation_vol::DOUBLE) / (total_vol::DOUBLE) AS mkt_share
FROM vol WHERE total_vol > 0
"""


@register("tpch_q8_market_share", Q8_ORACLE)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's yearly trade
    volume. Six-way join, all dims broadcast, ONE pass computing both
    the conditional and total sums (no second scan for the
    denominator); exact-integer numerator/denominator make the share a
    single correctly-rounded division — hash-stable with no rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    cents = (
        "CAST(l_extendedprice*100 + 0.5D AS BIGINT) * (100 - CAST(l_discount*100 + 0.5D AS BIGINT))"
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("cn_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.expr(f"sum(CASE WHEN supp_nation = 'NATION_3' THEN {cents} ELSE 0 END)").alias("_nv"),
            F.expr(f"sum({cents})").alias("_tv"),
        )
        .where(F.col("_tv") > 0)
        .select("o_year", (F.col("_nv").cast("double") / F.col("_tv").cast("double")).alias("mkt_share"))
    )


Q15_ORACLE = """
WITH srev AS (
  SELECT l_suppkey,
         ((sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT + 50) // 100)::DOUBLE / 100.0 AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_rev
FROM srev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM srev)
"""


@register("tpch_q15_top_supplier", Q15_ORACLE)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the quarter's max revenue.
    The max is an empty-frame window over the per-supplier aggregate
    (supplier-sized, not fact-sized), so no second scan and no driver
    round-trip; ties are kept exactly as the reference query keeps
    them — revenue is exact cents, so cross-engine ties are identical."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    srev = li.groupBy("l_suppkey").agg(F.expr(_REV_SPARK).alias("total_rev"))
    w = Window.partitionBy()
    top = srev.withColumn("_mx", F.max("total_rev").over(w)).where(
        F.col("total_rev") == F.col("_mx")
    )
    return (
        top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )
