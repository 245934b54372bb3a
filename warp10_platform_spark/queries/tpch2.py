"""TPC-H queries 2/9/11/13/16/17/20/21/22 — the remaining relational shapes.

With tpch.py this completes all 22 TPC-H patterns on the reduced schema
(no partsupp table; part-supplier economics are derived from lineitem, the
same adaptation tpch.py's q4/q18 use for their missing columns).  Every
query keeps the integer-exactness discipline from tpch.py's header: money
quantized to cents scan-side, sums as unscaled longs, correlated
thresholds compared in integer space (cross-multiplied, never divided),
one final exact int→double conversion.  That is what makes each of these
hash-identical to the DuckDB oracle.

Shapes covered here and their scale plans:
- q2   correlated per-group MIN + join-back (window over a derived dim)
- q9   multi-way star join with signed profit terms
- q11  HAVING vs a global scalar (empty-frame window, no driver round-trip)
- q13  LEFT OUTER distribution (pre-aggregate the fact, join counts not rows)
- q16  NOT IN + COUNT DISTINCT (anti-join + exact distinct)
- q17  correlated AVG threshold (cross-multiplied, semi-filtered pre-agg)
- q20  nested semi-join chain (ratio test in integers)
- q21  EXISTS + NOT EXISTS on the same fact (one pass, two counters)
- q22  scalar subquery + anti-join (broadcast scalar, anti on distinct keys)
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from warp10_platform_spark.plans import plan_bytes
from warp10_platform_spark.queries import register
from warp10_platform_spark.sources.tables import bucketed_fact, load_table

# Integer-cents fragments (see tpch.py header for the discipline).
# q21 exchange-keying size gate — see tpch_q21_waiting_supplier's docstring
_Q21_KEYED_MAX_BYTES = 512 * 1024 * 1024

_PC = "CAST(l_extendedprice*100 + 0.5D AS BIGINT)"
_DC = "CAST(l_discount*100 + 0.5D AS BIGINT)"
_QC = "CAST(l_quantity*100 + 0.5D AS BIGINT)"


Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(round(l_extendedprice*100)::BIGINT) AS cost_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
esupp AS (
  SELECT s.s_suppkey, s.s_acctbal, s.s_name, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
cand AS (
  SELECT p.p_partkey, e.s_acctbal, e.s_name, e.n_name, ps.cost_cents,
         min(ps.cost_cents) OVER (PARTITION BY p.p_partkey) AS mn
  FROM ps
  JOIN part p ON ps.l_partkey = p.p_partkey
  JOIN esupp e ON ps.l_suppkey = e.s_suppkey
  WHERE p.p_size = 25 AND p.p_type = 'STANDARD'
)
SELECT s_acctbal, s_name, n_name, p_partkey,
       cost_cents::DOUBLE / 100.0 AS supply_cost
FROM cand WHERE cost_cents = mn
"""


@register("tpch_q2_min_cost_supp", Q2_ORACLE)
def tpch_q2_min_cost_supp(spark, sf_dir):
    """TPC-H Q2 shape: minimum-cost supplier per part within a region
    (reference has no direct analog; relational substrate for FETCH-side
    pruning).  partsupp is derived: per (part, supplier) the minimum
    observed unit price from lineitem — ONE fact shuffle on the compound
    key produces a dim-sized frame, and everything after (part filter,
    region-restricted supplier join, per-part window MIN) runs on that
    small frame with broadcast dims.  The correlated `= min(...)` is an
    exact integer comparison, so ties survive identically on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr(f"min({_PC})").alias("cost_cents")
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 25) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    esupp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    cand = (
        ps.join(F.broadcast(p.select("p_partkey")), ps.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(esupp), ps.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("mn", F.min("cost_cents").over(w))
        .where(F.col("cost_cents") == F.col("mn"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("cost_cents").cast("double") / 100.0).alias("supply_cost"),
        )
    )


Q9_ORACLE = """
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       (sum(round(l.l_extendedprice*100)::BIGINT * (100 - round(l.l_discount*100)::BIGINT)
            - round(p.p_retailprice*100)::BIGINT * round(l.l_quantity*100)::BIGINT))::DOUBLE
       / 10000.0 AS profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@register("tpch_q9_profit", Q9_ORACLE)
def tpch_q9_profit(spark, sf_dir):
    """TPC-H Q9 shape: product-line profit by supplier nation and year.
    Cost side uses p_retailprice as the unit-cost proxy (no partsupp in
    the reduced schema).  The profit term is SIGNED, so no half-up DIV
    appears anywhere (floor-vs-truncate division diverges between engines
    on negatives): the sum stays an exact scale-1e4 long and converts
    once to double.  part/supplier/nation broadcast; orders⋈lineitem is
    the one big shuffle and the LIKE filter prunes part scan-side."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    term = (
        f"{_PC} * (100 - {_DC})"
        f" - CAST(p_retailprice*100 + 0.5D AS BIGINT) * {_QC}"
    )
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.expr(f"CAST(sum({term}) AS DOUBLE)/10000.0").alias("profit"))
    )


Q11_ORACLE = """
WITH val AS (
  SELECT l.l_partkey,
         sum(round(l.l_extendedprice*100)::BIGINT * round(l.l_quantity*100)::BIGINT)::BIGINT AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_5'
  GROUP BY l.l_partkey
)
SELECT l_partkey AS p_partkey, v::DOUBLE / 10000.0 AS total_value
FROM val, (SELECT sum(v) AS tot FROM val)
WHERE v * 1000 > tot
"""


@register("tpch_q11_important_parts", Q11_ORACLE)
def tpch_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: parts whose inventory value exceeds a fraction of
    the national total.  The global scalar is an empty-frame window over
    the PER-PART aggregate (part-sized, not fact-sized) — no driver
    round-trip, no second scan.  The HAVING is the exact integer test
    `v*1000 > tot` (fraction 1/1000 cross-multiplied); int64 headroom
    holds to sf≈100 on this generator (v ≲ 1e12, tot ≲ 1e15), past that
    the DECIMAL form takes over as in tpch.py's header note."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    val = (
        li.join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.expr(f"sum({_PC} * {_QC})").alias("v"))
    )
    w = Window.partitionBy()
    return (
        val.withColumn("tot", F.sum("v").over(w))
        .where(F.col("v") * 1000 > F.col("tot"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("v").cast("double") / 10000.0).alias("total_value"),
        )
    )


Q13_ORACLE = """
WITH oc AS (
  SELECT o_custkey, count(*)::BIGINT AS cnt
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY o_custkey
)
SELECT coalesce(oc.cnt, 0) AS c_count, count(*) AS custdist
FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey
GROUP BY coalesce(oc.cnt, 0)
"""


@register("tpch_q13_custdist", Q13_ORACLE)
def tpch_q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: distribution of order counts per customer,
    including zero-order customers (LEFT OUTER).  The fact is aggregated
    FIRST (orders → per-customer count), so the outer join moves one
    (custkey, count) row per customer instead of every order row — at
    100 TB that is the difference between shuffling the fact and
    shuffling a dim.  Pure counts: exact on any engine."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    c = load_table(spark, sf_dir, "customer")
    oc = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return (
        c.join(oc, c.c_custkey == oc.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("tpch_q16_supplier_cnt", Q16_ORACLE)
def tpch_q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part class with a
    NOT IN exclusion (negative-balance suppliers stand in for the
    reference's complaint-comment filter).  NOT IN compiles to a
    broadcast LEFT ANTI join — the exclusion set is dim-sized and the
    anti probe is free at the scan.  COUNT(DISTINCT) shuffles the
    already part-filtered (class, suppkey) pairs once; Spark's two-phase
    distinct aggregation keeps the partials map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q17_ORACLE = """
WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_size = 5),
pa AS (
  SELECT l_partkey, sum(round(l_quantity*100)::BIGINT)::BIGINT AS sq, count(*)::BIGINT AS cnt
  FROM lineitem JOIN pk ON l_partkey = p_partkey
  GROUP BY l_partkey
)
SELECT (sum(round(l.l_extendedprice*100)::BIGINT)::BIGINT)::DOUBLE / 700.0 AS avg_yearly
FROM lineitem l
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE round(l.l_quantity*100)::BIGINT * 5 * pa.cnt < pa.sq
"""


@register("tpch_q17_small_qty", Q17_ORACLE)
def tpch_q17_small_qty(spark, sf_dir):
    """TPC-H Q17 shape: revenue from small-quantity orders, threshold
    correlated to the per-part average.  `qty < 0.2*avg(qty)` is
    cross-multiplied into the exact integer test `qc*5*cnt < sq` — no
    float average exists anywhere, so both engines agree at the
    boundary.  The per-part aggregate is computed only for the
    brand-filtered partkeys (broadcast semi prune BEFORE the agg — same
    values as aggregating everything, a fraction of the shuffle), then
    broadcast back into the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    pk = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#3") & (F.col("p_size") == 5))
        .select("p_partkey")
    )
    li_b = li.join(F.broadcast(pk), li.l_partkey == F.col("p_partkey"), "left_semi")
    pa = li_b.groupBy("l_partkey").agg(
        F.expr(f"sum({_QC})").alias("sq"), F.count("*").alias("cnt")
    ).select(F.col("l_partkey").alias("pa_partkey"), "sq", "cnt")
    return (
        li_b.join(F.broadcast(pa), li_b.l_partkey == F.col("pa_partkey"))
        .where(F.expr(f"{_QC} * 5 * cnt") < F.col("sq"))
        .agg(F.expr(f"CAST(sum({_PC}) AS DOUBLE)/700.0").alias("avg_yearly"))
    )


Q20_ORACLE = """
WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
sq AS (
  SELECT l_suppkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
             THEN round(l_quantity*100)::BIGINT ELSE 0 END)::BIGINT AS q96,
         sum(round(l_quantity*100)::BIGINT)::BIGINT AS qtot
  FROM lineitem JOIN pk ON l_partkey = p_partkey
  GROUP BY l_suppkey
)
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN sq ON s.s_suppkey = sq.l_suppkey
WHERE n.n_name = 'NATION_2' AND sq.q96 * 2 > sq.qtot
"""


@register("tpch_q20_excess_shippers", Q20_ORACLE)
def tpch_q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers concentrating shipments of a part
    family (availqty has no column here, so the ratio is 1996 volume vs
    all-time volume — same nested-semi chain).  Part family prunes the
    fact via broadcast semi; ONE conditional aggregation produces both
    the numerator and denominator (no second scan); the 50% test is
    integer cross-multiplied.  The surviving supplier set is dim-sized
    and joins broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    pk = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    in96 = (
        "CASE WHEN l_shipdate >= TIMESTAMP_NTZ '1996-01-01' AND l_shipdate < TIMESTAMP_NTZ '1997-01-01'"
        f" THEN {_QC} ELSE 0 END"
    )
    sq = (
        li.join(F.broadcast(pk), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.expr(f"sum({in96})").alias("q96"), F.expr(f"sum({_QC})").alias("qtot"))
        .where(F.col("q96") * 2 > F.col("qtot"))
    )
    return (
        s.join(F.broadcast(n.select("n_nationkey", "n_name")), s.s_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(sq.select("l_suppkey")), s.s_suppkey == F.col("l_suppkey"))
        .select("s_name", "n_name")
    )


Q21_ORACLE = """
WITH ls AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey, l.l_suppkey
),
agg AS (
  SELECT l_orderkey, count(*)::BIGINT AS nsupp, sum(late)::BIGINT AS nlate
  FROM ls GROUP BY l_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM ls
JOIN agg ON ls.l_orderkey = agg.l_orderkey
JOIN supplier s ON ls.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE ls.late = 1 AND agg.nsupp > 1 AND agg.nlate = 1 AND n.n_name = 'NATION_1'
GROUP BY s.s_name
"""


@register("tpch_q21_waiting_supplier", Q21_ORACLE)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: the sole late supplier on multi-supplier orders
    (EXISTS another supplier + NOT EXISTS another LATE supplier).  No
    receipt/commit dates in the reduced schema, so "late" is shipping
    more than 90 days after the order date.  Both correlated quantifiers
    collapse into ONE aggregation pass: per (order, supplier) a late
    flag, then per order a supplier count and a late-supplier count —
    `nsupp > 1 AND nlate = 1` is exactly EXISTS ∧ NOT-EXISTS, with two
    shuffles on the same orderkey instead of three correlated probes of
    the fact. r9: the per-order counts come from a WINDOW over the
    (order, supplier) aggregate instead of a groupBy + self-join-back —
    one fewer exchange of the ls rows and no join, same integers
    (measured 1.4 s → 1.1 s interleaved at sf0.1, output identical).
    r9 (second pass, guide §2.4): the aggregate's exchange is keyed by
    l_orderkey ALONE (repartition by key, no pinned count — AQE still
    coalesces): hash(l_orderkey) satisfies the (l_orderkey, l_suppkey)
    grouping distribution AND the window's, so the window's own 600k-row
    exchange disappears — 3 exchanges → 2, 0.96 s → 0.51 s interleaved
    at sf0.1, output identical.

    TRADEOFF (r9 advice, measured r10): keying the exchange BEFORE the
    aggregate moves partial (map-side) aggregation after the shuffle, so
    the one exchange carries raw joined rows (incl. both date columns)
    instead of 3-column partials. Interleaved A/B on the scale ladder:
    the keyed shape wins at sf0.1 (0.51 vs 0.96 s) and sf1 (med 1.7 vs
    2.1 s) where the elided exchange dominates, and LOSES at sf10 (3/4
    pairs, ~7.6 vs ~6.9 s) where raw-row shuffle bytes overtake it — so
    the keying is routed on the fact's size estimate (same statistic
    autoBroadcastJoinThreshold uses): below _Q21_KEYED_MAX_BYTES (512 MB)
    the exchange is keyed; above, the groupBy keeps its
    map-side partials and the window pays its own exchange. Results are
    identical either way (verified at sf1/sf10; oracle-gated)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    late = F.expr(
        "CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END"
    )
    lsj = li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
    li_bytes = plan_bytes(li)  # unknown size: no keying
    if li_bytes is not None and 0 < li_bytes < _Q21_KEYED_MAX_BYTES:
        lsj = lsj.repartition("l_orderkey")
    ls = lsj.groupBy("l_orderkey", "l_suppkey").agg(F.max(late).alias("late"))
    w = Window.partitionBy("l_orderkey")
    lsw = ls.withColumn("nsupp", F.count("*").over(w)).withColumn(
        "nlate", F.sum("late").over(w)
    )
    return (
        lsw.where((F.col("late") == 1) & (F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(F.broadcast(s.select("s_suppkey", "s_name", "s_nationkey")), lsw.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


Q18C_ORACLE = """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(round(l_quantity*100)::BIGINT) > 15000
)
SELECT c.c_name, o.o_orderkey, o.o_totalprice,
       (sum(round(l.l_quantity*100)::BIGINT)::BIGINT)::DOUBLE / 100.0 AS total_qty
FROM orders o
JOIN big      ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
"""


@register("tpch_q18_colocated", Q18C_ORACLE)
def tpch_q18_colocated(spark, sf_dir):
    """tpch.py's q18 re-planned against the CO-LOCATED storage layout
    (sources.tables.bucketed_fact): orders and lineitem both bucketed
    by orderkey.  Identical results (same oracle), radically different
    plan: the HAVING pre-agg, the orders⋈lineitem SortMergeJoin, and
    the final groupBy (whose keys include o_orderkey) all consume the
    bucket distribution — ZERO Exchange operators touch a fact row
    (asserted in tests/test_plans.py).  This is the layout a 100 TB
    deployment writes at ingest; tpch_q18_bigorders remains the plan
    for ad-hoc data."""
    li = bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    o = bucketed_fact(spark, sf_dir, "orders", "o_orderkey")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr(f"sum({_QC})").alias("_q"))
        .where(F.col("_q") > 15000)
        .select(F.col("l_orderkey").alias("_big_orderkey"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == F.col("_big_orderkey"))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.expr(f"CAST(sum({_QC}) AS DOUBLE)/100.0").alias("total_qty"))
    )


Q22_ORACLE = """
WITH pos AS (
  SELECT sum(round(c_acctbal*100)::BIGINT)::BIGINT AS s, count(*)::BIGINT AS n
  FROM customer
  WHERE c_acctbal > 0.0
    AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'FURNITURE')
),
cand AS (
  SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal*100)::BIGINT AS ac
  FROM customer c, pos
  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'FURNITURE')
    AND round(c.c_acctbal*100)::BIGINT * pos.n > pos.s
)
SELECT c_mktsegment, count(*) AS numcust, (sum(ac))::DOUBLE / 100.0 AS totacctbal
FROM cand
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cand.c_custkey)
GROUP BY c_mktsegment
"""


@register("tpch_q22_dormant_customers", Q22_ORACLE)
def tpch_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers who never
    ordered (scalar subquery + NOT EXISTS).  Market segment stands in
    for the phone country code.  The global average is never a float:
    `ac*n > s` cross-multiplies the cents sum and count, both exact.
    The scalar pair broadcasts (literally one row); NOT EXISTS is a LEFT
    ANTI join against orders — at scale the anti side only needs the
    orders custkey column, which the scan prunes to."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY", "FURNITURE")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    # c_acctbal is the one NEGATIVE-capable money column, so the fast
    # additive cents form (tpch.py header, r9) needs the sign-aware
    # offset: double→long truncates toward zero, and round() is
    # half-AWAY-from-zero — ±0.5 keeps them identical on cent-quantized
    # values of either sign.
    ac = "CAST(c_acctbal*100 + IF(c_acctbal < 0, -0.5D, 0.5D) AS BIGINT)"
    pos = c.where(F.col("c_acctbal") > 0.0).agg(
        F.expr(f"sum({ac})").alias("s"), F.count("*").alias("n")
    )
    cand = (
        c.crossJoin(F.broadcast(pos))
        .where(F.expr(f"{ac} * n > s"))
        .select("c_custkey", "c_mktsegment", F.expr(ac).alias("ac"))
    )
    return (
        cand.join(o, cand.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.expr("CAST(sum(ac) AS DOUBLE)/100.0").alias("totacctbal"),
        )
    )
