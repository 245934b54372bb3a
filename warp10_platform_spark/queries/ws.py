"""WarpScript end-to-end queries — real scripts through the evaluator
(SURVEY §3.1: the /exec path), oracled like every other query. These
prove a reference user can paste a WarpScript pipeline and get the same
answer from the Spark engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.queries import register
from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS
from warp10_platform_spark.warpscript import exec_script

_START = LASTBUCKET - DAY * NDAYS + 1  # grid-interval (exclusive low) as inclusive start


def _out(df, value_col, alias, ndigits=None):
    v = F.col(value_col)
    if ndigits is not None:
        v = F.round(v, ndigits)
    return df.select(
        F.col("class"),
        F.element_at(F.col("labels"), "user").alias("user"),
        F.col("ts"),
        v.alias(alias),
    )


@register("ws_fetch_bucketize", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts'
))
def ws_fetch_bucketize(spark, sf_dir):
    """FETCH → BUCKETIZE count, as the script a Warp 10 user would POST to
    /exec (list-form FETCH, BUCKETIZE.java argument order)."""
    script = f"""
    // daily event counts, anchored grid
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_agg", "v_agg")


@register("ws_map_delta", (
    f"WITH {PTS} SELECT class, \"user\", ts, v_mapped FROM ("
    '  SELECT class, "user", ts, v - lag(v) OVER (PARTITION BY class, "user" ORDER BY ts) AS v_mapped FROM pts'
    ") WHERE v_mapped IS NOT NULL"
))
def ws_map_delta(spark, sf_dir):
    """FETCH → MAP mapper.delta via script (MAP.java params mapper/pre/
    post/occurrences)."""
    script = f"""
    [ '~events\\..*' {{}} 0 {LASTBUCKET + DAY * 366} ] FETCH
    [ SWAP mapper.delta 1 0 0 ] MAP
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df.where(F.col("v_mapped").isNotNull()), "v_mapped", "v_mapped")


@register("ws_reduce_sum", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts) '
    'SELECT "user" AS label_user, ts, CAST(sum(v_agg) AS BIGINT) AS v_reduced '
    "FROM b WHERE class IN ('events.purchase', 'events.click') GROUP BY \"user\", ts"
))
def ws_reduce_sum(spark, sf_dir):
    """Variables, macros, FOREACH and stack collection feeding REDUCE —
    the full stack-machine surface in one script: fetch two classes by
    macro, merge, daily counts, reducer.sum across classes per user."""
    script = f"""
    <% 'c' STORE [ $c {{}} {_START} {LASTBUCKET} ] FETCH %> 'fetchclass' STORE
    [ 'events.purchase' 'events.click' ] <% @fetchclass %> FOREACH
    2 ->LIST
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP 1 ->LIST [ 'user' ] reducer.sum ] REDUCE
    """
    out = exec_script(spark, sf_dir, script)
    return out.df.select(
        F.element_at(F.col("labels"), "user").alias("label_user"),
        "ts",
        F.col("v_reduced").cast("long").alias("v_reduced"),
    )


@register("ws_fillprevious", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, CAST(count(v) AS DOUBLE) AS v_agg FROM daily GROUP BY class, "user", ts), '
    'series AS (SELECT DISTINCT class, "user" FROM b), '
    f'grid AS (SELECT s.class, s."user", g.ts FROM series s, '
    f"  (SELECT unnest(generate_series({LASTBUCKET - (NDAYS - 1) * DAY}, {LASTBUCKET}, {DAY})) AS ts) g) "
    'SELECT grid.class, grid."user", grid.ts, '
    '  last_value(b.v_agg IGNORE NULLS) OVER (PARTITION BY grid.class, grid."user" ORDER BY grid.ts) AS v_agg '
    'FROM grid LEFT JOIN b ON b.class = grid.class AND b."user" = grid."user" AND b.ts = grid.ts'
))
def ws_fillprevious(spark, sf_dir):
    """FETCH → BUCKETIZE count → FILLPREVIOUS in-script (FillerPrevious
    semantics over the anchored grid; counts so the fill is exact)."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    FILLPREVIOUS
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_agg", "v_agg").withColumn("v_agg", F.col("v_agg").cast("double"))


@register("ws_reduce_fillprevious", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT "user", ts, count(*) AS v FROM daily '
    "      WHERE class IN ('events.purchase', 'events.click') GROUP BY \"user\", ts), "
    f'g AS (SELECT u."user", gs.ts FROM (SELECT DISTINCT "user" FROM b) u '
    f"     CROSS JOIN (SELECT unnest(generate_series({LASTBUCKET - (NDAYS - 1) * DAY}, {LASTBUCKET}, {DAY})) AS ts) gs), "
    'j AS (SELECT g."user", g.ts, b.v FROM g LEFT JOIN b ON b."user" = g."user" AND b.ts = g.ts) '
    'SELECT "user" AS label_user, ts, last_value(v IGNORE NULLS) OVER ('
    '  PARTITION BY "user" ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled '
    "FROM j"
))
def ws_reduce_fillprevious(spark, sf_dir):
    """BUCKETIZE → REDUCE → FILLPREVIOUS entirely in-script: only works
    because the REDUCE binding applies the bucketization-congruence rule
    (GTSHelper.java:8196-8247) and carries the merged BucketSpec on the
    stack — FILLPREVIOUS refuses an unbucketized frame. Missing days per
    user are materialized and previous-filled; leading gaps stay null."""
    script = f"""
    <% 'c' STORE [ $c {{}} {_START} {LASTBUCKET} ] FETCH %> 'fetchclass' STORE
    [ 'events.purchase' 'events.click' ] <% @fetchclass %> FOREACH
    2 ->LIST
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP 1 ->LIST [ 'user' ] reducer.sum ] REDUCE
    FILLPREVIOUS
    """
    out = exec_script(spark, sf_dir, script)
    return out.df.select(
        F.element_at(F.col("labels"), "user").alias("label_user"),
        "ts",
        F.col("v_reduced").alias("v_filled"),
    )


@register("ws_apply_gt", (
    f"WITH {PTS}, {DAILY}, "
    'c AS (SELECT class, "user", ts, count(*) AS n FROM daily GROUP BY class, "user", ts), '
    "a AS (SELECT \"user\", ts, n FROM c WHERE class = 'events.purchase'), "
    "b AS (SELECT \"user\", ts, n FROM c WHERE class = 'events.click') "
    'SELECT a."user" AS label_user, a.ts, (a.n > b.n) AS v_op '
    'FROM a JOIN b ON a."user" = b."user" AND a.ts = b.ts'
))
def ws_apply_gt(spark, sf_dir):
    """Two FETCHes → BUCKETIZE → APPLY op.gt via script (APPLY.java:40
    list form [[a] [b] [labels] op])."""
    script = f"""
    [ 'events.purchase' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    'a' STORE
    [ 'events.click' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    'b' STORE
    [ $a 1 ->LIST $b 1 ->LIST [ 'user' ] op.gt ] APPLY
    """
    out = exec_script(spark, sf_dir, script)
    return out.df.select(
        F.element_at(F.col("labels"), "user").alias("label_user"), "ts", "v_op"
    )


HOUR_US = tu.us(3_600_000_000)


@register("ws_lmap_timeshift_merge", (
    f"WITH {PTS} "
    'SELECT class, "user", pts.ts + o.off AS ts, round(v, 6) AS v '
    f"FROM pts CROSS JOIN (SELECT unnest([0, {tu.us(3600000000)}, {tu.us(7200000000)}]) AS off) o "
    "WHERE class = 'events.purchase'"
))
def ws_lmap_timeshift_merge(spark, sf_dir):
    """LMAP over an offsets list building TIMESHIFTed copies, merged into
    one GTS set (LMAP.java index-disabled form + TIMESHIFT.java + MERGE) —
    the functional-list surface driving lazy frame ops: three shifted
    plans union into ONE Catalyst plan, no job until collect."""
    script = f"""
    [ 'events.purchase' {{}} 0 {tu.us(2000000000000000)} ] FETCH 'g' STORE
    [ 0 1 2 ] <% {HOUR_US} * 'off' STORE $g $off TIMESHIFT %> false LMAP
    MERGE
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_double", "v", ndigits=6)


@register("ws_relabel_reduce_grp", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts) '
    "SELECT 'ALL' AS label_grp, ts, CAST(sum(v_agg) AS BIGINT) AS v_reduced "
    "FROM b WHERE class = 'events.purchase' GROUP BY ts"
))
def ws_relabel_reduce_grp(spark, sf_dir):
    """RELABEL to a computed label (string ops JOIN/TOUPPER + WHILE
    arithmetic build the label value in-script), then REDUCE sum over the
    new label — the RELABEL.java gts_id-recompute path feeding
    REDUCE.java label equivalence classes."""
    script = f"""
    // build the label value 'ALL' with list/string functions
    [ 'a' 'll' ] '' JOIN TOUPPER 'grpval' STORE
    // count the grid days with a WHILE loop (exercises the loop surface)
    0 'n' STORE
    <% $n {NDAYS} < %> <% $n 1 + 'n' STORE %> WHILE
    [ 'events.purchase' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} $n ] BUCKETIZE
    {{ 'grp' $grpval }} RELABEL
    [ SWAP 1 ->LIST [ 'grp' ] reducer.sum ] REDUCE
    """
    out = exec_script(spark, sf_dir, script)
    return out.df.select(
        F.element_at(F.col("labels"), "grp").alias("label_grp"),
        "ts",
        F.col("v_reduced").cast("long").alias("v_reduced"),
    )


@register("ws_scalar_mapper_chain", (
    f"WITH {PTS} "
    'SELECT class, "user", ts, round(abs(v * 2.5::DOUBLE) + 1.0::DOUBLE, 6) AS v_mapped FROM pts'
))
def ws_scalar_mapper_chain(spark, sf_dir):
    """Scalar-mapper factory tokens through MAP (MapperMul/MapperAbs/
    MapperAdd): `2.5 mapper.mul` pops its param at creation exactly like
    the reference factory functions."""
    script = f"""
    [ '~events\\..*' {{}} 0 {LASTBUCKET + DAY * 366} ] FETCH
    [ SWAP 2.5 mapper.mul 0 0 0 ] MAP
    [ SWAP mapper.abs 0 0 0 ] MAP
    [ SWAP 1.0 mapper.add 0 0 0 ] MAP
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_mapped", "v_mapped", ndigits=6)


@register("ws_snapshot_eval", (
    "SELECT '[ 1 2 3 ] { ''k'' 1.5 } ''a%27b''' AS snap, "
    "3 AS third, 1.5 AS kval, 'a''b' AS s"
))
def ws_snapshot_eval(spark, sf_dir):
    """SNAPSHOT → EVAL round-trip (SNAPSHOT.java): the snapshot string
    rebuilds the stack; values re-read after EVAL must match the
    originals (list elem, map entry, escaped string)."""
    script = """
    [ 1 2 3 ] { 'k' 1.5 } 'a%27b' URLDECODE
    SNAPSHOT
    DUP 'snap' STORE
    EVAL
    's' STORE 'm' STORE 'l' STORE
    $snap
    $l 2 GET
    $m 'k' GET
    $s
    """
    st_vals = []
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    st = WarpScriptStack(spark, sf_dir)
    st.exec(script)
    s = st.pop(); kval = st.pop(); third = st.pop(); snap = st.pop()
    return spark.createDataFrame(
        [(snap, third, kval, s)], "snap string, third long, kval double, s string"
    )


@register("ws_string_digest_suite", (
    "WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS c FROM orders WHERE o_orderkey % 1001 = 0) "
    "SELECT k, md5(c) AS md5_hex, "
    "       replace(to_base64(encode(c)), chr(10), '') AS b64, "
    "       CAST(length(c) AS BIGINT) AS len, "
    "       upper(c) AS up "
    "FROM o"
))
def ws_string_digest_suite(spark, sf_dir):
    """Digest + encoding names over real table strings: MD5 → ->HEX,
    ->B64, SIZE, TOUPPER — driven through the registry's COLUMN_BINDINGS
    (warpscript/functions.py), the vectorized JVM-side path for scalar
    names; per-row evaluator parity with these bindings lives in
    tests/test_warpscript.py (no driver-side collect loop)."""
    from warp10_platform_spark.sources.tables import canonical_points, load_table
    from warp10_platform_spark.warpscript.functions import COLUMN_BINDINGS as CB

    c = F.col("o_orderpriority")
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 1001 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            CB["->HEX"](CB["MD5"](c)).alias("md5_hex"),
            CB["->B64"](c).alias("b64"),
            CB["SIZE"](c).alias("len"),
            CB["TOUPPER"](c).alias("up"),
        )
    )


@register("ws_exp_smoothing", (
    f"WITH {PTS}, "
    'per AS (SELECT class, "user", list(v ORDER BY ts, v) AS vs FROM pts GROUP BY class, "user") '
    'SELECT class, "user", round(list_reduce(vs, (acc, x) -> acc * 0.7::DOUBLE + x * 0.3::DOUBLE), 6) AS s_last '
    "FROM per"
))
def ws_exp_smoothing(spark, sf_dir):
    """SINGLEEXPONENTIALSMOOTHING through the script surface — the
    analytics tier reachable from a pasted WarpScript pipeline."""
    script = f"""
    [ '~events\\..*' {{}} 0 {LASTBUCKET + DAY * 366} ] FETCH
    0.3 SINGLEEXPONENTIALSMOOTHING
    """
    out = exec_script(spark, sf_dir, script)
    return out.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        F.round("s_last", 6).alias("s_last"),
    )


# ---------------------------------------------------------------------
# The analytics/reshape registry families exercised end-to-end
# from pasted scripts (VERDICT r3 item 1 — the names existed in the
# engine but were unreachable from /exec until the 747-name registry).
# ---------------------------------------------------------------------

_END_ALL = LASTBUCKET + DAY * 366  # "everything" fetch window


def _lr_oracle():
    from warp10_platform_spark.queries.analytics import LR_ORACLE

    return LR_ORACLE


@register("ws_lr", _lr_oracle())
def ws_lr(spark, sf_dir):
    """FETCH → LR via script (LR.java registration WarpScriptLib.java):
    per-series least-squares line, same exact-moment engine path as
    lr_slope — proves the analytics tier is script-reachable."""
    script = f"""
    [ '~events\\..*' {{}} 0 {_END_ALL} ] FETCH
    LR
    """
    out = exec_script(spark, sf_dir, script)
    return out.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
    )


# Full-window DTW oracle: the script-form DTW (threshold form, DTW.java)
# runs the unbanded DP (w = max(n, m)), so the recursive-CTE replay uses
# that same band — otherwise identical to queries/analytics.DTW_ORACLE.
# DTW.java's contract is TWO series (gts1 gts2 threshold DTW), so the
# script fetches two fixed users — which also bounds the query at every
# SF (the all-users pairing is dtw_daily's job, top-K-capped there).
WS_DTW_ORACLE = f"""
WITH RECURSIVE {PTS}, {DAILY},
cd AS (SELECT "user", ts, CAST(count(*) AS DOUBLE) AS v FROM daily
       WHERE class = 'events.purchase' AND "user" IN ('1', '2')
       GROUP BY "user", ts),
arr AS (SELECT "user", list(v ORDER BY ts) AS a FROM cd GROUP BY "user"),
pairs AS (SELECT x."user" AS key_a, y."user" AS key_b, x.a AS va, y.a AS vb,
                 len(x.a) AS n, len(y.a) AS m,
                 greatest(len(x.a), len(y.a)) AS w
          FROM arr x JOIN arr y ON x."user" < y."user"),
dp AS (
  SELECT key_a, key_b, va, vb, n, m, w, 0 AS i,
         list_concat([0.0], list_transform(range(1, m + 1), j -> 'infinity'::DOUBLE)) AS row
  FROM pairs
  UNION ALL
  SELECT key_a, key_b, va, vb, n, m, w, i + 1,
         list_reduce(
           list_concat([['infinity'::DOUBLE]], list_transform(range(1, m + 1), j -> [CAST(j AS DOUBLE)])),
           (acc, e) -> list_append(acc,
               CASE WHEN CAST(e[1] AS BIGINT) BETWEEN greatest(1, i + 1 - w) AND least(m, i + 1 + w)
                    THEN abs(va[i + 1] - vb[CAST(e[1] AS BIGINT)])
                         + least(row[CAST(e[1] AS BIGINT) + 1], row[CAST(e[1] AS BIGINT)], acc[-1])
                    ELSE 'infinity'::DOUBLE END)
         ) AS row
  FROM dp WHERE i < n
)
SELECT key_a, key_b, row[m + 1] AS dtw FROM dp WHERE i = n
"""


@register("ws_dtw", WS_DTW_ORACLE)
def ws_dtw(spark, sf_dir):
    """FETCH → BUCKETIZE → DTW via script (DTW.java threshold form,
    gts1 gts2 threshold → distance): warped distance between two users'
    daily purchase profiles — the reference's two-series contract."""
    script = f"""
    [ 'events.purchase' {{ 'user' '1' }} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ 'events.purchase' {{ 'user' '2' }} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    0 DTW
    """
    out = exec_script(spark, sf_dir, script)
    ku = F.get_json_object("key_a", "$[0].value")
    kv = F.get_json_object("key_b", "$[0].value")
    return out.select(ku.alias("key_a"), kv.alias("key_b"), "dtw")


def _ws_stl_esd_oracle():
    from warp10_platform_spark.queries.advanced import _stl_esd_oracle

    return _stl_esd_oracle()


@register("ws_stlesd", _ws_stl_esd_oracle())
def ws_stlesd(spark, sf_dir):
    """FETCH → BUCKETIZE → FILTER (filter.bysize, the ADVICE-fixed
    two-long factory) → STLESDTEST via script (STLESDTEST.java) —
    seasonal ESD anomalies, fold-exact engine path, same oracle as
    stl_esd_outliers."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP [ ] 14 1000000 filter.bysize ] FILTER
    7 3 STLESDTEST
    """
    out = exec_script(spark, sf_dir, script)
    return out.select(
        "class", F.get_json_object("labels_key", "$[0].value").alias("user"), "ts", "v_outlier"
    )


@register("ws_fft_ifft", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, CAST(count(v) AS DOUBLE) AS v FROM daily GROUP BY class, "user", ts) '
    'SELECT class, "user", '
    '       CAST(row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS BIGINT) AS ts, '
    "       round(v, 6) AS v_ifft "
    "FROM b"
))
def ws_fft_ifft(spark, sf_dir):
    """FETCH → BUCKETIZE → FFT → IFFT via script (FFT.java complexForward
    then IFFT.java scaled complexInverse): the roundtrip reproduces the
    daily counts on bin-index ticks — integer-valued at 1e-6 resolution,
    so the oracle is the counts themselves."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    FFT
    IFFT
    """
    gf = exec_script(spark, sf_dir, script)
    return gf.df.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        "ts",
        F.round("v_double", 6).alias("v_ifft"),
    )


@register("ws_pivot", (
    f"WITH {PTS} "
    "SELECT '[{\"key\":\"user\",\"value\":\"' || \"user\" || '\"}]' AS labels_key, ts, "
    "  max(v) FILTER (WHERE class = 'events.click') AS click, "
    "  max(v) FILTER (WHERE class = 'events.purchase') AS purchase, "
    "  max(v) FILTER (WHERE class = 'events.view') AS \"view\" "
    "FROM pts GROUP BY 1, 2"
))
def ws_pivot(spark, sf_dir):
    """FETCH → PIVOT via script (PIVOT registration): class-per-column
    multivariate view, same shape as pivot_classes."""
    script = f"""
    [ '~events\\..*' {{}} 0 {_END_ALL} ] FETCH
    PIVOT
    """
    out = exec_script(spark, sf_dir, script)
    return out.select(
        "labels_key", "ts",
        F.col("`events.click`").alias("click"),
        F.col("`events.purchase`").alias("purchase"),
        F.col("`events.view`").alias("view"),
    )


@register("ws_timemodulo", (
    f"WITH {PTS} "
    f'SELECT class, "user", CAST(ts // {DAY} AS VARCHAR) AS q, '
    f"       ts % {DAY} AS ts, round(v, 6) AS v FROM pts"
))
def ws_timemodulo(spark, sf_dir):
    """FETCH → TIMEMODULO via script (TIMEMODULO.java:39): fold every
    series onto one day — quotient becomes label 'q' (exact integer DIV,
    not float division), tick becomes the remainder."""
    script = f"""
    [ '~events\\..*' {{}} 0 {_END_ALL} ] FETCH
    {DAY} 'q' TIMEMODULO
    """
    gf = exec_script(spark, sf_dir, script)
    return gf.df.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        F.element_at("labels", F.lit("q")).alias("q"),
        "ts",
        F.round("v_double", 6).alias("v"),
    )


@register("ws_encoder_roundtrip", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts'
))
def ws_encoder_roundtrip(spark, sf_dir):
    """FETCH → ASENCODERS (distributed EncoderFrame, per-series wire
    blobs) → TOGTS → BUCKETIZE via script (ASENCODERS.java,
    TOGTS.java:49): every point crosses the reference GTSWrapper wire
    format and the daily counts still match the direct oracle."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    ASENCODERS
    TOGTS
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    """
    gf = exec_script(spark, sf_dir, script)
    return gf.df.select(
        F.col("class"),
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        F.col("ts"),
        F.col("v_agg"),
    )


@register("ws_macroreducer_spread", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts) '
    "SELECT ts, CAST(max(v_agg) - min(v_agg) AS DOUBLE) AS v_reduced FROM b GROUP BY ts"
))
def ws_macroreducer_spread(spark, sf_dir):
    """MACROREDUCER via script (MACROREDUCER.java): a WarpScript macro —
    executed INSIDE the Arrow workers on a sparkless stack — computes
    the spread (max − min) of all series' daily counts per tick. The
    aggregator argument array ([tick names labels ticks locs elevs
    values]) and the [tick loc elev value] return contract are the
    reference's."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP 1 ->LIST [ ] <%
        6 GET 'vs' STORE
        $vs 0 GET 'mx' STORE $vs 0 GET 'mn' STORE
        $vs <% DUP $mx MAX 'mx' STORE $mn MIN 'mn' STORE %> FOREACH
        0 NaN NaN $mx $mn - 4 ->LIST
      %> MACROREDUCER ] REDUCE
    """
    out = exec_script(spark, sf_dir, script)
    return out.select("ts", F.col("v_reduced").cast("double").alias("v_reduced"))


@register("ws_filter_any_all", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts), '
    'k AS (SELECT class, "user" FROM b GROUP BY class, "user" HAVING max(v_agg) > 2 AND max(v_agg) <= 50) '
    'SELECT b.class, b."user", b.ts, b.v_agg FROM b JOIN k USING (class, "user")'
))
def ws_filter_any_all(spark, sf_dir):
    """filter.any.gt + filter.all.le chained through FILTER
    (FilterAny.java; WarpScriptLib.java:2789-2803 — `all` is the
    complemented `any` builder): keep series with at least one busy day
    but no day beyond the cap."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP [] 2.0 filter.any.gt ] FILTER
    [ SWAP [] 50.0 filter.all.le ] FILTER
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_agg", "v_agg")


@register("ws_dotproduct_smooth", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts), '
    'w AS (SELECT class, "user", ts, '
    '      0.25 * lag(v_agg) OVER win + 0.5 * v_agg + 0.25 * lead(v_agg) OVER win AS sm, '
    '      lag(v_agg) OVER win AS pv, lead(v_agg) OVER win AS nv '
    '      FROM b WINDOW win AS (PARTITION BY class, "user" ORDER BY ts)) '
    'SELECT class, "user", ts, sm AS v_mapped FROM w WHERE pv IS NOT NULL AND nv IS NOT NULL'
))
def ws_dotproduct_smooth(spark, sf_dir):
    """mapper.dotproduct through the script surface
    (MapperDotProduct.java:34): 3-tap [0.25 0.5 0.25] smoothing of daily
    counts. Exact oracle: power-of-two weights times integer counts make
    every product and partial sum IEEE-exact."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP [ 0.25 0.5 0.25 ] mapper.dotproduct 1 1 0 ] MAP
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df.where(F.col("v_mapped").isNotNull()), "v_mapped", "v_mapped")


@register("ws_npdf_script", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts) '
    'SELECT class, "user", ts, '
    "round(1.0 / (2.0 * sqrt(2 * pi())) * exp(-0.5 * ((v_agg - 3.0) / 2.0) ^ 2), 6) AS npdf "
    "FROM b"
))
def ws_npdf_script(spark, sf_dir):
    """mu sigma mapper.npdf through the script surface (MapperNPDF.
    Builder pops sigma then mu): N(3, 2) density of daily counts."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    [ SWAP 3.0 2.0 mapper.npdf 0 0 0 ] MAP
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_mapped", "npdf", ndigits=6)


@register("ws_multivalue_split", (
    "SELECT * FROM (VALUES "
    "(':0', 1000, 11.0), (':0', 2000, 21.0), (':0', 3000, 31.0), "
    "(':1', 1000, 12.0), (':1', 2000, 22.0), (':1', 3000, 32.0), "
    "(':2', 1000, 13.0), (':2', 2000, 23.0), (':2', 3000, 33.0)"
    ") AS t(class, ts, v_double)"
))
def ws_multivalue_split(spark, sf_dir):
    """Multivalue pipeline through the script surface (WRAPMV!/
    MVINDEXSPLIT, WRAP.java:92-96 + MVSPLIT.java): inner encoders wrapped
    metadata-less as point values, split back per index, decoded to GTS."""
    parts = ["NEWENCODER 'outer' STORE"]
    for t, base in ((1000, 11), (2000, 21), (3000, 31)):
        parts.append(
            "NEWENCODER "
            + " ".join(f"{j} NaN NaN NaN {float(base + j)}" + " ADDVALUE" for j in range(3))
            + " WRAPMV! 'w' STORE "
            + f"$outer {t} NaN NaN NaN $w ADDVALUE 'outer' STORE"
        )
    parts.append("$outer MVINDEXSPLIT <% TOGTS %> FOREACH 3 ->LIST")
    gf_or_list = exec_script(spark, sf_dir, "\n".join(parts))
    from warp10_platform_spark.warpscript.functions import _as_frame

    gf = _as_frame(gf_or_list)
    return gf.df.select("class", F.col("ts").cast("int").alias("ts"), "v_double")


# --- Processing canvas tier (round 4): data-driven render, oracled by a
# DuckDB pixel-grid replay of the exact coverage arithmetic. ---

_CANVAS_W, _CANVAS_H = 96, 64


@register("ws_canvas_raster", (
    f"WITH {PTS}, "
    "n AS (SELECT 10 + count(*) % 30 AS w FROM pts WHERE class = 'events.click'), "
    f"px AS (SELECT gx.x - 0.5 AS cx, gy.y - 0.5 AS cy "
    f"       FROM generate_series(1, {_CANVAS_W}) gx(x), generate_series(1, {_CANVAS_H}) gy(y)), "
    "cls AS (SELECT CASE "
    "  WHEN ((cx - 64.0) / 18.0) * ((cx - 64.0) / 18.0) + ((cy - 40.0) / 12.0) * ((cy - 40.0) / 12.0) <= 1.0 THEN 'blue' "
    "  WHEN cx >= 8 AND cx < 8 + w AND cy >= 8 AND cy < 28 THEN 'red' "
    "  ELSE 'bg' END AS color FROM px, n) "
    "SELECT color, count(*) AS n FROM cls GROUP BY color"
))
def ws_canvas_raster(spark, sf_dir):
    """Processing tier end-to-end (PGraphics/Pbackground/Pfill/Prect/
    Pellipse/Ppixels — io.warp10.script.processing.*, registrations
    WarpScriptLib.java:3187-3340): a canvas whose rectangle width is
    driven by the data (click-event count), rasterized with the exact
    pixel-center coverage rule, then pixel-classified. The DuckDB oracle
    replays the SAME membership arithmetic over a generate_series pixel
    grid — float64-identical, so counts match bit-exactly."""
    import numpy as np

    from warp10_platform_spark.sources.tables import canonical_points
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    n_clicks = canonical_points(spark, sf_dir).where(F.col("class") == "events.click").count()
    w = 10 + n_clicks % 30
    st = WarpScriptStack(spark, sf_dir)
    st.exec(
        f"{_CANVAS_W} {_CANVAS_H} '2D' PGraphics 240 Pbackground PnoStroke "
        f"255 0 0 Pfill 8 8 {w} 20 Prect "
        "0 0 255 Pfill 64 40 36 24 Pellipse"
    )
    pg = st.pop()
    rgb = pg.pix & 0xFFFFFF
    counts = [
        ("bg", int((rgb == 0xF0F0F0).sum())),
        ("blue", int((rgb == 0x0000FF).sum())),
        ("red", int((rgb == 0xFF0000).sum())),
    ]
    return spark.createDataFrame(counts, "color string, n long")


@register("ws_ceval_fetch", (
    f"WITH {PTS} "
    "SELECT class, count(*) AS n FROM pts "
    "WHERE class IN ('events.click', 'events.view', 'events.error', 'events.purchase') "
    "GROUP BY class"
))
def ws_ceval_fetch(spark, sf_dir):
    """CEVAL (ext/concurrent/CEVAL.java): four FETCH+SIZE macros run
    CONCURRENTLY on sub-stacks sharing one SparkSession (Spark job
    submission is thread-safe; each sub-stack seeds from the parent's
    symbols). Each macro drops its injected index, fetches one class,
    and leaves its point count — results collected in macro order."""
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    classes = ["events.click", "events.view", "events.error", "events.purchase"]
    hi = LASTBUCKET + DAY * 366
    macros = " ".join(
        f"<% DROP [ '{c}' {{}} 0 {hi} ] FETCH SIZE %>" for c in classes
    )
    st = WarpScriptStack(spark, sf_dir)
    st.exec(f"[ {macros} ] 4 CEVAL")
    results = st.pop()
    rows = [(c, int(res[0])) for c, res in zip(classes, results)]
    return spark.createDataFrame(rows, "class string, n long")


@register("ws_secure_eval", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts'
))
def ws_secure_eval(spark, sf_dir):
    """The secure-script path end-to-end: a FETCH→BUCKETIZE pipeline is
    SECUREd into an opaque blob (thrift SecureScript + RFC 3394 keywrap
    + OPB64, functions_secure.py) and executed via EVALSECURE on the
    real stack — same lazy Catalyst plan, same oracle as the plain
    ws_fetch_bucketize."""
    from warp10_platform_spark.warpscript import functions_secure as fs

    inner = (
        f"[ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH "
        f"[ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE"
    )
    blob = fs.secure(fs._DEFAULT_MASTER, "mixkey", inner, timestamp_ms=0)
    script = f"'mixkey' SECUREKEY '{blob}' EVALSECURE"
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_agg", "v_agg")


@register("ws_registers_pipeline", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, count(v) AS v_agg FROM daily GROUP BY class, "user", ts'
))
def ws_registers_pipeline(spark, sf_dir):
    """Register ops end-to-end (POPRn/PUSHRn/CPOPRn/RUNRn, the loop
    registrations at WarpScriptLib.java:3389-3394): the fetch result is
    parked in register 0, a bucketizer macro in register 7, and the
    pipeline reassembled from registers — same plan, same oracle as
    ws_fetch_bucketize."""
    script = f"""
    <% [ SWAP bucketizer.count {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE %> POPR7
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    POPR0
    PUSHR0
    RUNR7
    """
    gf = exec_script(spark, sf_dir, script)
    return _out(gf.df, "v_agg", "v_agg")


@register("ws_metamatch", (
    f"WITH {PTS} "
    "SELECT DISTINCT class, "
    "  '[{\"key\":\"user\",\"value\":\"' || \"user\" || '\"}]' AS labels_key, "
    "  (class LIKE 'events.p%') AS is_match "
    f"FROM pts WHERE ts > {LASTBUCKET - DAY * NDAYS} AND ts <= {LASTBUCKET}"
))
def ws_metamatch(spark, sf_dir):
    """METADIFF delta-upserts an attribute on every fetched series, then
    METAMATCH evaluates a STANDARD selector whose label key only exists
    as an attribute — exercising the label→attribute fallback
    (MetadataSelectorMatcher.java:160-168) plus the class regex. The
    match boolean is therefore exactly 'class starts with events.p'
    (the attribute clause holds everywhere METADIFF ran)."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    {{ 'unit' 'count' 'obsolete' '' }} METADIFF
    '~events\\.p.*{{unit=count}}' METAMATCH
    """
    out = exec_script(spark, sf_dir, script)
    return out.select("class", "labels_key", F.col("match").alias("is_match"))


@register("ws_pickle_roundtrip", (
    f"WITH {PTS} "
    "SELECT class, count(*) AS n FROM pts "
    "WHERE class IN ('events.click', 'events.purchase') GROUP BY class"
))
def ws_pickle_roundtrip(spark, sf_dir):
    """->PICKLE / PICKLE-> (TOPICKLE.java, PICKLETO.java): a data-bearing
    map (per-class point counts) survives the pickle wire format — the
    Python-adjacent egress a Warp 10 + Python user relies on. The
    unpickler is the restricted data-only one (functions_stack.PICKLE->)."""
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    hi = LASTBUCKET + DAY * 366
    st = WarpScriptStack(spark, sf_dir)
    st.exec(
        "{ "
        f"'events.click' [ 'events.click' {{}} 0 {hi} ] FETCH SIZE "
        f"'events.purchase' [ 'events.purchase' {{}} 0 {hi} ] FETCH SIZE "
        "} ->PICKLE PICKLE->"
    )
    m = st.pop()
    rows = sorted((k, int(v)) for k, v in m.items())
    return spark.createDataFrame(rows, "class string, n long")


@register("ws_percentile_bucketize", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, round(quantile_cont(v, 0.95), 6) AS v_p95 '
    'FROM daily GROUP BY class, "user", ts'
))
def ws_percentile_bucketize(spark, sf_dir):
    """Parameterized aggregator through the script surface: `95.0
    bucketizer.percentile` pops its parameter at CREATION, like the
    reference's function object (PERCENTILE.java:48) — daily p95 per
    series, exact interpolating percentile on both engines."""
    script = f"""
    [ '~events\\..*' {{}} {_START} {LASTBUCKET} ] FETCH
    [ SWAP 95.0 bucketizer.percentile {LASTBUCKET} {DAY} {NDAYS} ] BUCKETIZE
    """
    gf = exec_script(spark, sf_dir, script)
    return gf.df.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        "ts",
        F.round("v_agg", 6).alias("v_p95"),
    )
