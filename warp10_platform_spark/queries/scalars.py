"""Scalar-function queries — the §2.9 surface as oracled queries:
BigDecimal exact arithmetic, TSELEMENTS/FROMTSELEMENTS in a named tz,
ISO8601 DURATION/ADDDURATION/HUMANDURATION, string codecs
(TOB64/HEX/MD5/DIGEST), JSON parse (JSONTO), deterministic RAND/RANDPDF,
and the list higher-order functions (LMAP/LFILTER/SUBLIST/SIZE).
Reference registrations: WarpScriptLib.java:2985-3032 (math),
functions/BDADD.java (BigDecimal suite), functions/TSELEMENTS.java:36,
functions/DURATION.java:43, functions/ADDDURATION.java:35,
functions/HUMANDURATION.java:28, functions/TOB64.java / HEX / DIGEST,
functions/JSONTO.java:35, functions/RAND.java:29 / RANDPDF.java:37,
functions/LMAP.java:40 / LFILTER.java:28 / SUBLIST.java:36.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.functions.timeutil import humanduration, parse_duration
from warp10_platform_spark.queries import register
from warp10_platform_spark.sources.tables import epoch_ticks_col, load_table


# ---------- BigDecimal suite (BD* — exact decimal arithmetic) ----------

@register("bd_decimal_suite", (
    "SELECT l_returnflag, "
    "       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,2)) * (1 - CAST(l_discount AS DECIMAL(8,6))) "
    "                     * (1 + CAST(l_tax AS DECIMAL(8,6)))) AS DECIMAL(38,6)) AS VARCHAR) AS bd_revenue, "
    "       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DECIMAL(38,6)) AS VARCHAR) AS bd_qty "
    "FROM lineitem GROUP BY l_returnflag"
))
def bd_decimal_suite(spark, sf_dir):
    """BigDecimal suite (functions/BDADD.java, BDMUL, BDSUB — 40+ fns):
    exact DECIMAL(38,10) arithmetic with no float drift, as Spark
    DecimalType exprs. Output cast to string so the compare is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(19,2)")
    disc = F.col("l_discount").cast("decimal(8,6)")
    tax = F.col("l_tax").cast("decimal(8,6)")
    # Scales sized so the 3-way product stays inside DECIMAL(38,·) in BOTH
    # engines (DuckDB hard-errors on HUGEINT overflow at wider scales).
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("decimal(38,6)").cast("string").alias("bd_revenue"),
            F.sum(F.col("l_quantity").cast("decimal(15,2)")).cast("decimal(38,6)").cast("string").alias("bd_qty"),
        )
    )


# ---------- TSELEMENTS / FROMTSELEMENTS in a named timezone ----------

@register("tselements_tz", (
    f"WITH e AS (SELECT event_id, {tu.duck_epoch('ts')} AS us FROM events WHERE event_id % 101 = 0), "
    f"loc AS (SELECT event_id, us, "
    f"               timezone('America/New_York', make_timestamptz({tu.duck_units_to_us('us')})) AS lt FROM e) "
    f"SELECT event_id, us, "
    f"       year(lt) AS y, month(lt) AS mo, day(lt) AS d, "
    f"       hour(lt) AS h, minute(lt) AS mi, second(lt) AS s, "
    f"       us % {tu.UNITS_PER_S} AS micros "
    f"FROM loc"
))
def tselements_tz(spark, sf_dir):
    """TSELEMENTS (functions/TSELEMENTS.java:36): µs timestamp →
    [Y, M, D, h, m, s, µs] decomposed in a named timezone
    (America/New_York), the reference's tz-aware calendar splitter."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = epoch_ticks_col(ev, "ts")
    from warp10_platform_spark.functions.timeutil import tz_wall_ntz

    e = ev.select("event_id", ts_us.alias("us")).where(F.col("event_id") % 101 == 0)
    # NTZ wall-clock math: session-timezone-independent (tz_wall_ntz)
    lt = tz_wall_ntz(F.col("us"), "America/New_York")
    return e.select(
        "event_id",
        "us",
        F.year(lt).alias("y"),
        F.month(lt).alias("mo"),
        F.dayofmonth(lt).alias("d"),
        F.hour(lt).alias("h"),
        F.minute(lt).alias("mi"),
        F.second(lt).alias("s"),
        (F.col("us") % tu.UNITS_PER_S).alias("micros"),
    )


# ---------- ISO8601 durations ----------

_ISO = "P1DT2H30M"


_SHIFT_US = parse_duration(_ISO)  # oracle hardcodes the expected µs: an


# independent check that the parser agrees with the ISO8601 spec value.


@register("duration_shift", (
    f"SELECT event_id, {tu.duck_epoch('ts')} + {_SHIFT_US} AS ts_shifted, "
    f"       CAST({_SHIFT_US} AS BIGINT) AS span_us, "
    f"       '{humanduration(_SHIFT_US)}' AS human "
    "FROM events WHERE event_id % 101 = 0"
))
def duration_shift(spark, sf_dir):
    """DURATION + ADDDURATION + HUMANDURATION (functions/DURATION.java:43,
    ADDDURATION.java:35, HUMANDURATION.java:28): parse ISO8601 'P1DT2H30M'
    to platform µs, shift every tick, render human-readable. The oracle's
    literal 95400000000 / '1d2h30m' pins the parser to the spec."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = epoch_ticks_col(ev, "ts")
    span = parse_duration(_ISO)
    return (
        ev.where(F.col("event_id") % 101 == 0)
        .select(
            "event_id",
            (ts_us + F.lit(span)).alias("ts_shifted"),
            F.lit(span).cast("long").alias("span_us"),
            F.lit(humanduration(span)).alias("human"),
        )
    )


# ---------- String codecs (TOB64 / HEX / MD5 / SHA256) ----------

@register("string_codecs", (
    "SELECT doc_id, "
    "       to_base64(substr(text, 1, 24)::BLOB) AS b64, "
    "       md5(text) AS md5_hex, "
    "       sha256(text) AS sha256_hex, "
    "       upper(hex(substr(text, 1, 8)::BLOB)) AS hex8, "
    "       length(text) AS n "
    "FROM documents WHERE doc_id % 37 = 0"
))
def string_codecs(spark, sf_dir):
    """String codec suite (functions/TOB64.java, BINTOHEX, DIGEST/MD5,
    SHA256 via DIGEST): base64/hex encodings and cryptographic digests as
    native JVM exprs — no Python in the path."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.where(F.col("doc_id") % 37 == 0).select(
        "doc_id",
        F.base64(F.substring(t, 1, 24).cast("binary")).alias("b64"),
        F.md5(t.cast("binary")).alias("md5_hex"),
        F.sha2(t.cast("binary"), 256).alias("sha256_hex"),
        F.upper(F.hex(F.substring(t, 1, 8).cast("binary"))).alias("hex8"),
        F.length(t).alias("n"),
    )


# ---------- JSON parse (JSONTO / TOJSON) ----------

@register("json_props_extract", (
    "WITH j AS (SELECT event_id, event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events) "
    "SELECT event_type, "
    "       count(*) AS n_high, "
    "       CAST(sum(k) AS BIGINT) AS sum_k "
    "FROM j WHERE k >= 90 GROUP BY event_type"
))
def json_props_extract(spark, sf_dir):
    """JSONTO (functions/JSONTO.java:35): parse the events.props JSON
    payload, extract a numeric field, filter and aggregate on it —
    from_json keeps the whole path in Catalyst (no UDF)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "struct<k:bigint>").getField("k")
    return (
        ev.select("event_id", "event_type", k.alias("k"))
        .where(F.col("k") >= 90)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_high"), F.sum("k").cast("long").alias("sum_k"))
    )


# ---------- Deterministic RAND / RANDPDF ----------

@register("seeded_rand_sample", (
    "WITH u AS (SELECT event_id, "
    "                  CAST(('0x' || substr(md5('seed42:' || CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) "
    "                  / 4503599627370496.0 AS u01 FROM events) "
    "SELECT event_id, round(u01, 9) AS u, round(-ln(1.0 - u01), 9) AS exp_draw "
    "FROM u WHERE u01 < 0.05"
))
def seeded_rand_sample(spark, sf_dir):
    """RAND/SRAND/RANDPDF (functions/RAND.java:29, RANDPDF.java:37):
    reproducible uniform draws from a seeded counter hash (md5 → 52-bit
    mantissa → [0,1)), plus an inverse-CDF exponential transform — the
    distributed-safe analog of SRAND (same draw for the same row on any
    executor, any partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    u01 = (
        F.expr("cast(conv(substr(md5(concat('seed42:', cast(event_id AS string))), 1, 13), 16, 10) AS bigint)")
        / F.lit(float(1 << 52))
    )
    return (
        ev.select("event_id", u01.alias("u01"))
        .where(F.col("u01") < 0.05)
        .select(
            "event_id",
            F.round("u01", 9).alias("u"),
            F.round(-F.log(F.lit(1.0) - F.col("u01")), 9).alias("exp_draw"),
        )
    )


# ---------- List higher-order functions (LMAP / LFILTER / SUBLIST) ----------

@register("list_hof_suite", (
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * 2 + 1) AS m FROM embeddings "
    "           WHERE vec_id % 29 = 0) "
    "SELECT vec_id, "
    "       len(m) AS n, "
    "       len(list_filter(m, x -> x > 1.0)) AS n_pos, "
    "       round(list_sum(m), 6) AS total, "
    "       round(m[1], 6) AS first_m, "
    "       round(list_sum(m[1:4]), 6) AS head_sum "
    "FROM e"
))
def list_hof_suite(spark, sf_dir):
    """List HOFs (functions/LMAP.java:40, LFILTER.java:28, SUBLIST.java:36,
    SIZE.java:37): transform / filter / slice / fold over the embedding
    arrays — Spark's higher-order functions are the near-exact analog the
    survey promised (§2.9), all JVM-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = F.transform(F.col("embedding"), lambda x: x.cast("double") * 2 + 1)
    e = emb.where(F.col("vec_id") % 29 == 0).select("vec_id", m.alias("m"))
    zero = F.lit(0.0)
    return e.select(
        "vec_id",
        F.size("m").alias("n"),
        F.size(F.filter("m", lambda x: x > 1.0)).alias("n_pos"),
        F.round(F.aggregate("m", zero, lambda a, x: a + x), 6).alias("total"),
        F.round(F.element_at("m", 1), 6).alias("first_m"),
        F.round(F.aggregate(F.slice("m", 1, 4), zero, lambda a, x: a + x), 6).alias("head_sum"),
    )
