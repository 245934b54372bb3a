"""Guards on what a script may do: the restricted PICKLE-> unpickler,
the CALL/REXEC and out-of-scope names that raise a named error, the
GEOCOVER cell cap, TIMEBOX's budget in platform ticks, and epoch_us_col's
independence of the session timezone."""

import pickle

import pytest
from pyspark.sql import functions as F


def _stack(spark, sf_dir):
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    return WarpScriptStack(spark, sf_dir)


def test_pickle_roundtrip_data(spark, sf_dir):
    st = _stack(spark, sf_dir)
    st.exec("{ 'a' 1 'b' [ 1 2 3 ] } ->PICKLE PICKLE->")
    assert st.pop() == {"a": 1, "b": [1, 2, 3]}


def test_pickle_to_refuses_code(spark, sf_dir):
    """PICKLE-> must refuse pickles that resolve non-data globals
    (os.system etc.) — data-only like the JVM razorvine unpickler."""
    evil = pickle.dumps(pickle.loads.__self__ if False else print)  # a callable
    st = _stack(spark, sf_dir)
    st.push(evil)
    with pytest.raises(Exception, match="refuses non-data global"):
        st.exec("PICKLE->")


def test_call_stub_raises_documented(spark, sf_dir):
    st = _stack(spark, sf_dir)
    for fn in ("CALL", "REXEC"):
        with pytest.raises(Exception, match="out of scope"):
            st.exec(f"'x' {fn}")


def test_residual_names_all_bound_with_reasons(spark, sf_dir):
    """Round-6 closure of the unbound tail: TIGER/GOST and the ten
    platform-management names raise a NAMED out-of-scope error (never
    'unknown function'), so any macro library referencing them fails
    with the reason."""
    st = _stack(spark, sf_dir)
    for fn, frag in (
        ("TIGER", "S-box"),
        ("GOST", "S-box"),
        ("TOKENINFO", "out of scope"),
        ("WF.ADDREPO", "out of scope"),
        ("LOGINIT", "out of scope"),
        ("PIGSCHEMA", "out of scope"),
        ("CAPADD", "CAPGET"),
    ):
        with pytest.raises(NotImplementedError, match=frag):
            st.exec(f"'x' {fn}")


def test_geocover_cap(spark, sf_dir):
    """A fine-resolution cover over many distinct locations trips the
    10000-cell guard (WarpScriptStack.DEFAULT_MAX_GEOCELLS) instead of
    materializing unbounded cells on the driver."""
    from warp10_platform_spark.core.frame import GTSFrame

    n = 600
    df = spark.range(n).select(
        F.lit("geo.cap").alias("class"),
        F.lit('[{"key":"user","value":"u"}]').alias("labels_key"),
        (F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") % 80 * 1.0 - 40.0).alias("lat"),
        ((F.col("id") * 7) % 300 * 1.0 - 150.0).alias("lon"),
        F.lit(1.0).alias("v_double"),
    ).withColumn("gts_id", F.xxhash64("class", "labels_key"))
    st = _stack(spark, sf_dir)
    st.attributes = {"stack.maxgeocells": 100}
    st.push(GTSFrame(df, None, "v_double"))
    st.push(16)
    with pytest.raises(Exception, match="cell limit"):
        from warp10_platform_spark.warpscript.functions import REGISTRY

        REGISTRY["GEOCOVER"](st)
    # coarse resolution stays under the cap and succeeds
    st.push(GTSFrame(df, None, "v_double"))
    st.push(2)
    from warp10_platform_spark.warpscript.functions import REGISTRY

    REGISTRY["GEOCOVER"](st)
    cov = st.pop()
    assert 0 < len(list(cov.cells)) <= 100


def test_epoch_us_col_is_session_tz_independent(spark):
    """epoch_us_col on DATE / TIMESTAMP_NTZ must not route through the
    session timezone. Regression for the r5 adversarial-sweep find:
    timestampdiff/timediff on NTZ operands shift by the DST gap width
    under a zone whose gap crosses local midnight (America/Sao_Paulo,
    2000-10-08 00:00 -> 01:00 and 1995-10-15)."""
    from warp10_platform_spark.sources.tables import epoch_us_col

    # x's minute (59) pins the INT*INT overflow class too: MINUTE(x) *
    # 60000000 overflows int32 for minutes >= 36 under ANSI unless the
    # term is explicitly BIGINT.
    base = spark.sql(
        "SELECT TIMESTAMP_NTZ '2000-10-08 23:59:59.123456' AS x,"
        " DATE '2000-10-08' AS d,"
        " TIMESTAMP_NTZ '1995-10-15 00:00:00' AS y"
    )
    # exact expectations, computed tz-free:
    import datetime as _dt

    utc = _dt.timezone.utc
    want = {
        "x": int(_dt.datetime(2000, 10, 8, 23, 59, 59, 123456, tzinfo=utc).timestamp() * 1_000_000),
        "d": int(_dt.datetime(2000, 10, 8, tzinfo=utc).timestamp() * 1_000_000),
        "y": int(_dt.datetime(1995, 10, 15, tzinfo=utc).timestamp() * 1_000_000),
    }
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Sao_Paulo", "Asia/Kolkata", "Pacific/Apia"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            row = base.select(
                epoch_us_col(base, "x").alias("x"),
                epoch_us_col(base, "d").alias("d"),
                epoch_us_col(base, "y").alias("y"),
            ).collect()[0]
            assert row.asDict() == want, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_timebox_budget_in_platform_ticks(spark, sf_dir):
    """TIMEBOX's budget is PLATFORM TICKS (`1 s` pushes STU ticks), so
    the elapsed check must scale with the session unit — a generous
    10-second budget admits a trivial macro, a 1-tick budget trips."""
    st = _stack(spark, sf_dir)
    st.exec("<% 1 2 + %> 10 s TIMEBOX")
    assert st.pop() == 3
    with pytest.raises(TimeoutError):
        # 1 tick (1 µs default): even a trivial macro overruns
        st.exec("<% 1 2 + DROP 0 'i' STORE <% $i 2000 < %> <% $i 1 + 'i' STORE %> WHILE %> 1 TIMEBOX")
