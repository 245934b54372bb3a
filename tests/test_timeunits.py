"""core/timeunits: the configurable session tick resolution
(Constants.java:51-61, 551-567 — warp.timeunits us|ms|ns).

The module bakes its constants at import from WARP10_TIME_UNITS, like
the reference's static initializer; these tests reload it under each
mode (restoring the default afterwards) and check the pure scaling
helpers. The END-TO-END proof that the unit threads through every tier
is the driver-mirror run under WARP10_TIME_UNITS=ns / =ms (fresh
process; see MIRROR_ns_r6.txt / MIRROR_ms_r6.txt) — this file covers
the arithmetic contracts those runs rely on.
"""

from __future__ import annotations

import importlib
import os

import pytest

from warp10_platform_spark.core import timeunits


@pytest.fixture
def reload_units():
    """Reload timeunits under a given unit; always restore the session
    default afterwards so other tests see the baked constants."""
    def _load(unit):
        os.environ["WARP10_TIME_UNITS"] = unit
        return importlib.reload(timeunits)

    prev = os.environ.get("WARP10_TIME_UNITS")
    try:
        yield _load
    finally:
        if prev is None:
            os.environ.pop("WARP10_TIME_UNITS", None)
        else:
            os.environ["WARP10_TIME_UNITS"] = prev
        importlib.reload(timeunits)


def test_constants_per_mode(reload_units):
    for unit, per_ms, per_s, ns_per in (
        ("us", 1_000, 1_000_000, 1_000),
        ("ms", 1, 1_000, 1_000_000),
        ("ns", 1_000_000, 1_000_000_000, 1),
    ):
        m = reload_units(unit)
        assert m.TIME_UNIT == unit
        assert m.UNITS_PER_MS == per_ms  # Constants.java:554-560
        assert m.UNITS_PER_S == per_s
        assert m.NS_PER_UNIT == ns_per  # Constants.java:567


def test_invalid_unit_rejected(reload_units):
    os.environ["WARP10_TIME_UNITS"] = "minutes"
    with pytest.raises(ValueError):
        importlib.reload(timeunits)


def test_us_round_trip_exact(reload_units):
    day_us = 86_400_000_000
    for unit, expected in (("us", day_us), ("ms", day_us // 1000), ("ns", day_us * 1000)):
        m = reload_units(unit)
        assert m.us(day_us) == expected
        assert m.units_to_us(m.us(day_us)) == day_us  # ms-aligned → lossless


def test_ms_mode_truncates_subms(reload_units):
    m = reload_units("ms")
    assert m.us(1_500) == 1  # 1.5 ms → 1 tick: coarser tick wins
    assert m.us(999) == 0


def test_duck_fragments(reload_units):
    m = reload_units("ns")
    assert m.duck_epoch("ts") == "epoch_ns(ts)"
    assert m.duck_us_to_units("x") == "((x) * 1000)"
    assert m.duck_units_to_us("x") == "((x) // 1000)"
    m = reload_units("ms")
    assert m.duck_epoch("ts") == "epoch_ms(ts)"
    assert m.spark_us_to_units("x") == "((x) DIV 1000)"
    m = reload_units("us")
    assert m.duck_epoch("ts") == "epoch_us(ts)"
    assert m.duck_us_to_units("x") == "x"


def test_col_conversions_exact_at_epoch_ns_magnitude(spark, reload_units):
    """ns↔µs column scaling must be integer-exact at 2024-epoch-ns
    magnitudes (~1.7e18) — far beyond double's 53-bit mantissa, the
    reason _div1000_exact uses DECIMAL division."""
    m = reload_units("ns")
    ts_ns = 1_706_659_200_000_000_123  # epoch ns with a sub-µs remainder
    row = spark.range(1).selectExpr(f"{ts_ns}L AS t")
    got = row.select(m.col_units_to_us(row["t"]).alias("us")).collect()[0]["us"]
    assert got == ts_ns // 1000
    row_us = spark.range(1).selectExpr(f"{ts_ns // 1000}L AS u")
    back = row_us.select(m.col_us_to_units(row_us["u"]).alias("n")).collect()[0]["n"]
    assert back == (ts_ns // 1000) * 1000

    m = reload_units("ms")
    ts_us = 1_706_659_200_000_123
    row2 = spark.range(1).selectExpr(f"{ts_us}L AS u")
    got_ms = row2.select(m.col_us_to_units(row2["u"]).alias("ms")).collect()[0]["ms"]
    assert got_ms == ts_us // 1000


def test_ns_mode_end_to_end_oracle_subprocess(sf_dir):
    """End-to-end unit flip INSIDE the test suite: a fresh process with
    WARP10_TIME_UNITS=ns runs a representative GTS-tier slice (fetch,
    daily bucketize, calendar bucketize, the unit probe, duration shift)
    against DuckDB oracles generated from the same constant. Keeps the
    unit threading regression-guarded by pytest alone — the full 240-
    query proof is the per-round MIRROR_ns/MIRROR_ms ledgers."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, WARP10_TIME_UNITS="ns")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "driver_mirror.py"), sf_dir,
         "fetch_range", "bucketize_mean", "bucketize_calendar_daily",
         "time_units_probe", "duration_shift"],
        capture_output=True, text=True, timeout=420, env=env, cwd=repo,
    )
    tail = out.stdout.strip().splitlines()
    assert any("TOTAL pass=5 fail=0 err=0" in ln for ln in tail), out.stdout[-2000:] + out.stderr[-2000:]


def test_unit_suffixes_reference_semantics_subprocess():
    """Unit-suffix functions follow unary/UNIT.java exactly:
    tick = Math.round(v * factor_ms * TIME_UNITS_PER_MS), with
    fractional factors for sub-ms suffixes — `3 ns` is 0 in us mode but
    3 in ns mode, `1 us` is 0 in ms mode, and `ps` exists in all modes.
    Runs in subprocesses so each mode gets its baked constants."""
    import os
    import subprocess
    import sys

    prog = (
        "import sys; sys.path.insert(0, '.');\n"
        "from warp10_platform_spark.warpscript.functions import REGISTRY\n"
        "class St(list):\n"
        "    push = list.append\n"
        "    def pop(self): return list.pop(self)\n"
        "st = St()\n"
        "import json, os\n"
        "out = {}\n"
        "for v, name in [(3, 'ns'), (1, 'us'), (1.5, 's'), (2, 'h'), (1, 'ps')]:\n"
        "    st.push(v); REGISTRY[name](st); out[f'{v}{name}'] = st.pop()\n"
        "print(json.dumps(out))\n"
    )
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    expect = {
        "us": {"3ns": 0, "1us": 1, "1.5s": 1_500_000, "2h": 7_200_000_000, "1ps": 0},
        "ms": {"3ns": 0, "1us": 0, "1.5s": 1_500, "2h": 7_200_000, "1ps": 0},
        "ns": {"3ns": 3, "1us": 1_000, "1.5s": 1_500_000_000, "2h": 7_200_000_000_000, "1ps": 0},
    }
    for unit, want in expect.items():
        env = dict(os.environ, WARP10_TIME_UNITS=unit)
        out = subprocess.run([sys.executable, "-c", prog], capture_output=True,
                             text=True, timeout=120, env=env, cwd=repo)
        assert out.returncode == 0, out.stderr[-1500:]
        got = json.loads(out.stdout.strip().splitlines()[-1])
        assert got == want, (unit, got, want)
