"""CLI entry point (python -m warp10_platform_spark): the /exec surface."""

import json

from warp10_platform_spark.__main__ import main


def test_cli_scalars(spark, capsys, tmp_path):
    p = tmp_path / "s.mc2"
    p.write_text("1 2 + 'x' SWAP")
    assert main([str(p), "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out == [3, "x"]


def test_cli_fetch_bucketize_gts_json(spark, capsys, tmp_path):
    p = tmp_path / "s.mc2"
    p.write_text(
        "[ '~events\\..*' {} 1704844800000000 1704931200000000 ] FETCH "
        "[ SWAP bucketizer.count 1704931200000000 86400000000 1 ] BUCKETIZE"
    )
    assert main([str(p), "--sf-dir", "/root/testdata/sf0.001", "--limit", "5"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert len(out) == 1 and isinstance(out[0], list) and out[0]
    gts = out[0][0]
    assert set(gts) == {"c", "l", "a", "v"}
    assert gts["c"].startswith("events.")
    assert all(len(pt) == 2 for pt in gts["v"])


def test_cli_explain_mode(spark, capsys, tmp_path, monkeypatch):
    from warp10_platform_spark.warpscript import functions as WF

    p = tmp_path / "s.mc2"
    p.write_text("[ 'events.purchase{}' {} 0 1704931200000000 ] FETCH")
    with monkeypatch.context() as m:
        m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
        assert main([str(p), "--sf-dir", "/root/testdata/sf0.001", "--explain"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert "gts_plan" in out[0] and "Scan parquet" in out[0]["gts_plan"] or "FileScan" in out[0]["gts_plan"]
    # under the gate the answer comes from Arrow: explain gives the route and the rows
    assert main([str(p), "--sf-dir", "/root/testdata/sf0.001", "--explain"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out[0] == {"gts_route": "arrow", "rows": out[0]["rows"]} and out[0]["rows"] > 0


def test_cli_error_contract(spark, capsys, tmp_path):
    p = tmp_path / "bad.mc2"
    p.write_text("1 NOSUCHFUNCTION")
    assert main([str(p), "--sf-dir", "/root/testdata/sf0.001"]) == 1
    err = json.loads(capsys.readouterr().err)
    assert "error" in err and "NOSUCHFUNCTION" in err["error"]


def test_cli_example_scripts(spark, capsys):
    """The committed example scripts run end-to-end through the CLI."""
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = sorted(glob.glob(os.path.join(repo, "examples", "*.mc2")))
    assert len(scripts) >= 3
    for s in scripts:
        assert main([s, "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"]) == 0, s
        out = json.loads(capsys.readouterr().out)
        assert isinstance(out, list) and out, s


def test_cli_interactive_repl(spark, capsys, monkeypatch):
    """--interactive: lines exec on ONE persistent stack, an error mid-
    session reports and the session continues, EOF prints the final
    stack as the /exec JSON payload."""
    import io

    monkeypatch.setattr("sys.stdin", io.StringIO("1 2 +\nNOSUCHFN\n'x' STORE\n$x 10 *\n"))
    assert main(["--interactive", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    cap = capsys.readouterr()
    assert "NOSUCHFN" in cap.err  # error reported, session survived
    out = json.loads(cap.out.splitlines()[-1])
    assert out == [30]  # 3 stored as x despite the failing line, then 3*10


def test_cli_interactive_multiline(spark, capsys, monkeypatch):
    """Multi-line constructs buffer until complete (the reference REPL
    keeps MemoryWarpScriptStack parser state across lines): a <% %>
    macro and a <' '> multiline string each spanning lines exec as one
    fragment, not per-line."""
    import io

    monkeypatch.setattr("sys.stdin", io.StringIO(
        "<%\n  2 *\n%>\n'dbl' STORE\n21 @dbl\n<'\nhello\nworld\n'>\n"
    ))
    assert main(["--interactive", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    cap = capsys.readouterr()
    out = json.loads(cap.out.splitlines()[-1])
    assert out == ["hello\nworld", 42]


def test_cli_interactive_with_script(spark, capsys, monkeypatch, tmp_path):
    """-i plus a script argument execs the script first, then the REPL
    opens on the resulting stack (the r6 advice: don't silently ignore
    the script)."""
    import io

    p = tmp_path / "seed.mc2"
    p.write_text("<% 3 + %> 'add3' STORE")
    monkeypatch.setattr("sys.stdin", io.StringIO("4 @add3\n"))
    assert main(["--interactive", str(p), "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out == [7]


def _unsorted_gts(spark):
    """Four classes, eight series, rows in no particular order; one series
    has empty labels and a null labels_key, like a `REDUCE [ ]` output,
    and another null maps.  Some rows carry what the kernels never
    produce: a string, a boolean, a long above 2^53, a located point with
    an elevation, an elevation alone and a null tick.  A fourth class is
    one series cut by TIMEMODULO into two, each with its own labels."""
    from warp10_platform_spark.core.frame import GTSFrame
    from warp10_platform_spark.operators.reshape import timemodulo

    def key(v):
        return None if v is None else '[{"key":"h","value":"%s"}]' % v

    rows = [
        ("b.cls", "2", 30, 3.0), ("a.cls", "é", 20, 1.5), ("b.cls", "2", 10, 1.0),
        ("a.cls", None, 5, 9.0), ("a.cls", "z", 7, 2.0), ("a.cls", "é", 1, 0.5),
        ("a.cls", None, 2, 8.0), ("b.cls", "1", 40, 4.0),
        ("d.cls", "t", 17, 7.0), ("d.cls", "t", 5, 5.0), ("d.cls", "t", 12, 2.0),
    ]
    rows = [(c, {} if h is None else {"h": h}, {}, key(h), ts, None, None, None, v, None, None, None)
            for c, h, ts, v in rows]
    # class, labels, attributes, labels_key, ts, lat, lon, elev, v_double, v_long, v_bool, v_string
    rows[3:3] = [
        ("b.cls", {"h": "2"}, {}, key("2"), 50, None, None, -4, None, 2**53 + 1, None, None),
        ("c.cls", None, None, None, 3, None, None, None, 6.0, None, None, None),
        ("b.cls", {"h": "1"}, {}, key("1"), None, None, None, None, None, None, None, "s"),
        ("b.cls", {"h": "2"}, {}, key("2"), 20, 48.5, 2.25, 35, None, None, True, None),
    ]
    df = spark.createDataFrame(
        rows,
        "class string, labels map<string,string>, attributes map<string,string>, "
        "labels_key string, ts bigint, lat double, lon double, elev bigint, v_double double, "
        "v_long bigint, v_bool boolean, v_string string",
    )
    folded = timemodulo(df.where("class = 'd.cls'"), 10, "q").drop("gts_id")
    return GTSFrame(df.where("class != 'd.cls'").unionByName(folded), None, "v_double")


# (class, labels_key, ts) order: null key first, then 'z' < 'é' in UTF-8;
# a null tick first
RENDERED = [
    {"c": "a.cls", "l": {}, "a": {}, "v": [[2, 8.0], [5, 9.0]]},
    {"c": "a.cls", "l": {"h": "z"}, "a": {}, "v": [[7, 2.0]]},
    {"c": "a.cls", "l": {"h": "é"}, "a": {}, "v": [[1, 0.5], [20, 1.5]]},
    {"c": "b.cls", "l": {"h": "1"}, "a": {}, "v": [[None, "s"], [40, 4.0]]},
    {"c": "b.cls", "l": {"h": "2"}, "a": {},
     "v": [[10, 1.0], [20, 48.5, 2.25, 35, 1.0], [30, 3.0], [50, -4, 9007199254740992.0]]},
    {"c": "c.cls", "l": {}, "a": {}, "v": [[3, 6.0]]},
    {"c": "d.cls", "l": {"h": "t", "q": "0"}, "a": {}, "v": [[5, 5.0]]},
    {"c": "d.cls", "l": {"h": "t", "q": "1"}, "a": {}, "v": [[2, 2.0], [7, 7.0]]},
]


def _record_plans(monkeypatch, gf) -> list:
    """Physical plans of every DataFrame collected as Arrow from here on."""
    cls = type(gf.df)
    plans, to_arrow = [], cls.toArrow

    def recording(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return to_arrow(self)

    monkeypatch.setattr(cls, "toArrow", recording)
    return plans


def test_series_json_sorts_on_driver_like_spark(spark, monkeypatch):
    from warp10_platform_spark.__main__ import _series_json
    from warp10_platform_spark.core.frame import GTSFrame

    gf = _unsorted_gts(spark)
    plans = _record_plans(monkeypatch, gf)
    got = _series_json(gf, None)
    assert got == RENDERED
    assert plans and not any("rangepartitioning" in p for p in plans)
    # a limit as large as the frame takes Spark's own sort: same render
    assert _series_json(gf, 15) == got
    # the Arrow-backed twin renders on the driver without a Spark job
    twin = GTSFrame(None, None, "v_double", table=gf.df.toArrow(), spark=spark)
    n = len(plans)
    assert _series_json(twin, None) == RENDERED and _series_json(twin, 15) == RENDERED
    assert len(plans) == n


def test_series_json_limit_takes_first_points_in_order(spark, monkeypatch):
    from warp10_platform_spark.__main__ import _series_json
    from warp10_platform_spark.core.frame import GTSFrame

    gf = _unsorted_gts(spark)
    plans = _record_plans(monkeypatch, gf)
    got = _series_json(gf, 4)
    assert got == [RENDERED[0], RENDERED[1], {**RENDERED[2], "v": [[1, 0.5]]}]
    assert any("TakeOrderedAndProject" in p for p in plans)
    # the Arrow-backed twin takes the same first points
    twin = GTSFrame(None, None, "v_double", table=gf.df.toArrow(), spark=spark)
    assert _series_json(twin, 4) == got
