"""WarpScript evaluator unit tests: tokenizer lexical rules, stack
machine semantics, control flow, and GTS pipeline binding. The five ws_*
queries in queries/ws.py carry the end-to-end DuckDB parity."""

import pytest

from warp10_platform_spark.warpscript.stack import Macro, WarpScriptStack, exec_script
from warp10_platform_spark.warpscript.tokenizer import tokenize


def run(script, spark=None, sf_dir=""):
    st = WarpScriptStack(spark, sf_dir)
    st.exec(script)
    return st


# ---------- tokenizer ----------

def test_tokenize_literals():
    kinds = [(t.kind, t.value) for t in tokenize("42 -7 3.5 1e3 0xff 0b101 true false 'str' \"d\" NULL")]
    assert kinds == [
        ("number", 42), ("number", -7), ("number", 3.5), ("number", 1000.0),
        ("number", 255), ("number", 5), ("bool", True), ("bool", False),
        ("string", "str"), ("string", "d"), ("null", None),
    ]


def test_tokenize_comments_and_multiline():
    toks = tokenize("1 // comment\n# hash\n/* block\nstill */ 2 <' multi\nline '>")
    assert [t.value for t in toks] == [1, 2, " multi\nline "]


def test_tokenize_escapes_keep_regex():
    (t,) = tokenize(r"'~events\..*'")
    assert t.value == r"~events\..*"
    (t,) = tokenize(r"'quote\'s'")
    assert t.value == "quote's"


def test_tokenize_load_deref():
    toks = tokenize("$x @m FOO")
    assert [(t.kind, t.value) for t in toks] == [("load", "x"), ("deref", "m"), ("stmt", "FOO")]


# ---------- stack machine ----------

def test_arithmetic_and_stack_ops():
    st = run("1 2 + 3 * DUP -")  # ((1+2)*3)=9, DUP, 9-9=0
    assert st.stack == [0]


def test_time_units():
    st = run("1 h 30 m +")
    assert st.stack == [3_600_000_000 + 1_800_000_000]


def test_list_and_map_literals():
    st = run("[ 1 2 3 ] { 'a' 1 'b' 2 }")
    assert st.stack == [[1, 2, 3], {"a": 1, "b": 2}]


def test_store_load_and_dollar():
    st = run("5 'x' STORE $x $x +")
    assert st.stack == [10]


def test_macro_capture_and_run():
    st = run("<% 2 * %> 'double' STORE 21 @double")
    assert st.stack == [42]


def test_nested_macro():
    st = run("<% <% 1 + %> 'inc' STORE 10 @inc %> EVAL")
    assert st.stack == [11]


def test_ift_ifte():
    st = run("1 2 < <% 'yes' %> IFT  3 4 > <% 'then' %> <% 'else' %> IFTE")
    assert st.stack == ["yes", "else"]


def test_foreach_for():
    st = run("0 'acc' STORE [ 1 2 3 ] <% $acc + 'acc' STORE %> FOREACH $acc")
    assert st.stack == [6]
    st = run("0 1 5 <% + %> FOR")  # 0+1+2+3+4+5
    assert st.stack == [15]


def test_ops_limit_guards_runaway():
    st = WarpScriptStack(None, "", max_ops=100)
    with pytest.raises(RuntimeError, match="ops limit"):
        st.exec("1 100000 <% DROP 1 %> FOR")


def test_unknown_function_reports_line():
    with pytest.raises(NameError, match="line 2"):
        run("1\nBOGUS_FN")


def test_macro_is_value():
    st = run("<% 1 %>")
    assert isinstance(st.stack[0], Macro)


# ---------- GTS pipeline binding (lazy — no job until collect) ----------

def test_fetch_builds_lazy_frame(spark, sf_dir):
    from warp10_platform_spark.core.frame import GTSFrame

    st = WarpScriptStack(spark, sf_dir)
    st.exec("[ 'events.purchase' { } 0 2000000000000000 ] FETCH")
    gf = st.peek()
    assert isinstance(gf, GTSFrame)
    assert gf.df.schema is not None  # analyzable plan, nothing executed


def test_exec_script_pipeline(spark, sf_dir):
    out = exec_script(
        spark,
        sf_dir,
        """
        [ '~events\\..*' { } 0 2000000000000000 ] FETCH
        [ SWAP bucketizer.count 1706659200000000 86400000000 31 ] BUCKETIZE
        """,
    )
    row = out.df.limit(1).collect()
    assert len(row) == 1


def test_labels_map_in_fetch(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    st.exec("[ 'events.purchase' { 'user' '1' } 0 2000000000000000 ] FETCH")
    df = st.peek().df
    users = [r[0] for r in df.select("labels").limit(50).collect()]
    assert users and all(u["user"] == "1" for u in users)


def test_findstats_counts_only_matched_series(spark, sf_dir):
    # sf0.001 holds 5 classes of 15 users each; the selector matches one class
    (row,) = run(r"'~events\.p.*{}' FINDSTATS", spark, sf_dir).peek().collect()
    assert row.asDict() == {"n_classes": 1, "n_series": 15}


def test_findsets_reads_only_matched_series(spark, sf_dir):
    # every class holds all 15 users, so only the label clause can narrow the set
    rows = run("'events.purchase{user~1[0-9]}' FINDSETS", spark, sf_dir).peek().collect()
    assert {r.k: sorted(r.values) for r in rows} == {"user": ["10", "11", "12", "13", "14"]}


def test_find_family_answers_from_the_series_directory(spark, sf_dir, monkeypatch):
    """FIND, FINDSETS, FINDSTATS and METASET look their selector up in
    the points layout's series directory and run no Spark job once the
    layout exists; a Java-only regex is matched on the persisted
    directory table instead and answers like its Python twin.  Both
    routes answer what a directory rebuilt from the points gives.  Run
    on the sf0.01 fixture next to the test one."""
    import gzip
    import os

    from warp10_platform_spark.core import gtscodec as gc
    from warp10_platform_spark.core import selector
    from warp10_platform_spark.functions import aes
    from warp10_platform_spark.sources import directory
    from warp10_platform_spark.sources.tables import events_points, points_layout

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("sf0.01 testdata not present")
    points_layout(spark, sf)
    sels = [("events.click", {"user": "7"}), ("~events\\.(click|view)", {"user": "~1[0-9]"}),
            ("~.*", {}), ("events.nothing", {}), ("~events\\.(?<k>click|view)", {"user": "~1[0-9]"})]
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    tabled = []
    table = directory.directory_table

    def recording(spark, sf):
        tabled.append(sf)
        return table(spark, sf)

    monkeypatch.setattr(directory, "directory_table", recording)

    def answers():
        """The answers, and per call the Spark jobs it ran and whether it
        read the directory table."""
        out, runs = [], []

        def call(script, st=None):
            st = st or WarpScriptStack(spark, sf)
            del tabled[:]
            jobs = scheduler.numTotalJobs()
            st.exec(script)
            top = st.pop()
            rows = top.collect() if hasattr(top, "collect") else top
            runs.append((scheduler.numTotalJobs() - jobs, bool(tabled)))
            return rows

        for cls, labels in sels:
            st = WarpScriptStack(spark, sf)
            st.push([cls, labels])
            out.append(sorted((r.gts_id, r["class"], r.labels_key, r.first_ts, r.last_ts, r.n_points)
                              for r in call("FIND", st)))
            sel = "%s{%s}" % (cls, ",".join(f"{k}{'' if v.startswith('~') else '='}{v}" for k, v in labels.items()))
            out.append(sorted((r.k, sorted(r.values)) for r in call(f"'{sel}' FINDSETS")))
            out.append(call(f"'{sel}' FINDSTATS")[0].asDict())
            if out[-3]:
                st = WarpScriptStack(spark, sf)
                st.push(["t", cls, labels, float("nan"), float("nan"), 3600000000, 60000000])
                body = gzip.decompress(aes.unwrap(bytes(range(32)), gc.opb64_decode(call("METASET", st))))
                out.append(gc.read_metaset(body)["metadatas"])
        return out, runs

    got, runs = answers()
    # the last selector, the Java-only one, answers in its 4 calls
    assert runs[:-4] == [(0, False)] * (len(runs) - 4) and all(tab for _, tab in runs[-4:])
    assert got[-4:] == got[4:8]
    monkeypatch.setattr(selector, "python_compiles", lambda sel: False)
    monkeypatch.setattr(directory, "directory_table",
                        lambda spark, sf: directory.build_directory(events_points(spark, sf)))
    want, _ = answers()
    assert got == want and all(got[:3])


@pytest.mark.parametrize("op", ["FINDSTATS", "FINDSETS"])
def test_find_family_refuses_attribute_clauses(spark, sf_dir, op):
    """The directory keeps no series attributes: a selector with an
    attribute clause is refused by name, not failed in Spark."""
    with pytest.raises(ValueError, match=r"no series attributes.*\{src=x\}"):
        run(f"'events.click{{user=7}}{{src=x}}' {op}", spark, sf_dir)


# ---------- extended stack / control flow / scalars ----------

def test_dupn_dropn_roll_rolld():
    st = run("1 2 3 2 DUPN")            # dup top 2 → 1 2 3 2 3
    assert st.stack == [1, 2, 3, 2, 3]
    st = run("1 2 3 4 2 DROPN")
    assert st.stack == [1, 2]
    st = run("1 2 3 3 ROLL")            # move 3rd-from-top (1) to top
    assert st.stack == [2, 3, 1]
    st = run("1 2 3 3 ROLLD")           # move top (3) to 3rd position
    assert st.stack == [3, 1, 2]


def test_mark_counting():
    st = run("'a' MARK 1 2 3 COUNTTOMARK")
    assert st.stack[-1] == 3
    st = run("'a' MARK 1 2 3 CLEARTOMARK")
    assert st.stack == ["a"]


def test_while_until_forstep():
    st = run("0 'i' STORE <% $i 5 < %> <% $i 1 + 'i' STORE %> WHILE $i")
    assert st.stack == [5]
    st = run("0 'n' STORE <% $n 1 + 'n' STORE %> <% $n 3 >= %> UNTIL $n")
    assert st.stack == [3]
    st = run("0 10 30 2 <% + %> FORSTEP")  # 0+10+12+...+30
    assert st.stack == [10 + 12 + 14 + 16 + 18 + 20 + 22 + 24 + 26 + 28 + 30]


def test_break_continue_return_stop():
    st = run("0 [ 1 2 3 4 5 ] <% DUP 3 == <% DROP BREAK %> IFT + %> FOREACH")
    assert st.stack == [1 + 2]
    st = run("0 [ 1 2 3 4 ] <% DUP 2 == <% DROP CONTINUE %> IFT + %> FOREACH")
    assert st.stack == [1 + 3 + 4]
    st = run("<% 1 RETURN 99 %> EVAL 2")   # RETURN skips the 99
    assert st.stack == [1, 2]
    st = run("1 STOP 99")
    assert st.stack == [1]


def test_assert_msgfail_defined():
    with pytest.raises(RuntimeError, match="ASSERT"):
        run("1 2 > ASSERT")
    with pytest.raises(RuntimeError, match="boom"):
        run("'boom' MSGFAIL")
    st = run("7 'x' STORE 'x' DEFINED 'y' DEFINED")
    assert st.stack == [True, False]


def test_math_scalars():
    st = run("16.0 SQRT 8.0 CBRT 1.0 EXP LOG 2.5 ROUND -2.5 ROUND 2.5 FLOOR 2.5 CEIL -3 ABS")
    assert st.stack == [4.0, 2.0, 1.0, 3, -2, 2, 3, 3]
    st = run("-4 SIGNUM PI 0 * NaN ISNaN")
    assert st.stack == [-1.0, 0.0, True]


def test_random_draws_like_rand():
    """RANDOM is RAND under its other name: uniform draws in [0, 1) from
    the stack's generator, so SRAND replays them."""
    a, b = run("RANDOM RANDOM").stack
    assert a != b and 0 <= a < 1 and 0 <= b < 1
    assert run("SRAND RANDOM RAND").stack == run("SRAND RAND RANDOM").stack

def test_string_functions():
    st = run("' padded ' TRIM TOUPPER")
    assert st.stack == ["PADDED"]
    st = run("'a,b,c' ',' SPLIT '-' JOIN")
    assert st.stack == ["a-b-c"]
    st = run("'hello' 1 SUBSTRING 'hello' 1 3 SUBSTRING")
    assert st.stack == ["ello", "ell"]
    st = run("'aXbXc' 'X' '_' REPLACE 'aXbXc' 'X' '_' REPLACEALL")
    assert st.stack == ["a_bXc", "a_b_c"]
    st = run("'v42' 'v([0-9]+)' MATCH")
    assert st.stack == [["v42", "42"]]
    st = run("'nope' 'v([0-9]+)' MATCHER MATCH")
    assert st.stack == [[]]


def test_list_map_functions():
    st = run("[ 1 2 ] [ 3 ] APPEND [ [ 9 ] [ 8 7 ] ] FLATTEN APPEND")
    assert st.stack == [[1, 2, 3, 9, 8, 7]]
    st = run("[ 1 2 3 4 5 ] [ 1 3 ] SUBLIST [ 5 4 1 ] LSORT REVERSE")
    assert st.stack == [[2, 3, 4], [5, 4, 1]]
    st = run("{ 'b' 2 'a' 1 } MSORT KEYLIST { 'b' 2 'a' 1 } VALUELIST LSORT")
    assert st.stack == [["a", "b"], [1, 2]]
    st = run("{ 'a' 1 } 2 'b' PUT 'b' CONTAINSKEY SWAP 2 CONTAINSVALUE")
    assert st.stack == [True, {"a": 1, "b": 2}, True]
    st = run("{ 'a' 1 'b' 2 } 'a' REMOVE")
    assert st.stack == [{"b": 2}, 1]
    st = run("[ 1 2 3 ] 2 CONTAINS")
    assert st.stack == [[1, 2, 3], True]
    st = run("'hello' 'ell' CONTAINS")
    assert st.stack == [True]
    st = run("[ [ 1 2 ] [ 3 4 ] ] ZIP")
    assert st.stack == [[[1, 3], [2, 4]]]
    st = run("[ 7 8 ] UNLIST CLEARTOMARK [ 7 8 ] UNLIST COUNTTOMARK")
    assert st.stack[-1] == 2


def test_lmap_lfilter_lflatmap():
    st = run("[ 1 2 3 ] <% DROP 10 * %> LMAP")        # index dropped, ×10
    assert st.stack == [[10, 20, 30]]
    st = run("[ 1 2 3 ] <% 2 * %> false LMAP")        # no index pushed
    assert st.stack == [[2, 4, 6]]
    st = run("[ 1 2 3 4 ] <% DROP 2 % 0 == %> LFILTER")
    assert st.stack == [[2, 4]]
    st = run("[ 1 2 ] <% DUP 1 + 2 ->LIST %> false LFLATMAP")
    assert st.stack == [[1, 2, 2, 3]]


def test_time_scalars():
    st = run("0 ISO8601")
    assert st.stack == ["1970-01-01T00:00:00.000000Z"]
    st = run("'PT1H30M' DURATION")
    assert st.stack == [5_400_000_000]
    st = run("1706659200000000 TSELEMENTS")
    assert st.stack == [[2024, 1, 31, 0, 0, 0, 0]]
    st = run("1706659200000000 'Europe/Paris' TSELEMENTS")
    assert st.stack == [[2024, 1, 31, 1, 0, 0, 0]]


def test_gts_bindings_lazy(spark, sf_dir):
    from warp10_platform_spark.core.frame import GTSFrame

    st = WarpScriptStack(spark, sf_dir)
    st.exec(
        """
        [ 'events.purchase' { } 0 2000000000000000 ] FETCH
        'gts' STORE
        $gts 'renamed.series' RENAME
        $gts { 'dc' 'eu' } RELABEL
        $gts UNIQUE
        $gts 3600000000 TIMESHIFT
        """
    )
    assert all(isinstance(v, GTSFrame) for v in st.stack)


def test_split_ops_give_each_piece_its_own_identity(spark, sf_dir):
    """TIMEMODULO, CHUNK, TIMESPLIT, VALUESPLIT and MOTIONSPLIT label each
    piece; its labels_key and gts_id follow the new labels, so grouping by
    series and the /exec render see one series per piece."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.core.schema import canonical_labels

    st = run(
        """
        [ 'events.purchase' { } 0 2000000000000000 ] FETCH 'g' STORE
        $g
        $g 86400000000 'q' TIMEMODULO
        $g 604800000000 CHUNK
        $g 3600000000 TIMESPLIT
        $g 'v' VALUESPLIT
        $g 1000.0 'm' MOTIONSPLIT
        """,
        spark, sf_dir,
    )
    fetched, *pieces = st.stack
    n = fetched.df.select("gts_id").distinct().count()
    for i, gf in enumerate(pieces):
        df = gf.df
        stale = (F.col("labels_key") != canonical_labels()) | (F.col("gts_id") != F.xxhash64("class", "labels_key"))
        assert df.where(stale).count() == 0, i
        # the events carry no locations: MOTIONSPLIT keeps one piece per series
        assert df.select("gts_id").distinct().count() > n or i == 4, i


def test_gts_scalar_accessors(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    st.exec(
        """
        [ 'events.purchase' { 'user' '1' } 0 2000000000000000 ] FETCH
        'g' STORE
        $g LASTTICK $g FIRSTTICK
        """
    )
    last, first = st.stack[-2], st.stack[-1]
    assert isinstance(last, int) and isinstance(first, int) and first <= last


def test_switch():
    script = (
        "7 'x' STORE "
        "<% $x 5 < %> <% 'small' %> "
        "<% $x 10 < %> <% 'medium' %> "
        "<% 'large' %> 2 SWITCH"
    )
    assert run(script).stack == ["medium"]
    assert run("99 'x' STORE <% $x 5 < %> <% 'small' %> <% 'big' %> 1 SWITCH").stack == ["big"]


def test_try_catch_finally_rethrow():
    st = run("<% 'boom' MSGFAIL %> <% 'caught' %> <% 'cleanup' %> TRY")
    assert st.stack == ["caught", "cleanup"]
    st = run("<% 1 %> <% 'caught' %> <% %> TRY")
    assert st.stack == [1]
    with pytest.raises(RuntimeError, match="boom"):
        run("<% 'boom' MSGFAIL %> <% RETHROW %> <% %> TRY")


def test_registry_extension_names(spark):
    """The widened registry: math, bitwise, encodings, digests, sets,
    calendar arithmetic, SNAPSHOT/TYPEOF — driver-side, no Spark jobs."""
    import math

    from warp10_platform_spark.warpscript.functions import REGISTRY
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    assert len(REGISTRY) >= 370

    st = WarpScriptStack(spark, "/root/testdata/sf0.001")

    def run(script):
        st.stack.clear()
        st.exec(script)
        return st.pop()

    assert run("0.5 SIN") == math.sin(0.5)
    assert run("1.0 2.0 ATAN2") == math.atan2(1.0, 2.0)
    assert run("90.0 TORADIANS TODEGREES") == 90.0
    assert run("13 2 >>") == 3
    assert run("1 6 <<") == 64
    assert run("255 BITCOUNT") == 8
    assert run("5 3 BITGET") == 0
    assert run("'a b' URLENCODE") == "a%20b"
    assert run("'hi' ->B64") == "aGk="
    assert run("'aGk=' B64->") == "hi"
    assert run("'hi' ->HEX") == "6869"
    assert run("'hi' MD5 ->HEX") == "49f68a5c8493ec2c0bf489821c21fc3b"
    assert run("[ 1 2 2 3 ] ->SET [ 2 3 4 ] ->SET INTERSECTION SET->") == [2, 3]
    assert run("{ 'a' 1 'b' 2 'c' 3 } [ 'a' 'c' ] SUBMAP") == {"a": 1, "c": 3}
    assert run("[ 1 2 3 ] CLONEREVERSE") == [3, 2, 1]
    assert run("[ 2024 2 29 0 0 0 0 ] TSELEMENTS-> ") == 1709164800000000
    assert run("[ 2024 1 31 0 0 0 0 ] TSELEMENTS-> 1 ADDMONTHS") == 1709164800000000  # clamps to Feb 29
    assert run("0 3 ADDDAYS") == 3 * 86_400_000_000
    assert run("1.5 TYPEOF") == "DOUBLE"
    assert run("[ 1 2 ] TYPEOF") == "LIST"
    assert run("'{\"a\": [1, 2]}' JSON-> 'a' GET 1 GET") == 2
    assert run("[ 1 'x' ] ->JSON") == '[1,"x"]'
    # SNAPSHOT → EVAL rebuilds the stack
    assert run("1 'two' [ 3 ] SNAPSHOT EVAL") == [3]


def test_registry_second_tranche(spark):
    """Round-3 tranche 2: &&/||/~=, filler tokens + FILL, kernel-mapper
    factories, geo mappers, null-policy aliases. 450+ names."""
    from warp10_platform_spark.warpscript.functions import REGISTRY
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    assert len(REGISTRY) >= 445
    st = WarpScriptStack(spark, "/root/testdata/sf0.001")

    def run(script):
        st.stack.clear()
        st.exec(script)
        return st.pop()

    assert run("true false ||") is True
    assert run("'abc123' 'abc[0-9]+' ~=") is True
    assert run("'abc123' 'xyz' ~=") is False
    assert run("1 'one' SNAPSHOTREADABLE") == "1 'one'"
    # null-policy aliases resolve to their base reducer token
    assert run("reducer.sum.forbid-nulls") == "reducer.sum"
    assert run("op.add.ignore-nulls") == "op.add"
    # kernel factory pops its bandwidth
    assert run("3600000000 mapper.kernel.gaussian") == ("mapper.kernel.gaussian", 3600000000)
    # filler token + FILL over a bucketized frame
    out = run(f"""
    [ 'events.purchase' {{}} 1703980800000001 1706659200000000 ] FETCH
    [ SWAP bucketizer.count 1706659200000000 86400000000 31 ] BUCKETIZE
    [ SWAP filler.previous ] FILL
    """)
    assert out.df.count() > 0
    # kernel smoother end-to-end through MAP
    out2 = run(f"""
    [ 'events.purchase' {{}} 1703980800000001 1706659200000000 ] FETCH
    [ SWAP 3600000000 mapper.kernel.gaussian 0 0 0 ] MAP
    """)
    assert out2.df.where(out2.df.v_mapped.isNotNull()).count() > 0


def test_column_bindings_match_evaluator(spark):
    """COLUMN_BINDINGS (the vectorized scalar surface) agree byte-for-byte
    with the per-row stack evaluator for the same token chain — the r3
    ADVICE collect-loop replacement keeps exact evaluator parity."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.warpscript.functions import COLUMN_BINDINGS as CB

    samples = ["1-URGENT", "hello world", "", "ünïcode-é", "A" * 97]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = df.select(
        CB["->HEX"](CB["MD5"](F.col("s"))).alias("h"),
        CB["->B64"](F.col("s")).alias("b"),
        CB["SIZE"](F.col("s")).alias("n"),
        CB["TOUPPER"](F.col("s")).alias("u"),
        CB["SHA256"](F.col("s")).alias("d"),
    ).collect()
    st = run("")
    for s, r in zip(samples, got):
        st.stack.clear()
        st.push(s)
        st.exec("DUP DUP DUP DUP MD5 ->HEX 'h' STORE ->B64 'b' STORE SIZE 'n' STORE TOUPPER 'u' STORE SHA256 'd' STORE")
        assert r["h"] == st.symbols["h"]
        assert r["b"] == st.symbols["b"]
        assert r["n"] == st.symbols["n"]
        assert r["u"] == st.symbols["u"]
        assert bytes(r["d"]) == st.symbols["d"]


def test_ws_filter_bysize(spark):
    """filter.bysize pops TWO longs (min, max) like FilterBySize.Builder and
    both bounds are applied (r3 ADVICE regression)."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    st = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st.exec("[ [ '~events.*' {} 0 1706659200000000 ] FETCH [ ] 5 200 filter.bysize ] FILTER")
    out = st.pop()
    sizes = out.df.groupBy("gts_id").count().agg(
        F.min("count").alias("mn"), F.max("count").alias("mx")).first()
    if sizes["mn"] is not None:
        assert sizes["mn"] >= 5 and sizes["mx"] <= 200
    # and the max bound actually filters: a tiny max empties the set
    st.exec("[ [ '~events.*' {} 0 1706659200000000 ] FETCH [ ] 0 1 filter.bysize ] FILTER")
    tiny = st.pop()
    assert tiny.df.groupBy("gts_id").count().where("count > 1").count() == 0


def test_ws_wrap_unwrap_wire_format(spark):
    """WRAP -> collect the wrapped strings -> UNWRAP from the literals:
    values survive the reference wire format through the script surface."""
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    st = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st.exec("[ 'events.purchase' {} 0 1706659200000000 ] FETCH DUP 'orig' STORE WRAP")
    wrapped_df = st.pop()
    texts = [r["wrapped"] for r in wrapped_df.collect()]
    assert texts and all(isinstance(t, str) and len(t) > 10 for t in texts)
    st.push(texts)
    st.registry["UNWRAP"](st)
    back = st.pop()
    orig = st.symbols["orig"]
    a = {(r["class"], r["ts"], r["v_double"]) for r in back.df.collect()}
    b = {(r["class"], r["ts"], r["v_double"]) for r in orig.df.select("class", "ts", "v_double").collect()}
    assert a == b and len(a) > 0


def test_bootstrap_script_seeds_every_stack(spark, tmp_path, monkeypatch):
    """WARPSCRIPT_BOOTSTRAP_PATH (warpscript.bootstrap.path,
    EgressExecHandler.java:231): the configured script runs on every
    fresh stack before user code — DEF'd macros and stored symbols are
    available; its ops don't count against the user budget; mtime
    reload; sub-stacks (repo macro loads) skip it."""
    import os

    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    boot = tmp_path / "bootstrap.mc2"
    boot.write_text("<% 2 * %> 'twice' DEF 7 'seven' STORE")
    monkeypatch.setenv("WARPSCRIPT_BOOTSTRAP_PATH", str(boot))

    st = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st.exec("21 twice $seven +")
    assert st.pop() == 49
    assert st.depth() == 0  # bootstrap left nothing on the stack

    # mtime reload
    boot.write_text("<% 3 * %> 'twice' DEF 1 'seven' STORE")
    os.utime(boot, ns=(2**62, 2**62))
    st2 = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st2.exec("10 twice $seven +")
    assert st2.pop() == 31

    # missing file is a silent no-op, like an unset config
    monkeypatch.setenv("WARPSCRIPT_BOOTSTRAP_PATH", str(tmp_path / "nope.mc2"))
    st3 = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st3.exec("1 2 +")
    assert st3.pop() == 3


def test_repository_macro_resolution(spark, tmp_path, monkeypatch):
    """@path/name derefs not bound on the stack resolve from the
    configured macro repository directory (WarpScriptMacroRepository.java:
    file <name>.mc2 leaves a macro on the stack), with nested repo-macro
    calls, mtime-based reload, and no traversal outside the root."""
    import os

    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    repo = tmp_path / "macros"
    os.makedirs(repo / "util")
    (repo / "util" / "double.mc2").write_text("<% 2 * %>")
    (repo / "util" / "quad.mc2").write_text("<% @util/double @util/double %>")
    monkeypatch.setenv("WARPSCRIPT_REPOSITORY_DIRECTORY", str(repo))

    st = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st.exec("21 @util/quad")
    assert st.pop() == 84

    # bound symbols shadow the repository
    st2 = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st2.exec("<% 3 * %> 'util/double' STORE 10 @util/double")
    assert st2.pop() == 30

    # mtime reload
    (repo / "util" / "double.mc2").write_text("<% 5 * %>")
    os.utime(repo / "util" / "double.mc2", ns=(2**62, 2**62))
    st3 = WarpScriptStack(spark, "/root/testdata/sf0.001")
    st3.exec("4 @util/double")
    assert st3.pop() == 20

    # traversal refused -> unknown macro
    import pytest

    st4 = WarpScriptStack(spark, "/root/testdata/sf0.001")
    with pytest.raises(NameError):
        st4.exec("1 @../outside")
