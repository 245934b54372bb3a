"""METAMATCH / METADIFF / METASET and Shamir secret sharing
(->SSSS / SSSS->) — the last raise-stub names in the registry, now
implemented against the reference semantics (METAMATCH.java,
MetadataSelectorMatcher.java, META.java delta=true, FIND.java metaset
branch, TOSSSS.java/SSSSTO.java)."""

import random

import pytest

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.warpscript.functions import REGISTRY
from warp10_platform_spark.warpscript.stack import WarpScriptStack


def run(script, spark=None, sf_dir=""):
    st = WarpScriptStack(spark, sf_dir)
    st.exec(script)
    return st


# ---------------- Shamir ----------------

def test_ssss_roundtrip():
    st = run("'the quick brown fox' ->BYTES 5 3 ->SSSS SSSS->")
    assert bytes(st.stack[-1]).decode() == "the quick brown fox"


def test_ssss_any_k_of_n():
    from warp10_platform_spark.warpscript.functions_codecs import ssss_recover, ssss_split

    secret = bytes(range(40))
    rng = random.Random(7)
    shares = ssss_split(secret, n=6, k=3, rng=rng)
    assert len(shares) == 6 and all(len(s) == 80 for s in shares)
    # every 3-subset recovers
    import itertools

    for combo in itertools.combinations(shares, 3):
        assert ssss_recover(list(combo)) == secret
    # fewer than k shares does NOT recover (information-theoretic)
    assert ssss_recover(shares[:2]) != secret


def test_ssss_srand_deterministic():
    a = run("SRAND 'secret' ->BYTES 4 2 ->SSSS").stack[-1]
    b = run("SRAND 'secret' ->BYTES 4 2 ->SSSS").stack[-1]
    assert [bytes(x) for x in a] == [bytes(x) for x in b]


def test_ssss_ensure_randomness_flag_and_validation():
    st = run("'s3cret' ->BYTES 4 2 false ->SSSS SSSS->")
    assert bytes(st.stack[-1]).decode() == "s3cret"
    with pytest.raises(ValueError):
        run("'x' ->BYTES 4 256 ->SSSS")
    with pytest.raises(ValueError):
        run("'x' ->BYTES 2 3 ->SSSS")  # n < k
    with pytest.raises(TypeError):
        run("'notbytes' 4 2 ->SSSS")


# ---------------- METAMATCH ----------------

def _series_frame(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("temp", "dc=eu,host=a", 1, 0, 1.0, {"dc": "eu", "host": "a"}, {"unit": "C"}),
            ("temp", "dc=us,host=b", 2, 0, 2.0, {"dc": "us", "host": "b"}, {}),
            ("hum", "dc=eu,host=c", 3, 0, 3.0, {"dc": "eu", "host": "c"}, {"unit": "%"}),
        ],
        "class string, labels_key string, gts_id long, ts long, v_double double,"
        "labels map<string,string>, attributes map<string,string>",
    )
    return GTSFrame(df, None, "v_double")


def _match_map(st):
    return {(r["class"], r["labels_key"]): r["match"] for r in st.pop().collect()}


def test_metamatch_standard_label_and_fallback(spark):
    st = WarpScriptStack(spark, "")
    st.push(_series_frame(spark))
    st.push("~.*{dc=eu}")
    REGISTRY["METAMATCH"](st)
    m = _match_map(st)
    assert m[("temp", "dc=eu,host=a")] is True
    assert m[("temp", "dc=us,host=b")] is False
    assert m[("hum", "dc=eu,host=c")] is True

    # standard form falls back to ATTRIBUTES when the label is absent
    st.push(_series_frame(spark))
    st.push("~.*{unit=C}")
    REGISTRY["METAMATCH"](st)
    m = _match_map(st)
    assert m[("temp", "dc=eu,host=a")] is True
    assert m[("hum", "dc=eu,host=c")] is False


def test_metamatch_extended_separates_maps(spark):
    st = WarpScriptStack(spark, "")
    # extended: unit must be a LABEL — attribute match must NOT count
    st.push(_series_frame(spark))
    st.push("~.*{unit=C}{}")
    REGISTRY["METAMATCH"](st)
    assert not any(_match_map(st).values())

    st.push(_series_frame(spark))
    st.push("~.*{dc=eu}{unit~[C%]}")
    REGISTRY["METAMATCH"](st)
    m = _match_map(st)
    assert m[("temp", "dc=eu,host=a")] is True
    assert m[("temp", "dc=us,host=b")] is False
    assert m[("hum", "dc=eu,host=c")] is True


def test_metamatch_class_and_absent(spark):
    st = WarpScriptStack(spark, "")
    st.push(_series_frame(spark))
    st.push("temp{}")
    REGISTRY["METAMATCH"](st)
    m = _match_map(st)
    assert m[("temp", "dc=eu,host=a")] and m[("temp", "dc=us,host=b")]
    assert not m[("hum", "dc=eu,host=c")]

    # `k=` empty exact → k absent from labels AND attributes
    st.push(_series_frame(spark))
    st.push("~.*{unit=}")
    REGISTRY["METAMATCH"](st)
    m = _match_map(st)
    assert m[("temp", "dc=us,host=b")] is True
    assert m[("temp", "dc=eu,host=a")] is False


# ---------------- METADIFF ----------------

def test_metadiff_upsert_and_delete(spark):
    st = WarpScriptStack(spark, "")
    st.push(_series_frame(spark))
    st.push({"unit": "", "src": "ingest"})
    REGISTRY["METADIFF"](st)
    rows = {
        r["labels_key"]: dict(r["attributes"])
        for r in st.pop().df.select("labels_key", "attributes").dropDuplicates(["labels_key"]).collect()
    }
    assert rows["dc=eu,host=a"] == {"src": "ingest"}  # unit deleted, src added
    assert rows["dc=us,host=b"] == {"src": "ingest"}
    assert rows["dc=eu,host=c"] == {"src": "ingest"}


# ---------------- METASET ----------------

def test_metaset_roundtrip(spark, sf_dir):
    from warp10_platform_spark.core import gtscodec as gc
    from warp10_platform_spark.functions import aes

    st = WarpScriptStack(spark, sf_dir)
    st.push(["rtoken", "~.*", {}, float("nan"), float("nan"), 3600000000, 60000000])
    REGISTRY["METASET"](st)
    blob = st.pop()
    assert isinstance(blob, str) and blob
    import gzip as _gz

    ms = gc.read_metaset(_gz.decompress(aes.unwrap(bytes(range(32)), gc.opb64_decode(blob))))
    assert ms["token"] == "rtoken"
    assert ms["maxduration"] == 3600000000
    assert ms["notbefore"] is None and ms["notafter"] is None
    assert ms["expiry"] > 0
    assert len(ms["metadatas"]) > 0
    md = ms["metadatas"][0]
    assert md["name"] and isinstance(md["labels"], dict)


def test_metaset_no_match_raises(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    st.push(["t", "no_such_class_xyz", {}, float("nan"), float("nan"), float("nan"), 1000000])
    with pytest.raises(ValueError):
        REGISTRY["METASET"](st)

def test_metaset_respects_gts_limit(spark, sf_dir):
    """METASET's directory materialization is bounded by the stack's
    gts limit (reference FIND.java:523 enforces gts.limit while draining
    the directory iterator, default 100000): a selector matching more
    series than MAXGTS fails with the reference's message instead of
    collecting the whole directory to the driver (r7 verdict #4)."""
    st = WarpScriptStack(spark, sf_dir)
    st.attributes = {"maxgts": 1}
    st.push(["rtoken", "~.*", {}, float("nan"), float("nan"), 3600000000, 60000000])
    with pytest.raises(ValueError, match="exceeded limit of 1 Geo Time Series"):
        REGISTRY["METASET"](st)
    # raising the limit makes the same selector succeed
    st2 = WarpScriptStack(spark, sf_dir)
    st2.attributes = {"maxgts": 100_000}
    st2.push(["rtoken", "~.*", {}, float("nan"), float("nan"), 3600000000, 60000000])
    REGISTRY["METASET"](st2)
    assert isinstance(st2.pop(), str)


@pytest.mark.parametrize("layout", ["fixture", "hand-written"])
def test_metaset_body_is_the_directory_rows_in_key_order(spark, sf_dir, tmp_path, monkeypatch, layout):
    """With the expiry zeroed, METASET's serialized body is write_metaset
    over write_metadata of the rows of a directory rebuilt from the
    points, sorted by (class, labels_key), each with its labels in
    labels_key's key order.  The hand-written layout's labels maps hold
    their keys in another order."""
    import gzip
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from warp10_platform_spark.core import gtscodec as gc
    from warp10_platform_spark.functions import aes
    from warp10_platform_spark.operators.gts_kernels import labels_key
    from warp10_platform_spark.sources import tables
    from warp10_platform_spark.sources.directory import build_directory

    if layout == "fixture":
        points = tables.events_points(spark, sf_dir)
    else:
        series = [{"z": "1", "a": "2"}, {"k": "x", "h": "b"}, {"h": "a"}, {}]
        pick = [1, 0, 3, 2, 1, 0, 2]
        mp = pa.map_(pa.string(), pa.string())
        pq.write_to_dataset(pa.table({
            "labels": pa.array([list(series[i].items()) for i in pick], mp),
            "attributes": pa.array([[]] * len(pick), mp),
            "ts": pa.array(range(len(pick)), pa.int64()),
            "labels_key": [labels_key(series[i]) for i in pick],
            "gts_id": pa.array(pick, pa.int64()),
            "class": ["c", "b", "c", "b", "b", "c", "c"],
        }), str(tmp_path), partition_cols=["class"])
        monkeypatch.setattr(tables, "points_layout", lambda spark, sf: tables.PointsLayout(str(tmp_path)))
        points = spark.read.parquet(str(tmp_path))
    rows = build_directory(points).orderBy("class", "labels_key").collect()
    metas = [gc.write_metadata(r["class"], {e["key"]: e["value"] for e in json.loads(r.labels_key)}) for r in rows]
    want = gc.write_metaset(0, "btoken", metas, maxduration=3600000000)

    st = WarpScriptStack(spark, sf_dir)
    st.push(["btoken", "~.*", {}, float("nan"), float("nan"), 3600000000, 60000000])
    REGISTRY["METASET"](st)
    body = gzip.decompress(aes.unwrap(bytes(range(32)), gc.opb64_decode(st.pop())))
    # field 1, the expiry, is a varint after its header byte
    end = next(i for i in range(1, len(body)) if body[i] < 0x80)
    assert len(rows) > 1 and body[:1] + b"\0" + body[end + 1:] == want
