"""Hypothesis property tests for the binary formats: digests, AES /
RFC 3394, the secure-script envelope, GIF LZW, GOLDWRAP canonicity,
encrypted GTS streams, the PGP and GTS decoders, Shamir secret sharing,
the metaset codec, vector quantizer codes and histogram binning, plus a
tokenizer fuzz."""

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from warp10_platform_spark.core.encoders import Encoder
from warp10_platform_spark.core.gtscodec import decode_gts, encode_gts, encrypt_gts
from warp10_platform_spark.functions import aes
from warp10_platform_spark.functions import digests as dg
from warp10_platform_spark.multimodal.gif import decode_gif, encode_gif, lzw_decode, lzw_encode
from warp10_platform_spark.warpscript import functions_secure as fs
from warp10_platform_spark.warpscript.functions import REGISTRY

payload = st.binary(min_size=0, max_size=400)


@given(payload)
@settings(max_examples=50, deadline=None)
def test_ripemd160_always_matches_openssl(data):
    assert dg.ripemd160_pure(data) == hashlib.new("ripemd160", data).digest()


@given(payload, st.sampled_from([224, 256, 384, 512]))
@settings(max_examples=50, deadline=None)
def test_keccak_sponge_always_matches_sha3(data, bits):
    ref = getattr(hashlib, f"sha3_{bits}")
    assert dg.sha3(data, bits) == ref(data).digest()


@given(payload, st.sampled_from([16, 24, 32]))
@settings(max_examples=40, deadline=None)
def test_aes_envelope_roundtrip(data, klen):
    key = bytes(range(klen))
    assert aes.unwrap(key, aes.wrap(key, data)) == data


@given(st.text(min_size=0, max_size=300), st.text(min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_secure_envelope_roundtrip_any_script(script, key):
    blob = fs.secure(bytes(range(32)), key, script, timestamp_ms=42)
    got = fs.unsecure(bytes(range(32)), blob)
    assert got == {"timestamp": 42, "key": key, "script": script}


@given(st.binary(min_size=0, max_size=3000))
@settings(max_examples=40, deadline=None)
def test_gif_lzw_roundtrip(data):
    assert lzw_decode(lzw_encode(data, 8), 8) == data


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=25, deadline=None)
def test_gif_container_roundtrip(w, h, n_frames, seed):
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(n_frames)]
    out = decode_gif(encode_gif(frames))
    assert len(out) == n_frames
    for a, b in zip(frames, out):
        assert (a == b).all()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=-(2**31), max_value=2**31),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda p: p[0],
    ),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_goldwrap_is_order_canonical(points, seed):
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(points))

    class S:
        def __init__(self):
            self.stack = []

        def push(self, v):
            self.stack.append(v)

        def pop(self):
            return self.stack.pop()

        def peek(self):
            return self.stack[-1]

    def gold(pts):
        e = Encoder("m", {"k": "v"})
        for ts, val in pts:
            e.add_value(ts, val)
        s = S()
        s.push(e)
        REGISTRY["GOLDWRAP"](s)
        return s.pop()

    assert gold(points) == gold([points[i] for i in order])


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=-(2**31), max_value=2**31),
        ),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([16, 24, 32]),
)
@settings(max_examples=40, deadline=None)
def test_encrypted_stream_roundtrip(points, klen):
    key = bytes(range(klen))
    pts = [(ts, v) for ts, v in points]
    enc = encrypt_gts(encode_gts(pts, base=0), key)
    assert [(t, v) for t, v, _ in decode_gts(enc, base=0, key=key)] == pts
    assert decode_gts(enc, base=0) == []


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200))
@settings(max_examples=100, deadline=None)
def test_tokenizer_never_crashes_on_printable_soup(src):
    # the tokenizer must either produce tokens or raise a clean
    # ValueError/SyntaxError — no hangs, no foreign exceptions
    from warp10_platform_spark.warpscript.tokenizer import tokenize

    try:
        toks = tokenize(src)
    except (ValueError, SyntaxError):
        return
    assert isinstance(toks, list)


@given(st.binary(max_size=300))
@settings(max_examples=60, deadline=None)
def test_pgp_packet_parser_never_crashes(blob):
    # arbitrary bytes must parse or fail with ValueError/IndexError/
    # struct.error — never hang or corrupt state
    import struct as _struct

    from warp10_platform_spark.functions.pgp import parse_packets

    try:
        parse_packets(blob)
    except (ValueError, IndexError, _struct.error):
        pass


@given(st.binary(max_size=200))
@settings(max_examples=60, deadline=None)
def test_gts_decoder_never_crashes(blob):
    from warp10_platform_spark.core.gtscodec import decode_gts

    try:
        decode_gts(blob, base=0)
    except Exception:
        # decode of garbage may fail arbitrarily but must not hang;
        # reaching here at all proves termination
        pass


# ---- Shamir secret sharing + MetaSet codec (late round-4) ----

@given(st.binary(min_size=1, max_size=60), st.integers(2, 6), st.integers(0, 4), st.integers(0, 10**6))
@settings(max_examples=40, deadline=None)
def test_ssss_split_recover_roundtrip(secret, k, extra, seed):
    import random

    from warp10_platform_spark.warpscript.functions_codecs import ssss_recover, ssss_split

    n = k + extra
    shares = ssss_split(secret, n, k, random.Random(seed))
    assert len(shares) == n and all(len(s) == 2 * len(secret) for s in shares)
    # exactly-k and all-n subsets both recover
    assert ssss_recover(shares[:k]) == secret
    assert ssss_recover(shares) == secret


@given(
    st.integers(0, 2**40),
    st.text(max_size=20),
    st.lists(st.tuples(st.text(min_size=1, max_size=10),
                       st.dictionaries(st.text(min_size=1, max_size=5), st.text(max_size=5), max_size=3)),
             max_size=20),
    st.none() | st.integers(-2**40, 2**40),
    st.none() | st.integers(0, 2**40),
    st.none() | st.integers(0, 2**40),
)
@settings(max_examples=40, deadline=None)
def test_metaset_codec_roundtrip(expiry, token, metas, maxd, nb, na):
    from warp10_platform_spark.core.gtscodec import read_metaset, write_metadata, write_metaset

    blobs = [write_metadata(name, labels) for name, labels in metas]
    ms = read_metaset(write_metaset(expiry, token, blobs, maxduration=maxd, notbefore=nb, notafter=na))
    assert ms["expiry"] == expiry and ms["token"] == token
    assert ms["maxduration"] == maxd and ms["notbefore"] == nb and ms["notafter"] == na
    assert [(m["name"], m["labels"]) for m in ms["metadatas"]] == [(n, l) for n, l in metas]


# ---------- SQ8 / PQ quantization invariants ----------

def test_sq8_code_bounds_and_self_similarity(spark):
    """SQ8 codes stay in [-127, 127]; a vector's cosine with itself on
    codes is exactly 1.0 after rounding."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.pipeline.similarity import sq8_codes
    from warp10_platform_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    c = sq8_codes(emb)
    bad = c.where(
        F.expr("exists(code, x -> x < -127 OR x > 127)") | (F.col("code_n2") <= 0)
    ).count()
    assert bad == 0


def test_pq_codes_in_codebook_range(spark):
    """Every PQ code indexes a real centroid (0 <= code < k), for every
    subspace."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.pipeline.similarity import pq_codebook, pq_codes
    from warp10_platform_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = pq_codebook(64, 8, 16)
    c = pq_codes(emb, cb)
    bad = c.where(
        (F.size("pq") != 8) | F.expr("exists(pq, x -> x < 0 OR x >= 16)")
    ).count()
    assert bad == 0


def test_histogram_binning_is_cross_engine_exact(spark):
    """The histogram tier's claim: floor((v - lo)/w) with binary-
    representable lo/w is IEEE-identical in Spark and DuckDB, including
    exact bin boundaries, negatives, underflow/overflow and subnormal
    offsets."""
    import duckdb

    vals = (
        [8.0 * k for k in range(-3, 70)]                    # exact boundaries
        + [8.0 * k - 2.0 ** -40 for k in range(1, 66)]      # just below
        + [8.0 * k + 2.0 ** -40 for k in range(0, 66)]      # just above
        + [0.01, 489.99, 511.999999, 512.0, -0.0, 1e-300, 4.9e-324, 1e6, -1e6]
    )
    case = (
        "CASE WHEN v < 0.0 THEN -1 WHEN v >= 512.0 THEN 64 "
        "ELSE CAST(floor(v / 8.0) AS INT) END"
    )
    sdf = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = [r[0] for r in sdf.selectExpr(f"{case} AS b").collect()]
    con = duckdb.connect()
    exp = [
        con.execute(f"SELECT {case} FROM (SELECT ?::DOUBLE AS v)", [float(v)]).fetchone()[0]
        for v in vals
    ]
    assert got == exp
