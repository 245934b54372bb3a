"""More reference-AUTHORED conformance vectors (r5, extending
test_conformance_goldens.py):

- SipHashInlineTest.java:35-76 — all 64 SipHash-2-4 test vectors
  (originally from siphash24.c) against warpscript HASH's _siphash24.
- OrderPreservingBase64Test.java:33-61 — the OPB64 0xFF-run encode
  vectors against core/gtscodec.opb64_encode (+ decode inverses).
- SubSerieTest.java:57-??? — GTSHelper.subSerie empty-range semantics
  (start > stop, disjoint ranges, Long overflow bounds) via TIMECLIP.
"""

import pytest
from pyspark.sql import functions as F

# SipHashInlineTest.EXPECTED — msg = bytes(range(i)), keys k0/k1 below
SIPHASH_EXPECTED = [
    0x726FDB47DD0E0E31, 0x74F839C593DC67FD, 0x0D6C8009D9A94F5A, 0x85676696D7FB7E2D,
    0xCF2794E0277187B7, 0x18765564CD99A68D, 0xCBC9466E58FEE3CE, 0xAB0200F58B01D137,
    0x93F5F5799A932462, 0x9E0082DF0BA9E4B0, 0x7A5DBBC594DDB9F3, 0xF4B32F46226BADA7,
    0x751E8FBC860EE5FB, 0x14EA5627C0843D90, 0xF723CA908E7AF2EE, 0xA129CA6149BE45E5,
    0x3F2ACC7F57C29BDB, 0x699AE9F52CBE4794, 0x4BC1B3F0968DD39C, 0xBB6DC91DA77961BD,
    0xBED65CF21AA2EE98, 0xD0F2CBB02E3B67C7, 0x93536795E3A33E88, 0xA80C038CCD5CCEC8,
    0xB8AD50C6F649AF94, 0xBCE192DE8A85B8EA, 0x17D835B85BBB15F3, 0x2F2E6163076BCFAD,
    0xDE4DAAACA71DC9A5, 0xA6A2506687956571, 0xAD87A3535C49EF28, 0x32D892FAD841C342,
    0x7127512F72F27CCE, 0xA7F32346F95978E3, 0x12E0B01ABB051238, 0x15E034D40FA197AE,
    0x314DFFBE0815A3B4, 0x027990F029623981, 0xCADCD4E59EF40C4D, 0x9ABFD8766A33735C,
    0x0E3EA96B5304A7D0, 0xAD0C42D6FC585992, 0x187306C89BC215A9, 0xD4A60ABCF3792B95,
    0xF935451DE4F21DF2, 0xA9538F0419755787, 0xDB9ACDDFF56CA510, 0xD06C98CD5C0975EB,
    0xE612A3CB9ECBA951, 0xC766E62CFCADAF96, 0xEE64435A9752FE72, 0xA192D576B245165A,
    0x0A8787BF8ECB74B2, 0x81B3E73D20B49B6F, 0x7FA8220BA3B2ECEA, 0x245731C13CA42499,
    0xB78DBFAF3A8D83BD, 0xEA1AD565322A1A0B, 0x60E61C23A3795013, 0x6606D7E446282B93,
    0x6CA4ECB15C5F91E1, 0x9F626DA15C9625F3, 0xE51B38608EF25F57, 0x958A324CEB064572,
]


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def test_siphash24_reference_vectors():
    """SipHashInlineTest.testVectors: 64 official siphash24.c vectors."""
    from warp10_platform_spark.warpscript.functions_codecs import _siphash24

    k0 = 0x0706050403020100
    k1 = 0x0F0E0D0C0B0A0908
    for i, expect in enumerate(SIPHASH_EXPECTED):
        msg = bytes(range(i))
        got = _siphash24(k0, k1, msg)
        assert got & 0xFFFFFFFFFFFFFFFF == expect & 0xFFFFFFFFFFFFFFFF, f"len {i}"


def test_opb64_reference_vectors():
    """OrderPreservingBase64Test.testEncode: 0xFF runs of length 1-5."""
    from warp10_platform_spark.core.gtscodec import opb64_decode, opb64_encode

    vectors = {1: "zk", 2: "zzw", 3: "zzzz", 4: "zzzzzk", 5: "zzzzzzw"}
    for n, expect in vectors.items():
        data = b"\xff" * n
        got = opb64_encode(data)
        assert got == expect, f"{n}: {got!r}"
        assert opb64_decode(got) == data


def test_subserie_empty_ranges(spark):
    """SubSerieTest.testEmpty: start > stop and out-of-range windows
    yield empty series; Long extreme bounds don't overflow (TIMECLIP ≙
    GTSHelper.subSerie)."""
    from warp10_platform_spark.operators.reshape import timeclip

    n = 1000
    df = spark.range(n).select(
        F.lit("ref.sub").alias("class"),
        F.lit('[{"key":"user","value":"u"}]').alias("labels_key"),
        F.col("id").alias("ts"),
        F.col("id").cast("double").alias("v_double"),
    ).withColumn("gts_id", F.xxhash64("class", "labels_key"))

    LMAX, LMIN = (1 << 63) - 1, -(1 << 63)
    assert timeclip(df, LMAX, LMIN).count() == 0  # start after stop
    assert timeclip(df, 11, 9).count() == 0  # start after stop (interior)
    assert timeclip(df, LMIN, -1).count() == 0  # fully before
    assert timeclip(df, n + 1, LMAX).count() == 0  # fully after
    # sanity: the inclusive full range returns everything
    assert timeclip(df, 0, n - 1).count() == n
