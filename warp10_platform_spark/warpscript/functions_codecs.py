"""WarpScript bit, byte and codec names: bit-level views of numbers,
varints and zig-zag, base conversions (bin/hex/B58/RLP/OPB64),
compression, digests and MACs, Shamir secret sharing, PACK/UNPACK bit
packing, GTS encoders as stack values (multivalue included) and the
WRAP variants. Each name's docstring cites its reference class.

Imported for its registrations at the bottom of functions.py.
"""

from __future__ import annotations

import base64 as _b64
import gzip as _gzip
import hashlib as _hashlib
import hmac as _hmac
import struct as _struct
import zlib as _zlib

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.warpscript.functions import _I64_MAX, REGISTRY, _to_bytes, register


# ---- bit-level views of doubles/floats/longs ----

@register("->DOUBLEBITS")
def _todoublebits(st):
    st.push(_struct.unpack(">q", _struct.pack(">d", float(st.pop())))[0])


@register("DOUBLEBITS->")
def _doublebitsto(st):
    st.push(_struct.unpack(">d", _struct.pack(">q", int(st.pop())))[0])


@register("->FLOATBITS")
def _tofloatbits(st):
    st.push(_struct.unpack(">i", _struct.pack(">f", float(st.pop())))[0])


@register("FLOATBITS->")
def _floatbitsto(st):
    st.push(float(_struct.unpack(">f", _struct.pack(">i", int(st.pop())))[0]))


@register("->LONGBYTES")
def _tolongbytes(st):
    """long nbytes ->LONGBYTES (TOLONGBYTES.java): big-endian, truncated
    to the nbytes low-order bytes."""
    nb = int(st.pop())
    v = int(st.pop()) & 0xFFFFFFFFFFFFFFFF
    st.push(_struct.pack(">Q", v)[8 - nb :])


@register("->VARINT")
def _tovarint(st):
    """long ->VARINT (TOVARINT.java: unsigned LEB128 of the raw bits)."""
    from warp10_platform_spark.core.gtscodec import write_uvarint

    v = st.pop()
    out = bytearray()
    for x in v if isinstance(v, list) else [v]:
        write_uvarint(out, int(x) & 0xFFFFFFFFFFFFFFFF)
    st.push(bytes(out))


@register("VARINT->")
def _varintto(st):
    from warp10_platform_spark.core.gtscodec import read_uvarint

    b = st.pop()
    out, pos = [], 0
    while pos < len(b):
        v, pos = read_uvarint(b, pos)
        out.append(v - 2**64 if v > _I64_MAX else v)
    st.push(out if len(out) != 1 else out[0])


@register("->Z")
def _toz(st):
    """[longs] bitwidth ->Z (TOZ.java): Morton/Z-order interleave into a
    byte array — LSB-first interleave, per-byte bit reversal, bytes
    filled from the tail (algorithm mirrored from the reference)."""
    bitwidth = int(st.pop())
    longs = [int(x) for x in st.pop()]
    if bitwidth > 63 or bitwidth < 0:
        raise ValueError("->Z expects a bit width <= 63")
    if any(x < 0 for x in longs):
        raise ValueError("->Z operates on positive LONGs")
    nbits = bitwidth * len(longs)
    nbytes = (nbits + 7) // 8
    bitcount = nbytes * 8 - nbits
    encoded = bytearray(nbytes)
    value = 0
    byteidx = nbytes
    vals = list(longs)
    for _ in range(bitwidth):
        for j in range(len(vals) - 1, -1, -1):
            value = ((value << 1) | (vals[j] & 1)) & 0xFFFFFFFFFFFFFFFF
            vals[j] >>= 1
            bitcount += 1
            if bitcount == 8:
                rev = int(f"{value & 0xFF:08b}"[::-1], 2)
                byteidx -= 1
                encoded[byteidx] = rev
                bitcount = 0
                value = 0
    st.push(bytes(encoded))


@register("Z->")
def _zto(st):
    """bytes ncomponents bitwidth Z-> (ZTO.java): inverse of ->Z."""
    bitwidth = int(st.pop())
    nlongs = int(st.pop())
    data = bytes(st.pop())
    nbits = bitwidth * nlongs
    nbytes = (nbits + 7) // 8
    # rebuild the interleaved bit stream: bytes from the tail, bits
    # reversed per byte (mirror of the encoder walk)
    pad = nbytes * 8 - nbits
    stream = []
    for i in range(nbytes - 1, -1, -1):
        b = int(f"{data[i]:08b}"[::-1], 2)
        for k in range(7, -1, -1):
            stream.append((b >> k) & 1)
    stream = stream[pad:] if pad else stream
    vals = [0] * nlongs
    # after per-byte un-reversal and tail-first byte order, the stream is
    # exactly the encoder's consumption order: LSB-first, j = n-1..0
    idx = 0
    for layer in range(bitwidth):
        for j in range(nlongs - 1, -1, -1):
            vals[j] |= stream[idx] << layer
            idx += 1
    st.push(vals)


# ---- string/number base conversions ----

@register("TOBIN")
def _tobin(st):
    """string/bytes/long TOBIN: binary-digit string (TOBIN.java)."""
    v = st.pop()
    if isinstance(v, int):
        st.push(f"{v & 0xFFFFFFFFFFFFFFFF:064b}")
    else:
        st.push("".join(f"{b:08b}" for b in _to_bytes(v)))


@register("FROMBIN")
def _frombin(st):
    s = str(st.pop())
    v = int(s, 2)
    st.push(v - 2**64 if v > _I64_MAX else v)


@register("TOHEX")
def _tohex(st):
    """long/string/bytes TOHEX: hex string (zero-padded 16 for longs)."""
    v = st.pop()
    if isinstance(v, int):
        st.push(f"{v & 0xFFFFFFFFFFFFFFFF:016x}")
    else:
        st.push(_to_bytes(v).hex())


@register("FROMHEX")
def _fromhex(st):
    v = int(str(st.pop()), 16)
    st.push(v - 2**64 if v > _I64_MAX else v)


REGISTRY["BINTOHEX"] = lambda st: st.push(bytes(
    int(s, 2) for s in map("".join, zip(*[iter(str(st.pop()))] * 8))).hex())
REGISTRY["HEXTOBIN"] = lambda st: st.push("".join(f"{b:08b}" for b in bytes.fromhex(str(st.pop()))))
REGISTRY["B64TOHEX"] = lambda st: st.push(_b64.b64decode(str(st.pop())).hex())
REGISTRY["HEXTOB64"] = lambda st: st.push(_b64.b64encode(bytes.fromhex(str(st.pop()))).decode("ascii"))


@register("OPB64TOHEX")
def _opb64tohex(st):
    from warp10_platform_spark.core.gtscodec import opb64_decode

    st.push(opb64_decode(str(st.pop())).hex())


_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _b58_encode(data: bytes) -> str:
    n = int.from_bytes(data, "big")
    out = []
    while n:
        n, r = divmod(n, 58)
        out.append(_B58_ALPHABET[r])
    pad = 0
    for b in data:
        if b == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def _b58_decode(s: str) -> bytes:
    n = 0
    for c in s:
        n = n * 58 + _B58_ALPHABET.index(c)
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    pad = len(s) - len(s.lstrip("1"))
    return b"\x00" * pad + raw


REGISTRY["->B58"] = lambda st: st.push(_b58_encode(_to_bytes(st.pop())))
REGISTRY["B58->"] = lambda st: st.push(_b58_decode(str(st.pop())))


def _b58c_checksum(data: bytes) -> bytes:
    return _hashlib.sha256(_hashlib.sha256(data).digest()).digest()[:4]


REGISTRY["->B58C"] = lambda st: st.push(_b58_encode((lambda d: d + _b58c_checksum(d))(_to_bytes(st.pop()))))


@register("B58C->")
def _b58cto(st):
    raw = _b58_decode(str(st.pop()))
    data, chk = raw[:-4], raw[-4:]
    if _b58c_checksum(data) != chk:
        raise ValueError("invalid Base58Check checksum")
    st.push(data)


def _rlp_encode(v) -> bytes:
    if isinstance(v, bool):
        raise TypeError("RLP: booleans unsupported")
    if isinstance(v, int):
        v = v.to_bytes((v.bit_length() + 7) // 8, "big") if v else b""
    if isinstance(v, str):
        v = v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        v = bytes(v)
        if len(v) == 1 and v[0] < 0x80:
            return v
        if len(v) <= 55:
            return bytes([0x80 + len(v)]) + v
        ln = len(v).to_bytes((len(v).bit_length() + 7) // 8, "big")
        return bytes([0xB7 + len(ln)]) + ln + v
    payload = b"".join(_rlp_encode(e) for e in v)
    if len(payload) <= 55:
        return bytes([0xC0 + len(payload)]) + payload
    ln = len(payload).to_bytes((len(payload).bit_length() + 7) // 8, "big")
    return bytes([0xF7 + len(ln)]) + ln + payload


def _rlp_decode(data: bytes, pos: int = 0):
    h = data[pos]
    if h < 0x80:
        return data[pos : pos + 1], pos + 1
    if h <= 0xB7:
        ln = h - 0x80
        return data[pos + 1 : pos + 1 + ln], pos + 1 + ln
    if h <= 0xBF:
        lln = h - 0xB7
        ln = int.from_bytes(data[pos + 1 : pos + 1 + lln], "big")
        s = pos + 1 + lln
        return data[s : s + ln], s + ln
    if h <= 0xF7:
        ln = h - 0xC0
        end = pos + 1 + ln
        out, p = [], pos + 1
    else:
        lln = h - 0xF7
        ln = int.from_bytes(data[pos + 1 : pos + 1 + lln], "big")
        p = pos + 1 + lln
        end = p + ln
        out = []
    while p < end:
        item, p = _rlp_decode(data, p)
        out.append(item)
    return out, end


REGISTRY["->RLP"] = lambda st: st.push(_rlp_encode(st.pop()))
REGISTRY["RLP->"] = lambda st: st.push(_rlp_decode(_to_bytes(st.pop()))[0])


# ---- compression ----

REGISTRY["GZIP"] = lambda st: st.push(_gzip.compress(_to_bytes(st.pop()), mtime=0))
REGISTRY["UNGZIP"] = lambda st: st.push(_gzip.decompress(_to_bytes(st.pop())))
REGISTRY["DEFLATE"] = lambda st: st.push(_zlib.compress(_to_bytes(st.pop())))
REGISTRY["INFLATE"] = lambda st: st.push(_zlib.decompress(_to_bytes(st.pop())))


# ---- digests / MACs (stdlib-backed; keccak & legacy families that the
# stdlib lacks stay out of scope) ----

for _alg, _fn in {
    "SHA224": "sha224", "SHA384": "sha384", "SHA512": "sha512",
    "SHA3.224": "sha3_224", "SHA3.256": "sha3_256",
    "SHA3.384": "sha3_384", "SHA3.512": "sha3_512",
}.items():
    REGISTRY[_alg] = (lambda fn: lambda st: st.push(getattr(_hashlib, fn)(_to_bytes(st.pop())).digest()))(_fn)


def _mk_hmac(alg):
    def fn(st):
        key = _to_bytes(st.pop())
        data = _to_bytes(st.pop())
        st.push(_hmac.new(key, data, alg).digest())

    return fn


REGISTRY["SHA1HMAC"] = _mk_hmac("sha1")
REGISTRY["SHA256HMAC"] = _mk_hmac("sha256")


def _siphash24(k0: int, k1: int, data: bytes) -> int:
    """SipHash-2-4 (HASH.java uses SipHashInline): 64-bit keyed hash."""
    mask = 0xFFFFFFFFFFFFFFFF

    def rotl(x, b):
        return ((x << b) | (x >> (64 - b))) & mask

    v0 = k0 ^ 0x736F6D6570736575
    v1 = k1 ^ 0x646F72616E646F6D
    v2 = k0 ^ 0x6C7967656E657261
    v3 = k1 ^ 0x7465646279746573

    def sipround(v0, v1, v2, v3):
        v0 = (v0 + v1) & mask
        v1 = rotl(v1, 13) ^ v0
        v0 = rotl(v0, 32)
        v2 = (v2 + v3) & mask
        v3 = rotl(v3, 16) ^ v2
        v0 = (v0 + v3) & mask
        v3 = rotl(v3, 21) ^ v0
        v2 = (v2 + v1) & mask
        v1 = rotl(v1, 17) ^ v2
        v2 = rotl(v2, 32)
        return v0, v1, v2, v3

    b = len(data) & 0xFF
    off = 0
    while off + 8 <= len(data):
        m = int.from_bytes(data[off : off + 8], "little")
        v3 ^= m
        v0, v1, v2, v3 = sipround(v0, v1, v2, v3)
        v0, v1, v2, v3 = sipround(v0, v1, v2, v3)
        v0 ^= m
        off += 8
    m = b << 56
    for i, byte in enumerate(data[off:]):
        m |= byte << (8 * i)
    v3 ^= m
    v0, v1, v2, v3 = sipround(v0, v1, v2, v3)
    v0, v1, v2, v3 = sipround(v0, v1, v2, v3)
    v0 ^= m
    v2 ^= 0xFF
    for _ in range(4):
        v0, v1, v2, v3 = sipround(v0, v1, v2, v3)
    h = (v0 ^ v1 ^ v2 ^ v3) & mask
    return h - 2**64 if h > _I64_MAX else h


@register("HASH")
def _hash(st):
    """data [k0 k1] HASH (HASH.java): SipHash-2-4. The reference's
    default key is deployment-specific (warp.hash.app); ours is the zero
    key — documented deviation, override by passing k0 k1."""
    o = st.pop()
    k0 = k1 = 0
    if isinstance(o, int) and not isinstance(o, bool):
        k1 = o
        k0 = int(st.pop())
        o = st.pop()
    st.push(_siphash24(k0 & 0xFFFFFFFFFFFFFFFF, k1 & 0xFFFFFFFFFFFFFFFF, _to_bytes(o)))


@register("BYTESTOBITS")
def _bytestobits(st):
    """bytes BYTESTOBITS: byte array → bit set (BitSet.valueOf order:
    bit i = byte[i/8] >> (i%8)); the set is a Python set of indices."""
    data = _to_bytes(st.pop())
    st.push({i for i in range(len(data) * 8) if (data[i >> 3] >> (i & 7)) & 1})


@register("BITSTOBYTES")
def _bitstobytes(st):
    bits = st.pop()
    if not bits:
        st.push(b"")
        return
    n = (max(bits) >> 3) + 1
    out = bytearray(n)
    for i in bits:
        out[i >> 3] |= 1 << (i & 7)
    st.push(bytes(out))


# ---- Shamir secret sharing (TOSSSS.java / SSSSTO.java) -------------
# The reference delegates to com.geoxp.oss CryptoHelper.SSSSSplit /
# SSSSRecover (library not present in the reference tree). The share
# CONTRACT visible from TOSSSS.java:30-96 is: each split is a byte
# array of (x, y) PAIRS — one pair per secret byte — over GF(256), the
# secret byte being the polynomial value at x=0 (the ensureRandomness
# branch strips x==0 pairs precisely because f(0) IS the secret).
# Recovery therefore reads x from the share itself and Lagrange-
# interpolates at 0, so it accepts any split laid out per that
# contract regardless of how the splitter picked its x coordinates.

_GF_EXP = [0] * 512
_GF_LOG = [0] * 256
_x = 1
for _i in range(255):
    _GF_EXP[_i] = _x
    _GF_LOG[_x] = _i
    # multiply by the generator 0x03 (= x ⊕ x·2); 0x02 is NOT a
    # generator of GF(256)* under the AES polynomial
    _x ^= (_x << 1) ^ (0x11B if _x & 0x80 else 0)
for _i in range(255, 512):
    _GF_EXP[_i] = _GF_EXP[_i - 255]


def _gf_mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _GF_EXP[_GF_LOG[a] + _GF_LOG[b]]


def _gf_div(a: int, b: int) -> int:
    if a == 0:
        return 0
    return _GF_EXP[(_GF_LOG[a] - _GF_LOG[b]) % 255]


def ssss_split(secret: bytes, n: int, k: int, rng) -> list[bytes]:
    """Split into n shares, any k of which recover the secret: per
    secret byte an independent degree-(k-1) polynomial with constant
    term = the byte; share i holds the (x=i+1, y=f(i+1)) pair."""
    shares = [bytearray() for _ in range(n)]
    for b in secret:
        coeffs = [b] + [rng.randrange(256) for _ in range(k - 1)]
        for i in range(n):
            x = i + 1
            y = 0
            for c in reversed(coeffs):  # Horner
                y = _gf_mul(y, x) ^ c
            shares[i] += bytes((x, y))
    return [bytes(s) for s in shares]


def ssss_recover(shares: list[bytes]) -> bytes:
    """Lagrange interpolation at x=0 per byte position."""
    if not shares:
        raise ValueError("SSSS-> expects at least one share")
    ln = len(shares[0])
    if ln % 2 or any(len(s) != ln for s in shares):
        raise ValueError("SSSS-> shares must be equal-length (x,y) pair arrays")
    out = bytearray()
    for j in range(ln // 2):
        pts = [(s[2 * j], s[2 * j + 1]) for s in shares]
        acc = 0
        for i, (xi, yi) in enumerate(pts):
            num, den = 1, 1
            for m, (xm, _) in enumerate(pts):
                if m == i:
                    continue
                num = _gf_mul(num, xm)
                den = _gf_mul(den, xm ^ xi)
            acc ^= _gf_mul(yi, _gf_div(num, den))
        out.append(acc)
    return bytes(out)


@register("->SSSS")
def _to_ssss(st):
    """secret n k [ensureRandomness] ->SSSS (TOSSSS.java:30-96): push a
    list of n byte-array shares, k needed to recover. ensureRandomness
    defaults true; our x coordinates are never 0 so the false branch's
    x==0 stripping is a no-op (shares are already minimal length).
    Seed via SRAND for reproducible shares."""
    import random as _random

    top = st.pop()
    if isinstance(top, bool):
        top = st.pop()  # ensureRandomness flag — see docstring
    if not isinstance(top, int):
        raise TypeError("->SSSS expects the number of splits needed to reconstruct the input.")
    k = top
    if k < 2 or k > 255:
        raise ValueError("->SSSS expects the number of needed splits to be between 2 and 255.")
    n = st.pop()
    if not isinstance(n, int):
        raise TypeError("->SSSS expects the number of splits to generate.")
    if n > 255:
        raise ValueError("->SSSS the number of splits must be strictly less than 256.")
    if n < k:
        raise ValueError(
            "->SSSS the number of splits to generate must be at least equal to the number of needed splits."
        )
    secret = st.pop()
    if not isinstance(secret, (bytes, bytearray)):
        raise TypeError("->SSSS operates on a byte array.")
    rng = getattr(st, "rng", None) or _random.Random()
    st.push(ssss_split(bytes(secret), n, k, rng))


@register("SSSS->")
def _from_ssss(st):
    """[shares] SSSS-> (SSSSTO.java): recover the secret byte array."""
    shares = st.pop()
    if not isinstance(shares, list) or not all(isinstance(s, (bytes, bytearray)) for s in shares):
        raise TypeError("SSSS-> operates on a LIST of byte arrays.")
    st.push(ssss_recover([bytes(s) for s in shares]))


# ---- encoder as a stack value (GTSEncoder.java:28; NEWENCODER/
#      TOENCODER/ENCODERTO/ASENCODERS/UNWRAPENCODER/UNWRAPSIZE,
#      WarpScriptLib.java:2435-2440,2603; engine forms in
#      core/encoders.py) ----

def _enc():
    from warp10_platform_spark.core import encoders as E

    return E


@register("NEWENCODER")
def _newencoder(st):
    """NEWENCODER (NEWENCODER.java): empty encoder, empty name."""
    st.push(_enc().Encoder(""))


@register("->ENCODER")
def _toencoder(st):
    """[ [ts lat lon elev value] … | wrapped | encoder … ] ->ENCODER
    (TOENCODER.java): merge every element into ONE encoder."""
    E = _enc()
    elements = st.pop()
    if not isinstance(elements, list):
        raise TypeError("->ENCODER expects a list")
    enc = E.Encoder("")
    for el in elements:
        if isinstance(el, str):
            enc.merge(E.Encoder.from_wrapped(el))
        elif isinstance(el, E.Encoder):
            enc.merge(el)
        elif isinstance(el, list) and len(el) == 5:
            ts, lat, lon, elev, value = el
            e = None if (isinstance(elev, float) and elev != elev) or elev is None else int(elev)
            enc.add_latlon(int(ts), float(lat), float(lon), e, value)
        else:
            raise TypeError(
                "->ENCODER merges [ts lat lon elev value] lists, wrapped strings or "
                "encoders; for a fetch result use ASENCODERS (stays distributed)"
            )
    st.push(enc)


@register("->ENCODERS")
def _toencoders(st):
    """[ wrapped|encoder … ] ->ENCODERS (TOENCODERS.java): one encoder
    per element."""
    E = _enc()
    elements = st.pop()
    out = []
    for el in elements if isinstance(elements, list) else [elements]:
        out.append(E.Encoder.from_wrapped(el) if isinstance(el, str) else el)
    st.push(out)


@register("ENCODER->")
def _encoderto(st):
    """encoder|wrapped ENCODER-> (ENCODERTO.java): list of
    [ts lat lon elev value]; NaN lat/lon when no location."""
    E = _enc()
    v = st.pop()
    if isinstance(v, E.EncoderFrame):
        st.push(E.encoder_frame_to_gts(v).df)
        return
    if isinstance(v, str):
        v = E.Encoder.from_wrapped(v)
    st.push(v.to_rows())


@register("ASENCODERS")
def _asencoders(st):
    """gtsframe|[wrapped…]|wrapped ASENCODERS (ASENCODERS.java): convert
    to encoders — a fetch result becomes a DISTRIBUTED EncoderFrame
    (per-series Arrow encode, lazy); scalars stay driver-side."""
    from pyspark.sql import DataFrame as _DF

    E = _enc()
    v = st.pop()
    if isinstance(v, GTSFrame):
        st.push(E.gts_to_encoder_frame(v))
    elif isinstance(v, _DF):
        st.push(E.EncoderFrame(v))
    elif isinstance(v, list):
        st.push([E.Encoder.from_wrapped(x) if isinstance(x, str) else x for x in v])
    elif isinstance(v, str):
        st.push(E.Encoder.from_wrapped(v))
    else:
        st.push(v)


@register("UNWRAPENCODER")
def _unwrapencoder(st):
    """wrapped UNWRAPENCODER (UNWRAPENCODER.java): wrapped blob(s) →
    encoder(s); a DataFrame of wrapped rows → EncoderFrame (lazy)."""
    from pyspark.sql import DataFrame as _DF

    E = _enc()
    v = st.pop()
    if isinstance(v, _DF):
        st.push(E.EncoderFrame(v))
    elif isinstance(v, list):
        st.push([E.Encoder.from_wrapped(x) for x in v])
    else:
        st.push(E.Encoder.from_wrapped(v))


@register("UNWRAPSIZE")
def _unwrapsize(st):
    """wrapped UNWRAPSIZE (UNWRAPSIZE.java): GTSWrapper count field —
    no point decode, no gzip inflate. DataFrame form → count per row."""
    from pyspark.sql import DataFrame as _DF

    E = _enc()
    v = st.pop()
    if isinstance(v, E.EncoderFrame):
        st.push(E.unwrap_size_col(v.df))
    elif isinstance(v, _DF):
        st.push(E.unwrap_size_col(v))
    elif isinstance(v, list):
        st.push([E.unwrap_size(x) for x in v])
    else:
        st.push(E.unwrap_size(v))


@register("TOGTS", "ENCODERTOGTS")
def _togts(st):
    """encoder|EncoderFrame TOGTS (TOGTS.java:49): back to a GTS frame."""
    E = _enc()
    v = st.pop()
    if isinstance(v, E.EncoderFrame):
        st.push(E.encoder_frame_to_gts(v))
        return
    if isinstance(v, str):
        v = E.Encoder.from_wrapped(v)
    from warp10_platform_spark.core.geoxp import from_geoxp
    from warp10_platform_spark.core.schema import with_gts_id

    rows = []
    for ts, value, elev, loc in v.points:
        lat, lon = from_geoxp(loc) if loc is not None else (None, None)
        rows.append((v.name, v.labels, int(ts), lat, lon, elev, float(value)))
    df = st.spark.createDataFrame(
        rows, "class string, labels map<string,string>, ts long, lat double, lon double, elev long, v_double double"
    )
    st.push(GTSFrame(with_gts_id(df.selectExpr(
        "class", "labels", "cast(map() as map<string,string>) AS attributes", "ts",
        "lat", "lon", "elev",
        "cast(null as long) AS v_long", "v_double", "cast(null as boolean) AS v_bool",
        "cast(null as string) AS v_string",
    )), None, "v_double"))


@register("GOLDWRAP")
def _goldwrap(st):
    """[encoder|wrapped …] bool? GOLDWRAP (GOLDWRAP.java:95-130):
    canonical serialized GTSWrapper BYTES per element — points fully
    sorted (optional boolean on top = descending), labels/attributes in
    TreeMap (lexicographic) order, wrapper compressed (compratio 1.0)
    — a deterministic "golden" blob usable for byte-equality compare.
    Recurses over lists like the reference's ListRecursiveStackFunction."""
    from warp10_platform_spark.core.gtscodec import encode_gts, write_wrapper

    E = _enc()
    reverse = False
    if isinstance(st.peek(), bool):
        reverse = st.pop()
    v = st.pop()

    def gold(el):
        if isinstance(el, list):
            return [gold(x) for x in el]
        if isinstance(el, (str, bytes)):
            el = E.Encoder.from_wrapped(
                el if isinstance(el, str) else el.decode("ascii")
            )
        if not isinstance(el, E.Encoder):
            raise TypeError("GOLDWRAP operates on encoders or wrapped blobs")
        # full sort: ts, then location/elevation/value repr for stability
        pts = sorted(
            el.points, key=lambda p: (p[0], repr(p[3]), repr(p[2]), repr(p[1])),
            reverse=reverse,
        )
        blob = encode_gts(pts, base=0)
        return write_wrapper(
            el.name,
            dict(sorted(el.labels.items())),
            blob,
            len(pts),
            base=0,
            attributes=dict(sorted(el.attributes.items())),
            compress=True,
        )

    st.push(gold(v))


# ---- multivalue tier — WRAPMV/WRAPMV!, MVVALUES/MVTICKS/MVLOCATIONS/
#      MVELEVATIONS/MVHHCODES, MVTICKSPLIT/MVINDEXSPLIT, ->MVSTRING
#      (registrations WarpScriptLib.java:2605-2615; core/multivalue.py) ----

def _element_or_list(fn):
    """ElementOrListStackFunction.apply: map over a list operand, apply
    directly otherwise."""

    def run(st):
        v = st.pop()
        if isinstance(v, list):
            st.push([fn(e) for e in v])
        else:
            st.push(fn(v))

    return run


def _mv_wrap_fn(compress):
    from warp10_platform_spark.core.multivalue import mv_wrap

    def one(e):
        if isinstance(e, _enc().Encoder):
            return mv_wrap(e, compress=compress)
        raise TypeError("WRAPMV operates on ENCODER values (use ASENCODERS on a GTS set)")

    return one


REGISTRY["WRAPMV"] = _element_or_list(_mv_wrap_fn(True))
REGISTRY["WRAPMV!"] = _element_or_list(_mv_wrap_fn(False))


def _mvextract_fn(element):
    from warp10_platform_spark.core.multivalue import mvextract

    def one(e):
        if not isinstance(e, _enc().Encoder):
            raise TypeError("MV extraction operates on ENCODER values")
        return mvextract(e, element)

    return one


for _nm, _el in (("MVVALUES", "VALUE"), ("MVTICKS", "TICK"), ("MVLOCATIONS", "LATLON"),
                 ("MVELEVATIONS", "ELEVATION"), ("MVHHCODES", "LOCATION")):
    REGISTRY[_nm] = _element_or_list(_mvextract_fn(_el))


def _mvsplit_factory(bytick):
    def run(st):
        from warp10_platform_spark.core.multivalue import mvsplit

        Encoder = _enc().Encoder
        renaming = None
        selection = None
        top = st.pop()
        if isinstance(top, dict):
            renaming = top
            top = st.pop()
        if isinstance(top, list) and top and not isinstance(top[0], Encoder):
            selection = top
            top = st.pop()
        if isinstance(top, Encoder):
            st.push(mvsplit(top, bytick, selection, renaming))
        elif isinstance(top, list):
            st.push([mvsplit(e, bytick, selection, renaming) for e in top])
        else:
            raise TypeError("MVSPLIT operates on ENCODER values or a list thereof")

    return run


REGISTRY["MVTICKSPLIT"] = _mvsplit_factory(True)
REGISTRY["MVINDEXSPLIT"] = _mvsplit_factory(False)


@register("->MVSTRING")
def _to_mvstring(st):
    from warp10_platform_spark.core.multivalue import to_mvstring

    st.push(to_mvstring(st.pop()))


@register("TIGER", "GOST")
def _unverifiable_digest_stub(st):
    """TIGER / GOST digests: deliberately NOT implemented — no
    independent implementation exists in this environment to validate
    their S-box tables (OpenSSL 3.5 ships neither, even in legacy), and
    an unverifiable hash is worse than an absent one (COVERAGE.md
    appendix). Bound so scripts get a precise error."""
    raise NotImplementedError(
        "TIGER/GOST are out of scope: their S-box tables cannot be "
        "independently validated in this environment. Use SHA256/SHA1/MD5/"
        "KECCAK or the HMAC tier instead."
    )


@register("->OPB64")
def _toopb64(st):
    from warp10_platform_spark.core.gtscodec import opb64_encode

    st.push(opb64_encode(_to_bytes(st.pop())))


@register("OPB64->")
def _opb64to(st):
    from warp10_platform_spark.core.gtscodec import opb64_decode

    st.push(opb64_decode(str(st.pop())))


# ---- PACK/UNPACK bit packing ----

def _pack_parse_format(fmt: str):
    """PACK.parseFormat (PACK.java:145-210): (bigendian, type, len)."""
    out = []
    i = 0
    while i < len(fmt):
        big = False
        t = fmt[i]; i += 1
        ln = 0
        if t in "<>":
            big = t == ">"
            t = fmt[i]; i += 1
            if t in "LU":
                while i < len(fmt) and fmt[i].isdigit():
                    ln = ln * 10 + int(fmt[i]); i += 1
                ln = ln or 64
                if ln > 64:
                    raise ValueError("PACK: max length for L/U is 64")
            elif t == "D":
                ln = 64
            else:
                raise ValueError(f"PACK: invalid spec {t!r}")
        elif t in "Ss":
            while i < len(fmt) and fmt[i].isdigit():
                ln = ln * 10 + int(fmt[i]); i += 1
            if ln == 0:
                raise ValueError("PACK: skip needs a length")
        elif t == "B":
            ln = 1
        else:
            raise ValueError(f"PACK: invalid spec {t!r}")
        out.append((big, t, ln))
    return out


_M64 = (1 << 64) - 1


def _rev64(v: int) -> int:
    return int(f"{v & _M64:064b}"[::-1], 2)


@register("PACK")
def _pack(st):
    """[values] 'fmt' PACK (PACK.java): bit-pack longs/doubles/bools.
    <L/<U little-endian n bits, >L/>U big-endian, D double, B bool,
    S/s skip-ones/zeros — bit emission mirrored exactly."""
    fmt = str(st.pop())
    values = list(st.pop())
    fields = _pack_parse_format(fmt)
    bits = []
    vidx = 0
    for big, t, ln in fields:
        if t == "s":
            value = 0
        elif t == "S":
            value = _M64
        else:
            v = values[vidx]; vidx += 1
            if isinstance(v, bool):
                v = 1 if v else 0
            if t == "D":
                value = int.from_bytes(_struct.pack(">d", float(v)), "big")
            elif t == "B":
                value = 1 if int(v) != 0 else 0
            else:
                value = int(v) & _M64
        if big:
            value = _rev64(value)
            if ln < 64:
                value >>= 64 - ln
        for _ in range(ln):
            bits.append(value & 1)
            value >>= 1
    out = bytearray()
    cur = 0
    n = 0
    for b in bits:
        cur = ((cur << 1) | b) & 0xFF
        n += 1
        if n % 8 == 0:
            out.append(cur)
            cur = 0
    if n % 8:
        out.append((cur << (8 - n % 8)) & 0xFF)
    st.push(bytes(out))


@register("UNPACK")
def _unpack(st):
    """bytes 'fmt' UNPACK (UNPACK.java): inverse of PACK — L sign-extends
    from its width, U stays unsigned, skips consume without emitting."""
    fmt = str(st.pop())
    data = _to_bytes(st.pop())
    fields = _pack_parse_format(fmt)
    bitstream = []
    for byte in data:
        for k in range(7, -1, -1):
            bitstream.append((byte >> k) & 1)
    pos = 0
    out = []
    for big, t, ln in fields:
        chunk = bitstream[pos : pos + ln]
        pos += ln
        if t in "Ss":
            continue
        value = 0
        for k, b in enumerate(chunk):
            value |= b << k
        if big:
            value = _rev64(value << (64 - ln)) if ln < 64 else _rev64(value)
        if t == "D":
            out.append(_struct.unpack(">d", (value & _M64).to_bytes(8, "big"))[0])
        elif t == "B":
            out.append(bool(value & 1))
        elif t == "L":
            if ln < 64 and value & (1 << (ln - 1)):
                value -= 1 << ln
            out.append(_to_signed64_chk(value))
        else:  # U
            out.append(value & _M64 if ln == 64 else value)
    st.push(out)


def _to_signed64_chk(v):
    v &= _M64
    return v - (1 << 64) if v >= (1 << 63) else v


# ---- wrap variants (WRAPRAW/WRAPFAST/WRAPOPT, UNWRAPEMPTY, OPTIMIZE) ----

@register("WRAPRAW", "WRAPRAWOPT")
def _wrapraw(st):
    """encoder WRAPRAW (WRAPRAW.java): the raw GTSWrapper BYTES (no
    OPB64 text encoding)."""
    from warp10_platform_spark.core.encoders import Encoder
    from warp10_platform_spark.core.gtscodec import opb64_decode

    v = st.pop()
    if not isinstance(v, Encoder):
        raise TypeError("WRAPRAW operates on an encoder")
    st.push(opb64_decode(v.wrap()))


@register("WRAPFAST")
def _wrapfast(st):
    """encoder WRAPFAST: wrapper without compression (speed over size)."""
    from warp10_platform_spark.core.encoders import Encoder
    from warp10_platform_spark.core.gtscodec import wrap_series

    v = st.pop()
    if not isinstance(v, Encoder):
        raise TypeError("WRAPFAST operates on an encoder")
    st.push(wrap_series(v.name, v.labels, v.points, base=v.base,
                        attributes=v.attributes, compress=False))


@register("WRAPOPT")
def _wrapopt(st):
    REGISTRY["WRAP"](st)


@register("UNWRAPEMPTY")
def _unwrapempty(st):
    """wrapped UNWRAPEMPTY (UNWRAPEMPTY.java): metadata-only unwrap —
    an empty encoder carrying name/labels/attributes (no point decode)."""
    from warp10_platform_spark.core.encoders import Encoder
    from warp10_platform_spark.core.gtscodec import opb64_decode, read_wrapper

    w = read_wrapper(opb64_decode(str(st.pop())), inflate=False)
    md = w["metadata"] or {"name": "", "labels": {}, "attributes": {}}
    st.push(Encoder(md["name"], md["labels"], md["attributes"]))


@register("OPTIMIZE")
def _optimize(st):
    """encoder OPTIMIZE (GTSEncoder.optimize): the python encoder is
    already in optimal append form — identity."""
    pass
