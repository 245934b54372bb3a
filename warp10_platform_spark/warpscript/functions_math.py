"""WarpScript math names: exact long arithmetic, distributions and
moments, the BigDecimal/BigInteger BD* suite (with its RNG and probable
primes), quaternions, and matrix/tensor stack values with their literal
tokens. Registrations follow WarpScriptLib.java:1966-3570; each name's
docstring cites its reference class.

Imported for its registrations at the bottom of functions.py, like every
functions_<family> module, so all names land in the one REGISTRY the
stack machine dispatches on.
"""

from __future__ import annotations

import math as _math
from decimal import ROUND_CEILING, ROUND_FLOOR, ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.warpscript.functions import _I64_MAX, _I64_MIN, REGISTRY, _as_frame, register


# ---- matrix / tensor tier — STACK values (commons-math RealMatrix/
#      RealVector in the reference; numpy on list-of-list literals here;
#      the DataFrame matrix tier lives in functions/matrix.py) ----

@register("->MAT")
def _tomat(st):
    """[[…]…] ->MAT (TOMAT.java): list-of-rows → matrix value."""
    import numpy as _np

    st.push(_np.asarray(st.pop(), dtype=_np.float64))


@register("MAT->")
def _matto(st):
    m = st.pop()
    st.push([[float(x) for x in row] for row in m])


@register("->VEC")
def _tovec(st):
    """[…] ->VEC (TOVEC.java)."""
    import numpy as _np

    st.push(_np.asarray(st.pop(), dtype=_np.float64))


@register("VEC->")
def _vecto(st):
    st.push([float(x) for x in st.pop()])


@register("TRANSPOSE")
def _transpose(st):
    import numpy as _np

    st.push(_np.asarray(st.pop(), dtype=_np.float64).T)


@register("DET")
def _det(st):
    import numpy as _np

    st.push(float(_np.linalg.det(_np.asarray(st.pop(), dtype=_np.float64))))


@register("INV")
def _inv(st):
    import numpy as _np

    st.push(_np.linalg.inv(_np.asarray(st.pop(), dtype=_np.float64)))


@register("TR")
def _tr(st):
    import numpy as _np

    st.push(float(_np.trace(_np.asarray(st.pop(), dtype=_np.float64))))


@register("RESHAPE")
def _reshape(st):
    """list [shape] RESHAPE (RESHAPE.java): numpy-style reshape."""
    import numpy as _np

    shape = st.pop()
    v = st.pop()
    st.push(_np.asarray(v).reshape([int(s) for s in shape]).tolist())


@register("CHECKSHAPE")
def _checkshape(st):
    """nested-list CHECKSHAPE: true when rectangular (CHECKSHAPE.java)."""
    v = st.pop()

    def shape_of(x):
        if not isinstance(x, list):
            return ()
        subs = {shape_of(e) for e in x}
        if len(subs) > 1:
            return None
        return (len(x),) + (next(iter(subs)) if subs else ())

    st.push(shape_of(v) is not None)


@register("PERMUTE")
def _permute(st):
    """tensor [axes] PERMUTE (PERMUTE.java)."""
    import numpy as _np

    axes = st.pop()
    v = st.pop()
    st.push(_np.transpose(_np.asarray(v), [int(a) for a in axes]).tolist())


# ---- exact long arithmetic, distributions, moments ----

def _chk64(v: int) -> int:
    if v < _I64_MIN or v > _I64_MAX:
        raise ArithmeticError("long overflow")
    return v


REGISTRY["ADDEXACT"] = lambda st: st.push(_chk64(int(st.pop()) + int(st.pop())))
REGISTRY["MULTIPLYEXACT"] = lambda st: st.push(_chk64(int(st.pop()) * int(st.pop())))


@register("SUBTRACTEXACT")
def _subtractexact(st):
    b = int(st.pop())
    a = int(st.pop())
    st.push(_chk64(a - b))


REGISTRY["INCREMENTEXACT"] = lambda st: st.push(_chk64(int(st.pop()) + 1))
REGISTRY["DECREMENTEXACT"] = lambda st: st.push(_chk64(int(st.pop()) - 1))
REGISTRY["NEGATEEXACT"] = lambda st: st.push(_chk64(-int(st.pop())))


@register("TOINTEXACT")
def _tointexact(st):
    v = int(st.pop())
    if v < -(2**31) or v > 2**31 - 1:
        raise ArithmeticError("integer overflow")
    st.push(v)


@register("FLOORDIV")
def _floordiv(st):
    b = int(st.pop())
    a = int(st.pop())
    st.push(a // b)


@register("FLOORMOD")
def _floormod(st):
    b = int(st.pop())
    a = int(st.pop())
    st.push(a % b)


@register("GETEXPONENT")
def _getexponent(st):
    """Math.getExponent: unbiased IEEE754 exponent (0/-subnormal → -1023,
    inf/nan → 1024)."""
    v = float(st.pop())
    if v == 0.0 or v != v or v in (float("inf"), float("-inf")):
        st.push(1024 if (v != v or abs(v) == float("inf")) else -1023)
        return
    m, e = _math.frexp(abs(v))
    st.push(e - 1 if m >= 2**-1022 or e - 1 >= -1022 else -1023)


REGISTRY["NEXTUP"] = lambda st: st.push(_math.nextafter(float(st.pop()), _math.inf))
REGISTRY["NEXTDOWN"] = lambda st: st.push(_math.nextafter(float(st.pop()), -_math.inf))


@register("SCALB")
def _scalb(st):
    n = int(st.pop())
    v = float(st.pop())
    st.push(_math.ldexp(v, n))


@register("REVBITS")
def _revbits(st):
    """Long.reverse: reverse the 64 bits."""
    v = int(st.pop()) & 0xFFFFFFFFFFFFFFFF
    r = int(f"{v:064b}"[::-1], 2)
    st.push(r - 2**64 if r > _I64_MAX else r)


REGISTRY["e"] = lambda st: st.push(_math.e)
REGISTRY["pi"] = lambda st: st.push(_math.pi)


# ns/ps unit suffixes now register centrally in functions.py with the
# session-unit-aware UNIT semantics (unary/UNIT.java).


@register("NPDF")
def _npdf(st):
    """mu sigma x NPDF.../ scalar form: normal density at x."""
    x = float(st.pop())
    sigma = float(st.pop())
    mu = float(st.pop())
    st.push(_math.exp(-0.5 * ((x - mu) / sigma) ** 2) / (sigma * _math.sqrt(2 * _math.pi)))


@register("CPROB")
def _cprob(st):
    """value histogram-map CPROB: cumulative probability P(X <= value)."""
    v = st.pop()
    hist = st.pop()
    total = sum(hist.values())
    st.push(sum(c for k, c in hist.items() if k <= v) / total if total else float("nan"))


@register("PROB")
def _prob(st):
    """value histogram-map PROB: empirical P(X == value)."""
    v = st.pop()
    hist = st.pop()
    total = sum(hist.values())
    st.push(hist.get(v, 0) / total if total else float("nan"))


REGISTRY["PROBABILITY"] = REGISTRY["PROB"]


def _mk_moment(stat):
    def fn(st):
        """gts useBessel SKEWNESS/KURTOSIS (SKEWNESS.java): per-series
        higher moment; also accepts a plain value list."""
        _bessel = st.pop()
        v = st.pop()
        if isinstance(v, (GTSFrame, list)) and not (isinstance(v, list) and v and isinstance(v[0], (int, float))):
            gf = _as_frame(v)
            agg = (F.skewness if stat == "skew" else F.kurtosis)(F.col(gf.value_col).cast("double"))
            st.push(gf.df.groupBy("class", "labels_key").agg(agg.alias(stat)))
            return
        vs = [float(x) for x in v]
        n = len(vs)
        mu = sum(vs) / n
        var = sum((x - mu) ** 2 for x in vs) / n
        sd = var ** 0.5
        p = 3 if stat == "skew" else 4
        st.push(sum(((x - mu) / sd) ** p for x in vs) / n if sd else float("nan"))

    return fn


REGISTRY["SKEWNESS"] = _mk_moment("skew")
REGISTRY["KURTOSIS"] = _mk_moment("kurt")


# ---- BigDecimal / BigInteger BD* suite (ext/warpscript BigDecimal
#      registrations; Python Decimal/int backed — arbitrary precision on
#      both sides, HALF_UP rounding like BigDecimal) ----

def _as_bd(v) -> Decimal:
    if isinstance(v, Decimal):
        return v
    if isinstance(v, float):
        # BigDecimal.valueOf(double): shortest decimal representation
        return Decimal(repr(v))
    return Decimal(v)


def _push_bd(st, v: Decimal):
    st.push(v)


def _bd_binop(fn):
    def inner(st):
        b = _as_bd(st.pop())
        a = _as_bd(st.pop())
        _push_bd(st, fn(a, b))

    return inner


def _bd_unop(fn):
    def inner(st):
        _push_bd(st, fn(_as_bd(st.pop())))

    return inner


REGISTRY["->BD"] = lambda st: st.push(_as_bd(st.pop()))


@register("BD->")
def _bdto(st):
    v = _as_bd(st.pop())
    if v == v.to_integral_value() and abs(v) <= _I64_MAX:
        st.push(int(v))
    else:
        st.push(float(v))


REGISTRY["BDADD"] = _bd_binop(lambda a, b: a + b)
REGISTRY["BDSUB"] = _bd_binop(lambda a, b: a - b)
REGISTRY["BDMUL"] = _bd_binop(lambda a, b: a * b)
REGISTRY["BDDIV"] = _bd_binop(lambda a, b: a / b)
REGISTRY["BDMOD"] = _bd_binop(lambda a, b: a % b)
REGISTRY["BDREM"] = _bd_binop(lambda a, b: a.remainder_near(b) if False else a - (a / b).to_integral_value(rounding=ROUND_FLOOR if (a >= 0) == (b >= 0) else ROUND_CEILING) * b)
REGISTRY["BDDIVINT"] = _bd_binop(lambda a, b: (a / b).to_integral_value(rounding=ROUND_FLOOR if (a >= 0) == (b >= 0) else ROUND_CEILING))
REGISTRY["BDMAX"] = _bd_binop(max)
REGISTRY["BDMIN"] = _bd_binop(min)
REGISTRY["BDNEG"] = _bd_unop(lambda a: -a)
REGISTRY["BDABS"] = _bd_unop(abs)
REGISTRY["BDSIGNUM"] = _bd_unop(lambda a: Decimal(0 if a == 0 else (1 if a > 0 else -1)))
REGISTRY["BDCEIL"] = _bd_unop(lambda a: a.to_integral_value(rounding=ROUND_CEILING))
REGISTRY["BDFLOOR"] = _bd_unop(lambda a: a.to_integral_value(rounding=ROUND_FLOOR))
REGISTRY["BDSTRIP"] = _bd_unop(lambda a: a.normalize())
REGISTRY["BDULP"] = _bd_unop(lambda a: Decimal(1).scaleb(a.as_tuple().exponent))
REGISTRY["BDCOMP"] = _bd_binop(lambda a, b: Decimal(-1 if a < b else (0 if a == b else 1)))


@register("BDDIVIDEANDREMAINDER")
def _bddivrem(st):
    b = _as_bd(st.pop())
    a = _as_bd(st.pop())
    q = (a / b).to_integral_value(rounding=ROUND_FLOOR if (a >= 0) == (b >= 0) else ROUND_CEILING)
    st.push([q, a - q * b])


@register("BDPOW")
def _bdpow(st):
    n = int(st.pop())
    a = _as_bd(st.pop())
    _push_bd(st, a**n)


@register("BDSCALE")
def _bdscale(st):
    """bd BDSCALE → scale (BigDecimal.scale())."""
    st.push(-_as_bd(st.pop()).as_tuple().exponent)


@register("BDROUND")
def _bdround(st):
    """bd scale BDROUND: setScale(scale, HALF_UP)."""
    scale = int(st.pop())
    a = _as_bd(st.pop())
    _push_bd(st, a.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def _bd_int(v) -> int:
    d = _as_bd(v)
    if d != d.to_integral_value():
        raise ValueError("BD bit op needs an integral value")
    return int(d)


def _bd_bitop(fn, arity=2):
    def inner(st):
        if arity == 2:
            b = _bd_int(st.pop())
            a = _bd_int(st.pop())
            st.push(Decimal(fn(a, b)))
        else:
            st.push(Decimal(fn(_bd_int(st.pop()))))

    return inner


REGISTRY["BDAND"] = _bd_bitop(lambda a, b: a & b)
REGISTRY["BDOR"] = _bd_bitop(lambda a, b: a | b)
REGISTRY["BDXOR"] = _bd_bitop(lambda a, b: a ^ b)
REGISTRY["BDANDNOT"] = _bd_bitop(lambda a, b: a & ~b)
REGISTRY["BDNOT"] = _bd_bitop(lambda a: ~a, arity=1)
REGISTRY["BDGCD"] = _bd_bitop(lambda a, b: _math.gcd(a, b))
REGISTRY["BDSETBIT"] = _bd_bitop(lambda a, n: a | (1 << n))
REGISTRY["BDCLEARBIT"] = _bd_bitop(lambda a, n: a & ~(1 << n))
REGISTRY["BDFLIPBIT"] = _bd_bitop(lambda a, n: a ^ (1 << n))
REGISTRY["BDSHIFTLEFT"] = _bd_bitop(lambda a, n: a << n)
REGISTRY["BDSHIFTRIGHT"] = _bd_bitop(lambda a, n: a >> n)
REGISTRY["BDBITCOUNT"] = _bd_bitop(lambda a: bin(a if a >= 0 else ~a).count("1"), arity=1)
REGISTRY["BDBITLENGTH"] = _bd_bitop(lambda a: (a if a >= 0 else ~a).bit_length(), arity=1)
REGISTRY["BDLOWESTSETBIT"] = _bd_bitop(lambda a: (a & -a).bit_length() - 1 if a else -1, arity=1)


@register("BDTESTBIT")
def _bdtestbit(st):
    n = int(st.pop())
    a = _bd_int(st.pop())
    st.push(bool((a >> n) & 1))


@register("BDMODPOW")
def _bdmodpow(st):
    m = _bd_int(st.pop())
    e = _bd_int(st.pop())
    a = _bd_int(st.pop())
    st.push(Decimal(pow(a, e, m)))


@register("BDMODINVERSE")
def _bdmodinverse(st):
    m = _bd_int(st.pop())
    a = _bd_int(st.pop())
    st.push(Decimal(pow(a, -1, m)))


def _is_probable_prime(n: int, certainty: int = 20) -> bool:
    """BigInteger.isProbablePrime: Miller-Rabin (deterministic witness
    set for 64-bit, random beyond)."""
    if n < 2:
        return False
    for p in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
        if n % p == 0:
            return n == p
    d, r = n - 1, 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for a in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = x * x % n
            if x == n - 1:
                break
        else:
            return False
    return True


@register("BDISPROBABLEPRIME")
def _bdisprobableprime(st):
    _cert = int(st.pop())
    st.push(_is_probable_prime(_bd_int(st.pop())))


@register("BDNEXTPROBABLEPRIME")
def _bdnextprobableprime(st):
    n = _bd_int(st.pop()) + 1
    while not _is_probable_prime(n):
        n += 1
    st.push(Decimal(n))


# ---- quaternions ----

def _q_pack(w, x, y, z):
    """TOQUATERNION.toQuaternion (TOQUATERNION.java:76-104): unit
    normalize then 16-bit quantize each component, pack w|x|y|z."""
    norm = _math.sqrt(w * w + x * x + y * y + z * z)
    if norm != 0.0:
        w, x, y, z = w / norm, x / norm, y / norm, z / norm
    iw = int(_math.floor(((w + 1.0) / 2.0) * 65535))
    ix = int(_math.floor(((x + 1.0) / 2.0) * 65535))
    iy = int(_math.floor(((y + 1.0) / 2.0) * 65535))
    iz = int(_math.floor(((z + 1.0) / 2.0) * 65535))
    return (iw << 48) | (ix << 32) | (iy << 16) | iz


def _q_unpack(q):
    """QUATERNIONTO.fromQuaternion (QUATERNIONTO.java:61-76)."""
    q &= (1 << 64) - 1
    iz = q & 0xFFFF
    iy = (q >> 16) & 0xFFFF
    ix = (q >> 32) & 0xFFFF
    iw = (q >> 48) & 0xFFFF
    return (
        2.0 * (iw / 65535.0) - 1.0,
        2.0 * (ix / 65535.0) - 1.0,
        2.0 * (iy / 65535.0) - 1.0,
        2.0 * (iz / 65535.0) - 1.0,
    )


@register("->Q")
def _toq(st):
    z = float(st.pop()); y = float(st.pop()); x = float(st.pop()); w = float(st.pop())
    st.push(_q_pack(w, x, y, z))


@register("Q->")
def _qto(st):
    w, x, y, z = _q_unpack(int(st.pop()))
    st.push(w); st.push(x); st.push(y); st.push(z)


@register("QCONJUGATE")
def _qconj(st):
    w, x, y, z = _q_unpack(int(st.pop()))
    st.push(_q_pack(w, -x, -y, -z))


@register("QMULTIPLY")
def _qmul(st):
    """q r QMULTIPLY (QMULTIPLY.java): Hamilton product r·q (the
    reference's operand order)."""
    r = _q_unpack(int(st.pop()))
    q = _q_unpack(int(st.pop()))
    w = r[0] * q[0] - r[1] * q[1] - r[2] * q[2] - r[3] * q[3]
    x = r[0] * q[1] + r[1] * q[0] - r[2] * q[3] + r[3] * q[2]
    y = r[0] * q[2] + r[1] * q[3] + r[2] * q[0] - r[3] * q[1]
    z = r[0] * q[3] - r[1] * q[2] + r[2] * q[1] + r[3] * q[0]
    st.push(_q_pack(w, x, y, z))


@register("QDIVIDE")
def _qdiv(st):
    """q r QDIVIDE (QDIVIDE.java): q·r⁻¹ — unit quaternions, so the
    inverse is the conjugate."""
    r = _q_unpack(int(st.pop()))
    q = _q_unpack(int(st.pop()))
    rinv = (r[0], -r[1], -r[2], -r[3])
    w = rinv[0] * q[0] - rinv[1] * q[1] - rinv[2] * q[2] - rinv[3] * q[3]
    x = rinv[0] * q[1] + rinv[1] * q[0] - rinv[2] * q[3] + rinv[3] * q[2]
    y = rinv[0] * q[2] + rinv[1] * q[3] + rinv[2] * q[0] - rinv[3] * q[1]
    z = rinv[0] * q[3] - rinv[1] * q[2] + rinv[2] * q[1] + rinv[3] * q[0]
    st.push(_q_pack(w, x, y, z))


@register("QROTATE")
def _qrotate(st):
    """x y z q QROTATE (QROTATE.java:55-62): rotate the vector."""
    q = _q_unpack(int(st.pop()))
    z = float(st.pop()); y = float(st.pop()); x = float(st.pop())
    v0 = (1.0 - 2.0 * q[2] * q[2] - 2.0 * q[3] * q[3]) * x + 2.0 * (q[1] * q[2] + q[0] * q[3]) * y + 2.0 * (q[1] * q[3] - q[0] * q[2]) * z
    v1 = 2.0 * (q[1] * q[2] - q[0] * q[3]) * x + (1.0 - 2.0 * q[1] * q[1] - 2.0 * q[3] * q[3]) * y + 2.0 * (q[2] * q[3] + q[0] * q[1]) * z
    v2 = 2.0 * (q[1] * q[3] + q[0] * q[2]) * x + 2.0 * (q[2] * q[3] - q[0] * q[1]) * y + (1.0 - 2.0 * q[1] * q[1] - 2.0 * q[2] * q[2]) * z
    st.push(v0); st.push(v1); st.push(v2)


@register("QROTATION")
def _qrotation(st):
    """q QROTATION (QROTATION.java): rotation axis x y z + angle."""
    w, x, y, z = _q_unpack(int(st.pop()))
    angle = 2.0 * _math.acos(max(-1.0, min(1.0, w)))
    s = _math.sqrt(max(0.0, 1.0 - w * w))
    if s < 1e-12:
        st.push(1.0); st.push(0.0); st.push(0.0)
    else:
        st.push(x / s); st.push(y / s); st.push(z / s)
    st.push(angle)


@register("ROTATIONQ")
def _rotationq(st):
    """x y z angle ROTATIONQ (ROTATIONQ.java): axis+angle → quaternion."""
    angle = float(st.pop())
    z = float(st.pop()); y = float(st.pop()); x = float(st.pop())
    n = _math.sqrt(x * x + y * y + z * z) or 1.0
    h = angle / 2.0
    s = _math.sin(h) / n
    st.push(_q_pack(_math.cos(h), x * s, y * s, z * s))


# ---- vector/matrix literal tokens ----

@register("SHAPE")
def _shape(st):
    """[fast] nested-list SHAPE (functions/shape/SHAPE.java): the tensor
    shape as a list of longs; validates rectangularity unless fast."""
    top = st.pop()
    fast = False
    if isinstance(top, bool):
        fast = top
        top = st.pop()
    if not isinstance(top, list):
        raise TypeError("SHAPE expects a LIST")
    shape = []
    first = top
    while isinstance(first, list):
        shape.append(len(first))
        first = first[0] if first else None

    def valid(x, dims):
        if not dims:
            return not isinstance(x, list)
        return (
            isinstance(x, list) and len(x) == dims[0]
            and all(valid(e, dims[1:]) for e in x)
        )

    if not fast and not valid(top, shape):
        raise ValueError("SHAPE expects coherent nested list sizes (a tensor)")
    st.push(shape)


class _VecMark:
    __slots__ = ()


class _MatMark:
    __slots__ = ()


@register("(")
def _vec_open(st):
    st.push(_VecMark())


@register(")")
def _vec_close(st):
    out = []
    while True:
        v = st.pop()
        if isinstance(v, _VecMark):
            break
        out.append(v)
    out.reverse()
    uniq = []
    seen = set()
    for e in out:
        k = repr(e)
        if k not in seen:
            seen.add(k)
            uniq.append(e)
    st.push(uniq)


@register("[[")
def _mat_open(st):
    st.push(_MatMark())


@register("]]")
def _mat_close(st):
    rows = []
    while True:
        v = st.pop()
        if isinstance(v, _MatMark):
            break
        rows.append(v)
    rows.reverse()
    st.push(rows)


REGISTRY["[]"] = lambda st: st.push([])
REGISTRY["()"] = lambda st: st.push([])
REGISTRY["[[]]"] = lambda st: st.push([])


@register("+!")
def _append_inplace(st):
    """list v +! (APPEND in place, no copy)."""
    v = st.pop()
    lst = st.peek()
    lst.append(v)


# ---- BigDecimal RNG / probable primes (BDRAND.java family) ----

@register("BDRAND", "SBDRAND")
def _bdrand(st):
    """BDRAND: random decimal in [0,1) with the stack PRNG (SBDRAND is
    the seeded form — our SRAND seeds the same PRNG)."""
    import random as _random

    rng = getattr(st, "rng", None)
    if rng is None:
        rng = st.rng = _random.Random()
    st.push(Decimal(rng.random()).quantize(Decimal("1e-18")))


def _mr_probable_prime(n: int, rng, rounds: int = 20) -> bool:
    if n < 2:
        return False
    for p in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
        if n % p == 0:
            return n == p
    d = n - 1
    r = 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for _ in range(rounds):
        a = rng.randrange(2, n - 1)
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = x * x % n
            if x == n - 1:
                break
        else:
            return False
    return True


@register("BDPROBABLEPRIME", "SBDPROBABLEPRIME")
def _bdprobableprime(st):
    """bits BDPROBABLEPRIME: random probable prime of the given bit
    length (Miller–Rabin, 20 rounds — BigInteger.probablePrime parity)."""
    import random as _random

    bits = int(st.pop())
    rng = getattr(st, "rng", None)
    if rng is None:
        rng = st.rng = _random.Random()
    while True:
        cand = rng.getrandbits(bits) | (1 << (bits - 1)) | 1
        if _mr_probable_prime(cand, rng):
            st.push(cand)
            return


@register("BDCLEAR")
def _bdclear(st):
    """BDCLEAR: reset the decimal context to defaults."""
    import decimal as _dec

    _dec.setcontext(_dec.Context())
