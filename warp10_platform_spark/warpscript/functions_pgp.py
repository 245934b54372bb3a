"""PGP* script surface over functions/pgp.py (RFC 4880 subset,
cross-validated against GnuPG in tests/test_pgp.py).

Stack contracts follow the reference exactly (PGPRING.java,
PGPPUBLIC.java, PGPPRIVATE.java, PGPSIGN.java:40-185,
PGPVERIFY.java:40-187, PGPENCRYPT.java:50-221, PGPDECRYPT.java:45-160,
PGPINFO.java:60-143): key ids travel as longs or hex-string tails,
parameter maps use the keyring/passphrase/digest/detached/armor keys,
and PGPINFO yields the per-key info map keyed by key id.
"""

from __future__ import annotations
from warp10_platform_spark.core import timeunits as _tuc

from warp10_platform_spark.functions import pgp as P
from warp10_platform_spark.warpscript.functions import register


def _keyid_of(v) -> int:
    """Long or hex-string tail → 64-bit key id (the reference's
    low-8-bytes hex decode loop)."""
    if isinstance(v, bool):
        raise TypeError("invalid key id")
    if isinstance(v, int):
        return v & 0xFFFFFFFFFFFFFFFF
    b = bytes.fromhex(str(v))
    return int.from_bytes(b[-8:], "big")


def _hex16(keyid: int) -> str:
    return format(keyid & 0xFFFFFFFFFFFFFFFF, "016x").upper()


@register("PGPRING")
def _pgpring(st):
    """blob PGPRING → list of key rings; ring PGPRING → encoded bytes."""
    v = st.pop()
    if isinstance(v, (P.PGPPublicKeyRing,)):
        st.push(v.encoded())
        return
    if isinstance(v, P.PGPSecretKeyRing):
        st.push(v.public_ring().encoded())
        return
    if not isinstance(v, (str, bytes, bytearray)):
        raise TypeError("PGPRING invalid PGP ring, expected STRING or BYTES.")
    st.push(P.parse_rings(v))


@register("PGPPUBLIC")
def _pgppublic(st):
    """ring PGPPUBLIC → [keyid hex…]; keyid ring PGPPUBLIC → public key;
    public key PGPPUBLIC → armored export."""
    v = st.pop()
    if isinstance(v, P.PGPPublicKey):
        st.push(P.armor("PUBLIC KEY BLOCK", P.PGPPublicKeyRing([v], []).encoded()))
        return
    if isinstance(v, P.PGPSecretKeyRing):
        st.push([_hex16(k.public.keyid) for k in v.keys])
        return
    if isinstance(v, P.PGPPublicKeyRing):
        st.push([_hex16(k.keyid) for k in v.keys])
        return
    keyid = _keyid_of(v)
    ring = st.pop()
    if isinstance(ring, P.PGPSecretKeyRing):
        key = next((k.public for k in ring.keys if k.public.keyid == keyid), None)
    elif isinstance(ring, P.PGPPublicKeyRing):
        key = next((k for k in ring.keys if k.keyid == keyid), None)
    else:
        raise TypeError("PGPPUBLIC expected PGP public or secret key ring.")
    if key is None:
        raise ValueError(f"PGPPUBLIC key with id 0x{keyid:x} not found.")
    st.push(key)


@register("PGPPRIVATE")
def _pgpprivate(st):
    """secret ring PGPPRIVATE → [keyid hex…]; keyid ring PGPPRIVATE →
    secret key object."""
    v = st.pop()
    if isinstance(v, P.PGPSecretKeyRing):
        st.push([_hex16(k.public.keyid) for k in v.keys])
        return
    keyid = _keyid_of(v)
    ring = st.pop()
    if not isinstance(ring, P.PGPSecretKeyRing):
        raise TypeError("PGPPRIVATE expected a PGP secret key ring.")
    key = ring.get_secret_key(keyid)
    if key is None:
        raise ValueError(f"PGPPRIVATE key with id 0x{keyid:x} not found.")
    st.push(key)


@register("PGPINFO")
def _pgpinfo(st):
    """ring PGPINFO → { keyid → info map } (PGPINFO.java:60-143)."""
    v = st.pop()
    if isinstance(v, P.PGPSecretKeyRing):
        keys = [(k.public, True) for k in v.keys]
        uids = v.uids
    elif isinstance(v, P.PGPPublicKeyRing):
        keys = [(k, False) for k in v.keys]
        uids = v.uids
    else:
        raise TypeError("PGPINFO expected a PGP key ring.")
    out = {}
    for pub, has_secret in keys:
        out[pub.keyid] = {
            "keyid": _hex16(pub.keyid),
            "fingerprint": pub.fingerprint.hex(),
            "uid": list(uids) if not pub.is_subkey else [],
            "bits": pub.bits,
            "alg": "RSA_GENERAL",
            "master": not pub.is_subkey,
            "signing": has_secret and not pub.is_subkey,
            "encryption": True,
            "expiry": 0,
            "pubkey": pub,
        }
    st.push(out)


@register("PGPSIGN")
def _pgpsign(st):
    """data { keyring keyid passphrase digest? detached? armor? date? }
    PGPSIGN → signature (detached) or one-pass signed message."""
    params = st.pop()
    if not isinstance(params, dict):
        raise TypeError("PGPSIGN expected a parameter MAP.")
    detached = params.get("detached", True) is True
    do_armor = params.get("armor", True) is True
    passphrase = params.get("passphrase")
    if not isinstance(passphrase, str):
        raise TypeError("PGPSIGN missing PGP secret key passphrase.")
    ring = params.get("keyring")
    if not isinstance(ring, P.PGPSecretKeyRing):
        raise TypeError("PGPSIGN expected a PGP secret key ring.")
    keyid = _keyid_of(params.get("keyid"))
    secret = ring.get_secret_key(keyid)
    if secret is None:
        raise ValueError(f"PGPSIGN key with id 0x{keyid:x} not found.")
    priv = secret.unlock(passphrase)
    digest = str(params.get("digest", "SHA512"))
    data = st.pop()
    if isinstance(data, str):
        data = data.encode("utf-8")
    if not isinstance(data, (bytes, bytearray)):
        raise TypeError("PGPSIGN invalid content to sign, expected STRING or BYTES.")
    when = None
    if isinstance(params.get("date"), int):
        when = params["date"] // _tuc.UNITS_PER_S  # ticks → s
    if detached:
        out = P.sign_detached(priv, keyid, bytes(data), digest, when)
        kind = "SIGNATURE"
    else:
        out = P.sign_onepass(priv, keyid, bytes(data), digest, when)
        kind = "MESSAGE"
    st.push(P.armor(kind, out).encode("utf-8") if do_armor else out)


@register("PGPVERIFY")
def _pgpverify(st):
    """Detached: data sig ring|key keyid? true PGPVERIFY → bool.
    Inline: message ring|key keyid? PGPVERIFY → data bool."""
    detached = False
    top = st.pop()
    if isinstance(top, bool):
        detached = top
        top = st.pop()
    if isinstance(top, P.PGPPublicKey):
        key = top
    else:
        keyid = _keyid_of(top)
        ring = st.pop()
        if isinstance(ring, P.PGPSecretKeyRing):
            key = next((k.public for k in ring.keys if k.public.keyid == keyid), None)
        elif isinstance(ring, P.PGPPublicKeyRing):
            key = next((k for k in ring.keys if k.keyid == keyid), None)
        else:
            raise TypeError("PGPVERIFY missing PGP key ring.")
        if key is None:
            raise ValueError(f"PGPVERIFY key with id 0x{keyid:x} not found.")
    if detached:
        sig = P._maybe_dearmor(st.pop())
        data = st.pop()
        if isinstance(data, str):
            data = data.encode("utf-8")
        sig_body = next(b for t, b in P.parse_packets(sig) if t == P.TAG_SIGNATURE)
        st.push(P.verify_signature(key, bytes(data), sig_body))
    else:
        msg = P._maybe_dearmor(st.pop())
        packets = P.parse_packets(msg)
        lit = next(b for t, b in packets if t == P.TAG_LITERAL)
        nl = lit[1]
        data = lit[2 + nl + 4 :]
        sig_body = next(b for t, b in packets if t == P.TAG_SIGNATURE)
        st.push(data)
        st.push(P.verify_signature(key, data, sig_body))


@register("PGPENCRYPT")
def _pgpencrypt(st):
    """data { recipient|keyring+recipient-id alg? armor? throw_keyid? }
    PGPENCRYPT → encrypted message."""
    params = st.pop()
    if not isinstance(params, dict):
        raise TypeError("PGPENCRYPT expected a parameter MAP.")
    do_armor = params.get("armor", True) is True
    throw_keyid = params.get("throw_keyid", True) is True
    rec = params.get("recipient")
    if isinstance(rec, P.PGPPublicKey):
        pub = rec
    elif rec is not None:
        keyid = _keyid_of(rec)
        ring = params.get("keyring")
        if isinstance(ring, P.PGPSecretKeyRing):
            pub = next((k.public for k in ring.keys if k.public.keyid == keyid), None)
        elif isinstance(ring, P.PGPPublicKeyRing):
            pub = next((k for k in ring.keys if k.keyid == keyid), None)
        else:
            raise TypeError("PGPENCRYPT missing PGP key ring.")
        if pub is None:
            raise ValueError(f"PGPENCRYPT key with id 0x{keyid:x} not found.")
    else:
        raise TypeError("PGPENCRYPT missing recipient PGP public key.")
    data = st.pop()
    if isinstance(data, str):
        data = data.encode("utf-8")
    if not isinstance(data, (bytes, bytearray)):
        raise TypeError("PGPENCRYPT expects data to encrypt to be STRING or BYTES.")
    when = None
    if isinstance(params.get("date"), int):
        when = params["date"] // _tuc.UNITS_PER_S
    out = P.encrypt(pub, bytes(data), str(params.get("alg", "AES_256")),
                    throw_keyid=throw_keyid, when=when)
    st.push(P.armor("MESSAGE", out) if do_armor else out)


@register("PGPDECRYPT")
def _pgpdecrypt(st):
    """data ring keyid passphrase PGPDECRYPT → plaintext bytes."""
    passphrase = st.pop()
    if not isinstance(passphrase, str):
        raise TypeError("PGPDECRYPT missing passphrase.")
    keyid = _keyid_of(st.pop())
    ring = st.pop()
    if not isinstance(ring, P.PGPSecretKeyRing):
        raise TypeError("PGPDECRYPT missing PGP secret key ring.")
    secret = ring.get_secret_key(keyid)
    if secret is None:
        raise ValueError(f"PGPDECRYPT key with id 0x{keyid:x} not found.")
    st.push(P.decrypt(secret, passphrase, st.pop()))
