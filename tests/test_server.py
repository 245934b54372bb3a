"""HTTP API surface (server.py): /exec /fetch /update /delete /meta /find
against a live server thread — the reference's egress/ingress contract
(EgressExecHandler.java:214, EgressFetchHandler.java:1077,
StandaloneIngressHandler.java:185)."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from warp10_platform_spark.server import make_server


@pytest.fixture(scope="module")
def server(spark, sf_dir, tmp_path_factory):
    srv = make_server(spark, sf_dir, str(tmp_path_factory.mktemp("store")), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url) as r:
        return r.status, r.read().decode(), dict(r.headers)


def _post(url, data=b"", ctype="text/plain"):
    req = urllib.request.Request(url, data=data, headers={"Content-Type": ctype})
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode(), dict(r.headers)


def test_exec_scalar(server):
    code, body, hdrs = _post(f"{server}/api/v0/exec", b"1 2 + 'a' 'b' +")
    assert code == 200
    assert json.loads(body) == ["ab", 3]  # stack top first
    assert "X-Warp10-Elapsed" in hdrs


def test_exec_error_contract(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{server}/api/v0/exec", b"1 0 / NOSUCHFUNC")
    assert ei.value.code == 500
    assert ei.value.headers["X-Warp10-Error-Message"]


def test_update_fetch_roundtrip(server):
    lines = (
        "1000000// srv.test{host=a} 1.5\n"
        "2000000// srv.test{host=a} 2.5\n"
        "1000000// srv.test{host=b} 'str'\n"
    )
    code, _, hdrs = _post(f"{server}/api/v0/update", lines.encode())
    assert code == 200 and hdrs["X-Warp10-Ingested"] == "3"

    code, body, _ = _get(f"{server}/api/v0/fetch?selector=srv.test%7B%7D&format=text")
    assert code == 200
    got = sorted(ln for ln in body.splitlines() if ln)
    assert got == sorted(
        ["1000000// srv.test{host=a} 1.5", "2000000// srv.test{host=a} 2.5", "1000000// srv.test{host=b} 'str'"]
    )

    # LWW: a later update at the same (series, tick) replaces the value
    _post(f"{server}/api/v0/update", b"2000000// srv.test{host=a} 9.0\n")
    code, body, _ = _get(
        f"{server}/api/v0/fetch?selector=srv.test%7Bhost%3Da%7D&start=2000000&stop=2000000"
    )
    assert body.strip() == "2000000// srv.test{host=a} 9.0"


def test_fetch_json_and_range(server):
    _post(f"{server}/api/v0/update", b"1000000// srv.json{k=v} 42\n2000000// srv.json{k=v} 43\n")
    code, body, _ = _get(
        f"{server}/api/v0/fetch?selector=srv.json%7B%7D&format=json&start=1500000&stop=3000000"
    )
    series = json.loads(body)
    assert len(series) == 1
    s = series[0]
    assert s["c"] == "srv.json" and s["l"] == {"k": "v"}
    assert s["v"] == [[2000000, 43.0]]


def test_delete_tombstone(server):
    _post(f"{server}/api/v0/update", b"5000000// srv.del{x=1} 7\n6000000// srv.del{x=1} 8\n")
    _post(f"{server}/api/v0/delete?selector=srv.del%7B%7D&start=5000000&end=5000000")
    code, body, _ = _get(f"{server}/api/v0/fetch?selector=srv.del%7B%7D")
    assert body.strip() == "6000000// srv.del{x=1} 8"


def test_meta_overlay_and_find(server):
    _post(f"{server}/api/v0/update", b"1000000// srv.meta{m=1} 1\n")
    _post(
        f"{server}/api/v0/meta",
        json.dumps({"selector": "srv.meta{}", "attributes": {"owner": "ops"}}).encode(),
        ctype="application/json",
    )
    code, body, _ = _get(f"{server}/api/v0/find?selector=srv.meta%7B%7D")
    found = json.loads(body)
    assert found == [{"c": "srv.meta", "l": {"m": "1"}, "a": {"owner": "ops"}}]


def test_find_directory_only(server):
    code, body, _ = _get(f"{server}/api/v0/find?selector=~events.p.*%7B%7D")
    found = json.loads(body)
    assert found and all(f["c"].startswith("events.p") for f in found)


def test_checkpoint_folds_overlays(spark, sf_dir, tmp_path):
    """checkpoint(): overlays fold into a new base; reads identical
    before/after, overlay files cleared."""
    import os

    from warp10_platform_spark.server import Store

    st = Store(spark, sf_dir, str(tmp_path / "store"))
    st.append_update("1000000// ck.a{x=1} 1\n2000000// ck.a{x=1} 2\n")
    st.add_tombstone("ck.a{}", 1000000, 1000000)
    st.add_meta("ck.a{}", {"o": "y"})

    def snap(s):
        return sorted(
            (r["class"], r["ts"], r["v_long"], dict(r["attributes"] or {}))
            for r in s.points().where("class = 'ck.a'").collect()
        )

    before = snap(st)
    st.checkpoint()
    assert snap(st) == before == [("ck.a", 2000000, 2, {"o": "y"})]
    assert not os.listdir(os.path.join(st.dir, "buffer"))
    assert not os.path.exists(os.path.join(st.dir, "tombstones.json"))
    # a fresh Store over the same dir picks up the checkpointed base
    st2 = Store(spark, sf_dir, st.dir)
    assert snap(st2) == before


def test_exec_gts_response(server):
    script = b"NEWGTS 'g' RENAME 1 NaN NaN NaN 10.5 ADDVALUE"
    code, body, _ = _post(f"{server}/api/v0/exec", script)
    out = json.loads(body)
    assert out[0][0]["c"] == "g"
    assert out[0][0]["v"] == [[1, 10.5]]


def test_find_streams_chunked(server):
    """/find is a close-delimited STREAM (reference
    StreamingMetadataIterator): no Content-Length header — the body is
    written one directory row at a time — and the JSON is still valid
    over a multi-series directory."""
    lines = "".join(
        f"{i}000000// srv.stream{{n={i}}} {i}\n" for i in range(50)
    ).encode()
    _post(f"{server}/api/v0/update", lines)
    code, body, hdrs = _get(f"{server}/api/v0/find?selector=srv.stream%7B%7D")
    assert code == 200
    assert "Content-Length" not in hdrs  # streamed, not buffered
    found = json.loads(body)
    assert len(found) == 50
    assert all(f["c"] == "srv.stream" for f in found)


def test_fetch_json_is_reference_shape(server):
    """format=json carries the reference jsonDump fields (c,l,a,i,la,v)
    and streams without Content-Length."""
    _post(f"{server}/api/v0/update", b"1000000/12.5:42.25/100 srv.jshape{q=z} 2.5\n")
    code, body, hdrs = _get(f"{server}/api/v0/fetch?selector=srv.jshape%7B%7D&format=json")
    assert code == 200
    assert "Content-Length" not in hdrs
    s = json.loads(body)[0]
    assert set(s.keys()) == {"c", "l", "a", "i", "la", "v"}
    assert s["c"] == "srv.jshape" and s["l"] == {"q": "z"}
    [[ts, lat, lon, elev, val]] = s["v"]
    assert ts == 1000000 and elev == 100 and val == 2.5
    assert abs(lat - 12.5) < 1e-6 and abs(lon - 42.25) < 1e-6


def test_streaming_endpoints_fail_clean_before_first_byte(server):
    """Plan-time failures on the STREAMING endpoints must produce a
    clean 500 + X-Warp10-Error headers, never a 200 whose body carries a
    second status line: the first chunk (where the Spark job actually
    starts) is pulled BEFORE the status is sent."""
    # /fetch with an unparsable selector fails during response build
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{server}/api/v0/fetch?selector=%7Bunclosed")
    assert ei.value.code == 500
    assert ei.value.headers.get("X-Warp10-Error-Message")

    # /exec whose top-of-stack frame fails at materialization: a FETCH
    # against a nonexistent column forced through a bad script — use an
    # exec-time failure instead (MSGFAIL-style): division by zero string
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{server}/api/v0/exec", b"'boom' MSGFAIL")
    assert ei.value.code == 500


# ---- WebSocket parity (RFC 6455; StandalonePlasmaHandler.java,
#      StandaloneStreamUpdateHandler.java) -----------------------------

class _WSClient:
    """Minimal stdlib test client: HTTP Upgrade + masked client frames."""

    def __init__(self, server_url, path):
        import base64 as _b64
        import os as _os
        import socket as _socket
        import urllib.parse as _up

        from warp10_platform_spark import websocket as ws

        u = _up.urlparse(server_url)
        self.sock = _socket.create_connection((u.hostname, u.port), timeout=30)
        self.rf = self.sock.makefile("rb")
        self.wf = self.sock.makefile("wb")
        key = _b64.b64encode(_os.urandom(16)).decode()
        self.wf.write(
            (
                f"GET {path} HTTP/1.1\r\nHost: {u.hostname}:{u.port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self.wf.flush()
        status = self.rf.readline().decode()
        assert " 101 " in status, status
        hdrs = {}
        while True:
            ln = self.rf.readline().decode().strip()
            if not ln:
                break
            k, _, v = ln.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        assert hdrs["sec-websocket-accept"] == ws.accept_key(key)
        self._ws = ws

    def send(self, text):
        self._ws.write_frame(self.wf, text.encode(), self._ws.OP_TEXT, mask=True)

    def recv(self):
        parts = []
        while True:
            fin, op, payload = self._ws.read_frame(self.rf)
            if op == self._ws.OP_CLOSE:
                return None
            if op in (self._ws.OP_PING, self._ws.OP_PONG):
                continue
            parts.append(payload)
            if fin:
                return b"".join(parts).decode()

    def close(self):
        self._ws.write_frame(self.wf, b"\x03\xe8", self._ws.OP_CLOSE, mask=True)
        self.sock.close()


def test_websocket_streamupdate_verbs_and_ingest(server):
    """/streamupdate over WS: verb acks carry the reference's
    'OK <seqno> <VERB>' shape; GTS lines ingest through the same store
    as POST /update and come back from /fetch."""
    c = _WSClient(server, "/api/v0/streamupdate")
    c.send("NOOP")
    assert c.recv() == "OK 0 NOOP"
    c.send("TOKEN any")
    assert c.recv() == "OK 1 TOKEN"
    c.send("ONERROR message")
    assert c.recv() == "OK 2 ONERROR"
    c.send("1704844800000000// ws.temp{site=eu-1} 21.5")
    # stored updates ack 'OK <seqno> UPDATE <count> <nano>' after the
    # store commits (StandaloneStreamUpdateHandler.java:454) — reference
    # clients block on this ack, and the seqno contract includes it
    ack = c.recv().split()
    assert ack[:4] == ["OK", "3", "UPDATE", "1"] and int(ack[4]) > 0, ack
    # ack ⇒ committed: the point is immediately fetchable
    _, body, _ = _get(
        f"{server}/api/v0/fetch?selector=ws.temp%7B%7D&start=0&end=1804844800000000"
    )
    assert "ws.temp{site=eu-1} 21.5" in body
    c.send("NOOP")
    assert c.recv() == "OK 4 NOOP"  # seqno advanced past the UPDATE ack
    c.close()


def test_websocket_plasma_subscribe_push(server):
    """Plasma pub-sub over WS: SUBSCRIBE <TOKEN> <SELECTOR>, then an
    ingest (here via a second /streamupdate WS) pushes ONLY the
    selector-matched points to the subscriber as GTS text."""
    sub = _WSClient(server, "/api/v0/plasma")
    sub.send("SUBSCRIBE anytoken plasma.metric{dc=eu}")
    sub.send("SUBSCRIBE anytoken {")  # malformed selector → KO
    assert sub.recv().startswith("KO ")

    pub = _WSClient(server, "/api/v0/streamupdate")
    pub.send(
        "1704844800000000// plasma.metric{dc=eu} 1\n"
        "1704844800000001// plasma.metric{dc=us} 2\n"
        "1704844800000002// plasma.other{dc=eu} 3"
    )
    got = sub.recv()
    assert "plasma.metric{dc=eu} 1" in got
    assert "dc=us" not in got and "plasma.other" not in got
    pub.close()
    sub.close()


def test_websocket_frame_codec_roundtrip_property():
    """RFC 6455 codec property: masked/unmasked frames of every length
    class (7-bit, 16-bit, 64-bit) round-trip bit-exactly, and fragmented
    messages reassemble — no server needed, pure codec."""
    import io
    import random

    from warp10_platform_spark import websocket as ws

    rng = random.Random(7)
    for ln in (0, 1, 125, 126, 127, 65535, 65536, 70000):
        payload = bytes(rng.randrange(256) for _ in range(min(ln, 4096))) * (1 if ln <= 4096 else 1)
        payload = (payload * ((ln // max(1, len(payload))) + 1))[:ln] if ln else b""
        for mask in (False, True):
            buf = io.BytesIO()
            ws.write_frame(buf, payload, ws.OP_BINARY, mask=mask)
            buf.seek(0)
            fin, op, got = ws.read_frame(buf)
            assert fin and op == ws.OP_BINARY and got == payload, (ln, mask)
    # fragmentation: text split across CONT frames + interleaved ping
    buf = io.BytesIO()
    part1, part2, part3 = b"hello ", b"fragmented ", b"world"
    buf.write(bytes([ws.OP_TEXT, 0x80 | len(part1)]) + bytes(4) + part1)  # FIN=0, masked zero-key
    ws.write_frame(buf, b"ping!", ws.OP_PING, mask=True)
    buf.write(bytes([ws.OP_CONT, 0x80 | len(part2)]) + bytes(4) + part2)  # FIN=0
    buf.write(bytes([0x80 | ws.OP_CONT, 0x80 | len(part3)]) + bytes(4) + part3)  # FIN=1
    buf.seek(0)
    out = io.BytesIO()
    conn = ws.WSConnection(buf, out)
    assert conn.recv_message() == "hello fragmented world"
    out.seek(0)
    fin, op, pong = ws.read_frame(out)
    assert op == ws.OP_PONG and pong == b"ping!"  # auto-pong carried payload


def test_websocket_protocol_violations_fail_connection():
    """RFC 6455 strictness (server side): an unmasked client frame fails
    the connection with close 1002 (§5.1), a TEXT/BINARY opcode arriving
    mid-fragment is rejected instead of silently concatenated (§5.4), a
    CONT with no message in progress and a reserved opcode likewise."""
    import io
    import struct

    from warp10_platform_spark import websocket as ws

    def close_code(out):
        out.seek(0)
        fin, op, payload = ws.read_frame(out)
        assert op == ws.OP_CLOSE
        return struct.unpack(">H", payload[:2])[0]

    # unmasked client frame
    buf, out = io.BytesIO(), io.BytesIO()
    ws.write_frame(buf, b"hi", ws.OP_TEXT)  # no mask
    buf.seek(0)
    conn = ws.WSConnection(buf, out)
    assert conn.recv_message() is None
    assert close_code(out) == 1002
    # a CLIENT-side codec (server=False) must keep accepting unmasked
    # server frames — the strictness is one-directional
    buf, out = io.BytesIO(), io.BytesIO()
    ws.write_frame(buf, b"hi", ws.OP_TEXT)
    buf.seek(0)
    assert ws.WSConnection(buf, out, server=False).recv_message() == "hi"
    # new data frame while a fragmented message is in progress
    buf, out = io.BytesIO(), io.BytesIO()
    buf.write(bytes([ws.OP_TEXT, 0x80 | 2]) + bytes(4) + b"ab")  # FIN=0
    ws.write_frame(buf, b"cd", ws.OP_TEXT, mask=True)  # TEXT, not CONT
    buf.seek(0)
    assert ws.WSConnection(buf, out).recv_message() is None
    assert close_code(out) == 1002
    # CONT with nothing in progress
    buf, out = io.BytesIO(), io.BytesIO()
    buf.write(bytes([0x80 | ws.OP_CONT, 0x80 | 2]) + bytes(4) + b"ab")
    buf.seek(0)
    assert ws.WSConnection(buf, out).recv_message() is None
    assert close_code(out) == 1002
    # reserved opcode 0x3
    buf, out = io.BytesIO(), io.BytesIO()
    buf.write(bytes([0x80 | 0x3, 0x80 | 0]) + bytes(4))
    buf.seek(0)
    assert ws.WSConnection(buf, out).recv_message() is None
    assert close_code(out) == 1002
    # fragmented control frame (PING with FIN=0, §5.5)
    buf, out = io.BytesIO(), io.BytesIO()
    buf.write(bytes([ws.OP_PING, 0x80 | 2]) + bytes(4) + b"ab")
    buf.seek(0)
    assert ws.WSConnection(buf, out).recv_message() is None
    assert close_code(out) == 1002
    # oversized control payload (> 125 bytes, §5.5)
    buf, out = io.BytesIO(), io.BytesIO()
    ws.write_frame(buf, b"x" * 126, ws.OP_PING, mask=True)
    buf.seek(0)
    assert ws.WSConnection(buf, out).recv_message() is None
    assert close_code(out) == 1002


def test_websocket_streamupdate_attr_verbs(server):
    """DELTAON/ATTRSKIP verbs must not fall through to measurement
    parsing: ATTRSKIPON/OFF are accepted silently, DELTAON errors with
    the reference's message (ONERROR message mode keeps the socket open)."""
    c = _WSClient(server, "/api/v0/streamupdate")
    c.send("ONERROR message")
    assert c.recv().startswith("OK ")
    # unrecognized ONERROR argument: acked but the mode is UNCHANGED
    # (the reference only flips on exact 'message'/'close') — DELTAON
    # below still error-replies instead of closing, proving we stayed
    # in message mode
    c.send("ONERROR bogus")
    assert c.recv().startswith("OK ")
    c.send("ATTRSKIPON")
    c.send("ATTRSKIPOFF")
    c.send("DELTAON")
    assert "Delta update of attributes is disabled." in c.recv()
    c.send("NOOP")  # socket still alive after the error reply
    assert c.recv().endswith("NOOP")
    c.close()


def test_plasma_hub_slow_subscriber_evicted():
    """publish() must NEVER block ingest on a slow peer: a subscriber
    whose outbound queue fills is evicted (closed + deregistered) while
    a healthy subscriber keeps receiving."""
    import threading
    import time as _time

    from warp10_platform_spark.core.selector import parse_selector
    from warp10_platform_spark.server import PlasmaHub

    hub = PlasmaHub()
    hub.MAX_QUEUE = 4

    class FakeConn:
        def __init__(self, block):
            self.block = block
            self.got = []
            self.closed = None
            self.open = True
            self.unblock = threading.Event()

        def send_text(self, text):
            if self.block:
                self.unblock.wait(30)
            self.got.append(text)

        def close(self, code=1000, reason=""):
            self.closed = (code, reason)
            self.open = False

        def abort(self):
            self.closed = (1013, "aborted")
            self.open = False

    slow, fast = FakeConn(True), FakeConn(False)
    hub.register(slow)  # queue depth 4 — fills during the burst
    hub.MAX_QUEUE = 1024
    hub.register(fast)  # deep queue — absorbs the burst while draining
    for c in (slow, fast):
        hub.subscribe(c, "p.m{}", parse_selector("p.m{}"))

    t0 = _time.perf_counter()
    for i in range(8):  # queue depth 4 (+1 in-flight) < 8 publishes
        hub.publish(f"{i}00// p.m{{}} {i}")
    publish_elapsed = _time.perf_counter() - t0
    assert publish_elapsed < 5  # ingest never blocked on the stalled peer
    assert slow.closed and slow.closed[0] == 1013
    slow.unblock.set()
    deadline = _time.time() + 10
    while len(fast.got) < 8 and _time.time() < deadline:
        _time.sleep(0.05)
    assert len(fast.got) == 8  # healthy peer received everything
    hub.deregister(fast)


def test_websocket_abort_unblocks_stalled_writer():
    """The eviction path must work even when the writer thread is BLOCKED
    mid-send holding the write lock (TCP backpressure from a peer that
    stopped reading): abort() bypasses the lock by shutting the socket,
    which makes the blocked send raise."""
    import socket
    import threading
    import time as _time

    from warp10_platform_spark import websocket as ws

    a, b = socket.socketpair()
    try:
        a.settimeout(60)
        wf = a.makefile("wb")
        conn = ws.WSConnection(None, wf, sock=a)
        dead = threading.Event()

        def writer():
            try:
                while True:
                    conn.send_text("x" * 65536)
            except Exception:  # noqa: BLE001 — expected on abort
                dead.set()

        t = threading.Thread(target=writer, daemon=True)
        t.start()
        _time.sleep(1.0)  # let the send buffer fill and the writer block
        assert not dead.is_set()  # writer is stalled, holding _wlock
        t0 = _time.perf_counter()
        conn.abort()  # must not block on the write lock
        assert _time.perf_counter() - t0 < 1.0
        assert dead.wait(10)  # blocked send raised; writer unwound
    finally:
        a.close()
        b.close()


def test_websocket_frame_length_cap():
    """A frame declaring an absurd 64-bit length is rejected before any
    allocation (ConnectionError), not buffered to OOM."""
    import io
    import struct

    import pytest as _pytest

    from warp10_platform_spark import websocket as ws

    buf = io.BytesIO(bytes([0x80 | ws.OP_BINARY, 127]) + struct.pack(">Q", 1 << 40))
    with _pytest.raises(ConnectionError, match="MAX_FRAME"):
        ws.read_frame(buf)


def test_plasma_hub_throughput_under_load():
    """Hub under load (r7 verdict #6): 9 subscribers (one slow), 10^5
    matching lines published — the slow peer is evicted, every fast peer
    receives ALL lines, publish latency stays bounded (never blocks on
    the laggard), and no plasma-writer threads leak once the session
    ends."""
    import threading
    import time as _time

    from warp10_platform_spark.core.selector import parse_selector
    from warp10_platform_spark.server import PlasmaHub

    def writer_threads():
        return sum(t.name == "plasma-writer" and t.is_alive() for t in threading.enumerate())

    base_threads = writer_threads()
    hub = PlasmaHub()

    class FakeConn:
        def __init__(self, block=False):
            self.block = block
            self.lines = 0
            self.open = True
            self.closed = None
            self.unblock = threading.Event()
            self._lk = threading.Lock()

        def send_text(self, text):
            if self.block:
                self.unblock.wait(30)
            with self._lk:
                self.lines += sum(1 for ln in text.splitlines() if ln.strip())

        def close(self, code=1000, reason=""):
            self.closed = (code, reason)
            self.open = False

        def abort(self):
            self.closed = (1013, "aborted")
            self.open = False

    n_fast, n_lines, batch = 8, 100_000, 500
    hub.MAX_QUEUE = 16
    slow = FakeConn(block=True)
    hub.register(slow)
    hub.MAX_QUEUE = 1024
    fast = [FakeConn() for _ in range(n_fast)]
    for c in fast:
        hub.register(c)
    for c in [slow] + fast:
        hub.subscribe(c, "load.m{}", parse_selector("load.m{}"))

    t0 = _time.perf_counter()
    for off in range(0, n_lines, batch):
        lines = "\n".join(f"{1704844800000000 + off + i}// load.m{{k=v}} {i}" for i in range(batch))
        hub.publish(lines)
    publish_elapsed = _time.perf_counter() - t0
    # publish is parse + queue-put only; the stalled peer must not
    # contribute (its queue fills within the first few batches)
    assert publish_elapsed < 30, publish_elapsed
    assert slow.closed == (1013, "aborted")

    slow.unblock.set()
    deadline = _time.time() + 60
    while _time.time() < deadline and any(c.lines < n_lines for c in fast):
        _time.sleep(0.1)
    assert [c.lines for c in fast] == [n_lines] * n_fast
    for c in fast:
        hub.deregister(c)
        c.open = False
    # drain threads exit on the stop sentinel / open-check (the get()
    # timeout is 5 s, so allow a little more than that)
    deadline = _time.time() + 15
    while _time.time() < deadline and writer_threads() > base_threads:
        _time.sleep(0.2)
    assert writer_threads() <= base_threads


def test_store_points_plan_grows_linearly(spark, sf_dir, tmp_path):
    """Each buffered /update batch adds the same number of logical plan
    nodes to Store.points(): the fold never re-embeds the plan built so
    far, which would double it per batch."""
    from warp10_platform_spark.server import Store

    def nodes(df):  # one line per node of the parsed logical plan
        return len(df._jdf.queryExecution().logical().treeString().splitlines())

    st = Store(spark, sf_dir, str(tmp_path / "store"))
    counts = [nodes(st.points())]
    for i in range(4):
        st.append_update(f"{i + 1}000000// pg.a{{x={i}}} {i}\n")
        counts.append(nodes(st.points()))
    steps = {b - a for a, b in zip(counts, counts[1:])}
    assert len(steps) == 1 and steps.pop() > 0, counts
