"""HTTP API surface — the reference's `/api/v0/*` endpoints over Spark.

Reference endpoints re-expressed (same paths, same wire formats):
- ``POST /api/v0/exec``   — WarpScript execution, JSON stack response
  top-first (EgressExecHandler.java:214; errors come back as HTTP 500
  with ``X-Warp10-Error-Message``, not a body traceback).
- ``GET  /api/v0/fetch``  — selector + time-range fetch, ``format=``
  text (GTS input format), tsv or json (EgressFetchHandler.java:1077).
- ``POST /api/v0/update`` — GTS text-format ingest
  (StandaloneIngressHandler.java:185): lines parse with the batch
  parser and append to the write buffer as parquet.
- ``POST /api/v0/delete`` — selector (+ optional range) delete
  (StandaloneDeleteHandler): recorded as a TOMBSTONE applied at read —
  merge-on-read, the way a 100 TB lake deletes (rewriting the base
  store synchronously inside an HTTP request would be absurd at scale;
  compaction folds tombstones in later).
- ``POST /api/v0/meta``   — attribute upsert (META delta semantics,
  StandaloneIngressHandler.java:797): recorded as a read-time overlay.
- ``GET  /api/v0/find``   — directory search (EgressFindHandler),
  never touches the points store.

Architecture notes (Spark-first, not a port): one shared SparkSession
serves every request — Spark schedules concurrent jobs from multiple
handler threads natively, which is exactly the reference's egress
thread-pool model. The mutable state (buffer / tombstones / meta
overlay) lives in a store directory; reads compose
``base ∪ buffer → LWW → ¬tombstones → meta-overlay`` lazily, so every
HTTP fetch is still one declarative Catalyst plan with pushdown intact.
"""

from __future__ import annotations

import json
import os
import threading
import time
from warp10_platform_spark.core import timeunits as _tuc
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, functions as F

API = "/api/v0"


class PlasmaHub:
    """In-process Plasma pub-sub (standalone topology): /update and
    /streamupdate ingests publish their GTS text lines; each plasma WS
    session holds selector subscriptions and receives matching lines as
    TEXT frames (StandalonePlasmaHandler.java's OUTPUT_FORMAT.TEXT push).

    Scale note: this is the reference's STANDALONE wiring (ingress and
    plasma in one process). The distributed reference fans out through
    Kafka plasma topics (continuum/plasma/PlasmaBackEnd.java →
    PlasmaFrontEnd.java); on a cluster the same hub contract would sit
    behind the kafka / kafka-shaped streaming source instead."""

    # Per-subscriber outbound queue depth. A subscriber that stops
    # reading long enough to fill it is EVICTED (connection closed)
    # rather than allowed to stall ingest — publish never blocks on a
    # peer's socket (the reference's sendStringByFuture is likewise
    # async; Jetty evicts on write-buffer exhaustion).
    MAX_QUEUE = 1024

    def __init__(self):
        import re as _re

        from warp10_platform_spark.sources.gts_text import GTS_LINE_RE

        self._lock = threading.Lock()
        self._subs: dict[int, tuple] = {}  # id(conn) -> (conn, [(raw, Selector)], Queue)
        self._line_re = _re.compile(GTS_LINE_RE)

    def register(self, conn):
        import queue

        q: "queue.Queue[str | None]" = queue.Queue(maxsize=self.MAX_QUEUE)
        with self._lock:
            self._subs[id(conn)] = (conn, [], q)

        def drain():
            # Terminates on: stop sentinel, conn no longer open (evicted
            # or session ended — checked even when the sentinel was
            # dropped by a full queue), or a send failure. Never sends
            # to a closed connection (no frames after Close).
            while True:
                try:
                    item = q.get(timeout=5)
                except queue.Empty:
                    if not getattr(conn, "open", False):
                        return
                    continue
                if item is None or not getattr(conn, "open", False):
                    return
                try:
                    conn.send_text(item)
                except Exception:  # noqa: BLE001 — dead peer
                    self.deregister(conn)
                    return

        t = threading.Thread(target=drain, daemon=True, name="plasma-writer")
        t.start()
        return q

    def deregister(self, conn) -> None:
        with self._lock:
            entry = self._subs.pop(id(conn), None)
        if entry:
            try:
                entry[2].put_nowait(None)  # stop the writer thread
            except Exception:  # noqa: BLE001 — full queue: the writer's
                pass  # open-check (drain loop) reaps it instead

    def subscribe(self, conn, raw: str, sel) -> None:
        with self._lock:
            entry = self._subs.get(id(conn))
            if entry is not None:  # may have been evicted concurrently
                entry[1].append((raw, sel))

    def unsubscribe(self, conn, raw: str) -> None:
        with self._lock:
            entry = self._subs.get(id(conn))
            if entry:
                entry[1][:] = [(r, s) for (r, s) in entry[1] if r != raw]

    def publish(self, text: str) -> None:
        """Push every ingested line to the subscribers whose selectors
        match its (class, labels) — driver-side matching via the same
        clause semantics the fetch predicate compiles (selector.matches)."""
        from warp10_platform_spark.core.selector import matches

        with self._lock:
            subs = list(self._subs.values())
        if not subs:
            return
        parsed = []
        for ln in text.splitlines():
            ln = ln.strip()
            m = self._line_re.match(ln)
            if not m:
                continue
            labels = dict(
                kv.split("=", 1) for kv in (m.group(7) or "").split(",") if "=" in kv
            )
            parsed.append((ln, m.group(6), labels))
        import queue as _queue

        for conn, sels, q in subs:
            out = [
                ln for (ln, cls, labels) in parsed
                if any(matches(s, cls, labels) for (_r, s) in sels)
            ]
            if out:
                try:
                    q.put_nowait("\n".join(out) + "\n")
                except _queue.Full:
                    # Laggard eviction: never block ingest on a slow peer.
                    # abort(), not close() — a graceful Close frame would
                    # wait on the write lock the stalled writer holds.
                    self.deregister(conn)
                    if hasattr(conn, "abort"):
                        conn.abort()
                    else:
                        conn.close(1013, "subscriber too slow")


class Store:
    """Mutable overlay on the immutable base lake.

    - ``buffer/``        appended parquet from /update (LWW over base)
    - ``tombstones.json`` list of {selector, start, end} from /delete
    - ``meta.json``       list of {selector, attributes} from /meta
    """

    def __init__(self, spark, sf_dir: str, store_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.dir = store_dir
        os.makedirs(os.path.join(store_dir, "buffer"), exist_ok=True)
        self._lock = threading.Lock()
        self._n_appends = 0
        self.hub = PlasmaHub()
        # a prior checkpoint() may have produced an owned base snapshot
        bases = sorted(
            d for d in os.listdir(store_dir) if d.startswith("base_")
        ) if os.path.exists(store_dir) else []
        self._base_dir = os.path.join(store_dir, bases[-1]) if bases else None
        # /exec FETCH reads the class-partitioned points layout; build it
        # (and its driver-side file index) once here so concurrent first
        # requests never race to write it
        from warp10_platform_spark.sources.tables import points_layout

        points_layout(spark, sf_dir)

    # ---- write paths -------------------------------------------------
    def append_update(self, text: str) -> int:
        from warp10_platform_spark.sources.gts_text import parse

        lines = [ln for ln in text.splitlines() if ln.strip()]
        if not lines:
            return 0
        now_us = int(time.time() * _tuc.UNITS_PER_S)
        pts = parse(self.spark, lines, default_ts=now_us)
        with self._lock:
            self._n_appends += 1
            sub = os.path.join(self.dir, "buffer", f"b{self._n_appends:06d}")
        pts.write.mode("overwrite").parquet(sub)
        # committed → push to Plasma subscribers (the reference's
        # StandaloneIngressHandler also publishes post-store)
        self.hub.publish(text)
        # count what actually parsed (the reference 500s on bad lines;
        # we report the accepted count in a header instead)
        return self.spark.read.parquet(sub).count()

    def _append_json(self, name: str, entry: dict) -> None:
        path = os.path.join(self.dir, name)
        with self._lock:
            items = []
            if os.path.exists(path):
                items = json.load(open(path))
            items.append(entry)
            tmp = path + ".tmp"
            json.dump(items, open(tmp, "w"))
            os.replace(tmp, path)

    def add_tombstone(self, selector: str, start: int | None, end: int | None) -> None:
        self._append_json("tombstones.json", {"selector": selector, "start": start, "end": end})

    def add_meta(self, selector: str, attributes: dict) -> None:
        self._append_json("meta.json", {"selector": selector, "attributes": attributes})

    def _load_json(self, name: str) -> list:
        path = os.path.join(self.dir, name)
        return json.load(open(path)) if os.path.exists(path) else []

    # ---- read path ---------------------------------------------------
    def points(self) -> DataFrame:
        """base ∪ buffer, buffer wins per (series, tick); then
        tombstones, then the meta overlay — one lazy plan."""
        from warp10_platform_spark.sources import write as W
        from warp10_platform_spark.sources.tables import canonical_points

        if self._base_dir:
            df = self.spark.read.parquet(self._base_dir)
        else:
            df = canonical_points(self.spark, self.sf_dir).drop("event_id")
        bufdirs = [
            os.path.join(self.dir, "buffer", d)
            for d in sorted(os.listdir(os.path.join(self.dir, "buffer")))
        ]
        bufdirs = [d for d in bufdirs if os.path.exists(os.path.join(d, "_SUCCESS"))]
        # fold append batches IN ORDER so last-write-wins respects
        # ingest order across requests, not just within one batch. A
        # batch's missing columns are typed nulls from the base schema,
        # so each fold adds a constant number of plan nodes.
        fields = df.schema.fields
        for d in bufdirs:
            buf = self.spark.read.parquet(d)
            have = set(buf.columns)
            buf = buf.select(*(
                F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ))
            df = W.update(df, buf)
        for t in self._load_json("tombstones.json"):
            df = W.delete(df, t["selector"], t.get("start"), t.get("end"))
        for m in self._load_json("meta.json"):
            df = W.meta(df, m["selector"], m["attributes"])
        return df

    def checkpoint(self) -> str:
        """Fold the read-time overlays into a NEW base snapshot — the
        compaction step that keeps merge-on-read bounded: the composed
        ``base ∪ buffer → LWW → ¬tombstones → meta`` plan is written
        once (partitioned by class, (gts_id, ts)-sorted for locality via
        sources.maintenance discipline), then the buffer/tombstone/meta
        overlays reset.  Readers in flight keep their old plan (parquet
        snapshots are immutable); new reads see the folded base.  At
        100 TB this runs as a scheduled job, not per request."""
        new_base = os.path.join(self.dir, f"base_{int(time.time()*1000):013d}")
        (
            self.points()
            .repartition("class")
            .sortWithinPartitions("class", "gts_id", "ts")
            .write.partitionBy("class")
            .parquet(new_base)
        )
        with self._lock:
            import shutil

            for d in os.listdir(os.path.join(self.dir, "buffer")):
                shutil.rmtree(os.path.join(self.dir, "buffer", d), ignore_errors=True)
            for f in ("tombstones.json", "meta.json"):
                p = os.path.join(self.dir, f)
                if os.path.exists(p):
                    os.remove(p)
            old = self._base_dir
            self._base_dir = new_base
            if old and old != new_base:
                shutil.rmtree(old, ignore_errors=True)
        return new_base

    def directory(self) -> DataFrame:
        from warp10_platform_spark.sources.directory import build_directory

        pts = self.points()
        # the core directory carries identity + extent; /find also
        # reports attributes (mutable metadata, uniform per series after
        # the meta overlay) — one extra per-series agg
        attrs = pts.groupBy(F.col("gts_id").alias("_ag")).agg(
            F.first("attributes").alias("attributes")
        )
        return build_directory(pts).join(
            attrs, F.col("gts_id") == F.col("_ag"), "left"
        ).drop("_ag")


def _fetch_response(store: Store, qs: dict):
    """(content_type, line_iterator) for /fetch.

    ALL formats (text/tsv/json) STREAM through ``toLocalIterator`` — the
    driver holds one Arrow batch at a time, never the full result (the
    reference's fetch handler streams every egress format through a
    PrintWriter the same way; a ``collect()`` here would OOM the driver
    on a large range at 100 TB)."""
    from warp10_platform_spark.core.frame import GTSFrame
    from warp10_platform_spark.sources.gts_text import format_gts_lines
    from warp10_platform_spark.sources.write import export_tsv

    selector = qs.get("selector", [None])[0]
    start = qs.get("start", [None])[0]
    stop = qs.get("stop", [None])[0] or qs.get("end", [None])[0]
    fmt = qs.get("format", ["text"])[0]
    gf = GTSFrame.fetch(
        store.points(),
        selector,
        int(start) if start is not None else None,
        int(stop) if stop is not None else None,
    )
    df = gf.df.orderBy("class", "labels_key", "ts")
    if fmt == "json":
        # reference-faithful jsonDump field order/format, streamed one
        # point row at a time (conformance: tests/test_conformance_goldens)
        from warp10_platform_spark.sources.egress_json import json_dump_rows

        return "application/json", json_dump_rows(df.toLocalIterator())
    lines = export_tsv(df) if fmt == "tsv" else format_gts_lines(df)
    ctype = "text/tab-separated-values" if fmt == "tsv" else "text/plain"
    return ctype, (r[0] + "\n" for r in lines.toLocalIterator())


def _find_chunks(store: Store, qs: dict):
    """/find response as a chunk generator: `[` obj (`,` obj)* `]`, one
    directory row at a time via toLocalIterator — bounded driver memory
    regardless of directory cardinality (the reference streams metadata
    the same way, StreamingMetadataIterator.java)."""
    from warp10_platform_spark.sources.directory import find

    sel = qs.get("selector", ["~.*{}"])[0]
    rows = find(store.directory(), sel).orderBy("class", "labels_key").toLocalIterator()
    yield "["
    first = True
    for r in rows:
        obj = json.dumps(
            {"c": r["class"], "l": dict(r["labels"] or {}), "a": dict(r["attributes"] or {})}
        )
        yield obj if first else "," + obj
        first = False
    yield "]"


class _Handler(BaseHTTPRequestHandler):
    # injected by make_server
    store: Store = None  # type: ignore[assignment]

    def log_message(self, *a):  # quiet
        pass

    def _reply(self, code: int, body: str = "", ctype: str = "text/plain", headers: dict | None = None):
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> str:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n).decode()

    # ---- WebSocket endpoints (RFC 6455 over the same listener) -------
    def _ws_upgrade(self, url) -> bool:
        """Handle a websocket Upgrade request; True if it was one."""
        if (self.headers.get("Upgrade") or "").lower() != "websocket":
            return False
        from warp10_platform_spark import websocket as ws

        key = self.headers.get("Sec-WebSocket-Key")
        if not key or url.path not in (f"{API}/plasma", f"{API}/streamupdate"):
            self._reply(400, "bad websocket request\n")
            return True
        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", ws.accept_key(key))
        self.end_headers()
        self.wfile.flush()
        conn = ws.WSConnection(self.rfile, self.wfile, sock=self.connection)
        try:
            if url.path == f"{API}/plasma":
                self._plasma_session(conn)
            else:
                self._streamupdate_session(conn)
        finally:
            self.close_connection = True
        return True

    def _plasma_session(self, conn) -> None:
        """Plasma pub-sub (StandalonePlasmaHandler.java:163-230):
        ``[UN]SUBSCRIBE <TOKEN> <SELECTOR>`` messages manage the
        session's selector set; matching ingested points push back as
        GTS text frames. Tokens are accepted but not enforced (this
        engine runs tokenless, like the reference with a no-op token
        filter); errors reply ``KO <reason>`` like the reference."""
        from warp10_platform_spark.core.selector import parse_selector

        hub = self.store.hub
        hub.register(conn)
        try:
            while True:
                msg = conn.recv_message()
                if msg is None:
                    break
                toks = msg.split()
                if not toks:
                    continue
                if toks[0] in ("SUBSCRIBE", "UNSUBSCRIBE"):
                    if len(toks) < 3:
                        conn.send_text("KO Invalid subscription selector.")
                        continue
                    raw = toks[2]
                    try:
                        sel = parse_selector(raw)
                    except ValueError:
                        conn.send_text("KO Invalid subscription selector.")
                        continue
                    if toks[0] == "SUBSCRIBE":
                        hub.subscribe(conn, raw, sel)
                    else:
                        hub.unsubscribe(conn, raw)
                else:
                    conn.send_text("KO Invalid verb.")
        finally:
            hub.deregister(conn)

    def _streamupdate_session(self, conn) -> None:
        """Persistent-socket ingest (StandaloneStreamUpdateHandler.java:
        150-200): TOKEN/CLEARTOKEN/NOOP/ONERROR verbs ack ``OK <seqno>
        <VERB>``; any other message is GTS text lines fed to the same
        store path as POST /update, acked ``OK <seqno> UPDATE <count>
        <nano>`` after the store commits (StandaloneStreamUpdateHandler
        .java:454 — reference clients block on this ack). ONERROR
        message|close picks whether a failed update replies with an
        error frame or closes the socket (the reference default: close);
        any other ONERROR argument leaves the mode unchanged
        (the reference only flips on exact 'message'/'close')."""
        seqno = 0
        errormsg = False
        skip_attributes = False
        while True:
            msg = conn.recv_message()
            if msg is None:
                break
            head = msg.split(None, 1)[0] if msg.strip() else ""
            if head in ("TOKEN", "CLEARTOKEN", "NOOP", "ONERROR"):
                toks = msg.split()
                if head == "ONERROR" and len(toks) > 1:
                    arg = toks[1].lower()
                    if arg == "message":
                        errormsg = True
                    elif arg == "close":
                        errormsg = False
                conn.send_text(f"OK {seqno} {head}")
                seqno += 1
            elif head in ("DELTAON", "DELTAOFF", "ATTRSKIPON", "ATTRSKIPOFF"):
                # Attribute-handling verbs (StandaloneStreamUpdateHandler
                # .java:175-193). Delta attribute updates are disabled by
                # default in the reference (warp.update.attributes.delta);
                # this engine has no per-point attribute wire either, so
                # DELTAON fails with the reference's message and the
                # ATTRSKIP pair toggles an (inert here) parse flag. These
                # must NOT fall through to measurement parsing.
                if head == "DELTAON":
                    if errormsg:
                        conn.send_text("ERROR Delta update of attributes is disabled.")
                    else:
                        conn.close(1011, "Delta update of attributes is disabled.")
                        break
                else:
                    skip_attributes = head == "ATTRSKIPON"
            else:
                try:
                    nano = time.perf_counter_ns()
                    count = self.store.append_update(msg)
                    nano = time.perf_counter_ns() - nano
                    conn.send_text(f"OK {seqno} UPDATE {count} {nano}")
                    seqno += 1
                except Exception as e:  # noqa: BLE001
                    if errormsg:
                        conn.send_text(f"ERROR {type(e).__name__}: {e}"[:900])
                    else:
                        conn.close(1011, "update failed")
                        break

    def do_GET(self):  # noqa: N802
        url = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(url.query)
        if self._ws_upgrade(url):
            return
        t0 = time.perf_counter()
        try:
            if url.path == f"{API}/fetch":
                ctype, chunks = _fetch_response(self.store, qs)
            elif url.path == f"{API}/find":
                # STREAMED like /fetch (reference StreamingMetadataIterator:
                # continuum/egress/StreamingMetadataIterator.java): one Arrow
                # batch of directory rows in driver memory at a time, chunked
                # JSON array writes — never the whole 10^7-series directory
                ctype, chunks = "application/json", _find_chunks(self.store, qs)
            else:
                return self._reply(404, "no such endpoint\n")
            # Pull the FIRST chunk before the status line: the Spark job
            # actually starts on that first next(), so scan/plan failures
            # still produce a clean 500 with error headers. After the 200
            # is on the wire a failure can only TRUNCATE the body (never
            # write a second status line into it) — the reference's
            # streaming egress has the same contract.
            it = iter(chunks)
            try:
                first = next(it)
            except StopIteration:
                first = ""
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Connection", "close")
            self.end_headers()
            try:
                self.wfile.write(first.encode())
                for c in it:
                    self.wfile.write(c.encode())
            except Exception:  # noqa: BLE001
                self.close_connection = True
            return
        except Exception as e:  # noqa: BLE001
            return self._reply(
                500, "", headers={"X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900]}
            )

    def do_POST(self):  # noqa: N802
        url = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(url.query)
        t0 = time.perf_counter()
        try:
            if url.path == f"{API}/exec":
                from warp10_platform_spark.__main__ import _jsonable
                from warp10_platform_spark.warpscript import WarpScriptStack

                st = WarpScriptStack(self.store.spark, self.store.sf_dir)
                try:
                    st.exec(self._body())
                except Exception as e:  # noqa: BLE001
                    # the reference /exec error contract: 500 + headers
                    return self._reply(
                        500,
                        "",
                        headers={
                            "X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900],
                            "X-Warp10-Error-Line": "0",
                        },
                    )
                # STREAMED like /fetch: one stack level rendered and
                # written at a time, so a huge stack (e.g. several
                # million-point GTS levels) never holds its full JSON in
                # driver memory at once — the reference's /exec writes
                # through StackUtils.toJSON with the same property.
                # Error contract: the TOP level (the result frame, where
                # Spark materialization failures land) is rendered
                # BEFORE the status line, so those still produce a clean
                # 500 + X-Warp10-Error headers; a failure on a deeper
                # level mid-stream can only TRUNCATE the body — never
                # write a second status line into it.
                levels = list(reversed(st.stack))
                try:
                    first = (
                        json.dumps(_jsonable(levels[0], None, False)).encode()
                        if levels else b""
                    )
                except Exception as e:  # noqa: BLE001
                    return self._reply(
                        500,
                        "",
                        headers={
                            "X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900],
                            "X-Warp10-Error-Line": "0",
                        },
                    )
                # elapsed includes execution AND the dominant (top-level)
                # materialization, like the reference's eager stack.
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Connection", "close")
                self.send_header(
                    "X-Warp10-Elapsed", str(int((time.perf_counter() - t0) * 1e9))
                )
                self.end_headers()
                try:
                    self.wfile.write(b"[" + first)
                    for v in levels[1:]:
                        self.wfile.write(b",")
                        self.wfile.write(json.dumps(_jsonable(v, None, False)).encode())
                    self.wfile.write(b"]")
                except Exception:  # noqa: BLE001
                    # mid-stream failure: truncate and close — the 200
                    # status is already on the wire, a second status
                    # line would corrupt the body.
                    self.close_connection = True
                return
            elif url.path == f"{API}/update":
                n = self.store.append_update(self._body())
                return self._reply(200, "", headers={"X-Warp10-Ingested": str(n)})
            elif url.path == f"{API}/delete":
                sel = qs.get("selector", [None])[0]
                if not sel:
                    return self._reply(400, "selector required\n")
                start = qs.get("start", [None])[0]
                end = qs.get("end", [None])[0]
                self.store.add_tombstone(
                    sel,
                    int(start) if start is not None else None,
                    int(end) if end is not None else None,
                )
                return self._reply(200, "")
            elif url.path == f"{API}/meta":
                payload = json.loads(self._body())
                self.store.add_meta(payload["selector"], dict(payload["attributes"]))
                return self._reply(200, "")
            else:
                return self._reply(404, "no such endpoint\n")
        except Exception as e:  # noqa: BLE001
            return self._reply(
                500, "", headers={"X-Warp10-Error-Message": f"{type(e).__name__}: {e}"[:900]}
            )


def make_server(spark, sf_dir: str, store_dir: str, port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``server.server_address[1]``
    is the bound port when ``port=0``."""
    handler = type("Handler", (_Handler,), {"store": Store(spark, sf_dir, store_dir)})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def main(argv=None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="python -m warp10_platform_spark.server")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--store-dir", default=".warp10-store")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args(argv)

    from warp10_platform_spark.session import get_spark

    spark = get_spark("warp10-platform-spark-server")
    spark.sparkContext.setLogLevel("ERROR")
    srv = make_server(spark, args.sf_dir, args.store_dir, args.port)
    print(f"listening on :{srv.server_address[1]}  (endpoints: {API}/exec /fetch /update /delete /meta /find)")
    srv.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
