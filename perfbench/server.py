"""The engine's HTTP server run in-process on a loopback port, and a
minimal client for it."""

from __future__ import annotations

import http.client
import threading
import time

# Carries the benchmark's request id, so server-side spans can be matched
# with the client's timing of the same request.
REQUEST_HEADER = "X-Perfbench-Request"


class InProcessServer:
    def __init__(self, spark, sf_dir: str, store_dir: str):
        from warp10_platform_spark.server import make_server

        self.srv = make_server(spark, sf_dir, store_dir)
        self.port = self.srv.server_address[1]
        self.store = self.srv.RequestHandlerClass.store
        self._thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self._thread.start()

    def request(self, method: str, path: str, body: bytes | None = None, headers=None):
        """(seconds, status, headers, body) of one request on a fresh
        connection (the server closes each connection after replying);
        status 0 when the request itself failed."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        t0 = time.perf_counter()
        try:
            conn.request(method, path, body=body, headers=headers or {})
            resp = conn.getresponse()
            data = resp.read()
            return time.perf_counter() - t0, resp.status, dict(resp.getheaders()), data
        except (OSError, http.client.HTTPException):
            return time.perf_counter() - t0, 0, {}, b""
        finally:
            conn.close()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self._thread.join()
