"""Fake CDSE band server, run as its own process.

    python3 perfbench/cdse_server.py --payloads DIR

Serves every ``DIR/<product>_<band>.tif`` (read into memory at start)
the way the reference's download path meets the Copernicus Data Space:

- ``GET /token``: a JSON bearer token (``{"access_token": "tok-<n>"}``);
- ``GET /band/<product>/<band>``: a 302 to ``/data/<product>/<band>``,
  the presigned hop of the real service;
- ``GET /data/<product>/<band>``: the GeoTIFF bytes, or 401 when the
  bearer token is unknown or stale. The first token issued after each
  counter reset is stale, so every pass runs the client's
  401 -> refresh -> retry path exactly once.

``GET /stats`` returns the request counts by kind (token, redirect,
payload, unauthorized), payload bytes and the handlers' busy seconds;
``GET /reset`` zeroes them. Neither is counted. Requests are handled by
one worker thread per CPU. The port is printed on stdout as
``PORT <n>`` once the server listens.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

KINDS = ("token", "redirect", "payload", "unauthorized", "not_found")


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.issued = 0
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.requests = dict.fromkeys(KINDS, 0)
            self.payload_bytes = 0
            self.busy_s = 0.0
            self.stale = None  # the first token issued after a reset

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "requests": dict(self.requests),
                "payload_bytes": self.payload_bytes,
                "busy_s": self.busy_s,
            }


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a pool of one thread per CPU."""

    def __init__(self, addr, handler):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=os.cpu_count() or 1)

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_handler(payloads: dict[str, bytes], counters: Counters):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _send(self, code: int, body: bytes = b"", headers=()):
            self.send_response(code)
            for k, v in headers:
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

        def do_GET(self):
            if self.path == "/stats":
                self._send(200, json.dumps(counters.snapshot()).encode())
                return
            if self.path == "/reset":
                counters.reset()
                self._send(200)
                return
            t0 = time.perf_counter()
            kind, nbytes = self._serve()
            dt = time.perf_counter() - t0
            with counters.lock:
                counters.requests[kind] += 1
                counters.payload_bytes += nbytes
                counters.busy_s += dt

        def _serve(self) -> tuple[str, int]:
            if self.path == "/token":
                with counters.lock:
                    tok = f"tok-{counters.issued}"
                    if counters.stale is None:
                        counters.stale = tok
                    counters.issued += 1
                self._send(200, json.dumps({"access_token": tok}).encode())
                return "token", 0
            if self.path.startswith("/band/"):
                self._send(302, headers=[("Location", "/data/" + self.path[6:])])
                return "redirect", 0
            if self.path.startswith("/data/"):
                auth = self.headers.get("Authorization", "")
                with counters.lock:
                    tok = auth.removeprefix("Bearer tok-")
                    known = tok.isdigit() and int(tok) < counters.issued
                    stale = auth == f"Bearer {counters.stale}"
                if not known or stale:
                    self._send(401)
                    return "unauthorized", 0
                body = payloads.get(self.path[6:])
                if body is not None:
                    self._send(200, body)
                    return "payload", len(body)
            self._send(404)
            return "not_found", 0

    return Handler


def load_payloads(directory: str) -> dict[str, bytes]:
    out = {}
    for fn in os.listdir(directory):
        if fn.endswith(".tif"):
            product, band = fn[:-4].rsplit("_", 1)
            with open(os.path.join(directory, fn), "rb") as fh:
                out[f"{product}/{band}"] = fh.read()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--payloads", required=True)
    args = ap.parse_args()
    counters = Counters()
    srv = PooledHTTPServer(
        ("127.0.0.1", 0),
        make_handler(load_payloads(args.payloads), counters),
    )
    print(f"PORT {srv.server_address[1]}", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
