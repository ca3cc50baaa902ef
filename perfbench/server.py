"""Loopback HTTP server for the ``http-html`` workload, run as its own
process:

    python3 -m perfbench.server --seed <n> --docs <n> --log <path>

It binds one port on every host of ``perfbench.site.HOSTS`` (all
``127.0.0.k`` loopback addresses), prints ``PORT <p>`` on stdout once
listening, and serves the generated site until its stdin closes. It
then writes its request log — one JSON line per request with host,
path, status and the handler's start/end times — and exits.

Threads: the main thread accepts connections on every listening socket
through one selector and hands each to a pool of ``nproc - 1`` handler
threads, so the process never runs more than ``nproc`` threads.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import socket
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler

from perfbench.site import HOSTS, build_site, pages_by_location


class _Handler(BaseHTTPRequestHandler):
    # set per server (class attributes of a subclass built in serve())
    pages: dict[tuple[str, str], bytes] = {}
    log: list[dict] = []

    def do_GET(self):  # noqa: N802 — http.server hook name
        t0 = time.time()
        host = self.connection.getsockname()[0]
        body = self.pages.get((host, self.path))
        status = 200 if body is not None else 404
        payload = body if body is not None else b"not found"
        self.send_response(status)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)
        # list.append is atomic under the interpreter lock
        self.log.append(
            {"host": host, "path": self.path, "status": status, "t0": t0, "t1": time.time()}
        )

    def log_message(self, format, *args):  # noqa: A002 — silence stderr
        pass


def _bind_all(hosts: list[str]) -> list[socket.socket]:
    """Listen on one shared port on every host address; retries with a
    fresh ephemeral port when another host's bind collides."""
    for _ in range(50):
        socks = []
        try:
            first = socket.socket()
            socks.append(first)
            first.bind((hosts[0], 0))
            port = first.getsockname()[1]
            for h in hosts[1:]:
                s = socket.socket()
                socks.append(s)
                s.bind((h, port))
            for s in socks:
                s.listen(128)
            return socks
        except OSError:
            for s in socks:
                s.close()
    raise OSError("no common free port on the loopback hosts")


def serve(seed: int, n_docs: int, log_path: str) -> None:
    pages = {
        k: v.encode("utf-8") for k, v in pages_by_location(build_site(seed, n_docs)).items()
    }
    handler = type("Handler", (_Handler,), {"pages": pages, "log": []})
    socks = _bind_all(HOSTS)
    sel = selectors.DefaultSelector()
    for s in socks:
        sel.register(s, selectors.EVENT_READ, "accept")
    sel.register(sys.stdin, selectors.EVENT_READ, "stdin")
    workers = max(1, len(os.sched_getaffinity(0)) - 1)
    print(f"PORT {socks[0].getsockname()[1]}", flush=True)

    def handle(conn: socket.socket, addr) -> None:
        with conn:
            conn.settimeout(30)
            handler(conn, addr, None)

    with ThreadPoolExecutor(max_workers=workers) as pool:
        running = True
        while running:
            for key, _ in sel.select():
                if key.data == "stdin":
                    if not sys.stdin.buffer.read1(4096):
                        running = False
                    continue
                conn, addr = key.fileobj.accept()
                pool.submit(handle, conn, addr).add_done_callback(_report)
    for s in socks:
        s.close()
    with open(log_path, "w") as f:
        for rec in handler.log:
            f.write(json.dumps(rec) + "\n")


def _report(fut) -> None:
    """A handler that raised still shows up: its request is missing
    from the log, and the traceback goes to stderr."""
    exc = fut.exception()
    if exc is not None:
        import traceback

        traceback.print_exception(exc, file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    serve(a.seed, a.docs, a.log)


if __name__ == "__main__":
    main()
