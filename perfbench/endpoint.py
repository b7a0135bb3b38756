"""Loopback webhook endpoint, run as its own process.

Every POST is recorded with its receive time (``time.monotonic``, which
is one system-wide clock on Linux, so the load generator's due times are
comparable) and answered 200 with body ``ack:<payload>`` and a
``TopicFn`` header, so the delivery stream appends each reply to the
reply topic. It counts accepted TCP connections, so connection reuse by
the webhook client is visible.

    python3 perfbench/endpoint.py REPLY_TOPIC     # prints "endpoint on PORT"
    GET /stats  -> {"posts": n, "connections": n, "gets": n}
    GET /dump   -> {"posts": [[path, message_id, t_recv, body], ...], ...}

``--capacity N`` instead measures how many POSTs per second the endpoint
absorbs from N client processes, each opening one connection per POST
as the stream's webhook client does.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PULSAR_URL = "pulsar://bench:6650"


class Endpoint(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 256

    def __init__(self, reply_topic: str):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.reply_topic = reply_topic
        self.posts: list = []
        self.connections = 0
        self.gets = 0
        self._lock = threading.Lock()

    def process_request(self, request, client_address):
        with self._lock:
            self.connections += 1
        super().process_request(request, client_address)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, fmt, *args):
        pass

    def _reply(self, status: int, body: bytes, headers: dict | None = None) -> None:
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        t = time.monotonic()
        body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
        srv = self.server
        with srv._lock:
            srv.posts.append((self.path, self.headers.get("PulsarMessageId"), t,
                              body.decode("utf-8", errors="replace")))
        self._reply(200, b"ack:" + body,
                    {"TopicFn": srv.reply_topic, "PulsarUrl": PULSAR_URL,
                     "Content-Type": "text/plain"})

    def do_GET(self):
        srv = self.server
        with srv._lock:
            srv.gets += 1
            stats = {"posts": len(srv.posts), "connections": srv.connections, "gets": srv.gets}
            if self.path == "/dump":
                stats["posts"] = list(srv.posts)
        self._reply(200, json.dumps(stats).encode(), {"Content-Type": "application/json"})


def _hammer(port: int, n: int) -> None:
    import http.client

    for i in range(n):
        c = http.client.HTTPConnection("127.0.0.1", port)
        c.request("POST", "/hook/0", b'{"m":"cap-%d"}' % i,
                  {"PulsarMessageId": f"cap-{i}", "Connection": "close"})
        c.getresponse().read()
        c.close()


def capacity(clients: int, per_client: int = 3000) -> float:
    """POSTs per second the endpoint absorbs, one connection per POST."""
    srv = Endpoint("persistent://bench/ns/capacity")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    ctx = multiprocessing.get_context("spawn")
    procs = [ctx.Process(target=_hammer, args=(port, per_client)) for _ in range(clients)]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
    dt = time.perf_counter() - t0
    srv.shutdown()
    if any(p.exitcode != 0 for p in procs) or len(srv.posts) != clients * per_client:
        raise SystemExit("capacity run lost requests")
    return clients * per_client / dt


def main() -> None:
    ap = argparse.ArgumentParser(description="loopback webhook endpoint")
    ap.add_argument("reply_topic", nargs="?", default="persistent://bench/ns/replies")
    ap.add_argument("--capacity", type=int, default=0, metavar="CLIENTS")
    a = ap.parse_args()
    if a.capacity:
        print(json.dumps({"clients": a.capacity, "posts_per_s": round(capacity(a.capacity), 1),
                          "cores": len(os.sched_getaffinity(0))}))
        return
    srv = Endpoint(a.reply_topic)
    print(f"endpoint on {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass


if __name__ == "__main__":
    import signal

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    main()
