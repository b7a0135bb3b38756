"""Traced gateway launcher: wraps the gateway's public layer boundaries
with timers, then runs the server's own ``main``.

    python3 perfbench/launcher.py TRACE.json -- <pulsar_beam_spark.server args>

Spans are ``[name, start, seconds, extra]`` with ``start`` on
``time.monotonic`` (one clock for every process on the host, so the
benchmark can cut them into its phases). They stay in memory and are
written to TRACE.json when the process gets SIGTERM.
"""

from __future__ import annotations

import functools
import json
import os
import signal
import sys
import threading
import time
import types

SPANS: list = []
_local = threading.local()


def _wrap(cls, name: str, span: str, extra=None):
    fn = getattr(cls, name)

    @functools.wraps(fn)
    def traced(*args, **kw):
        pre = extra(*args, **kw) if extra is not None else None
        t0 = time.monotonic()
        try:
            out = fn(*args, **kw)
        finally:
            dt = time.monotonic() - t0
        SPANS.append([span, t0, dt, pre if not callable(pre) else pre(out)])
        return out

    setattr(cls, name, traced)


def install() -> None:
    import pyarrow.parquet as pq

    from pulsar_beam_spark.icrypto import RSAKeyPair
    from pulsar_beam_spark.server import gateway
    from pulsar_beam_spark.server.store import TopicDirStore

    _wrap(RSAKeyPair, "get_token_subject", "auth.verify")
    _wrap(gateway.GatewayApp, "dispatch", "gateway.dispatch",
          lambda self, method, path, query, *a, **k:
          f"{method} {'/'.join(path.split('/')[1:3])} {query.get('mode', [''])[0]}")
    _wrap(TopicDirStore, "append", "store.append",
          lambda self, topic_fn, payload, key=None, properties=None, asynchronous=False:
          "async" if asynchronous else "sync")
    _wrap(TopicDirStore, "_flush_locked", "store.flush",
          lambda self: len({r["topic"] for r in self._pending}))
    _wrap(TopicDirStore, "poll", "store.poll",
          lambda self, topic_fn, batch_size=10: sum(
              f.endswith(".parquet") for f in os.listdir(self.topic_dir(topic_fn))))
    _wrap(TopicDirStore, "scan", "store.scan",
          lambda self, topic_fn, after_file=None: lambda out: len(out[0]))

    compact = TopicDirStore.compact

    def traced_compact(self, *a, **k):
        _local.compacting = True
        try:
            return compact(self, *a, **k)
        finally:
            _local.compacting = False

    TopicDirStore.compact = traced_compact

    write_table = pq.write_table

    def traced_write_table(table, where, *a, **k):
        out = write_table(table, where, *a, **k)
        if not getattr(_local, "compacting", False):
            SPANS.append(["store.file", time.monotonic(), 0.0, os.path.getsize(where)])
        return out

    pq.write_table = traced_write_table

    # the SSE generator idles through the gateway module's time.sleep
    def traced_sleep(s):
        t0 = time.monotonic()
        time.sleep(s)
        SPANS.append(["store.scan_idle", t0, time.monotonic() - t0, None])

    gateway.time = types.SimpleNamespace(perf_counter=time.perf_counter,
                                         monotonic=time.monotonic, sleep=traced_sleep,
                                         time=time.time)


def main() -> int:
    out = sys.argv[1]
    argv = sys.argv[sys.argv.index("--") + 1:]

    def dump(*_):
        with open(out + ".tmp", "w") as f:
            json.dump(SPANS[:], f)
        os.replace(out + ".tmp", out)
        sys.exit(0)

    signal.signal(signal.SIGTERM, dump)
    install()
    from pulsar_beam_spark.server.__main__ import main as server_main

    return server_main(argv)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
