"""Load generator, run as its own process so it shares no interpreter
lock with the gateway, the endpoint or the Spark driver.

One thread drives at most ``nproc`` keep-alive connections through a
selector: a closed loop for the produce/poll phases, and a fixed-rate
open loop for the webhook firehose, where each POST carries the time it
was due and is timed from then.

    python3 perfbench/loadgen.py ROOT < specs

It reads one JSON spec per line from stdin, writes the result to the
spec's ``out`` path and answers ``done`` on stdout, so one process (and
one import) serves every round of a run.
"""

from __future__ import annotations

import datetime
import json
import os
import selectors
import socket
import sys
import time

HEAD_END = b"\r\n\r\n"
EPOCH = datetime.datetime(1970, 1, 1)
US = datetime.timedelta(microseconds=1)


class Conn:
    """One keep-alive HTTP/1.1 connection with at most one request in flight."""

    def __init__(self, addr):
        self.sock = socket.create_connection(addr)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        self.t_send = 0.0
        self.tag = None

    def send(self, req: bytes, tag=None) -> None:
        self.t_send = time.monotonic()
        self.tag = tag
        self.sock.sendall(req)

    def take_response(self) -> tuple[int, bytes] | None:
        """Parse one complete response out of the buffer, if present."""
        end = self.buf.find(HEAD_END)
        if end < 0:
            return None
        head = bytes(self.buf[:end]).decode("iso-8859-1")
        length = 0
        for line in head.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            if k.strip().lower() == "content-length":
                length = int(v)
        if len(self.buf) < end + 4 + length:
            return None
        body = bytes(self.buf[end + 4:end + 4 + length])
        del self.buf[:end + 4 + length]
        return int(head.split(" ", 2)[1]), body

    def close(self) -> None:
        self.sock.close()


def request(method: str, path: str, headers: dict, body: bytes = b"") -> bytes:
    lines = [f"{method} {path} HTTP/1.1", "Host: 127.0.0.1"]
    lines += [f"{k}: {v}" for k, v in headers.items()]
    lines.append(f"Content-Length: {len(body)}")
    return ("\r\n".join(lines) + "\r\n\r\n").encode() + body


def closed_loop(addr, per_conn: list[list[tuple[bytes, object]]]) -> dict:
    """Send each connection's requests back to back; returns the samples
    ``[(tag, latency_s, status, body)]`` and the wall time."""
    sel = selectors.DefaultSelector()
    conns = [Conn(addr) for _ in per_conn]
    todo = [list(reversed(reqs)) for reqs in per_conn]
    samples = []
    t0 = time.monotonic()
    for c, q in zip(conns, todo):
        if q:
            req, tag = q.pop()
            c.send(req, tag)
            sel.register(c.sock, selectors.EVENT_READ, (c, q))
    while sel.get_map():
        for key, _ in sel.select(timeout=30):
            c, q = key.data
            data = c.sock.recv(1 << 20)
            if not data:
                raise RuntimeError("gateway closed a keep-alive connection")
            c.buf += data
            resp = c.take_response()
            if resp is None:
                continue
            samples.append((c.tag, time.monotonic() - c.t_send, resp[0], resp[1].decode()))
            if q:
                req, tag = q.pop()
                c.send(req, tag)
            else:
                sel.unregister(c.sock)
    wall = time.monotonic() - t0
    for c in conns:
        c.close()
    return {"samples": samples, "wall_s": wall}


def sse_drain(addr, path: str, headers: dict, expect: int, timeout_s: float = 60.0) -> dict:
    """Open one SSE stream and read frames until ``expect`` ids arrived."""
    t0 = time.monotonic()
    sock = socket.create_connection(addr, timeout=timeout_s)
    sock.sendall(request("GET", path, headers))
    buf = b""
    ids: list[str] = []
    header_done = False
    while len(ids) < expect:
        data = sock.recv(1 << 20)
        if not data:
            break
        buf += data
        if not header_done:
            end = buf.find(HEAD_END)
            if end < 0:
                continue
            buf, header_done = buf[end + 4:], True
        *frames, buf = buf.split(b"\n\n")
        for fr in frames:
            for line in fr.split(b"\n"):
                if line.startswith(b"id: "):
                    ids.append(line[4:].decode())
    wall = time.monotonic() - t0
    sock.close()
    return {"ids": ids, "wall_s": wall}


def produce_consume(spec: dict) -> dict:
    """Async produce, sync produce, poll, SSE drain, compact, poll again,
    over fresh topics."""
    from pulsar_beam_spark.server.store import TopicDirStore

    addr = ("127.0.0.1", spec["port"])
    auth = {"Authorization": f"Bearer {spec['token']}", "PulsarUrl": spec["pulsar_url"]}
    topics, conns = spec["topics"], spec["conns"]
    out: dict = {}
    expect = dict.fromkeys(topics, 0)  # messages each topic's SSE drain must see

    def produce(mode: str, n: int) -> dict:
        per_conn: list[list] = [[] for _ in range(conns)]
        for i in range(n):
            c = i % conns
            t = topics[c % len(topics)]
            expect[t] += 1
            body = json.dumps({"m": f"{spec['tag']}-{mode}-{i}"}).encode()
            q = "?mode=async" if mode == "async" else ""
            per_conn[c].append((request("POST", f"/v2/firehose/{t}{q}", auth, body),
                                body.decode()))
        return closed_loop(addr, per_conn)

    marks: dict = {}
    out["marks"] = marks

    def mark(name: str, fn, *a):
        t0 = time.monotonic()
        r = fn(*a)
        marks[name] = (t0, time.monotonic())
        return r

    out["async"] = mark("async", produce, "async", spec["n_async"])
    # async rows are buffered by the store and flushed on its timer; the
    # backlog is complete once every acked row is in a file
    store = TopicDirStore(spec["topics_root"], flush_interval_s=None)
    deadline = time.monotonic() + 30
    while _rows_in(store, spec["topic_fns"]) < spec["n_async"]:
        if time.monotonic() > deadline:
            raise RuntimeError("async rows never reached the topic files")
        time.sleep(0.02)
    out["sync"] = mark("sync", produce, "sync", spec["n_sync"])

    def polls() -> dict:
        return _serial(addr, [
            [(request("GET", f"/v2/poll/{t}?batchSize={spec['batch_size']}", auth), t)]
            * spec["polls_per_topic"] for t in topics])

    out["poll"] = mark("poll", polls)
    # every drain is a fresh connection that reads the whole backlog; the
    # backlog is drained sse_passes times so the rate is a median of many
    out["sse"] = mark("sse", lambda: [
        sse_drain(addr, f"/v2/sse/{t}?SubscriptionName=bench-sse", auth, n)
        for _ in range(spec["sse_passes"]) for t, n in expect.items()])
    # references for the checks, read apart from the store before it compacts
    dirs = [store.topic_dir(fn) for fn in spec["topic_fns"]]
    out["files_before"] = [snapshot(d) for d in dirs]
    out["topic_files"] = [sum(f.endswith(".parquet") for f in os.listdir(d)) for d in dirs]
    out["oracle_poll"] = [duck_first_k(d, spec["batch_size"]) for d in dirs]
    out["compact"] = mark("compact", lambda: [
        store.compact(fn, watermark_us=2 ** 62) for fn in spec["topic_fns"]])
    out["files_after"] = [snapshot(d) for d in dirs]
    out["poll_compacted"] = mark("poll_compacted", polls)
    return out


def snapshot(topic_dir: str) -> list[dict]:
    """Every row of a topic directory, read straight from its files."""
    import pyarrow.parquet as pq

    rows = []
    for f in sorted(os.listdir(topic_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(topic_dir, f),
                          columns=["message_id", "payload", "event_time", "properties"])
        for mid, payload, et, props in zip(*(c.to_pylist() for c in t.columns)):
            rows.append({"message_id": mid, "payload": payload.decode(),
                         "event_us": (et - EPOCH) // US, "beam_id": dict(props)["PulsarBeamId"]})
    return rows


def duck_first_k(topic_dir: str, k: int) -> list[str]:
    """The first k message ids by (event_time, message_id), by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(
            f"SELECT message_id FROM read_parquet('{topic_dir}/*.parquet') "
            f"ORDER BY event_time, message_id LIMIT {int(k)}").fetchall()]
    finally:
        con.close()


def _serial(addr, per_conn: list[list]) -> dict:
    """Poll one topic at a time, so every poll sees an idle gateway."""
    runs = [closed_loop(addr, [reqs]) for reqs in per_conn]
    return {"samples": [s for r in runs for s in r["samples"]],
            "wall_s": sum(r["wall_s"] for r in runs)}


def _rows_in(store, topic_fns: list[str]) -> int:
    import pyarrow.parquet as pq

    n = 0
    for fn in topic_fns:
        d = store.topic_dir(fn)
        n += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                 for f in os.listdir(d) if f.endswith(".parquet"))
    return n


def firehose(spec: dict) -> dict:
    """Open loop: message i is due at t0 + i / rate, whatever the gateway
    does; it goes out on the first idle connection, and its payload carries
    the due time so the endpoint can time the delivery from it."""
    addr = ("127.0.0.1", spec["port"])
    auth = {"Authorization": f"Bearer {spec['token']}", "PulsarUrl": spec["pulsar_url"]}
    topics, rate, n = spec["topics"], spec["rate"], spec["n"]
    sel = selectors.DefaultSelector()
    conns = [Conn(addr) for _ in range(spec["conns"])]
    idle = list(conns)
    for c in conns:
        sel.register(c.sock, selectors.EVENT_READ, c)
    statuses: list[int] = []
    late: list[float] = []
    t0 = time.monotonic() + 0.05
    i = 0
    while i < n or len(idle) < len(conns):
        due = t0 + i / rate if i < n else None
        wait = 30.0 if due is None or not idle else max(0.0, due - time.monotonic())
        for key, _ in sel.select(timeout=wait):
            c = key.data
            data = c.sock.recv(1 << 16)
            if not data:
                raise RuntimeError("gateway closed a firehose connection")
            c.buf += data
            resp = c.take_response()
            if resp is not None:
                statuses.append(resp[0])
                idle.append(c)
        if due is not None and idle and time.monotonic() >= due:
            body = json.dumps({"m": f"{spec['tag']}-{i}", "due": due}).encode()
            t = topics[i % len(topics)]
            idle.pop().send(request("POST", f"/v2/firehose/{t}?mode=async", auth, body))
            late.append(time.monotonic() - due)
            i += 1
    for c in conns:
        c.close()
    return {"statuses": statuses, "late_s": late, "wall_s": time.monotonic() - t0}


def main() -> None:
    sys.path.insert(0, sys.argv[1])
    import pulsar_beam_spark.server.store  # noqa: F401  (import before any round)

    modes = {"produce_consume": produce_consume, "firehose": firehose}
    print("ready", flush=True)
    for line in sys.stdin:
        spec = json.loads(line)
        out = modes[spec["mode"]](spec)
        with open(spec["out"], "w") as f:
            json.dump(out, f)
        print("done", flush=True)


if __name__ == "__main__":
    main()
