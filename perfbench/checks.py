"""Correctness checks. Each takes the program's outputs and a reference
computed apart from the program (pyarrow or DuckDB over the files it
wrote, or the benchmark's own bookkeeping) and returns a list of
mismatches; an empty list is a pass. ``check_checks.py`` feeds each one a
corrupted output to show it fails.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
from collections import Counter


def _dups(items) -> list:
    return [k for k, n in Counter(items).items() if n > 1]


def check_produce(acked: list[str], rows: list[dict]) -> list[str]:
    """Every acked POST body is in the topic files exactly once, and
    message ids and PulsarBeamIds are unique."""
    errs = []
    got = Counter(r["payload"] for r in rows)
    missing = [p for p in acked if got[p] == 0]
    extra = [p for p, n in got.items() if n > 1 or p not in set(acked)]
    if missing:
        errs.append(f"produce: {len(missing)} acked messages missing, e.g. {missing[0]}")
    if extra:
        errs.append(f"produce: {len(extra)} payloads duplicated or never acked, e.g. {extra[0]}")
    for col in ("message_id", "beam_id"):
        d = _dups(r[col] for r in rows)
        if d:
            errs.append(f"produce: {len(d)} duplicate {col}, e.g. {d[0]}")
    return errs


def first_k(rows: list[dict], k: int) -> list[str]:
    """Message ids of the first k rows by (event_time, message_id)."""
    return [r["message_id"] for r in sorted(rows, key=lambda r: (r["event_us"], r["message_id"]))[:k]]


def check_poll(polls: list[tuple[str, int, str]], expected: dict[str, list[str]],
               after: list[tuple[str, int, str]]) -> list[str]:
    """Each poll (topic, status, body) returns exactly the expected first
    batch, and the polls after compaction return the same bodies."""
    errs = []
    for topic, status, body in polls:
        ids = [m["message_id"] for m in json.loads(body)["messages"]] if status == 200 else []
        if ids != expected[topic]:
            errs.append(f"poll {topic}: status {status}, got {ids[:3]}.. want {expected[topic][:3]}..")
            break
    if [(t, s, json.loads(b)) for t, s, b in after] != [(t, s, json.loads(b)) for t, s, b in polls]:
        errs.append("poll: results after compaction differ from results before it")
    return errs


def check_compaction(before: list[dict], after: list[dict]) -> list[str]:
    if len(before) != len(after):
        return [f"compaction: {len(before)} rows before, {len(after)} after"]
    if Counter(r["message_id"] for r in before) != Counter(r["message_id"] for r in after):
        return ["compaction: message-id multiset changed"]
    return []


def check_sse(ids: list[str], rows: list[dict]) -> list[str]:
    """The stream delivered every id exactly once, in (event_time, id) order."""
    want = first_k(rows, len(rows))
    if ids == want:
        return []
    d = _dups(ids)
    return [f"sse: got {len(ids)} ids ({len(d)} duplicated), want {len(want)} in order"]


def check_delivery(received: list[tuple[str, str]], messages: dict[str, list[str]],
                   hooks: dict[str, list[str]]) -> list[str]:
    """(message_id, hook path) pairs received equal the cross product of
    each topic's messages and its hooks, with no duplicates."""
    want = {(m, h) for t, ms in messages.items() for m in ms for h in hooks[t]}
    got = Counter(received)
    errs = []
    d = [k for k, n in got.items() if n > 1]
    if d:
        errs.append(f"delivery: {len(d)} duplicated deliveries, e.g. {d[0]}")
    if set(got) != want:
        errs.append(f"delivery: {len(want - set(got))} missing, {len(set(got) - want)} unexpected")
    return errs


def check_replies(reply_rows: list[tuple[str, str]], delivered_bodies: list[str]) -> list[str]:
    """Reply rows (message_id, payload) equal the deliveries: one per
    delivery, body ``ack:`` + payload, unique ids."""
    errs = []
    if Counter(p for _, p in reply_rows) != Counter("ack:" + b for b in delivered_bodies):
        errs.append(f"replies: {len(reply_rows)} reply rows do not match "
                    f"{len(delivered_bodies)} deliveries")
    d = _dups(i for i, _ in reply_rows)
    if d:
        errs.append(f"replies: {len(d)} duplicate reply ids")
    return errs


def check_progress(input_rows: int, messages: int) -> list[str]:
    if input_rows != messages:
        return [f"stream: numInputRows sum {input_rows} != {messages} messages in topic files"]
    return []


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        v = v.item()  # numpy scalar
    if hasattr(v, "tolist"):
        v = v.tolist()  # numpy array
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return v


def result_digest(df) -> tuple[int, list[tuple[str, str]], str]:
    """(rows, [(column, dtype family)], value hash) of a pandas frame,
    independent of row and column order."""
    cols = sorted(df.columns)
    fam = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "time", "m": "time"}
    schema = [(c, fam.get(df[c].dtype.kind, "other")) for c in cols]
    rows = sorted(repr(tuple(_canon(v) for v in r)) for r in df[cols].itertuples(index=False))
    h = hashlib.sha1("\n".join(rows).encode()).hexdigest()
    return len(rows), schema, h


def check_query(name: str, got, want) -> list[str]:
    """Spark result vs DuckDB oracle: row count, schema, value hash."""
    g, w = result_digest(got), result_digest(want)
    for label, a, b in (("rows", g[0], w[0]), ("schema", g[1], w[1]), ("value hash", g[2], w[2])):
        if a != b:
            return [f"query {name}: {label} differs: spark={a!r:.120} duckdb={b!r:.120}"]
    return []
