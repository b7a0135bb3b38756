"""Show that every correctness check passes on a clean output and fails
on a corrupted one: a dropped delivery, a duplicated poll row, a missing
produced message, a perturbed query value, and the rest below.

    python3 perfbench/check_checks.py     # exit 0 when every case behaves
"""

from __future__ import annotations

import copy
import json
import sys

import pandas as pd

import checks


def _rows(n: int) -> list[dict]:
    return [{"message_id": f"{1000 + i}-{i}", "payload": f'{{"m": "p{i}"}}',
             "event_us": 1000 + i, "beam_id": f"b{i}"} for i in range(n)]


def _poll_body(ids: list[str]) -> str:
    return json.dumps({"limit": 3, "size": len(ids), "messages": [{"message_id": i} for i in ids]})


def cases():
    rows = _rows(6)
    acked = [r["payload"] for r in rows]
    yield "produce: missing produced message", checks.check_produce, (acked, rows), (acked, rows[1:])
    dup_id = copy.deepcopy(rows)
    dup_id[1]["message_id"] = dup_id[0]["message_id"]
    yield "produce: duplicate message_id", checks.check_produce, (acked, rows), (acked, dup_id)
    dup_beam = copy.deepcopy(rows)
    dup_beam[2]["beam_id"] = dup_beam[3]["beam_id"]
    yield "produce: duplicate PulsarBeamId", checks.check_produce, (acked, rows), (acked, dup_beam)

    want = {"t": checks.first_k(rows, 3)}
    good = [("t", 200, _poll_body(want["t"]))]
    dup_row = [("t", 200, _poll_body([want["t"][0], want["t"][0], want["t"][1]]))]
    yield "poll: duplicated poll row", checks.check_poll, (good, want, good), (dup_row, want, dup_row)
    yield "poll: result changed by compaction", checks.check_poll, \
        (good, want, good), (good, want, dup_row)

    yield "compaction: lost row", checks.check_compaction, (rows, rows), (rows, rows[:-1])
    swapped = copy.deepcopy(rows)
    swapped[0]["message_id"] = "other"
    yield "compaction: id multiset changed", checks.check_compaction, (rows, rows), (rows, swapped)

    ids = checks.first_k(rows, len(rows))
    yield "sse: duplicated id", checks.check_sse, (ids, rows), (ids + ids[-1:], rows)
    yield "sse: out of order", checks.check_sse, (ids, rows), (ids[1:2] + ids[:1] + ids[2:], rows)

    msgs = {"a": ["m1", "m2"], "b": ["m3"]}
    hooks = {"a": ["/h/0", "/h/1"], "b": ["/h/2"]}
    got = [("m1", "/h/0"), ("m1", "/h/1"), ("m2", "/h/0"), ("m2", "/h/1"), ("m3", "/h/2")]
    yield "delivery: dropped delivery", checks.check_delivery, (got, msgs, hooks), (got[1:], msgs, hooks)
    yield "delivery: duplicated delivery", checks.check_delivery, \
        (got, msgs, hooks), (got + got[:1], msgs, hooks)

    bodies = ['{"m": "x"}', '{"m": "y"}']
    replies = [("r1", 'ack:{"m": "x"}'), ("r2", 'ack:{"m": "y"}')]
    yield "replies: wrong body", checks.check_replies, (replies, bodies), \
        ([replies[0], ("r2", 'ack:{"m": "z"}')], bodies)
    yield "replies: duplicate reply id", checks.check_replies, (replies, bodies), \
        ([replies[0], ("r1", replies[1][1])], bodies)
    yield "stream: row accounting off", checks.check_progress, (5, 5), (6, 5)

    q = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    shuffled = q.sample(frac=1.0, random_state=1)[["s", "v", "k"]]
    perturbed = q.copy()
    perturbed.loc[1, "v"] = 1.2500001
    yield "query: perturbed value", checks.check_query, ("q", shuffled, q), ("q", perturbed, q)
    yield "query: missing row", checks.check_query, ("q", q, q), ("q", q.iloc[:2], q)
    yield "query: int column read back as float", checks.check_query, \
        ("q", q, q), ("q", q.astype({"k": "float64"}), q)


def main() -> int:
    bad = 0
    for label, fn, clean, corrupt in cases():
        ok_clean, ok_corrupt = not fn(*clean), not fn(*corrupt)
        status = "ok" if ok_clean and not ok_corrupt else "WRONG"
        bad += status != "ok"
        print(f"{status:5s} {label}: clean {'passes' if ok_clean else 'FAILS'}, "
              f"corrupted {'PASSES' if ok_corrupt else 'fails'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
