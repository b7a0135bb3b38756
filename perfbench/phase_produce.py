"""Gateway and store phase: HTTP produce, poll, SSE and compaction, driven
by the load-generator process against the gateway process. No Spark.
Counts in the per-layer figures are per round."""

from __future__ import annotations

import checks
from procs import PULSAR_URL, mean, median, pct


def run(ctx, tag: str) -> dict:
    """One round over fresh topics; returns the load generator's record."""
    names = [f"t{tag}x{i}" for i in range(ctx.workload["produce_topics"])]
    spec = {
        "mode": "produce_consume", "port": ctx.gateway_port,
        "token": ctx.token, "pulsar_url": PULSAR_URL, "tag": tag,
        "topics": [f"persistent/bench/ns/{n}" for n in names],
        "topic_fns": [f"persistent://bench/ns/{n}" for n in names],
        "topics_root": ctx.topics_root, "conns": ctx.conns,
        "n_async": ctx.scaled(800), "n_sync": ctx.scaled(250),
        "batch_size": 10, "polls_per_topic": max(2, 4 // len(names)),
        "sse_passes": 3,
    }
    rec = ctx.loadgen.call(spec)
    rec["spec"] = spec
    return rec


def metrics(recs: list[dict]) -> dict:
    """Produce throughputs: median over rounds. SSE: median over drains.
    Latencies: over every round's samples."""
    def lat_ms(step):
        return [s[1] * 1000 for r in recs for s in r[step]["samples"]]

    def rate(step):
        return median([len(r[step]["samples"]) / r[step]["wall_s"] for r in recs])

    return {
        "produce_async_msgs_per_s": rate("async"),
        "produce_async_p99_ms": pct(lat_ms("async"), 99),
        "produce_sync_msgs_per_s": rate("sync"),
        "produce_sync_p99_ms": pct(lat_ms("sync"), 99),
        "poll_p50_ms": median(lat_ms("poll")),
        "poll_compacted_p50_ms": median(lat_ms("poll_compacted")),
        "sse_drain_msgs_per_s": median([len(s["ids"]) / s["wall_s"] for r in recs for s in r["sse"]]),
    }


def check(rec: dict) -> list[str]:
    errs = []
    for step in ("async", "sync", "poll", "poll_compacted"):
        bad = [s[2] for s in rec[step]["samples"] if s[2] not in (200,)]
        if bad:
            errs.append(f"{step}: {len(bad)} requests failed, e.g. status {bad[0]}")
    acked = [s[0] for step in ("async", "sync") for s in rec[step]["samples"] if s[2] == 200]
    before = [r for rows in rec["files_before"] for r in rows]
    after = [r for rows in rec["files_after"] for r in rows]
    errs += checks.check_produce(acked, before)
    expected = dict(zip(rec["spec"]["topics"], rec["oracle_poll"]))
    errs += checks.check_poll([(s[0], s[2], s[3]) for s in rec["poll"]["samples"]], expected,
                              [(s[0], s[2], s[3]) for s in rec["poll_compacted"]["samples"]])
    errs += checks.check_compaction(before, after)
    for sse, rows in zip(rec["sse"], rec["files_before"] * rec["spec"]["sse_passes"]):
        errs += checks.check_sse(sse["ids"], rows)
    return errs


def layers(recs: list[dict], spans: list) -> dict:
    """Per-layer figures from the traced gateway's spans, cut by phase and
    pooled over rounds."""
    def within(name, phase, end_phase=None, tag=None):
        out = []
        for r in recs:
            t0, t1 = r["marks"][phase][0], r["marks"][end_phase or phase][1]
            out += [s for s in spans if s[0] == name and t0 <= s[1] <= t1
                    and (tag is None or s[3] == tag)]
        return out

    us = 1e6
    n = len(recs)
    dispatch = [s[2] for s in within("gateway.dispatch", "async", tag="POST v2/firehose async")]
    rtt = [s[1] for r in recs for s in r["async"]["samples"]]
    files = within("store.file", "async", "sync")
    return {
        "auth.verify_us": mean([s[2] for s in within("auth.verify", "async")]) * us,
        "gateway.dispatch_us": mean(dispatch) * us,
        "gateway.transport_us": (mean(rtt) - mean(dispatch)) * us,
        "store.append_us": mean([s[2] for s in within("store.append", "sync", tag="sync")]) * us,
        "store.flush_us": mean([s[2] for s in within("store.flush", "sync")]) * us,
        "store.flushes": len([s for s in within("store.flush", "async", "sync") if s[3]]) / n,
        "store.files_written": len(files) / n,
        "store.bytes_written": sum(s[3] for s in files) / n,
        "store.poll_us": mean([s[2] for s in within("store.poll", "poll")]) * us,
        "store.topic_files": mean([s[3] for s in within("store.poll", "poll")]),
        "store.poll_compacted_us": mean([s[2] for s in within("store.poll", "poll_compacted")]) * us,
        "store.scan_us": sum(s[2] for s in within("store.scan", "sse")) * us / n,
        "store.scan_rows": sum(s[3] for s in within("store.scan", "sse")) / n,
        "store.scan_idle_us": sum(s[2] for s in within("store.scan_idle", "sse")) * us / n,
    }
