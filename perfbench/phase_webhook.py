"""Webhook phase: a config fleet above the reconciler's multiplex
threshold, served by one ``deliver_multiplexed_stream`` over the hook
topics, posting to the loopback endpoint, whose replies land in the reply
table. A fixed pre-written backlog is drained first, then an open-loop
firehose arrives through the gateway at a fixed rate."""

from __future__ import annotations

import datetime
import glob
import json
import os
import time
from collections import Counter

import checks
from procs import PULSAR_URL, get_json, mean, pct

FLEET = 36  # configs; the reconciler multiplexes above 32
OPEN_LOOP_S = 6.0


class Webhooks:
    def __init__(self, ctx):
        from pulsar_beam_spark.server.store import TopicDirStore

        self.ctx = ctx
        w = ctx.workload
        self.hooks_per_topic = w["hooks_per_topic"]
        self.topics = [f"persistent://hook/ns/h{i}" for i in range(FLEET // self.hooks_per_topic)]
        self.hooks = {t: [f"/hook/{i}/{j}" for j in range(self.hooks_per_topic)]
                      for i, t in enumerate(self.topics)}
        self.store = TopicDirStore(ctx.topics_root, flush_interval_s=None)
        self.endpoint = f"http://127.0.0.1:{ctx.endpoint_port}"
        self.replies = ctx.rd.sub("replies")
        self.ckpt = os.path.join(ctx.rd.path, "ckpt")
        self.query = None
        self.progress: list = []
        self._rows = None
        self.marks: dict = {}
        self.n_written = 0

    # -- set-up ----------------------------------------------------------

    def start(self) -> None:
        from pulsar_beam_spark.model.config_store import InMemoryConfigStore, snapshot_df
        from pulsar_beam_spark.model.message import MESSAGE_SCHEMA
        from pulsar_beam_spark.model.topic import Webhook
        from pulsar_beam_spark.streaming.delivery import deliver_multiplexed_stream
        from pulsar_beam_spark.streaming.reconciler import desired_deliveries

        spark = self.ctx.spark
        cfg = InMemoryConfigStore()
        for t in self.topics:
            self.store.topic_dir(t)
            cfg.update(t, PULSAR_URL, [
                Webhook(url=self.endpoint + h, subscription=f"sub{h.replace('/', '-')}",
                        initial_position="earliest") for h in self.hooks[t]])
        configs = desired_deliveries(snapshot_df(spark, cfg))
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(
            os.path.join(self.ctx.topics_root, "persistent__hook__*"))
        self.query = deliver_multiplexed_stream(
            stream, configs, self.ckpt, reply_table_dir=self.replies, query_name="perfbench-mux")
        self.ctx.rd.on_close(self.stop)
        # cold pass: Python workers, codegen, first connections
        self.drain(2 * len(self.topics), "warm")

    def stop(self) -> None:
        """Keep the progress reports, then stop the query (idempotent)."""
        if self.query is not None:
            self.progress = self.query.recentProgress
            self.query.stop()
            self.query = None

    # -- measured work -----------------------------------------------------

    def write_backlog(self, n_msgs: int, tag: str) -> None:
        for i in range(n_msgs):
            self.store.append(self.topics[i % len(self.topics)],
                              json.dumps({"m": f"{tag}-{i}"}).encode(), asynchronous=True)
        self.store.flush()  # one file per topic, all visible at once
        self.n_written += n_msgs

    def drain(self, n_msgs: int, tag: str) -> float:
        """Seconds to deliver a backlog written while the stream idles."""
        self.write_backlog(n_msgs, tag)
        t0 = time.monotonic()
        self.query.processAllAvailable()
        self.marks[tag] = (t0, time.monotonic())
        return self.marks[tag][1] - t0

    def open_loop(self, tag: str) -> dict:
        rate = self.ctx.workload["offered_per_s"] / self.hooks_per_topic
        n = int(round(rate * OPEN_LOOP_S * self.ctx.scale))
        spec = {"mode": "firehose", "port": self.ctx.gateway_port,
                "token": self.ctx.token, "pulsar_url": PULSAR_URL, "tag": tag,
                "topics": [t.replace("persistent://", "persistent/") for t in self.topics],
                "rate": rate, "n": n, "conns": self.ctx.conns}
        t0 = time.monotonic()
        rec = self.ctx.loadgen.call(spec)
        self.n_written += n
        want = self.n_written * self.hooks_per_topic
        deadline = time.monotonic() + 60
        while get_json(self.endpoint + "/stats")["posts"] < want:
            if time.monotonic() > deadline:
                raise RuntimeError("open-loop deliveries did not all arrive")
            time.sleep(0.05)
        self.query.processAllAvailable()
        self.marks[tag] = (t0, time.monotonic())
        rec["n"] = n
        return rec

    def run(self, tag: str) -> dict:
        before = get_json(self.endpoint + "/stats")
        n = int(round(self.ctx.workload["drain_deliveries"] * self.ctx.scale / self.hooks_per_topic))
        drain_s = self.drain(n, f"drain{tag}")
        rec = self.open_loop(f"open{tag}")
        rec["drain_deliveries_per_s"] = n * self.hooks_per_topic / drain_s
        rec["stats_before"], rec["stats_after"] = before, get_json(self.endpoint + "/stats")
        rec["tag"] = tag
        return rec

    # -- results ---------------------------------------------------------

    def dump(self) -> list:
        return get_json(self.endpoint + "/dump")["posts"]

    def metrics(self, rec: dict, posts: list) -> dict:
        lat = [(t - json.loads(body)["due"]) * 1000 for _, _, t, body in posts
               if body.startswith('{"m": "open' + rec["tag"] + "-")]
        if len(lat) != rec["n"] * self.hooks_per_topic:
            raise RuntimeError(f"{len(lat)} open-loop deliveries recorded, "
                               f"want {rec['n'] * self.hooks_per_topic}")
        return {"drain_deliveries_per_s": rec["drain_deliveries_per_s"],
                "delivery_p50_ms": pct(lat, 50), "delivery_p99_ms": pct(lat, 99)}

    def topic_rows(self) -> dict[str, list[tuple]]:
        """(message_id, payload, event_time, file, mtime) per hook topic, read
        from the files once the stream has stopped."""
        import pyarrow.parquet as pq

        if self._rows is not None:
            return self._rows
        out = {}
        for t in self.topics:
            d = self.store.topic_dir(t)
            rows = []
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    tb = pq.read_table(os.path.join(d, f), columns=["message_id", "payload", "event_time"])
                    mtime = os.stat(os.path.join(d, f)).st_mtime
                    rows += [(m, p.decode(), e, f, mtime) for m, p, e in
                             zip(*(c.to_pylist() for c in tb.columns))]
            out[t] = rows
        self._rows = out
        return out

    def check(self, posts: list) -> list[str]:
        import pyarrow.dataset as ds

        rows = self.topic_rows()
        errs = checks.check_delivery([(m, path) for path, m, _, _ in posts],
                                     {t: [r[0] for r in rs] for t, rs in rows.items()}, self.hooks)
        reply = ds.dataset(self.replies, format="parquet").to_table(columns=["message_id", "payload"])
        errs += checks.check_replies(
            [(m, p.decode()) for m, p in zip(*(c.to_pylist() for c in reply.columns))],
            [body for _, _, _, body in posts])
        return errs

    def progress_errors(self) -> list[str]:
        """The stream's own row accounting against the topic files. Kept
        apart from ``check``: it fails on every run of the current program
        (see README, known failure), so it is counted in ``failed``."""
        return checks.check_progress(sum(p["numInputRows"] for p in self.progress),
                                     sum(len(rs) for rs in self.topic_rows().values()))

    def layers(self, posts: list, recs: list[dict]) -> dict:
        """Stream and webhook per-layer figures over the measured phases."""
        t0 = min(self.marks[k][0] for k in self.marks if not k.startswith("warm"))
        first_batch = min(p["batchId"] for p in self.progress
                          if _mono(p["timestamp"]) >= t0 - 0.05)
        prog = [p for p in self.progress
                if p["batchId"] >= first_batch and p["numInputRows"] > 0]
        dur = {k: mean([p["durationMs"].get(k, 0) for p in prog]) for k in
               ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")}
        batch_start = {p["batchId"]: _epoch(p["timestamp"]) for p in prog}
        file_batch = self.file_batches()
        batch_rows = Counter(file_batch[(t, r[3])] for t, rs in self.topic_rows().items() for r in rs)
        opened = [(t, r) for t, rs in self.topic_rows().items() for r in rs
                  if r[1].startswith('{"m": "open')]
        waits = [(batch_start[file_batch[key]] - mtime) * 1000
                 for key, mtime in {((t, r[3]), r[4]) for t, r in opened}]
        flush = [(r[4] - (r[2] - datetime.datetime(1970, 1, 1)).total_seconds()) * 1000
                 for _, r in opened]
        measured = [p for p in posts if not p[3].startswith('{"m": "warm')]
        posts_n = sum(r["stats_after"]["posts"] - r["stats_before"]["posts"] for r in recs)
        # the benchmark's own GETs to the endpoint each open a connection too
        conns = sum(r["stats_after"]["connections"] - r["stats_before"]["connections"]
                    - (r["stats_after"]["gets"] - r["stats_before"]["gets"]) for r in recs)
        seen: dict = {}
        for path, m, _, _ in measured:
            seen[(path, m)] = seen.get((path, m), 0) + 1
        import pyarrow.dataset as ds

        reply_files = [f for f in os.listdir(self.replies) if f.endswith(".parquet")]
        return {
            "stream.batches": len(prog),
            "stream.rows_per_batch": mean([batch_rows[b] for b in batch_start]),
            "stream.scanned_rows_per_batch": mean([p["numInputRows"] for p in prog]),
            "stream.latest_offset_ms": dur["latestOffset"],
            "stream.get_batch_ms": dur["getBatch"],
            "stream.query_planning_ms": dur["queryPlanning"],
            "stream.add_batch_ms": dur["addBatch"],
            "stream.wal_commit_ms": dur["walCommit"],
            "stream.commit_offsets_ms": dur["commitOffsets"],
            "stream.trigger_wait_ms": mean(waits),
            "store.flush_wait_ms": mean(flush),
            "webhook.posts": posts_n,
            "webhook.connections": conns,
            "webhook.connections_per_post": conns / posts_n,
            "webhook.duplicates": sum(n - 1 for n in seen.values()),
            "reply.files": len(reply_files),
            "reply.rows": sum(not p.startswith(b'ack:{"m": "warm') for p in ds.dataset(
                self.replies, format="parquet").to_table(columns=["payload"]).column(0).to_pylist()),
        }

    def file_batches(self) -> dict[tuple[str, str], int]:
        """(topic, file) -> the batch that read it, from the checkpoint's
        source log. Spark writes one log file per batch, except every tenth
        batch, whose entries are only in ``N.compact`` together with those
        of the batches before it; each file starts with a ``v1`` line."""
        topic_of = {os.path.basename(self.store.topic_dir(t)): t for t in self.topics}
        out = {}
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if os.path.basename(f).removesuffix(".compact").isdigit():
                for line in open(f).read().splitlines()[1:]:
                    e = json.loads(line)
                    d, name = e["path"].rsplit("/", 2)[-2:]
                    out[(topic_of[d], name)] = e["batchId"]
        missing = [(t, r[3]) for t, rs in self.topic_rows().items() for r in rs
                   if (t, r[3]) not in out]
        if missing:
            raise RuntimeError(f"{len(missing)} hook-topic rows in files no batch read, "
                               f"e.g. {missing[0]}")
        return out


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _mono(ts: str) -> float:
    """A progress timestamp (wall clock) on the monotonic clock."""
    return _epoch(ts) - time.time() + time.monotonic()
