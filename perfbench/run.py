"""spark-beam benchmark: one run of every phase of the gateway's job.

    python3 perfbench/run.py --workload shared_topic --seed 1 --seconds 30 --trace 0

A run sets up (generated tables, gateway and webhook-endpoint processes,
Spark JVM, cold passes), then measures three phases and checks every
output:

1. webhook delivery: a multiplexed delivery stream drains a backlog,
   then an open-loop firehose arrives through the gateway;
2. produce/consume rounds: HTTP produce (async, then sync), poll, SSE
   drain, compaction and poll again, from the load-generator process;
3. history queries: warm passes over registry entries, noop sink, one
   before each produce/consume round.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (gateway launched through
``launcher.py``, Spark event log on). See README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from procs import HERE, PULSAR_URL, ROOT, LoadGen, RunDir, nproc, read_banner  # noqa: E402

sys.path.insert(0, ROOT)

WORKLOADS = {
    # every producer connection on one topic (a deep directory); 4 hook
    # topics x 9 webhooks (each message fans out 9 ways)
    "shared_topic": {"produce_topics": 1, "hooks_per_topic": 9, "drain_deliveries": 540,
                     "offered_per_s": 90},
    # one topic per connection (shallow directories); 12 hook topics x 3
    # webhooks (3x the files per delivery, so each drain is smaller)
    "topic_per_conn": {"produce_topics": None, "hooks_per_topic": 3, "drain_deliveries": 360,
                       "offered_per_s": 36},
}
BASE_SECONDS = 30.0  # work sizes are written for a 30 s measurement
ROUNDS = 3  # produce/consume rounds, each after a warm query pass
DEADLINE_S = 170  # a run that is not done by then stops and fails
# end-to-end figures too unsteady between runs to bound; reported with the
# per-layer metrics of a traced run instead (README, "Spread")
UNBOUNDED = ("produce_async_p99_ms", "produce_sync_p99_ms", "delivery_p99_ms",
             "drain_deliveries_per_s")


class Ctx:
    """Everything one run shares between its phases."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.conns = nproc()
        self.workload = dict(WORKLOADS[args.workload], name=args.workload)
        if self.workload["produce_topics"] is None:
            self.workload["produce_topics"] = self.conns
        self.scale = args.seconds / BASE_SECONDS
        self.rd = RunDir(f"{args.workload}-{args.seed}")
        self.topics_root = self.rd.sub("topics")
        self.sf_dir = self.rd.sub("tables")
        self.spark = None

    def scaled(self, n: int) -> int:
        return max(1, int(round(n * self.scale)))


def isolate_environment(ctx: Ctx) -> None:
    """Keep every temporary, Spark-local and JVM file inside the run dir,
    and size Spark to this machine."""
    tmp = ctx.rd.sub("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.conns)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = ctx.rd.sub("spark-local")
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
              "--conf", f"spark.sql.warehouse.dir={ctx.rd.sub('warehouse')}",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if ctx.trace:
        submit += ["--conf", "spark.eventLog.enabled=true", "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir={ctx.rd.sub('eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def make_token(ctx: Ctx) -> str:
    """An RSA key pair for the gateway and an RS256 token signed apart
    from the program."""
    import base64

    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding, rsa

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    ctx.public_pem = os.path.join(ctx.rd.path, "jwt.pub")
    with open(ctx.public_pem, "wb") as f:
        f.write(key.public_key().public_bytes(
            serialization.Encoding.PEM, serialization.PublicFormat.SubjectPublicKeyInfo))

    def b64(b: bytes) -> str:
        return base64.urlsafe_b64encode(b).rstrip(b"=").decode()

    signing = (b64(b'{"alg":"RS256","typ":"JWT"}') + "." + b64(b'{"sub":"bench"}')).encode()
    return signing.decode() + "." + b64(key.sign(signing, padding.PKCS1v15(), hashes.SHA256()))


def start_servers(ctx: Ctx) -> None:
    from pulsar_beam_spark.server.config import FIELDS

    for k in list(FIELDS) + ["PULSAR_BEAM_CONFIG"]:
        os.environ.pop(k, None)  # the gateway reads its config from env
    args = ["--mode", "hybrid", "--port", "0", "--topics-dir", ctx.topics_root,
            "--allowed-cluster", PULSAR_URL, "--public-key", ctx.public_pem]
    ctx.gateway_trace = os.path.join(ctx.rd.path, "gateway-spans.json")
    argv = ([sys.executable, os.path.join(HERE, "launcher.py"), ctx.gateway_trace, "--"] + args
            if ctx.trace else [sys.executable, "-m", "pulsar_beam_spark.server"] + args)
    ctx.gateway = ctx.rd.spawn(argv, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    ctx.endpoint = ctx.rd.spawn([sys.executable, os.path.join(HERE, "endpoint.py"),
                                 "persistent://hook/ns/replies"],
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)


def await_servers(ctx: Ctx) -> None:
    line = read_banner(ctx.gateway, "gateway [")
    ctx.gateway_port = int(line.rsplit(":", 1)[1])
    ctx.endpoint_port = int(read_banner(ctx.endpoint, "endpoint on").split()[-1])


def start_spark(ctx: Ctx) -> None:
    from pulsar_beam_spark.session import get_spark

    ctx.spark = get_spark("perfbench")
    jvm = ctx.spark.sparkContext._gateway.proc

    def stop():
        if jvm.poll() is not None:
            return
        ctx.spark.stop()  # also finishes the event log
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    ctx.stop_spark = stop
    ctx.rd.on_close(stop)


def gateway_spans(ctx: Ctx) -> list:
    """Stop the traced gateway (it writes its spans on SIGTERM) and load them."""
    from procs import stop_process

    stop_process(ctx.gateway)
    with open(ctx.gateway_trace) as f:
        return json.load(f)


def log(msg: str) -> None:
    print(f"[{time.monotonic() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def run(ctx: Ctx) -> dict:
    import datagen
    import phase_produce
    from phase_queries import Queries
    from phase_webhook import Webhooks

    isolate_environment(ctx)
    ctx.token = make_token(ctx)
    start_servers(ctx)
    ctx.loadgen = LoadGen(ctx.rd)
    with ThreadPoolExecutor(2) as pool:
        tables = pool.submit(datagen.generate, ctx.sf_dir, ctx.args.seed)
        start_spark(ctx)
        tables.result()
        log("tables generated, spark started")
        await_servers(ctx)
        ctx.loadgen.wait_ready()
        queries = Queries(ctx)
        hooks = Webhooks(ctx)
        # the stream's cold pass overlaps the queries' (set-up only)
        warm = pool.submit(hooks.start)
        queries.cold_pass()
        warm.result()
    log("cold passes done")
    setup_s = time.monotonic() - T_START

    hook_rec = hooks.run("0")
    hooks.stop()  # an idle stream still lists its topics every few ms
    log("webhook delivery done")
    # warm query passes and produce rounds alternate, so a slow spell on
    # the host lands in one round or pass rather than in a whole phase
    produce = []
    for i in range(ROUNDS):
        queries.warm_pass(i)
        log(f"query pass {i} done")
        produce.append(phase_produce.run(ctx, str(i)))
        log(f"produce round {i} done")
    posts = hooks.dump()
    errs = [e for r in produce for e in phase_produce.check(r)] + hooks.check(posts)
    errs += queries.check()
    known = hooks.progress_errors()
    log("checks done")
    metrics = {"setup_s": setup_s}
    metrics.update(phase_produce.metrics(produce))
    metrics.update(hooks.metrics(hook_rec, posts))
    metrics.update(queries.metrics())
    attempted = sum(len(r[k]["samples"]) for r in produce
                    for k in ("async", "sync", "poll", "poll_compacted"))
    attempted += sum(len(r["sse"]) for r in produce) + len(posts)
    # each entry runs in the cold pass, its untimed repeat and every warm pass
    attempted += len(queries.entries) * (ROUNDS + 2) + 1  # +1: the stream's row accounting
    result = {"correct": not errs, "attempted": attempted, "failed": len(known[:1]) + len(errs),
              "metrics": metrics, "errors": errs, "known_failures": known,
              "rounds": [phase_produce.metrics([r]) for r in produce],
              "query_passes": queries.timings}
    if ctx.trace:
        layers = phase_produce.layers(produce, gateway_spans(ctx))
        layers.update(hooks.layers(posts, [hook_rec]))
        eventlog = os.path.join(ctx.rd.path, "eventlog")
        ctx.stop_spark()
        q_layers, per_entry = queries.layers(eventlog)
        layers.update(q_layers)
        layers.update({k: metrics.pop(k) for k in UNBOUNDED})
        result["layers"], result["per_entry"] = layers, per_entry
    else:
        for k in UNBOUNDED:
            metrics.pop(k)
    return result


def declared() -> dict:
    """BENCHMARK.json: the metric names and units this run must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-beam benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BASE_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    import pulsar_beam_spark  # noqa: F401  (fail fast outside a checkout)

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def deadline(*_):
        raise TimeoutError(f"run not finished after {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    ctx = Ctx(args)
    try:
        result = run(ctx)
    finally:
        ctx.rd.close()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump(result, f, indent=1, default=str)
    for e in result["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    for e in result["known_failures"]:
        print(f"known failure (counted in failed): {e}", file=sys.stderr)
    values = result["layers"] if args.trace else result["metrics"]
    wanted = declared()["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        print("traced end-to-end: " + json.dumps(result["metrics"]))
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
