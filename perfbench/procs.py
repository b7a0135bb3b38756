"""Run directory, child processes and small statistics shared by the
benchmark's phases.

Every run owns one fresh directory under ``.perfbench_run/`` in the
checkout: topic, checkpoint, reply, Spark-local and temporary files all
live there, and ``RunDir.close`` removes it together with every process
the run started, on every exit path.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
PULSAR_URL = "pulsar://bench:6650"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """A fresh per-run directory plus the processes started for the run."""

    def __init__(self, tag: str):
        self.path = os.path.join(ROOT, ".perfbench_run", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.procs: list[subprocess.Popen] = []
        self._closers: list = []

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def spawn(self, argv: list[str], **kw) -> subprocess.Popen:
        env = dict(os.environ, PYTHONUNBUFFERED="1")
        p = subprocess.Popen(argv, cwd=ROOT, env=env, start_new_session=True, **kw)
        self.procs.append(p)
        return p

    def on_close(self, fn) -> None:
        self._closers.append(fn)

    def close(self) -> None:
        for fn in reversed(self._closers):
            try:
                fn()
            except Exception as e:  # keep tearing down the rest
                print(f"teardown: {type(e).__name__}: {e}", file=sys.stderr)
        for p in self.procs:
            stop_process(p)
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop_process(p: subprocess.Popen, grace_s: float = 10.0) -> None:
    """SIGTERM the child's process group, then SIGKILL it; always reaps."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            p.wait(grace_s)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(p.pid, signal.SIGKILL)  # stragglers left in the group
    except (ProcessLookupError, PermissionError):
        pass
    p.wait()
    for f in (p.stdin, p.stdout, p.stderr):
        if f is not None:
            f.close()


def read_banner(p: subprocess.Popen, marker: str, timeout_s: float = 60.0) -> str:
    """Read the child's stdout until a line containing ``marker``."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        line = p.stdout.readline()
        if not line:
            raise RuntimeError(f"child exited before printing {marker!r} (rc={p.poll()})")
        line = line.decode() if isinstance(line, bytes) else line
        if marker in line:
            return line.strip()
    raise RuntimeError(f"no {marker!r} within {timeout_s}s")


class LoadGen:
    """The load-generator process, started once per run; ``call`` runs one
    spec in it and returns the result."""

    def __init__(self, rd: RunDir):
        self.rd = rd
        self.proc = rd.spawn([sys.executable, os.path.join(HERE, "loadgen.py"), ROOT],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.n = 0

    def wait_ready(self) -> None:
        read_banner(self.proc, "ready")

    def call(self, spec: dict) -> dict:
        self.n += 1
        out = os.path.join(self.rd.path, f"loadgen-{self.n}.json")
        self.proc.stdin.write(json.dumps(dict(spec, out=out)) + "\n")
        self.proc.stdin.flush()
        read_banner(self.proc, "done", timeout_s=150)
        with open(out) as f:
            return json.load(f)


def get_json(url: str, timeout_s: float = 30.0):
    with urllib.request.urlopen(url, timeout=timeout_s) as r:
        return json.loads(r.read())


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def median(values) -> float:
    return float(statistics.median(values))


def mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0
