"""serve_http: one closed-loop client POSTing seeded fixture payloads to
`python -m ocr_spark.serve --http`, run as a subprocess.  Each request
opens a new connection (the server speaks HTTP/1.0) and its JSON reply
must equal in-process `serve_one` on the same payload."""

from __future__ import annotations

import gc
import json
import os
import socket
import subprocess
import sys
import time

from perfbench import inputs, kernel
from perfbench.common import (
    ROOT,
    log,
    median,
    percentile,
    vm_hwm_mb,
    work_dir,
)

SETUPS = 3
WARMUP_REQUESTS = 200
REQUEST_TIMEOUT_S = 10.0
START_TIMEOUT_S = 30.0


class Server:
    """The server subprocess, on every CPU but the client's."""

    def __init__(self, cpus: set[int]):
        self.log_path = os.path.join(work_dir("tmp"), f"serve-{os.getpid()}.log")
        env = dict(os.environ, PYTHONPATH=ROOT)
        with open(self.log_path, "w") as log_fh:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "ocr_spark.serve", "--http", "0"],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL, stderr=log_fh,
                preexec_fn=lambda: os.sched_setaffinity(0, cpus),
            )
        self.port = self._wait_port()

    def _wait_port(self) -> int:
        deadline = time.monotonic() + START_TIMEOUT_S
        while time.monotonic() < deadline:
            with open(self.log_path) as fh:
                line = fh.readline()
            if line.startswith("serving on") and line.endswith("\n"):
                return int(line.rsplit(":", 1)[1])
            if self.proc.poll() is not None:
                break
            time.sleep(0.005)
        self.stop()
        raise RuntimeError("server did not start")

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.proc.pid) or 0.0

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def post(port: int, body: bytes) -> bytes:
    """One request on a new connection; returns the reply body."""
    head = (
        "POST /api/extract HTTP/1.0\r\nHost: 127.0.0.1\r\n"
        f"Content-Type: text/plain\r\nContent-Length: {len(body)}\r\n\r\n"
    ).encode()
    with socket.create_connection(("127.0.0.1", port), timeout=REQUEST_TIMEOUT_S) as s:
        s.sendall(head + body)
        chunks = []
        while True:
            chunk = s.recv(65536)
            if not chunk:
                break
            chunks.append(chunk)
    reply = b"".join(chunks)
    status_line, _, rest = reply.partition(b"\r\n")
    if status_line.split()[1:2] != [b"200"]:
        raise RuntimeError(f"HTTP status {status_line!r}")
    return rest.partition(b"\r\n\r\n")[2]


def _expected(payloads: list[str]) -> list[dict]:
    from ocr_spark.serve import serve_one

    return [json.loads(json.dumps(serve_one(p))) for p in payloads]


class Client:
    def __init__(self, port: int, bodies: list[bytes], expected: list[dict]):
        self.port, self.bodies, self.expected = port, bodies, expected
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.next = 0

    def run(self, seconds: float = 0.0, count: int = 0, tracer=None) -> tuple[list[float], float]:
        """Send requests until `seconds` have passed or `count` were sent.
        Returns (latencies in s, wall seconds)."""
        lat: list[float] = []
        replies: list[tuple[int, bytes]] = []
        gc.disable()  # keep the client's collector pauses out of the latencies
        t_start = time.perf_counter()
        while (count and len(lat) < count) or (
            seconds and time.perf_counter() - t_start < seconds
        ):
            i = self.next % len(self.bodies)
            self.next += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    body = post(self.port, self.bodies[i])
                else:
                    with tracer.span("serve.request", payload=i):
                        body = post(self.port, self.bodies[i])
            except (OSError, RuntimeError) as exc:
                self.failed += 1
                self.problems.append(f"request {self.attempted}: {exc}")
                continue
            lat.append(time.perf_counter() - t0)
            replies.append((i, body))
        wall = time.perf_counter() - t_start
        gc.enable()
        for i, body in replies:
            try:
                got = json.loads(body)
            except ValueError:
                got = None
            if got != self.expected[i]:
                self.failed += 1
                if len(self.problems) < 20:
                    self.problems.append(f"payload {i}: reply differs from serve_one")
        return lat, wall


def _serve_one_times(payloads: list[str], count: int) -> list[float]:
    from ocr_spark.serve import serve_one

    times = []
    for j in range(count):
        p = payloads[j % len(payloads)]
        t0 = time.perf_counter()
        serve_one(p)
        times.append(time.perf_counter() - t0)
    return times


def run_serve(cfg: dict, seed: int, seconds: float, tracer, setup_tracer) -> dict:
    pdf = inputs.fixture_turns(cfg["n_convs"], seed)
    payloads = pdf["text"].tolist()
    bodies = [p.encode("utf-8") for p in payloads]
    expected = _expected(payloads)

    # the client keeps one CPU, the server gets the others
    all_cpus = os.sched_getaffinity(0)
    cpus = sorted(all_cpus)
    os.sched_setaffinity(0, {cpus[0]})
    setup_s = []
    server = None
    try:
        for attempt in range(SETUPS):
            if server is not None:
                server.stop()
            with setup_tracer.span("setup", attempt=attempt) as sp:
                server = Server(set(cpus[1:]))
                post(server.port, bodies[0])
            setup_s.append(sp["end"] - sp["start"])
        client = Client(server.port, bodies, expected)
        client.run(count=min(WARMUP_REQUESTS, 10 * len(bodies)))
        lat, wall = client.run(seconds=seconds, tracer=tracer)
        rss = server.peak_rss_mb()
    finally:
        if server is not None:
            server.stop()
        os.sched_setaffinity(0, all_cpus)
    res = {
        "sampler": client,
        "setup_s": setup_s,
        "unit": "request",
        "samples": len(lat),
        # request latency is made of wake-ups and system calls that the
        # CPU-bound host control does not track, so serve times stay raw
        "control_s": None,
        "notes": {
            "requests_per_s": len(lat) / wall,
            "latency_p99_ms": percentile(lat, 99) * 1000,
        },
        "e2e": {
            "turns_per_s": 1 / median(lat),
            "latency_p50_ms": median(lat) * 1000,
            "worker_peak_rss_mb": rss,
        },
    }
    if tracer is not None:
        with tracer.span("serve.serve_one"):
            one = _serve_one_times(payloads, len(lat))
        with tracer.span("extract.single_process"):
            k = kernel.profile(pdf)
        statuses = [e["status"] for e in expected]
        res["layers"] = {
            "serve.request_p99_ms": percentile(lat, 99) * 1000,
            "serve.serve_one_p50_ms": median(one) * 1000,
            "serve.serve_one_p99_ms": percentile(one, 99) * 1000,
            "serve.http_overhead_ms": (median(lat) - median(one)) * 1000,
            "trace.overhead_s": tracer.span_cost_s(),  # one span per request
            **kernel.as_metrics(k),
            **{f"extract.status_{s}": statuses.count(s) for s in ("ok", "empty", "error")},
        }
        log(
            f"serve: request p50 {median(lat) * 1000:.3f} ms, "
            f"serve_one p50 {median(one) * 1000:.3f} ms"
        )
    return res
