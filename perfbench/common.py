"""Shared pieces of the benchmark: statistics, a minimal asyncio HTTP/1.1
client, the open-loop scheduler, process handling and RSS sampling.
Nothing here imports the system under test."""

from __future__ import annotations

import asyncio
import json
import math
import os
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# env vars the gateway's config layer reads (server/config.py FIELDS);
# scrubbed from child environments so a caller's shell cannot reconfigure
# the system under test
_GATEWAY_ENV = ("PORT", "CLUSTER", "LogLevel", "DbName", "DbPassword",
                "DbConnectionStr", "PbDbType", "PulsarPublicKey",
                "PulsarPrivateKey", "SuperRoles", "PulsarBrokerURL",
                "PulsarTLSAllowInsecureConnection", "PulsarTLSValidateHostname",
                "PbDbInterval", "TrustStore", "CertFile", "KeyFile",
                "PulsarClusters", "HTTPAuthImpl", "PULSAR_BEAM_CONFIG")


# -- statistics ---------------------------------------------------------


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return float(s[k])


def median(values) -> float:
    return pct(values, 50)


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def tail_q(n: int, wanted: float) -> float:
    """The highest of ``wanted``, 90, 75 and 50 that leaves at least ten
    samples beyond it."""
    for q in (wanted, 90.0, 75.0, 50.0):
        if n * (1 - q / 100.0) >= 10:
            return q
    return 50.0


def slope_per_s(samples: list[tuple[float, float]]) -> float:
    """Least-squares slope of (t, value) samples, in value units per second."""
    if len(samples) < 3:
        return 0.0
    n = len(samples)
    mt = sum(t for t, _ in samples) / n
    mv = sum(v for _, v in samples) / n
    den = sum((t - mt) ** 2 for t, _ in samples)
    if den == 0:
        return 0.0
    return sum((t - mt) * (v - mv) for t, v in samples) / den


# -- HTTP/1.1 over asyncio streams ----------------------------------------


class HttpConn:
    """One keep-alive client connection. Responses must carry
    Content-Length (the gateway always sends it on non-streaming routes)."""

    def __init__(self, host: str, port: int):
        self.host, self.port = host, port
        self.reader = self.writer = None

    async def _ensure(self) -> None:
        if self.writer is None:
            self.reader, self.writer = await asyncio.open_connection(self.host, self.port)

    async def request(self, method: str, path: str, headers: dict,
                      body: bytes = b"") -> tuple[int, dict, bytes]:
        await self._ensure()
        head = [f"{method} {path} HTTP/1.1", f"Host: {self.host}:{self.port}",
                f"Content-Length: {len(body)}"]
        head += [f"{k}: {v}" for k, v in headers.items()]
        self.writer.write(("\r\n".join(head) + "\r\n\r\n").encode() + body)
        try:
            status, rh = await read_head(self.reader)
            n = int(rh.get("content-length", "0"))
            data = await self.reader.readexactly(n) if n else b""
        except (asyncio.IncompleteReadError, ConnectionError):
            self.close()
            raise
        if rh.get("connection", "").lower() == "close":
            self.close()
        return status, rh, data

    def close(self) -> None:
        if self.writer is not None:
            self.writer.close()
        self.reader = self.writer = None


async def read_head(reader) -> tuple[int, dict]:
    """Read a status/request line and headers; returns (status or 0, headers)."""
    line = await reader.readline()
    if not line:
        raise asyncio.IncompleteReadError(b"", None)
    parts = line.decode("latin-1").split(" ", 2)
    status = int(parts[1]) if parts[0].startswith("HTTP/") else 0
    headers: dict[str, str] = {"_line": line.decode("latin-1").strip()}
    while True:
        h = await reader.readline()
        if h in (b"\r\n", b"\n", b""):
            break
        k, _, v = h.decode("latin-1").partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers


# -- open-loop load ----------------------------------------------------------


class OpenLoop:
    """Send ``make(i)`` requests at a fixed rate over ``conns`` keep-alive
    connections, independent of how fast the server answers.

    Each request is timed from its DUE time, so a stall is charged to every
    request that queued behind it. ``late`` records how far behind schedule
    the scheduler itself woke (generator lateness, a validity check), and
    ``backlog`` samples due-but-unsent requests every 0.25 s. ``make(i,
    due)`` builds request ``i``."""

    def __init__(self, host: str, port: int, conns: int):
        self.host, self.port, self.conns = host, port, conns
        self.results: list[dict] = []
        self.late: list[float] = []
        self.backlog: list[tuple[float, float]] = []

    async def run(self, rate: float, seconds: float, make, on_done=None) -> list[dict]:
        q: asyncio.Queue = asyncio.Queue()
        out: list[dict] = []
        n = max(1, int(rate * seconds))
        t0 = time.perf_counter() + 0.01

        async def sched():
            next_sample = t0
            for i in range(n):
                due = t0 + i / rate
                delay = due - time.perf_counter()
                if delay > 0:
                    await asyncio.sleep(delay)
                now = time.perf_counter()
                self.late.append(max(0.0, now - due))
                if now >= next_sample:
                    self.backlog.append((now - t0, float(q.qsize())))
                    next_sample += 0.25
                q.put_nowait((i, due))
            for _ in range(self.conns):
                q.put_nowait(None)

        async def worker():
            conn = HttpConn(self.host, self.port)
            try:
                while True:
                    item = await q.get()
                    if item is None:
                        return
                    i, due = item
                    method, path, headers, body, meta = make(i, due)
                    sent = time.perf_counter()
                    try:
                        status, _, data = await conn.request(method, path, headers, body)
                    except (OSError, asyncio.IncompleteReadError):
                        status, data = 599, b""
                    done = time.perf_counter()
                    rec = {"i": i, "due": due, "sent": sent, "done": done,
                           "status": status, **meta}
                    out.append(rec)
                    if on_done is not None:
                        on_done(rec, data)
            finally:
                conn.close()

        await asyncio.gather(sched(), *(worker() for _ in range(self.conns)))
        self.results.extend(out)
        return out


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot = sum(w)
    return [x / tot for x in w]


# -- processes ---------------------------------------------------------------


def child_env(run_dir: str, extra: dict | None = None) -> dict:
    """Environment for every process under test: repo importable,
    parallelism pinned to the host's cores, temp files inside the run dir."""
    env = {k: v for k, v in os.environ.items() if k not in _GATEWAY_ENV}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": str(ncpus()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONUNBUFFERED": "1",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    if extra:
        env.update(extra)
    return env


def ncpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Proc:
    """A child process in its own process group, stopped (group-wide) on
    ``stop()``."""

    def __init__(self, argv: list[str], env: dict, cwd: str, log_path: str | None = None,
                 stdout=None):
        self.log = open(log_path, "wb") if log_path else subprocess.DEVNULL
        self.p = subprocess.Popen(argv, env=env, cwd=cwd, stdout=stdout or self.log,
                                  stderr=self.log, start_new_session=True)
        self.pid = self.p.pid

    def alive(self) -> bool:
        return self.p.poll() is None

    def stop(self, timeout: float = 30.0) -> int:
        if self.p.poll() is None:
            try:
                os.killpg(self.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                self.p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                pass
        # the group may hold grandchildren (Spark JVM, Python workers)
        for s in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.pid, s)
            except ProcessLookupError:
                break
            time.sleep(0.3)
        if self.p.poll() is None:
            self.p.wait(timeout=10)
        if self.log is not subprocess.DEVNULL:
            self.log.close()
        return self.p.returncode


def start_gateway(run_dir: str, args: list[str], spans: str | None) -> tuple[Proc, int]:
    """Launch the gateway (the launcher module when tracing); returns
    (proc, bound port)."""
    if spans:
        argv = [sys.executable, "-m", "perfbench.gateway_main", "--spans", spans, "--"] + args
    else:
        argv = [sys.executable, "-m", "pulsar_beam_spark.server"] + args
    proc = Proc(argv + ["--port", "0"], child_env(run_dir), run_dir,
                stdout=subprocess.PIPE)
    line = proc.p.stdout.readline().decode()
    if " on http://" not in line:
        proc.stop()
        raise RuntimeError(f"gateway did not start: {line!r}")
    port = int(line.rsplit(":", 1)[1].strip())
    threading.Thread(target=_drain, args=(proc.p.stdout,), daemon=True).start()
    return proc, port


def _drain(f) -> None:
    for _ in iter(lambda: f.read(65536), b""):
        pass


# -- memory ------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pids: list[int]) -> list[int]:
    kids = _children()
    todo, seen = list(pids), []
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo.extend(kids.get(p, ()))
    return seen


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


class RssSampler:
    """Samples the summed RSS of a set of process trees every 0.5 s; the
    tree itself (a /proc walk) is refreshed every 2 s. ``stop()`` returns
    the median of the samples taken in a window (the measured part of a
    run: set-up ramps and shutdown drains would move the median with
    their share of the run) and the peak of all samples."""

    def __init__(self):
        self.pids: list[int] = []
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MB)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, name="rss", daemon=True)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def _loop(self) -> None:
        tree: list[int] = []
        n = 0
        while not self._stop.wait(0.5):
            if n % 4 == 0:
                tree = _descendants(list(self.pids))
            n += 1
            if tree:
                self.samples.append((time.perf_counter(), _rss_mb(tree)))

    def stop(self, since: float = 0.0, until: float = math.inf) -> dict:
        self._stop.set()
        self._t.join(timeout=5)
        window = [mb for t, mb in self.samples if since <= t <= until]
        return {"rss_mb": median(window or [mb for _, mb in self.samples]),
                "peak_rss_mb": max((mb for _, mb in self.samples), default=0.0)}


def write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)
