"""Start, watch and stop the server process over loopback HTTP."""

from __future__ import annotations

import http.client
import json
import os
import signal
import socket
import subprocess
import sys
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


DRIVER_MEMORY = "2g"


def program_env(workdir: Path) -> dict[str, str]:
    """Environment for every Spark-using process the benchmark starts:
    the checkout on PYTHONPATH, every scratch file inside the run
    directory, local[nproc] and a fixed driver heap."""
    tmp = workdir / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = str(ROOT)
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    env["SPARK_WAREHOUSE_DIR"] = str(workdir / "warehouse")
    env["PYTHONHASHSEED"] = "0"
    env.pop("OMP_NUM_THREADS", None)
    return env


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over the processes of their peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Server:
    """One ``lynx_spark.server`` process, started through the
    benchmark's launcher (which adds tracing when asked)."""

    def __init__(self, workdir: Path, args: list[str], trace_out: Path | None = None):
        self.port = free_port()
        self.trace_out = trace_out
        cmd = [sys.executable, str(HERE / "launcher.py")]
        if trace_out is not None:
            cmd += ["--trace-out", str(trace_out)]
        cmd += ["--", "--bind", f"127.0.0.1:{self.port}"] + args
        self.log = open(workdir / f"server-{self.port}.log", "wb")
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, env=program_env(workdir), stdout=self.log, stderr=subprocess.STDOUT,
            cwd=workdir, start_new_session=True,
        )

    def wait_ready(self, timeout: float = 170.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}; see {self.log.name}")
            try:
                c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=2)
                c.request("GET", "/health")
                if c.getresponse().status == 200:
                    c.close()
                    return
            except OSError:
                pass
            time.sleep(0.05)
        raise RuntimeError("server not ready in time")

    def rss_mb(self) -> float:
        return peak_rss_mb(tree(self.proc.pid))

    def post(self, path: str, body: dict, timeout: float = 120.0) -> tuple[int, bytes]:
        c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=timeout)
        try:
            c.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
            r = c.getresponse()
            return r.status, r.read()
        finally:
            c.close()

    def query(self, sql: str) -> list[dict]:
        status, data = self.post("/api/v1/query", {"namespace": gen.NAMESPACE, "query": sql, "format": "Json"})
        if status != 200:
            raise RuntimeError(f"query failed with {status}: {sql}")
        return json.loads(data)

    def start_window(self) -> None:
        """Tell a traced server that the timed window starts now."""
        if self.trace_out is not None:
            os.kill(self.proc.pid, signal.SIGUSR2)

    def collect_trace(self, timeout: float = 60.0) -> dict:
        """Have a traced server write its spans and return them."""
        os.kill(self.proc.pid, signal.SIGUSR1)
        deadline = time.monotonic() + timeout
        while not self.trace_out.exists():
            if time.monotonic() > deadline:
                raise RuntimeError("traced server wrote no spans")
            time.sleep(0.05)
        with open(self.trace_out) as f:
            return json.load(f)

    def kill(self) -> None:
        """SIGKILL the whole process group (Python and its JVM) and wait
        until every process of it has ended."""
        pids = tree(self.proc.pid)
        self._killpg(signal.SIGKILL)
        self._reap(pids)

    def stop(self) -> None:
        """SIGTERM, then SIGKILL whatever is left after a grace period;
        returns once every process of the group has ended."""
        pids = tree(self.proc.pid)
        self._killpg(signal.SIGTERM)
        try:
            self.proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            pass
        self._killpg(signal.SIGKILL)
        self._reap(pids)

    def _killpg(self, sig: int) -> None:
        try:
            os.killpg(self.proc.pid, sig)
        except ProcessLookupError:
            pass

    def _reap(self, pids: list[int]) -> None:
        self.proc.wait()
        wait_gone(pids)
        self.log.close()


def become_subreaper() -> None:
    """Adopt orphaned descendants (a server's JVM outlives the server
    process it belongs to) so that ``wait_gone`` can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _alive(pid: int) -> bool:
    """False once ``pid`` has fully exited. Reaps it if it is (by now)
    our child; a zombie leader whose other threads still run has not
    exited yet."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/status") as f:
            fields = dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return False
    return not (fields["State"].split()[0] == "Z" and int(fields["Threads"]) <= 1)


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Return once every process in ``pids`` has exited (or after
    ``timeout`` seconds)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.02)
