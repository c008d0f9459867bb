"""Process-level plumbing shared by the workloads: the work directory,
the Spark session's lifetime, HTTP client calls with failure
accounting, latency statistics and /proc readings."""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Ops:
    """Counts attempted and failed operations of one measured window.
    Every attempt counts, including exceptions, timeouts and refused
    connections, so a faster change that fails more cannot read as a
    gain."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # clients on several threads count into one Ops
        self._lock = threading.Lock()

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, why: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)


def http_get(port: int, path: str, ops: Ops, timeout: float = 60.0):
    """GET ``path`` from the local API. Returns (status, body bytes,
    seconds) and counts the attempt; anything but a 200 is a failure."""
    ops.attempt()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    t0 = time.perf_counter()
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        dt = time.perf_counter() - t0
        if resp.status != 200:
            ops.fail(f"GET {path} -> {resp.status}")
        return resp.status, body, dt
    except (OSError, http.client.HTTPException) as exc:
        ops.fail(f"GET {path} -> {type(exc).__name__}: {exc}")
        return None, b"", time.perf_counter() - t0
    finally:
        conn.close()


def json_body(body: bytes):
    try:
        return json.loads(body)
    except ValueError:
        return None


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples beyond
    it: (value, percentile, samples). With fewer than 11 samples the
    maximum is returned as the 100th percentile."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return float(xs[-1]), 100.0, n
    p = (n - 10) / n
    idx = min(n - 1, max(0, int(p * n) - 1))
    return float(xs[idx]), round(100 * p, 2), n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def count_files(path: str) -> int:
    return sum(len(files) for _r, _d, files in os.walk(path))


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class SparkProcess:
    """Starts the engine's Spark session with every scratch path inside
    ``work``, and stops it together with its JVM."""

    def __init__(self, work: str, root: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # every JVM spark-submit starts (its launcher too) keeps its
        # temp files and performance-data file out of /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        # python workers import the engine's UDFs by module path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        from automated_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # C1 only: under the tiered JIT a pipeline run keeps
                # getting faster for minutes (5.0 s -> 2.9 s over 15 runs
                # on 4 cores) while C2 compiles, longer than a run can
                # warm up; C1 code is flat after the warm-up
                "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
            },
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        gw = getattr(self.sc, "_gateway", None)
        self.jvm_proc = getattr(gw, "proc", None)

    def pids(self) -> list[int]:
        pids = [os.getpid()]
        if self.jvm_proc is not None:
            pids.append(self.jvm_proc.pid)
        return pids

    def job_ids(self, group=None) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def tasks_of(self, job_ids) -> int:
        tracker = self.sc.statusTracker()
        total = 0
        for jid in job_ids:
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    total += stage.numTasks
        return total

    def stop(self) -> None:
        try:
            self.spark.stop()
        finally:
            gw = getattr(self.sc, "_gateway", None)
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001 — the JVM is killed below
                    pass
            if self.jvm_proc is not None and self.jvm_proc.poll() is None:
                self.jvm_proc.terminate()
                try:
                    self.jvm_proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait(timeout=20)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def closed_loop(seconds: float, op, tracer=None, min_ops: int = 1) -> tuple[list, list]:
    """Call ``op(i)`` back to back until the operations' own time adds
    up to ``seconds`` (input generation between them is not counted)
    and at least ``min_ops`` have run. ``op`` returns a dict with at
    least ``secs``. With a tracer the operations alternate untraced /
    traced, so both halves see the same state growth; returns
    (untraced results, traced results)."""
    plain, traced = [], []
    busy, i = 0.0, 0
    need = max(min_ops, 1 if tracer is None else 2)
    while busy < seconds or len(plain) + len(traced) < need:
        on = tracer is not None and i % 2 == 1
        if tracer is not None:
            tracer.enabled = on
            tracer.set_op(i)
        res = op(i)
        (traced if on else plain).append(res)
        busy += res["secs"]
        i += 1
    if tracer is not None:
        tracer.enabled = False
    return plain, traced
