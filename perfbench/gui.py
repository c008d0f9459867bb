"""The monitoring GUI's side of the etl_upsert workload: a control
history written through the public ``ControlStore`` calls in the order
the runner makes them, one viewer that reads the HTTP API the way the
run pages do, checking every answer against what the benchmark wrote,
and the spans of the traced run along the read path.

Answers are checked against a snapshot that tolerates the pipeline
runs landing concurrently: seeded history runs must read back exactly,
runs the benchmark started may or may not appear yet."""

from __future__ import annotations

import random
import threading

import gen
from harness import Ops, http_get, json_body

STEP_NAMES = ["Data Pull", "Extract", "Transform", "Migrate"]
# the monitoring pages besides the running run's detail
BROWSE = ["run_detail", "runs", "runs_filtered", "run_logs", "logs", "ui_run_detail"]
SPAN_OF = {"poll": "http.run_detail", "run_detail": "http.run_detail", "runs": "http.runs",
           "runs_filtered": "http.runs", "run_logs": "http.run_logs", "logs": "http.logs",
           "ui_run_detail": "http.ui_run_detail"}


def build_history(ctl, seed: int, runs: int) -> list[dict]:
    """Write ``runs`` finished runs (about one in six Failed) and return
    what was written, oldest first."""
    from automated_data_pipeline_spark.control import utcnow

    history = []
    for item in gen.history_plan(seed, runs):
        pipe = item["pipeline"]
        rid = ctl.start_run(pipeline_name=pipe)
        ctl.log(rid, "Info", "Pipeline started: batch", pipeline_name=pipe)
        logs, steps = 1, []
        for s in range(1, 5):
            name = STEP_NAMES[s - 1]
            ctl.update_step(rid, s, status="Running", started_at=utcnow())
            ctl.log(rid, "Info", f"Step started: {name}", pipeline_name=pipe,
                    step_number=s, step_name=name)
            logs += 1
            if item["fail_step"] == s:
                ctl.update_step(rid, s, status="Failed", finished_at=utcnow(),
                                error_message="generated failure")
                ctl.update_run(rid, status="Failed", finished_at=utcnow())
                ctl.log(rid, "Error", f"Pipeline failed at {name}", pipeline_name=pipe,
                        step_number=s, step_name=name)
                logs += 1
                steps += [("Failed", None)] + [("Pending", None)] * (4 - s)
                break
            n = item["rows"][s - 1]
            ctl.update_step(rid, s, status="Success", finished_at=utcnow(), rows_affected=n,
                            rows_processed=n, rows_total=n)
            ctl.log(rid, "Info", f"Step finished: {name} ({n} rows)", pipeline_name=pipe,
                    step_number=s, step_name=name)
            logs += 1
            steps.append(("Success", n))
        else:
            ctl.update_run(rid, status="Success", finished_at=utcnow())
            ctl.log(rid, "Info", "Pipeline finished", pipeline_name=pipe)
            logs += 1
        history.append({"run_id": rid, "pipeline": pipe, "status": item["status"],
                        "steps": steps, "logs": logs, "run_number": len(history) + 1})
    return history


class Viewer:
    """One GUI user. ``started`` is the live list of run ids the
    pipeline loop has started (appended by that loop)."""

    def __init__(self, port: int, history: list[dict], started: list[str]):
        self.port = port
        self.history = history
        self.by_id = {h["run_id"]: h for h in history}
        self.history_logs = sum(h["logs"] for h in history)
        self.started = started
        # the same picks for every seed: read latencies vary with the
        # seeded history, not with which pages a seed happens to request
        self.rng = random.Random("viewer")
        self.bad: list[str] = []
        self.samples: list[tuple[str, float, bool]] = []  # (kind, secs, traced)
        self._lock = threading.Lock()

    def request(self, kind: str, ops: Ops, running: str | None = None, traced: bool = False):
        h = self.history[self.rng.randrange(len(self.history))]
        rid = h["run_id"]
        if kind == "poll":
            path = f"/runs/{running}"
        elif kind == "run_detail":
            path = f"/runs/{rid}"
        elif kind == "runs":
            path = "/runs"
        elif kind == "runs_filtered":
            path = f"/runs?status={self.rng.choice(['Success', 'Failed'])}&pipeline={h['pipeline']}"
        elif kind == "run_logs":
            path = f"/runs/{rid}/logs"
        elif kind == "logs":
            path = f"/logs?limit={self.rng.choice([20, 50, 100, 200])}"
        else:
            path = f"/ui/runs/{rid}"
        known = set(self.started)
        status, body, secs = http_get(self.port, path, ops)
        if status == 200:
            known |= set(self.started)
            why = self._verify(kind, path, body, h, running, known)
            with self._lock:
                self.samples.append((kind, secs, traced))
                if why:
                    self.bad.append(f"{path}: {why}")
        return status, secs

    def _verify(self, kind, path, body, h, running, known) -> str | None:
        if kind == "ui_run_detail":
            page = body.decode("utf-8", "replace")
            return None if h["run_id"] in page and h["status"] in page else "page lacks run id/status"
        doc = json_body(body)
        if doc is None:
            return "not JSON"
        if kind == "poll":
            ok = doc.get("run_id") == running and len(doc.get("steps") or []) == 4
            return None if ok else "unexpected body for the running run"
        if kind == "run_detail":
            if doc.get("run_id") != h["run_id"] or doc.get("status") != h["status"]:
                return "run id/status differ"
            got = [(s.get("status"), s.get("rows_affected")) for s in doc.get("steps") or []]
            return None if got == h["steps"] else f"steps {got} != {h['steps']}"
        if kind in ("runs", "runs_filtered"):
            want = self.history
            if kind == "runs_filtered":
                q = dict(p.split("=") for p in path.split("?")[1].split("&"))
                want = [x for x in want if x["status"] == q["status"] and x["pipeline"] == q["pipeline"]]
                if any(r.get("status") != q["status"] or r.get("pipeline_name") != q["pipeline"]
                       for r in doc):
                    return "filter not applied"
            got = [r.get("run_id") for r in doc]
            if [g for g in got if g in self.by_id] != [x["run_id"] for x in reversed(want)]:
                return "seeded runs missing or not newest first"
            if any(g not in self.by_id and g not in known for g in got):
                return "unknown run id"
            stamps = [r.get("created_at") for r in doc]
            if stamps != sorted(stamps, reverse=True):
                return "not newest first"
            for r in doc:
                ref = self.by_id.get(r["run_id"])
                if ref and (r.get("status") != ref["status"] or r.get("run_number") != ref["run_number"]):
                    return f"run {r['run_id']} status/number differ"
            return None
        if kind == "run_logs":
            if len(doc) != h["logs"] or any(r.get("run_id") != h["run_id"] for r in doc):
                return f"{len(doc)} logs, expected {h['logs']}"
            stamps = [r.get("log_at") for r in doc]
            return None if stamps == sorted(stamps) else "logs not chronological"
        limit = int(path.rsplit("=", 1)[1])
        if len(doc) != limit and len(doc) < self.history_logs:
            return f"{len(doc)} logs for limit {limit}"
        stamps = [r.get("log_at") for r in doc]
        return None if stamps == sorted(stamps, reverse=True) else "logs not newest first"


def wrap_read_path(tracer) -> None:
    """Spans around the monitoring read path below the HTTP handler:
    the server's per-endpoint methods, the control views (listing plus
    the schema read over the event files), the run-number fallback
    probe, the collect + serialisation, and the HTML render."""
    from automated_data_pipeline_spark import api, control, http_api, web

    for fn in ("list_runs", "run_detail", "run_logs", "list_logs"):
        tracer.wrap(http_api.PipelineApiServer, fn, f"http_api.{fn}")
    for fn in ("runs", "steps", "logs"):
        tracer.wrap(control.ControlStore, fn, "control.view")
    tracer.wrap(api, "with_run_number_fallback", "api.with_run_number_fallback")
    tracer.wrap(http_api, "rows_to_jsonable", "http_api.rows_to_jsonable")
    tracer.wrap(web, "render_run_detail", "web.render")


def read_path_metrics(tracer) -> dict:
    return {
        "control.view_ms": tracer.median_ms("control.view"),
        "api.run_number_fallback_ms": tracer.median_ms("api.with_run_number_fallback"),
        "http_api.rows_to_jsonable_ms": tracer.median_ms("http_api.rows_to_jsonable"),
        "web.render_ms": tracer.median_ms("web.render"),
    }
