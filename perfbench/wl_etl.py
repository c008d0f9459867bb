"""etl_upsert: back-to-back ``PipelineRunner.run`` calls upserting
generated order batches into one warehouse whose control tables start
with a finished run history, while one GUI viewer polls
``GET /runs/{id}`` for the latest run with a 2 s think time. After the
runs the viewer, now alone, sweeps every monitoring page the GUI serves
in a closed loop: those reads carry no write noise, so their latency is
the read metric; the polls beside the runs are reported on their own."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext as _null
from decimal import Decimal, InvalidOperation

import gen
import gui
from harness import Ops, closed_loop, count_files, dir_bytes, fresh_dir, median

ROWS = 20_000  # rows per batch; consecutive batches share half their keys
HISTORY_RUNS = 20  # finished runs in the control tables before the first load
THINK_S = 2.0  # the viewer's think time (run-detail page refresh)
WARM_RUNS = 3
# at least three measured runs, so the median is never the mean of a
# CSV and a JSONL run, however slow the machine is
MIN_RUNS = 3


def _reference_row(row):
    """What Extract + Transform make of one generated row, or None when
    Extract drops it (blank key)."""
    key, cust, amount, date = row
    if not key.strip():
        return None
    try:
        amt = Decimal(amount.strip()).quantize(Decimal("0.01"))
    except InvalidOperation:
        amt = Decimal("0.00")
    try:
        day = dt.date.fromisoformat(date.strip())
    except ValueError:
        day = None
    cat = "Low" if amt < 50 else "Medium" if amt < 200 else "High"
    return key.strip(), (cust.strip() or "UNKNOWN", amt, day, cat)


class EtlUpsert:
    name = "etl_upsert"

    def __init__(self, sp, work: str, seed: int):
        self.sp, self.spark, self.work, self.seed = sp, sp.spark, work, seed
        self.server = None

    # -- set-up ------------------------------------------------------------
    def input_digest(self, seed: int) -> str:
        rows = gen.order_batch(seed, 0, ROWS)
        path = gen.write_order_batch(os.path.join(self.work, "digest-batch"), 0, rows)
        try:
            return gen.digest(rows, path, gen.history_plan(seed, HISTORY_RUNS))
        finally:
            os.remove(path)

    def setup(self, rep: int) -> str:
        from automated_data_pipeline_spark.control import ControlStore
        from automated_data_pipeline_spark.http_api import PipelineApiServer
        from automated_data_pipeline_spark.runner import PipelineRunner

        if self.server is not None:
            self.server.stop()
        self.dir = fresh_dir(os.path.join(self.work, f"etl-{rep}"))
        os.makedirs(os.path.join(self.dir, "in"))
        self.wh = os.path.join(self.dir, "wh")
        publishing = self

        class PublishingStore(ControlStore):
            """Tells the viewer which run is running once its rows exist."""

            def start_run(self, *args, **kwargs):
                run_id = super().start_run(*args, **kwargs)
                publishing.running = run_id
                return run_id

        store = PublishingStore(self.wh)
        self.history = gui.build_history(store, self.seed, HISTORY_RUNS)
        self.running = None
        self.started: list[str] = []
        self.runner = PipelineRunner(self.spark, self.wh, control=store)
        self.server = PipelineApiServer(self.spark, store).start()
        self.batches: list[tuple[str, list]] = []  # (run_id, rows) in apply order
        self.input_bytes = 0
        self.next_index = 0
        self.pending = self._make_batch()
        return gen.digest(self.pending[1], self.pending[2], gen.history_plan(self.seed, HISTORY_RUNS))

    def _make_batch(self):
        i = self.next_index
        self.next_index += 1
        rows = gen.order_batch(self.seed, i, ROWS)
        path = gen.write_order_batch(os.path.join(self.dir, "in", f"batch-{i:04d}"), i, rows)
        return i, rows, path

    def _run_pending(self, ops: Ops) -> dict:
        """Run the pending batch, then generate the next one (untimed)."""
        i, rows, path = self.pending
        run_id = str(uuid.uuid4())
        ops.attempt()
        self.input_bytes += os.path.getsize(path)
        self.batches.append((run_id, rows))
        self.started.append(run_id)
        t0 = time.perf_counter()
        try:
            self.runner.run(source_path=path, run_id=run_id)
        except Exception as exc:  # noqa: BLE001 — a failed run is counted, not fatal
            ops.fail(f"run {i}: {type(exc).__name__}: {exc}")
        secs = time.perf_counter() - t0
        self.pending = self._make_batch()
        return {"secs": secs, "rows": len(rows), "run_id": run_id}

    def warm(self) -> None:
        """The initial load (batch 0 into the empty target) and two
        upserts, with the viewer polling: run and request times keep
        falling over the first few runs while the JIT compiles."""
        with self._viewing(Ops()) as (viewer, _view):
            for _ in range(WARM_RUNS):
                self._run_pending(Ops())
        self.warm_viewer = viewer

    # -- measurement -----------------------------------------------------
    def instrument(self, tracer) -> None:
        from automated_data_pipeline_spark import control, runner
        from automated_data_pipeline_spark.operators import stages, upsert
        from automated_data_pipeline_spark.progress_monitor import StepProgressMonitor

        self.step_events: list[tuple] = []

        def note_step(args, kwargs):
            _store, run_id, step = args[:3]
            self.step_events.append((run_id, step, kwargs.get("status"), time.perf_counter()))

        tracer.wrap(runner.PipelineRunner, "run", "runner.run")
        tracer.wrap(runner, "read_orders_file", "sources.read_orders_file")
        for fn in ("pull", "extract", "transform", "migrate_updates"):
            tracer.wrap(stages, fn, f"operators.stages.{fn}")
        tracer.wrap(runner.TargetTable, "merge_upsert", "operators.upsert.merge_upsert")
        tracer.wrap(upsert, "upsert_replace", "operators.upsert.upsert_replace")
        tracer.wrap_context(StepProgressMonitor, "step", "progress_monitor.step")
        for fn in ("start_run", "update_run", "log", "latest_run_state"):
            tracer.wrap(control.ControlStore, fn, f"control.{fn}")
        tracer.wrap(control.ControlStore, "update_step", "control.update_step", on_call=note_step)
        gui.wrap_read_path(tracer)

    @contextmanager
    def _viewing(self, ops: Ops, tracer=None):
        """Run the GUI viewer — poll the latest run, think, repeat — while
        the body runs; yields the viewer and a one-request function."""
        stop = threading.Event()
        viewer = gui.Viewer(self.server.port, self.history, self.started)

        def view(kind, rid):
            on = tracer is not None and tracer.enabled
            with tracer.maybe_span(gui.SPAN_OF[kind]) if on else _null():
                viewer.request(kind, ops, rid, on)

        def poll():
            while not stop.is_set():
                view("poll", self.running)
                stop.wait(THINK_S)

        th = threading.Thread(target=poll, name="viewer", daemon=True)
        th.start()
        try:
            yield viewer, view
        finally:
            stop.set()
            th.join(timeout=120)

    def measure(self, seconds: float, ops: Ops, tracer=None) -> dict:
        with self._viewing(ops, tracer) as (viewer, view):
            plain, traced = closed_loop(seconds, lambda i: self._run_pending(ops), tracer,
                                        min_ops=MIN_RUNS)
            # leaving the block stops the poller and waits for its last request
        self.viewer = viewer
        out = {"plain": plain, "traced": traced, "polls": list(viewer.samples)}
        if tracer is not None:
            for res in traced:
                jobs = self.sp.job_ids(res["run_id"])
                res["jobs"], res["tasks"] = len(jobs), self.sp.tasks_of(jobs)
        # one sweep over every GUI page, back to back, with no run in
        # flight (traced in the traced run), so every run's read median
        # is over the same mix of pages
        viewer.samples.clear()
        if tracer is not None:
            jobs0 = max(self.sp.job_ids(None) or [0])
            tracer.enabled = True
            tracer.set_op("sweep")
        t0 = time.perf_counter()
        for kind in ["poll"] + gui.BROWSE:
            view(kind, plain[-1]["run_id"])
        out["reads_s"] = time.perf_counter() - t0
        if tracer is not None:
            tracer.enabled = False
            out["jobs_per_request"] = (
                (max(self.sp.job_ids(None) or [0]) - jobs0) / (1 + len(gui.BROWSE)))
        out["reads"] = list(viewer.samples)
        return out

    # -- checks ------------------------------------------------------------
    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        problems = self.warm_viewer.bad + self.viewer.bad
        expected: dict[str, tuple] = {}
        step_rows = {}
        for run_id, rows in self.batches:
            batch: dict[str, tuple] = {}
            kept = 0
            for row in rows:
                ref = _reference_row(row)
                if ref is not None:
                    kept += 1
                    batch[ref[0]] = ref[1]  # later rows win
            expected.update(batch)
            step_rows[run_id] = [len(rows), kept, kept, len(batch)]
        ctl = self.runner.control
        runs = {r["run_id"]: r["status"] for r in ctl.runs(self.spark).select("run_id", "status").collect()}
        steps = {}
        for r in ctl.steps(self.spark).select("run_id", "step_number", "status", "rows_affected").collect():
            steps[(r["run_id"], r["step_number"])] = (r["status"], r["rows_affected"])
        for run_id, want in step_rows.items():
            if runs.get(run_id) != "Success":
                problems.append(f"run {run_id} status {runs.get(run_id)}")
                continue
            for s in range(1, 5):
                got = steps.get((run_id, s))
                if got != ("Success", want[s - 1]):
                    problems.append(f"run {run_id} step {s}: {got} != Success/{want[s - 1]}")
        target = (
            self.runner.target.read(self.spark)
            .select("order_id", "customer_id", "amount", F.col("order_date"), "amount_category")
            .toPandas()
        )
        if len(target) != len(expected):
            problems.append(f"target rows {len(target)} != expected {len(expected)}")
        mismatched = 0
        for key, cust, amount, day, cat in target.itertuples(index=False):
            want = expected.get(key)
            if isinstance(day, dt.datetime):
                day = day.date()
            got = (cust, Decimal(str(amount)).quantize(Decimal("0.01")) if amount is not None else None,
                   None if day is None or day != day else day, cat)
            if want != got:
                mismatched += 1
                if mismatched <= 3:
                    problems.append(f"target {key}: {got} != {want}")
        if mismatched:
            problems.append(f"{mismatched} target rows differ from the last batch's values")
        self.target_rows = len(target)
        return problems

    # -- reporting ---------------------------------------------------------
    def report(self, res):
        """(run latencies, read latencies, input rows per second, workload metrics)."""
        plain = res["plain"]
        polls = [secs for kind, secs, on in res["polls"] if kind == "poll" and not on]
        reads = [secs for _kind, secs, _on in res["reads"]]
        lat = [r["secs"] for r in plain]
        rows_per_s = sum(r["rows"] for r in plain) / sum(lat)
        st = self.storage()
        info = {
            "etl_rows_per_s": (rows_per_s, "1/s"),
            "etl_run_p50_s": (median(lat), "s"),
            "etl_poll_p50_ms": (median(polls) * 1e3 if polls else float("nan"), "ms"),
            "etl_polls": (len(polls), "count"),
            "etl_bytes_per_input_byte": (st["warehouse_bytes"] / st["input_bytes"], "ratio"),
            "etl_target_rows": (self.target_rows, "count"),
            "monitor_p50_ms": (median(reads) * 1e3, "ms"),
            "monitor_rps": (len(res["reads"]) / res["reads_s"], "1/s"),
        }
        return lat, reads, rows_per_s, info

    def layer_metrics(self, res, tracer) -> dict:
        traced = res["traced"]
        starts, step_s = {}, {s: [] for s in range(1, 5)}
        for run_id, step, status, t in self.step_events:
            if status == "Running":
                starts[(run_id, step)] = t
            elif status == "Success" and (run_id, step) in starts:
                step_s[step].append(t - starts.pop((run_id, step)))
        n = max(1, len(traced))
        control_calls = sum(
            len(tracer.durations_ms(f"control.{fn}"))
            for fn in ("start_run", "update_step", "update_run", "log", "latest_run_state")
        )
        stage_ms = sum(
            sum(tracer.durations_ms(f"operators.stages.{fn}"))
            for fn in ("pull", "extract", "transform", "migrate_updates")
        )
        pm = tracer.durations_ms("progress_monitor.step.enter") + tracer.durations_ms(
            "progress_monitor.step.exit")
        st = self.storage()
        out = {
            f"runner.step_{name}_s": (sum(v) / len(v) if v else 0.0)
            for name, v in zip(("pull", "extract", "transform", "migrate"), step_s.values())
        }
        out.update({
            "runner.run_self_s": tracer.summary().get("runner.run", {}).get("self_ms", 0.0) / n / 1e3,
            "sources.read_orders_file_ms": tracer.median_ms("sources.read_orders_file"),
            "operators.stages.plan_ms": stage_ms / n,
            "operators.upsert.merge_upsert_s": tracer.median_ms("operators.upsert.merge_upsert") / 1e3,
            "progress_monitor.step_ms": sum(pm) / max(1, 4 * len(traced)),
            "control.start_run_ms": tracer.median_ms("control.start_run"),
            "control.update_step_ms": tracer.median_ms("control.update_step"),
            "control.update_run_ms": tracer.median_ms("control.update_run"),
            "control.log_ms": tracer.median_ms("control.log"),
            "control.calls_per_run": control_calls / n,
            "spark.jobs_per_run": sum(r["jobs"] for r in traced) / n,
            "spark.tasks_per_run": sum(r["tasks"] for r in traced) / n,
            "storage.target_versions": st["target_versions"],
            "storage.bytes_written_per_input_byte": st["warehouse_bytes"] / st["input_bytes"],
            "control.event_files": st["control_event_files"],
            "spark.jobs_per_request": res["jobs_per_request"],
        })
        out.update({f"{span}_ms": tracer.median_ms(span) for span in set(gui.SPAN_OF.values())})
        out.update(gui.read_path_metrics(tracer))
        return out

    def storage(self) -> dict:
        target_dir = self.runner.target.path
        return {
            "warehouse_bytes": dir_bytes(self.wh),
            "input_bytes": self.input_bytes,
            "target_versions": sum(1 for d in os.listdir(target_dir) if d.startswith("v=")),
            "control_event_files": count_files(os.path.join(self.wh, "control")),
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
