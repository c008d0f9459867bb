"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own side of each layer
boundary: ``Tracer.wrap`` replaces a public function or method on the
object the caller looks it up on (``runner.read_orders_file``, not only
``sources.files.read_orders_file``) and restores it on ``close``.
A span is (name, start_ns, end_ns, parent index, operation id, thread);
the parent is the innermost open span of the same thread. Spans stay in
memory until ``write`` at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # wrappers record only while enabled; the measured loop turns
        # tracing on for every other operation
        self.enabled = False

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op_id) -> None:
        """Tag spans this thread records from now on with ``op_id``."""
        self._local.op = op_id

    @contextmanager
    def maybe_span(self, name: str):
        """``span`` while tracing is enabled, otherwise nothing."""
        if not self.enabled:
            yield None
            return
        with self.span(name) as rec:
            yield rec

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1] if st else None
        rec = [name, time.perf_counter_ns(), None, parent,
               getattr(self._local, "op", None), threading.current_thread().name]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter_ns()
            st.pop()

    # -- patching ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``on_call(args, kwargs)`` runs before the call,
        outside the span, so the caller can note its arguments."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_context(self, owner, attr: str, name: str) -> None:
        """Like ``wrap`` for a method returning a context manager: spans
        ``name.enter`` and ``name.exit`` cover its set-up and tear-down,
        not the body the caller runs inside it."""
        orig = owner.__dict__[attr]
        tracer = self

        class _Timed:
            def __init__(self, cm):
                self._cm = cm

            def __enter__(self):
                with tracer.span(name + ".enter"):
                    return self._cm.__enter__()

            def __exit__(self, *exc):
                with tracer.span(name + ".exit"):
                    return self._cm.__exit__(*exc)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            cm = orig(*args, **kwargs)
            return _Timed(cm) if tracer.enabled else cm

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------
    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total ms and self ms (the span minus
        the part of its interval covered by its child spans)."""
        children: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for rec in self.spans:
            if rec[2] is not None and rec[3] is not None:
                children[rec[3]].append((rec[1], rec[2]))
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0}
        )
        for idx, (name, start, end, _parent, _op, _th) in enumerate(self.spans):
            if end is None:
                continue
            covered, cur_s, cur_e = 0, None, None
            for s, e in sorted(children.get(idx, [])):
                s, e = max(s, start), min(e, end)
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            agg = out[name]
            agg["calls"] += 1
            agg["total_ms"] += (end - start) / 1e6
            agg["self_ms"] += (end - start - covered) / 1e6
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        return [(r[2] - r[1]) / 1e6 for r in self.spans if r[0] == name and r[2]]

    def median_ms(self, name: str) -> float:
        """Median duration of the spans named ``name`` (0 when none)."""
        durs = sorted(self.durations_ms(name))
        if not durs:
            return 0.0
        mid = len(durs) // 2
        return durs[mid] if len(durs) % 2 else (durs[mid - 1] + durs[mid]) / 2

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start_ns", "end_ns", "parent", "op", "thread"],
                    "spans": self.spans,
                    "summary": self.summary(),
                },
                f,
            )
