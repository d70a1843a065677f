"""Spans and stamps recorded from the benchmark's own files.

Every wrapper replaces a public function *where callers look it up*:
``runtime.refresh_*``, ``ingest.ingest_batch`` and ``silver.ensure_*``
are read as module attributes at call time, while the daemon imported
``ingest_micro_batch`` and ``load_tables`` by name, so those are
replaced in ``daemon``'s namespace. The per-view span wraps
``runtime._swap_in``, the one call through which every view is
written. ``Tracer.restore`` puts every original back.

Two recorders share this machinery:

- ``Stamps`` (``live_tail``, also in timed runs) records only what
  its end-to-end metrics need: which streaming epoch is running and
  the wall time each operational refresh returned.
- ``Tracer`` (``--trace 1``) records a span per call: name, start, end,
  parent span, run id and stage of the run, plus per-call counts.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time


class Patches:
    """Replaces attributes and puts the originals back."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._saved.append((owner, attr, orig))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


class Stamps(Patches):
    """Epoch and refresh-end stamps for the freshness metrics.

    The streaming writer's ``foreachBatch`` is wrapped so each batch
    function records its epoch on the callback thread; the wrapper
    around ``runtime.refresh_operational`` stamps the wall time at
    which it returned, which is when ``spline_pools`` (last in
    ``runtime.OPERATIONAL``) was swapped in."""

    def __init__(self) -> None:
        super().__init__()
        self.swaps: list[tuple[int, float]] = []
        self._epoch = threading.local()

    def install(self) -> "Stamps":
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from starknet_indexer_spark import runtime

        stamps = self

        def make_fb(orig):
            def foreach_batch(writer, func):
                def stamped(df, epoch_id):
                    stamps._epoch.value = epoch_id
                    try:
                        return func(df, epoch_id)
                    finally:
                        stamps._epoch.value = None

                return orig(writer, stamped)

            return foreach_batch

        def make_refresh(orig):
            def refresh_operational(*a, **kw):
                out = orig(*a, **kw)
                epoch = getattr(stamps._epoch, "value", None)
                if epoch is not None:
                    stamps.swaps.append((epoch, time.time()))
                return out

            return refresh_operational

        self.wrap(DataStreamWriter, "foreachBatch", make_fb)
        self.wrap(runtime, "refresh_operational", make_refresh)
        return self


class Tracer(Patches):
    """In-memory span recorder; ``report.layer_metrics`` reduces the
    spans once the run has ended."""

    def __init__(self, run_id: str) -> None:
        super().__init__()
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: wrappers record nothing while False (the untraced half of a
        #: traced run, which measures the tracing overhead)
        self.active = True
        #: part of the run each span belongs to: setup, cold, window, overhead
        self.stage = "setup"

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "stage": self.stage,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def count(self, key: str, n: float = 1) -> None:
        """Add to a counter; only the measured window counts."""
        if self.stage != "window":
            return
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def traced(self, owner, attr: str, label, on_result=None) -> None:
        """Wrap ``owner.attr`` so each call records a span. ``label``
        is a fixed span name or a function of the call's arguments;
        ``on_result(args, kwargs, result)`` may record counts."""
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                if not tracer.active:
                    return orig(*a, **kw)
                s = tracer.open(label(a, kw) if callable(label) else label)
                try:
                    out = orig(*a, **kw)
                    if on_result is not None:
                        on_result(a, kw, out)
                    return out
                finally:
                    tracer.close(s)

            return wrapper

        self.wrap(owner, attr, make)

    def install(self) -> "Tracer":
        """Wrap every layer boundary the per-layer metrics read."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from starknet_indexer_spark import daemon, ingest, runtime, silver

        tracer = self

        def rows(a, kw, out):
            for table, n in (out or {}).items():
                tracer.count(f"ingest.rows.{table}", n)

        def skipped(a, kw, out):
            if out is None:
                tracer.count("ingest.epochs_skipped")

        self.traced(ingest, "ingest_batch", "ingest.ingest_batch", rows)
        self.traced(ingest, "commit_txn", "ingest.commit_txn")
        self.traced(ingest, "publish_txn", "ingest.publish_txn")
        self.traced(ingest, "invalidate_from_block", "ingest.invalidate_from_block")
        self.traced(daemon, "ingest_micro_batch", "ingest.ingest_micro_batch", skipped)
        self.traced(daemon, "load_tables", "daemon.load_tables")
        self.traced(runtime, "refresh_operational", "runtime.refresh_operational")
        self.traced(runtime, "refresh_analytical", "runtime.refresh_analytical")
        self.traced(
            runtime,
            "_swap_in",
            lambda a, kw: f"runtime.view.{os.path.basename(a[1] if len(a) > 1 else kw['out_dir'])}",
        )
        self.traced(silver, "ensure_silver", "silver.ensure_silver")
        self.traced(silver, "ensure_artifact", "silver.ensure_artifact")

        def make_fb(orig):
            def foreach_batch(writer, func):
                def epoch_span(df, epoch_id):
                    if not tracer.active:
                        return func(df, epoch_id)
                    with tracer.span("daemon.epoch", epoch=epoch_id):
                        return func(df, epoch_id)

                return orig(writer, epoch_span)

            return foreach_batch

        self.wrap(DataStreamWriter, "foreachBatch", make_fb)
        return self
