"""Spans and per-layer counters for the traced run, from benchmark code only.

``Tracer`` wraps public functions of the engine's modules where their
callers look them up (every loaded module of the package that holds the
same function object gets the wrapper), records one span per call, and
keeps per-op counters. It also reads the JVM's GC, JIT and codegen
counters between ops and collects streaming progress through a
``StreamingQueryListener``. Nothing here edits the engine; ``unwrap``
restores every patched attribute.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PKG = "filmdb_data_warehouse___power_bi_dashboard_spark"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = {}
        self.progress: list[dict] = []
        self.op_id = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._root: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans and counters -------------------------------------------------
    def add(self, name: str, value: float, op_id: str | None = None) -> None:
        with self._lock:
            acc = self.counters.setdefault(op_id or self.op_id, {})
            acc[name] = acc.get(name, 0.0) + value

    @contextmanager
    def span(self, name: str, op_root: bool = False):
        """One span; its time also adds to the counter ``<name>_s`` unless
        it is an op's root span. A span opened on one of the engine's pool
        threads has the current op's root span as parent."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else self._root
        if op_root:
            self._root = sid
        start = time.time()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            end = time.time()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": self.op_id,
                    "thread": threading.current_thread().name,
                })
            if op_root:
                self._root = None
            else:
                self.add(name + "_s", end - start)

    # -- wrapping -----------------------------------------------------------
    def _patch(self, module: str, func: str, make_wrapper) -> None:
        mod = importlib.import_module(f"{PKG}.{module}")
        original = getattr(mod, func)
        wrapper = functools.wraps(original)(make_wrapper(original))
        for name, loaded in list(sys.modules.items()):
            if name.startswith(PKG) and getattr(loaded, func, None) is original:
                setattr(loaded, func, wrapper)
                self._patches.append((loaded, func, original))

    def wrap(self) -> None:
        self._patch("plans.metrics", "evaluate", self._timed("plans.metrics.evaluate"))
        self._patch("plans.etl", "build_star_frames", self._star_wrapper)
        self._patch("plans.etl", "build_warehouse", self._timed("plans.etl.refresh"))
        self._patch("plans.etl", "refresh_summary_incremental", self._timed("plans.etl.incremental"))
        self._patch("sources.sinks", "stage_and_swap_write", self._sink_wrapper)
        self._patch("runtime", "corpus_artifact", self._artifact_wrapper)
        self._patch("runtime", "release_persisted", self._release_wrapper)

    def unwrap(self) -> None:
        for loaded, func, original in reversed(self._patches):
            setattr(loaded, func, original)
        self._patches.clear()

    def _timed(self, span_name):
        def make(original):
            def wrapper(*args, **kwargs):
                with self.span(span_name):
                    return original(*args, **kwargs)
            return wrapper
        return make

    def _star_wrapper(self, original):
        etl = importlib.import_module(f"{PKG}.plans.etl")

        def wrapper(spark, sf_dir):
            if sf_dir in etl._STAR_CACHE.get(spark, {}):
                return original(spark, sf_dir)
            with self.span("plans.etl.star_build"):
                return original(spark, sf_dir)
        return wrapper

    def _sink_wrapper(self, original):
        def wrapper(df, path, *args, **kwargs):
            with self.span("sources.sinks.write"):
                out = original(df, path, *args, **kwargs)
            self.add("sources.sinks.bytes_written", float(dir_bytes(path)))
            return out
        return wrapper

    def _artifact_wrapper(self, original):
        def wrapper(sf_dir, src_name, kind, params, build, *args, **kwargs):
            built = []

            def timed_build():
                built.append(True)
                with self.span(f"artifacts.build.{kind}"):
                    return build()

            out = original(sf_dir, src_name, kind, params, timed_build, *args, **kwargs)
            self.add("runtime.artifact_calls", 1.0)
            self.add("runtime.artifact_hits", 0.0 if built else 1.0)
            return out
        return wrapper

    def _release_wrapper(self, original):
        def wrapper(*args, **kwargs):
            n = original(*args, **kwargs)
            self.add("runtime.persists_released", float(n))
            return n
        return wrapper

    # -- JVM counters and streaming progress ----------------------------------
    def jvm_snapshot(self, spark) -> dict[str, float]:
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        return {
            "jvm.gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
            "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "codegen.compiles": float(
                jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
            ),
            "codegen.compile_s": jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e9,
        }

    def add_delta(self, before: dict[str, float], after: dict[str, float], op_id: str) -> None:
        for k, v in after.items():
            self.add(k, v - before[k], op_id)

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                with tracer._lock:
                    tracer.progress.append({
                        "start": start, "batch": p.batchId, "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")
