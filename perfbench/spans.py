"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files only: `install`
wraps public functions of the engine's layers by rebinding the name
each caller looks up, and the workloads open spans around their own
calls. Nothing in the engine package is edited. Spans stay in memory
and are written out once, at exit.

A layer's self time is its span's duration minus the part its child
spans cover (children are spans opened on the same thread while it
was open).
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "confluent_example_firehose_spark"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        # [name, start, end, parent index or -1, attrs]
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = [name, time.perf_counter(), None, stack[-1] if stack else -1, attrs]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield attrs
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Rebind owner.attr to a spanned wrapper (undone by `uninstall`).
        `on_result(attrs, result)` may record counts on the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name) as attrs:
                out = fn(*a, **kw)
                if on_result is not None:
                    on_result(attrs, out)
                return out

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_everywhere(self, fn: object, name: str) -> None:
        """Wrap every module-level binding of `fn` in the engine package
        (a `from x import f` binding is looked up in the importer)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, name)

    def install(self, targets: tuple[str, ...]) -> None:
        """Wrap the layer entry points a workload's per-layer metrics
        name: any of "render", "catalog", "kernels"; `DataFrame.collect`
        is always wrapped, as a child span, so that a layer's self time
        excludes the Spark jobs it waits for."""
        if not self.enabled:
            return
        try:  # Spark 4 runs the classic subclass, which overrides collect
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        if "render" in targets:
            from confluent_example_firehose_spark.streaming import sinks

            def rendered(attrs, text):
                attrs["bytes"] = len(text)
                attrs["series"] = sum(
                    1 for ln in text.splitlines() if ln and not ln.startswith("#")
                )

            self.wrap(sinks, "to_prometheus_text", "sinks.render", rendered)
        if "catalog" in targets:
            from confluent_example_firehose_spark import caching, catalog, registry

            registry.all_queries()  # import every module that binds a name
            self.wrap_everywhere(catalog.load_table, "catalog.load_table")
            self.wrap_everywhere(caching.drain_pending, "caching.drain_pending")
        if "kernels" in targets:
            from confluent_example_firehose_spark.operators import (
                curation_queries,
                dedup_stream_queries,
            )

            # Imported at call time inside _cluster_epoch, and a module
            # global of curation_queries itself: patch the source.
            self.wrap(curation_queries, "connected_components",
                      "curation.connected_components")
            # Looked up as module globals of dedup_stream_queries (the
            # second is bound there at import from sketch_stream_queries).
            self.wrap(dedup_stream_queries, "selective_state_rewrite",
                      "dedup_stream.selective_state_rewrite")
            self.wrap(dedup_stream_queries, "stage_key_batches",
                      "sketch_stream.stage_key_batches")
        self.wrap(DataFrame, "collect", "spark.collect")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # -- summaries (over spans opened at or after `since`) --------------

    def closed(self, name: str, since: float = 0.0) -> list[list]:
        return [s for s in self.spans
                if s[0] == name and s[2] is not None and s[1] >= since]

    def total(self, name: str, since: float = 0.0) -> float:
        return sum(s[2] - s[1] for s in self.closed(name, since))

    def child_time(self, name: str, child_name: str | None = None,
                   since: float = 0.0) -> float:
        """Time covered by closed child spans (of one name, or all) of
        the `name` spans."""
        ids = {i for i, s in enumerate(self.spans)
               if s[0] == name and s[1] >= since}
        return sum(
            s[2] - s[1] for s in self.spans
            if s[3] in ids and s[2] is not None
            and (child_name is None or s[0] == child_name)
        )

    def self_time(self, name: str, since: float = 0.0) -> float:
        return self.total(name, since) - self.child_time(name, None, since)

    def count(self, name: str, since: float = 0.0) -> int:
        return len(self.closed(name, since))

    def attr_sum(self, name: str, key: str, since: float = 0.0) -> float:
        return sum(s[4].get(key, 0) for s in self.closed(name, since))

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for name, t0, t1, parent, attrs in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, **attrs}) + "\n")
