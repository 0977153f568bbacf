"""Span tracing from outside the program.

A traced run wraps the public functions and methods at each layer
boundary (HTTP handler, ``ClusterService``, ``Clustopher``, the zoom
operators, lineage spills, the catalog) and records one span per call:
name, start, end, parent span and request id. The request id travels from
the client to the server as an extra ``rid`` query parameter, which the
handler ignores. Spark work is attributed per operation through one job
group per serving call (:class:`harness.JobAccounting`).

Untraced runs use :data:`NULL`, whose spans cost one attribute lookup.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse


class Tracer:
    def __init__(self):
        self.enabled = True
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self.jobs = None  # harness.JobAccounting, set once Spark is up
        self._patched: list[tuple[object, str, object]] = []

    def set_rid(self, rid: str | None) -> None:
        self._tls.rid = rid

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else getattr(self._tls, "rid", None)),
            "thread": threading.get_ident(),
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    # --- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None, after=None,
             group: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. For module-level
        functions, every ``clustopher_spark`` module that imported the same
        function object by name is rebound too. ``before(rec, args)`` and
        ``after(rec, result)`` may annotate the span; ``group`` names the
        operation kind whose Spark jobs the call's job group counts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                if group is not None:
                    rec["group"] = tracer.jobs.begin(group)
                try:
                    if before is not None:
                        before(rec, args)
                    out = orig(*args, **kwargs)
                    if after is not None:
                        after(rec, out)
                    return out
                finally:
                    if group is not None:
                        tracer.jobs.end()

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for k, m in list(sys.modules.items())
                if k.startswith("clustopher_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap_all(self) -> None:
        for t, attr, orig in reversed(self._patched):
            setattr(t, attr, orig)
        self._patched.clear()

    def install(self, jobs) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        import clustopher_spark.operators.zoom as zoom
        import clustopher_spark.plans.lineage as lineage
        import clustopher_spark.serving as serving
        from clustopher_spark.engine import Clustopher
        from clustopher_spark.sources.catalog import ClusterCatalog

        self.jobs = jobs
        tracer = self

        def rows(rec, out):
            rec["rows"] = len(out)

        def plan(rec, out):
            rec["plan"] = out.get("plan")

        def level_rows(rec, out):
            rec["rows"] = int(sum(out.values()))

        def serve_path(rec, args):
            eng, zoom_ = args[0], min(int(args[5]), args[0].opts.max_zoom)
            if zoom_ in eng._serve_cache:
                rec["path"] = "serve_cache"
            elif zoom_ in eng._zoom_frames:
                rec["path"] = "tile"
            else:
                rec["path"] = "spark"

        Service = serving.ClusterService
        self.wrap(Service, "get_clusters", "serving.get_clusters", after=rows, group="read")
        self.wrap(Service, "get_metadata", "serving.get_metadata", group="metadata")
        self.wrap(Service, "update_cluster", "serving.update_cluster", after=plan, group="update")
        self.wrap(Clustopher, "get_clusters_local", "engine.get_clusters_local", serve_path)
        self.wrap(Clustopher, "get_clusters", "engine.get_clusters")
        self.wrap(Clustopher, "get_metadata_summary", "engine.get_metadata_summary")
        self.wrap(Clustopher, "update", "engine.update")
        self.wrap(Clustopher, "materialize", "engine.materialize")
        self.wrap(Clustopher, "cache_zoom_frames", "engine.cache_zoom_frames", after=level_rows)
        self.wrap(Clustopher, "build_serve_cache", "engine.build_serve_cache", after=level_rows)
        self.wrap(zoom, "materialize_zoom_levels", "zoom.materialize_zoom_levels")
        self.wrap(zoom, "update_zoom_levels", "zoom.update_zoom_levels")
        self.wrap(lineage, "materialize_df", "lineage.materialize_df")
        self.wrap(ClusterCatalog, "save", "catalog.save")
        self.wrap(ClusterCatalog, "load_points", "catalog.load_points")
        self.wrap(ClusterCatalog, "load_zoom_levels", "catalog.load_zoom_levels")

        orig_make_handler = serving.make_handler

        def make_handler(service):
            base = orig_make_handler(service)

            class Traced(base):
                def _rid(self):
                    q = parse_qs(urlparse(self.path).query)
                    tracer.set_rid(q.get("rid", [None])[0])

                def do_GET(self):
                    self._rid()
                    with tracer.span("http.GET"):
                        return super().do_GET()

                def do_POST(self):
                    self._rid()
                    with tracer.span("http.POST"):
                        return super().do_POST()

            return Traced

        self._patched.append((serving, "make_handler", orig_make_handler))
        serving.make_handler = make_handler


class _NullTracer:
    enabled = False

    def span(self, name: str, rid: str | None = None, **attrs):
        return contextlib.nullcontext({})

    def set_rid(self, rid):
        pass


NULL = _NullTracer()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time (s): duration minus the union of the
    intervals its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, float("-inf")
        for lo, hi in sorted(children.get(s["id"], [])):
            lo = max(lo, cur_end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
