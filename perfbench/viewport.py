"""viewport_session: read-only map traffic over HTTP.

Two closed-loop clients each run a seeded pan/zoom walk over zooms 0-10,
biased to 6-10, with occasional jumps to another city. Every 20th request
of a client is ``GET /api/clusters/{id}/metadata`` (the kernel runs at
query time); the rest are ``GET /api/clusters/{id}``. Set-up builds the
corpus pyramid, saves it to the catalog and loads it into the server with
the first request.
"""

from __future__ import annotations

import json
import threading
import time

import numpy as np

import maps
from data import CITIES, point_corpus
from harness import median, percentile

N_POINTS = 100_000
CLIENTS = 2
META_EVERY = 20
SAMPLE_EVERY = 16
MAX_SAMPLES = 12


class Walk:
    """Seeded pan/zoom walk: pans by up to half a screen, steps one zoom
    level (staying in 5-10 once there, drifting in from below), and jumps
    to a random city one step in 20."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self._jump()

    def _jump(self) -> None:
        c = CITIES[int(self.rng.integers(0, len(CITIES)))]
        self.lng = c[0] + self.rng.normal(0.0, 0.5)
        self.lat = c[1] + self.rng.normal(0.0, 0.5)
        self.zoom = int(self.rng.integers(6, maps.MAX_ZOOM + 1))

    def step(self) -> None:
        r = self.rng.random()
        if r < 0.05:
            self._jump()
        elif r < 0.35:
            if self.zoom >= 6:
                self.zoom = min(max(self.zoom + (1 if self.rng.random() < 0.5 else -1), 5), maps.MAX_ZOOM)
            else:
                self.zoom = max(self.zoom + (1 if self.rng.random() < 0.7 else -1), 0)
        else:
            w, s, e, n = self.bbox()
            self.lng += self.rng.uniform(-0.5, 0.5) * (e - w)
            self.lat += self.rng.uniform(-0.5, 0.5) * (n - s)
            self.lng = min(max(self.lng, -180.0), 180.0)
            self.lat = min(max(self.lat, -85.0), 85.0)

    def bbox(self):
        return maps.viewport(self.lng, self.lat, self.zoom)


def run(run, tracer) -> dict:
    t_setup = time.perf_counter()
    extra = {"session_start_s": run.start_spark()}
    extra["session_warmup_s"] = run.warm_up()
    jobs = None
    if tracer.enabled:
        from harness import JobAccounting

        jobs = JobAccounting(run.spark)
        tracer.install(jobs)
    pdf = point_corpus(run.seed, N_POINTS)
    srv = maps.MapServer(run)
    try:
        t0 = time.perf_counter()
        if jobs:
            jobs.begin("create")
        with tracer.span("client.create"):
            ds = srv.build(pdf)
        if jobs:
            jobs.end()
        first = maps.viewport(*CITIES[0], 8)
        with tracer.span("client.read", rid="first"):
            status, body, _ = maps.request(
                srv.port, "GET", f"/api/clusters/{ds}?" + maps.viewport_query(8, first, "first"))
        run.rec.attempt(status == 200, f"first viewport: {status} {body[:200]!r}")
        servable = time.perf_counter() - t0
        setup = time.perf_counter() - t_setup

        samples: list[tuple] = []
        deadline = time.perf_counter() + run.seconds

        def client(idx: int) -> None:
            rng = np.random.default_rng([run.seed, 10, idx])
            walk = Walk(rng)
            i = 0
            while time.perf_counter() < deadline:
                walk.step()
                bbox, zoom = walk.bbox(), walk.zoom
                kind = "metadata" if i % META_EVERY == META_EVERY - 1 else "read"
                rid = f"c{idx}-{i}" if tracer.enabled else None
                path = f"/api/clusters/{ds}" + ("/metadata" if kind == "metadata" else "")
                path += "?" + maps.viewport_query(zoom, bbox, rid)
                try:
                    with tracer.span(f"client.{kind}", rid=rid):
                        status, body, dt = maps.request(srv.port, "GET", path)
                except OSError as e:
                    run.rec.attempt(False, f"{kind}: {e!r}")
                    i += 1
                    continue
                ok = status == 200
                run.rec.attempt(ok, f"{kind} {path}: {status} {body[:200]!r}")
                if ok:
                    run.rec.add(kind, dt)
                    if kind == "read" and idx == 0 and i % SAMPLE_EVERY == 0 and len(samples) < MAX_SAMPLES:
                        samples.append((zoom, bbox, json.loads(body)))
                i += 1

        threads = [threading.Thread(target=client, args=(k,), name=f"client-{k}") for k in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

        _check(run, srv, ds, samples)
        extra["stored_mb"] = srv.stored_mb(ds)
        reads = run.rec.samples.get("read", [])
        metas = run.rec.samples.get("metadata", [])
        run.metric("setup_s", setup, "s")
        if reads:
            run.metric("read_p50_ms", median(reads) * 1000.0, "ms")
            run.metric("read_tail_ms", percentile(reads, 95) * 1000.0, "ms")
        if metas:
            run.metric("heavy_p50_s", median(metas), "s")
        stored = sum(extra["stored_mb"].values())
        run.report.update({
            "time_to_servable_s": (servable, "s"),
            "viewport_p50_ms": (median(reads) * 1000.0 if reads else None, "ms"),
            "viewport_p95_ms": (percentile(reads, 95) * 1000.0 if reads else None, "ms"),
            "viewport_samples": (len(reads), "count"),
            "metadata_p50_ms": (median(metas) * 1000.0 if metas else None, "ms"),
            "metadata_samples": (len(metas), "count"),
            "stored_mb_per_1m_points": (stored * 1e6 / N_POINTS, "MB"),
        })
        extra["jobs"] = jobs.counts() if jobs else {}
        return extra
    finally:
        srv.close()


def _check(run, srv, ds: str, samples: list[tuple]) -> None:
    """Served viewports equal the Spark path over the saved pyramid, and
    every zoom of the world viewport accounts for every corpus point."""
    from functools import reduce

    from pyspark.sql import functions as F

    from clustopher_spark.operators.zoom import query_zoom_levels

    if not samples:
        run.check("viewport_samples_vs_spark_path", False, "no viewport sample was served")
    else:
        levels = srv.service.catalog.load_zoom_levels(ds)
        frames = [
            query_zoom_levels(levels, *bbox, zoom).select(
                F.lit(k).alias("sample"), F.col("cluster_id").alias("id"),
                F.col("point_count").alias("count"), "lng", "lat", "is_cluster")
            for k, (zoom, bbox, _) in enumerate(samples)
        ]
        expect = reduce(lambda a, b: a.unionByName(b), frames).toPandas()
        bad = [
            k for k, (_, _, rows) in enumerate(samples)
            if maps.canon_clusters(rows)
            != maps.canon_clusters(expect[expect["sample"] == k].to_dict("records"))
        ]
        run.check("viewport_samples_vs_spark_path", not bad,
                  f"{len(samples)} samples, mismatched: {bad}")
    eng = srv.engine(ds)
    sums = {z: int(eng.get_clusters_local(*maps.WORLD, z)["point_count"].sum())
            for z in range(maps.MAX_ZOOM + 1)}
    wrong = {z: s for z, s in sums.items() if s != N_POINTS}
    run.check("world_point_count_per_zoom", not wrong, f"expected {N_POINTS}, wrong zooms: {wrong}")
