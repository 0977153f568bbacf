"""Map-serving helpers shared by viewport_session and live_ingest: the
dataset build (the same two calls ``ClusterService.create_cluster``
makes, over the benchmark's own corpus), the in-process HTTP server,
a minimal HTTP client and viewport geometry."""

from __future__ import annotations

import http.client
import os
import time

from data import write_parquet

# the server options (ClusterService's defaults: the reference runner's
# radius 100 / min_points 2, capped at zoom 10)
MAX_ZOOM = 10
WORLD = (-180.0, -90.0, 180.0, 90.0)


def server_opts():
    from clustopher_spark.operators.cluster import ClusterOptions

    return ClusterOptions(radius=100.0, min_points=2, max_zoom=MAX_ZOOM)


class MapServer:
    """``ClusterService`` behind ``serving.serve`` on an ephemeral port."""

    def __init__(self, run):
        from clustopher_spark.serving import ClusterService, serve

        self.run = run
        self.catalog_root = os.path.join(run.work, "catalog")
        self.service = ClusterService(run.spark, self.catalog_root, server_opts())
        self.httpd = serve(self.service, port=0)
        self.port = self.httpd.server_address[1]

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

    def build(self, pdf) -> str:
        """Materialize the pyramid and save points + pyramid to the
        catalog, as ``ClusterService.create_cluster`` does; returns the
        dataset id."""
        from clustopher_spark.engine import Clustopher

        path = write_parquet(pdf, os.path.join(self.run.work, "points.parquet"))
        points = self.run.spark.read.parquet(path)
        eng = Clustopher(points, ["value", "sales"], ["category", "region"], self.service.opts)
        levels = eng.materialize()
        return self.service.catalog.save(points, zoom_levels=levels)

    def engine(self, dataset_id: str):
        """The loaded engine behind a dataset (it must already be loaded)."""
        def not_loaded(_):
            raise RuntimeError(f"dataset {dataset_id} is not loaded")
        return self.service.cache.get(dataset_id, not_loaded)

    def stored_mb(self, dataset_id: str) -> dict[str, float]:
        from harness import du_mb

        base = os.path.join(self.catalog_root, dataset_id)
        return {
            part: du_mb(os.path.join(base, part))
            for part in ("points", "zoom_levels")
            if os.path.isdir(os.path.join(base, part))
        }


def request(port: int, method: str, path: str, body: bytes | None = None):
    """One request on a fresh connection; returns (status, body bytes,
    seconds from connect to the last body byte)."""
    headers = {"Content-Type": "application/json"} if body is not None else {}
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data, time.perf_counter() - t0
    finally:
        conn.close()


def viewport_query(zoom: int, bbox, rid: str | None = None) -> str:
    w, s, e, n = bbox
    q = f"zoom={zoom}&west={w:.6f}&south={s:.6f}&east={e:.6f}&north={n:.6f}"
    return q + (f"&rid={rid}" if rid else "")


def viewport(lng: float, lat: float, zoom: int):
    """A 1280x768-pixel screen (5x3 web tiles) centred on (lng, lat)."""
    half_w = 2.5 * 360.0 / (1 << zoom)
    half_h = 1.5 * 170.0 / (1 << zoom)
    lng = min(max(lng, -180.0 + half_w), 180.0 - half_w) if half_w < 180 else 0.0
    lat = min(max(lat, -85.0 + half_h), 85.0 - half_h) if half_h < 85 else 0.0
    return (
        max(lng - half_w, -180.0), max(lat - half_h, -90.0),
        min(lng + half_w, 180.0), min(lat + half_h, 90.0),
    )


def canon_clusters(rows) -> list[tuple]:
    """Order- and float-noise-insensitive form of a cluster list."""
    return sorted(
        (int(r["id"]), int(r["count"]), round(float(r["lng"]), 9), round(float(r["lat"]), 9),
         bool(r["is_cluster"]))
        for r in rows
    )
