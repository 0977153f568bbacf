"""Per-layer metrics of a traced run, computed from its spans and Spark
job counts. Every workload reports every metric; a layer a workload never
enters reads 0 (olap_batch bypasses http, serving, engine, zoom and
catalog; the map workloads run no registry query).

Each entry names the end-to-end metric it should move and on which
workload (README.md has the same table)."""

from __future__ import annotations

from harness import median
from tracing import self_times

OLAP_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_top3_orders_per_customer",
    "events_session_windows",
    "spatial_grid_centroids",
    "llm_knn_cosine",
    "llm_fingerprint_dedup",
]

# (name, unit, better, target end-to-end metric and workload)
LAYER_METRICS = [
    ("session.start_s", "s", "lower", "setup_s, both workloads"),
    ("session.warmup_s", "s", "lower", "setup_s, both workloads"),
    ("http.self_ms", "ms", "lower", "read_p50_ms, live_ingest"),
    ("serving.get_clusters.self_ms", "ms", "lower", "read_p50_ms, live_ingest"),
    ("serving.rows_per_response", "count", "lower", "read_p50_ms, live_ingest"),
    ("serving.update_cluster.self_ms", "ms", "lower", "heavy_p50_s, live_ingest"),
    ("serving.first_request_ms", "ms", "lower", "setup_s, live_ingest"),
    ("engine.serve_cache_ms", "ms", "lower", "setup_s, live_ingest"),
    ("engine.spark_path_ms", "ms", "lower", "read_p50_ms and read_tail_ms, live_ingest"),
    ("engine.update_ms", "ms", "lower", "heavy_p50_s, live_ingest"),
    ("engine.materialize_ms", "ms", "lower", "setup_s, live_ingest"),
    ("engine.cache_zoom_frames_ms", "ms", "lower", "setup_s, live_ingest"),
    ("engine.build_serve_cache_ms", "ms", "lower", "setup_s, live_ingest"),
    ("zoom.materialize_zoom_levels_ms", "ms", "lower", "setup_s, live_ingest"),
    ("zoom.update_zoom_levels_ms", "ms", "lower", "heavy_p50_s, live_ingest"),
    ("zoom.incremental_ratio", "ratio", "higher", "heavy_p50_s, live_ingest"),
    ("zoom.pyramid_rows", "count", "lower", "peak_rss_mb and stored size, live_ingest"),
    ("lineage.materialize_df_ms", "ms", "lower", "heavy_p50_s, live_ingest"),
    ("lineage.spill_mb_per_update", "MB", "lower", "heavy_p50_s, live_ingest"),
    ("catalog.save_ms", "ms", "lower", "setup_s, live_ingest"),
    ("catalog.load_ms", "ms", "lower", "setup_s, live_ingest"),
    ("catalog.stored_mb_points", "MB", "lower", "stored size, live_ingest"),
    ("catalog.stored_mb_zoom_levels", "MB", "lower", "stored size, live_ingest"),
    ("spark.jobs_per_read", "count", "lower", "read_p50_ms, both workloads"),
    ("spark.tasks_per_read", "count", "lower", "read_tail_ms, both workloads"),
    ("spark.jobs_per_heavy_op", "count", "lower", "heavy_p50_s, both workloads"),
    ("spark.tasks_per_heavy_op", "count", "lower", "heavy_p50_s, both workloads"),
] + [(f"queries.{q}_s", "s", "lower", "heavy_p50_s, olap_batch") for q in OLAP_QUERIES]

# the heavy operation of each map workload (olap_batch's is a whole pass)
HEAVY_KIND = {"viewport_session": "metadata", "live_ingest": "update"}


def _ms(spans, name, rid_only=True, **match) -> list[float]:
    """Durations (ms) of the spans called ``name`` whose attributes match;
    by default only spans that belong to a client request."""
    return [
        (s["end"] - s["start"]) * 1000.0
        for s in spans
        if s["name"] == name and (s["rid"] is not None or not rid_only)
        and all(s.get(k) == v for k, v in match.items())
    ]


def _med(xs) -> float:
    return median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def compute(workload: str, spans: list[dict], jobs: dict, extra: dict) -> dict[str, float]:
    """``jobs`` is JobAccounting.counts(); ``extra`` carries what the
    workload measured itself (session timings, spill and storage sizes,
    per-query times)."""
    selft = self_times(spans)
    by_rid: dict[str, dict[str, dict]] = {}
    for s in spans:
        if s["rid"] is not None:
            by_rid.setdefault(s["rid"], {}).setdefault(s["name"], s)

    def dur(s):
        return (s["end"] - s["start"]) * 1000.0

    def self_ms(name, skip_first=False):
        xs = sorted((s for s in spans if s["name"] == name and s["rid"] is not None),
                    key=lambda s: s["start"])
        if skip_first:
            xs = xs[1:]
        return _med([selft[s["id"]] * 1000.0 for s in xs])

    http_self = [
        dur(d["client.read"]) - dur(d["serving.get_clusters"])
        for d in by_rid.values()
        if "client.read" in d and "serving.get_clusters" in d
    ]
    gets = sorted((s for s in spans if s["name"] == "serving.get_clusters" and s["rid"] is not None),
                  key=lambda s: s["start"])
    updates = [s for s in spans if s["name"] == "serving.update_cluster"]

    if workload == "olap_batch":
        reads = jobs.get("query", [])
        n = len(OLAP_QUERIES)
        heavy = [  # (jobs, tasks) summed over each timed pass
            tuple(map(sum, zip(*reads[k:k + n]))) for k in range(0, len(reads) - n + 1, n)
        ]
    else:
        reads = jobs.get("read", [])[1:]  # the first read loads the dataset
        heavy = jobs.get(HEAVY_KIND[workload], [])

    m = {
        "session.start_s": extra["session_start_s"],
        "session.warmup_s": extra["session_warmup_s"],
        "http.self_ms": _med(http_self),
        "serving.get_clusters.self_ms": self_ms("serving.get_clusters", skip_first=True),
        "serving.rows_per_response": _med([s["rows"] for s in gets[1:] if "rows" in s]),
        "serving.update_cluster.self_ms": self_ms("serving.update_cluster"),
        "serving.first_request_ms": dur(gets[0]) if gets else 0.0,
        "engine.serve_cache_ms": _med(_ms(spans, "engine.get_clusters_local", path="serve_cache")),
        "engine.spark_path_ms": _med(_ms(spans, "engine.get_clusters_local", path="spark")),
        "engine.update_ms": _med(_ms(spans, "engine.update")),
        "engine.materialize_ms": sum(_ms(spans, "engine.materialize", rid_only=False)),
        "engine.cache_zoom_frames_ms": _med(_ms(spans, "engine.cache_zoom_frames")),
        "engine.build_serve_cache_ms": _med(_ms(spans, "engine.build_serve_cache")),
        "zoom.materialize_zoom_levels_ms": sum(_ms(spans, "zoom.materialize_zoom_levels", rid_only=False)),
        "zoom.update_zoom_levels_ms": _med(_ms(spans, "zoom.update_zoom_levels")),
        "zoom.incremental_ratio": (
            sum(s.get("plan") == "incremental" for s in updates) / len(updates) if updates else 0.0
        ),
        "zoom.pyramid_rows": next(
            (s["rows"] for s in sorted(spans, key=lambda s: s["start"])
             if s["name"] == "engine.cache_zoom_frames" and "rows" in s), 0),
        "lineage.materialize_df_ms": _med(_ms(spans, "lineage.materialize_df", rid_only=False)),
        "lineage.spill_mb_per_update": _med(extra.get("spill_mb_per_update", [])),
        "catalog.save_ms": sum(_ms(spans, "catalog.save", rid_only=False)),
        "catalog.load_ms": sum(_ms(spans, "catalog.load_points") + _ms(spans, "catalog.load_zoom_levels")),
        "catalog.stored_mb_points": extra.get("stored_mb", {}).get("points", 0.0),
        "catalog.stored_mb_zoom_levels": extra.get("stored_mb", {}).get("zoom_levels", 0.0),
        "spark.jobs_per_read": _mean([c[0] for c in reads]),
        "spark.tasks_per_read": _mean([c[1] for c in reads]),
        "spark.jobs_per_heavy_op": _mean([c[0] for c in heavy]),
        "spark.tasks_per_heavy_op": _mean([c[1] for c in heavy]),
    }
    for q in OLAP_QUERIES:
        m[f"queries.{q}_s"] = _med(extra.get("query_s", {}).get(q, []))
    missing = {n for n, *_ in LAYER_METRICS} ^ set(m)
    if missing:
        raise RuntimeError(f"layer metric table and computation disagree: {sorted(missing)}")
    return m
