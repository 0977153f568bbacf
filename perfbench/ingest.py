"""live_ingest: writes mixed with reads on one engine.

Set-up creates the dataset (pyramid build + catalog save; the time until
the first viewport request, which loads it, is printed as
``time_to_servable_s``) and posts the first update batch alone. Then, for
``--seconds`` and until at least ``MIN_UPDATES`` more batches have landed,
one closed-loop writer posts update batches while one closed-loop reader
requests viewports at zooms 6-10 around the city being written. A window
in which the hypervisor took much of the vCPUs' time is measured again
(``harness.quiet_window``).

Batch mix, repeating from the start of every window so each window times
the same mix: ``BATCH`` points around one city (the incremental path); the
same plus the deletion of ``DELETE`` previously added ids; ``BATCH``
world-uniform points (dispatches to a rebuild).
Every update drops the engine's serve caches, so the reads of the window,
which all follow the first batch, take the Spark path.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np

import maps
from data import CITIES, CITY_SIGMA_DEG, city_points, point_corpus, uniform_points
from harness import du_mb, median, percentile, quiet_window

N_POINTS = 10_000
BATCH = 500
DELETE = 50
MIN_UPDATES = 3  # the window runs past --seconds until this many landed
MIX = ("city", "city+delete", "uniform")  # update batch kinds, in window order
TAIL_PCT = 80  # read_tail_ms: the highest percentile with ~10 reads beyond it


def _spill_mb(run) -> float:
    return du_mb(*glob.glob(os.path.join(run.work, "tmp", "clustopher_spill_*")))


def run(run, tracer) -> dict:
    t_setup = time.perf_counter()
    extra = {"session_start_s": run.start_spark()}
    extra["session_warmup_s"] = run.warm_up(python_workers=False)
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
        extra["stored_mb"] = srv.stored_mb(ds)

        wrng = np.random.default_rng([run.seed, 20])
        rrng = np.random.default_rng([run.seed, 21])
        state = {"city": 0, "added": 0, "deleted": 0, "num_points": None, "plans": []}
        live: list[dict] = []  # added rows not yet deleted
        spill = []

        def post_batch(i: int, kind: str, timed: bool) -> float | None:
            """Post update batch ``i`` of a kind in MIX; returns its seconds,
            None if it failed."""
            nonlocal live
            first_id = N_POINTS + 1 + i * BATCH
            if kind == "uniform":
                add = uniform_points(wrng, first_id, BATCH)
            else:
                state["city"] = (state["city"] + 1) % len(CITIES)
                add = city_points(wrng, first_id, BATCH, state["city"])
            rows = add.to_dict("records")
            payload = {"add": rows}
            if kind == "city+delete":
                pick = set(wrng.choice(len(live), DELETE, replace=False).tolist())
                payload["delete"] = [
                    {"id": r["id"], "lng": r["lng"], "lat": r["lat"]}
                    for k, r in enumerate(live) if k in pick
                ]
                live = [r for k, r in enumerate(live) if k not in pick]
            live.extend(rows)
            rid = f"w-{i}" if tracer.enabled and timed else None
            path = f"/api/clusters/{ds}/update" + (f"?rid={rid}" if rid else "")
            before = _spill_mb(run) if tracer.enabled else 0.0
            try:
                with tracer.span("client.update", rid=rid):
                    status, body, dt = maps.request(
                        srv.port, "POST", path, json.dumps(payload).encode())
            except OSError as e:
                run.rec.attempt(False, f"update {i}: {e!r}")
                return None
            ok = status == 200
            run.rec.attempt(ok, f"update {i}: {status} {body[:300]!r}")
            if not ok:
                return None
            out = json.loads(body)
            if tracer.enabled:
                spill.append(_spill_mb(run) - before)
            state["added"] += BATCH
            state["deleted"] += len(payload.get("delete", []))
            state["num_points"] = out["num_points"]
            state["plans"].append(out["plan"])
            return dt

        # the first batch, alone and untimed: it pays the update path's
        # first-use costs and drops the serve caches, so every read of the
        # windows below takes the path reads take during ingest
        extra["first_update_s"] = post_batch(0, "city", timed=False)
        setup = time.perf_counter() - t_setup
        counters = {"batch": 1, "read": 0}

        def window() -> dict[str, list[float]]:
            """One timed window: the writer and the reader run for
            ``--seconds`` and until ``MIN_UPDATES`` batches landed."""
            deadline = time.perf_counter() + run.seconds
            out: dict[str, list[float]] = {"read": [], "update": []}
            writer_done = threading.Event()

            def writer() -> None:
                try:
                    while time.perf_counter() < deadline or len(out["update"]) < MIN_UPDATES:
                        kind = MIX[len(out["update"]) % len(MIX)]
                        dt = post_batch(counters["batch"], kind, timed=True)
                        if dt is None:
                            break
                        out["update"].append(dt)
                        counters["batch"] += 1
                except Exception as e:  # recorded as a failed operation, the run goes on
                    run.rec.attempt(False, f"writer: {e!r}")
                finally:
                    writer_done.set()

            def reader() -> None:
                while not writer_done.is_set():
                    i = counters["read"]
                    counters["read"] += 1
                    lng0, lat0 = CITIES[state["city"]]
                    zoom = int(rrng.integers(6, maps.MAX_ZOOM + 1))
                    bbox = maps.viewport(lng0 + rrng.normal(0.0, 2 * CITY_SIGMA_DEG),
                                         lat0 + rrng.normal(0.0, 2 * CITY_SIGMA_DEG), zoom)
                    rid = f"r-{i}" if tracer.enabled else None
                    path = f"/api/clusters/{ds}?" + maps.viewport_query(zoom, bbox, rid)
                    try:
                        with tracer.span("client.read", rid=rid):
                            status, body, dt = maps.request(srv.port, "GET", path)
                    except OSError as e:
                        run.rec.attempt(False, f"read: {e!r}")
                        continue
                    ok = status == 200
                    run.rec.attempt(ok, f"read {path}: {status} {body[:200]!r}")
                    if ok:
                        out["read"].append(dt)

            threads = [threading.Thread(target=writer, name="writer"),
                       threading.Thread(target=reader, name="reader")]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            return out

        samples, steal = quiet_window(window)
        _check(run, srv, ds, state)
        extra["spill_mb_per_update"] = spill
        reads, updates = samples["read"], samples["update"]
        run.metric("setup_s", setup, "s")
        if reads:
            run.metric("read_p50_ms", median(reads) * 1000.0, "ms")
            run.metric("read_tail_ms", percentile(reads, TAIL_PCT) * 1000.0, "ms")
        if updates:
            run.metric("heavy_p50_s", median(updates), "s")
        stored = sum(extra["stored_mb"].values())
        run.report.update({
            "time_to_servable_s": (servable, "s"),
            "first_update_s": (extra.get("first_update_s"), "s"),
            "window_steal_pct": (",".join(f"{p:.2f}" for p in steal), "%"),
            "update_p50_s": (median(updates) if updates else None, "s"),
            "update_times_s": (",".join(f"{u:.3f}" for u in updates), "s"),
            "update_plans": (",".join(state["plans"]), ""),
            "read_during_ingest_p50_ms": (median(reads) * 1000.0 if reads else None, "ms"),
            f"read_during_ingest_p{TAIL_PCT}_ms": (
                percentile(reads, TAIL_PCT) * 1000.0 if reads else None, "ms"),
            "read_samples": (len(reads), "count"),
            "stored_mb_per_1m_points": (stored * 1e6 / N_POINTS, "MB"),
        })
        extra["jobs"] = jobs.counts() if jobs else {}
        return extra
    finally:
        srv.close()


def _check(run, srv, ds: str, state: dict) -> None:
    """After the last batch every zoom accounts for N + added - deleted
    points, the count the last update reported."""
    from functools import reduce

    from pyspark.sql import functions as F

    expect = N_POINTS + state["added"] - state["deleted"]
    if state["num_points"] is not None and state["num_points"] != expect:
        run.check("update_num_points", False,
                  f"last update reported {state['num_points']}, expected {expect}")
    else:
        run.check("update_num_points", state["num_points"] is not None,
                  f"{expect} points after {len(state['plans'])} updates")
    eng = srv.engine(ds)
    frames = [
        eng.get_clusters(*maps.WORLD, z).select(F.lit(z).alias("zoom"), "point_count")
        for z in range(maps.MAX_ZOOM + 1)
    ]
    sums = {
        r["zoom"]: r["n"]
        for r in reduce(lambda a, b: a.unionByName(b), frames)
        .groupBy("zoom").agg(F.sum("point_count").alias("n")).collect()
    }
    wrong = {z: sums.get(z) for z in range(maps.MAX_ZOOM + 1) if sums.get(z) != expect}
    run.check("world_point_count_per_zoom", not wrong, f"expected {expect}, wrong zooms: {wrong}")
