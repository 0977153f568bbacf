"""olap_batch: one closed-loop client collecting a fixed list of registry
queries over seeded TPC-H-shaped tables. An untimed cold pass (printed
as olap_cold_pass_s) and a second untimed pass, both counted in set-up,
precede the timed passes. A window in which the hypervisor took much of
the vCPUs' time is measured again (``harness.quiet_window``).
Bypasses http, serving, engine and zoom: the no-change control for
serving and pyramid optimisations."""

from __future__ import annotations

import math
import os
import time

from data import olap_tables
from harness import median, percentile, quiet_window
from layers import OLAP_QUERIES

MIN_PASSES = 3  # the window runs past --seconds until this many passes ran
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _run_query(run, tracer, jobs, name: str, sf_dir: str, kind: str):
    from clustopher_spark.queries import QUERIES

    if jobs:
        jobs.begin(kind)
    t0 = time.perf_counter()
    with tracer.span(f"queries.{name}"):
        pdf = QUERIES[name](run.spark, sf_dir).toPandas()
    dt = time.perf_counter() - t0
    if jobs:
        jobs.end()
    return pdf, dt


def run(run, tracer) -> dict:
    t_setup = time.perf_counter()
    extra = {"session_start_s": run.start_spark()}
    # the listed queries are JVM-only: no Python worker pool to start
    extra["session_warmup_s"] = run.warm_up(python_workers=False)
    jobs = None
    if tracer.enabled:
        from harness import JobAccounting

        jobs = JobAccounting(run.spark)
    sf_dir = olap_tables(run.seed, os.path.join(run.work, "tables"))
    first: dict = {}
    t0 = time.perf_counter()
    for name in OLAP_QUERIES:
        first[name], _ = _run_query(run, tracer, jobs, name, sf_dir, "cold_query")
    cold = time.perf_counter() - t0
    for name in OLAP_QUERIES:  # JIT and plan caches are still warming after one pass
        _run_query(run, tracer, jobs, name, sf_dir, "warm_query")
    setup = time.perf_counter() - t_setup

    results: list[dict] = []  # every timed pass's output, for the checks

    def window() -> dict:
        """One timed window: passes for ``--seconds`` and at least
        ``MIN_PASSES`` of them."""
        query_s: dict[str, list[float]] = {n: [] for n in OLAP_QUERIES}
        passes: list[float] = []
        deadline = time.perf_counter() + run.seconds
        while time.perf_counter() < deadline or len(passes) < MIN_PASSES:
            t0 = time.perf_counter()
            out = {}
            for name in OLAP_QUERIES:
                try:
                    out[name], dt = _run_query(run, tracer, jobs, name, sf_dir, "query")
                except Exception as e:  # a failed query is counted, the pass goes on
                    if jobs:
                        jobs.end()
                    run.rec.attempt(False, f"{name}: {e!r}")
                    continue
                run.rec.attempt(True)
                query_s[name].append(dt)
            passes.append(time.perf_counter() - t0)
            results.append(out)
        return {"query_s": query_s, "passes": passes}

    samples, steal = quiet_window(window)
    query_s, passes = samples["query_s"], samples["passes"]
    _check(run, sf_dir, first, results)
    # each query's median over the passes: a host stall that hits one
    # pass moves no query's figure
    typical = {n: median(v) for n, v in query_s.items() if v}
    run.metric("setup_s", setup, "s")
    if len(typical) == len(OLAP_QUERIES):
        q = list(typical.values())
        run.metric("read_p50_ms", median(q) * 1000.0, "ms")
        run.metric("read_tail_ms", percentile(q, 75) * 1000.0, "ms")
        run.metric("heavy_p50_s", sum(q), "s")
    run.report.update({
        "olap_pass_s": (median(passes) if passes else None, "s"),
        "olap_pass_times_s": (",".join(f"{p:.3f}" for p in passes), "s"),
        "olap_cold_pass_s": (cold, "s"),
        "window_steal_pct": (",".join(f"{p:.2f}" for p in steal), "%"),
        **{f"{n}_s": (typical.get(n), "s") for n in OLAP_QUERIES},
    })
    extra["query_s"] = query_s
    extra["jobs"] = jobs.counts() if jobs else {}
    return extra


# --- output checks (canonical form as in tests/test_oracle_parity.py) ---------

def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _canon(pdf):
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64") and pdf[c].dt.tz is not None:
            pdf[c] = pdf[c].dt.tz_localize(None)
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def _check(run, sf_dir: str, first: dict, results: list[dict]) -> None:
    """Oracle-backed queries match DuckDB over the same parquet; the rest
    return identical results on every pass."""
    import duckdb

    from clustopher_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in OLAP_QUERIES:
            got = _canon(first[name])
            if name in ORACLES:
                want = _canon(con.execute(ORACLES[name]).fetch_df())
                run.check(f"oracle:{name}", got == want,
                          f"{len(got[1])} rows vs duckdb {len(want[1])}")
            same = all(_canon(r[name]) == got for r in results if name in r)
            run.check(f"stable:{name}", same, f"{len(results)} timed passes")
    finally:
        con.close()
