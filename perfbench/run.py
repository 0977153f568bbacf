"""perfbench entry point.

    python3 perfbench/run.py --workload viewport_session --seed 1 --seconds 10 --trace 0

Runs one workload against the clustopher_spark package of the checkout
this file sits in, checks the program's outputs, prints every metric by
name with its unit, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the layer boundaries, reports
the per-layer metrics and writes the spans to
``.perfbench/traces/<workload>-seed<seed>.json``. Exits non-zero when a
check fails or the program cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("viewport_session", "live_ingest", "olap_batch")
END_TO_END = [
    ("setup_s", "s"),
    ("read_p50_ms", "ms"),
    ("read_tail_ms", "ms"),
    ("heavy_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM unwinds through the finally below, which stops Spark and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "clustopher_spark", "__init__.py")):
        print(f"perfbench: no clustopher_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from harness import Run

    import importlib

    import tracing

    tracer = tracing.Tracer() if args.trace else tracing.NULL
    module = importlib.import_module(
        {"viewport_session": "viewport", "live_ingest": "ingest", "olap_batch": "olap"}[args.workload]
    )
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.prepare_env()
        env = run.env_record()
        print("env " + json.dumps(env), flush=True)
        t0 = time.perf_counter()
        extra = module.run(run, tracer)
        rss = run.peak_rss_mb()
        run.metric("peak_rss_mb", sum(rss.values()), "MB")
        run.report.update({f"peak_rss_{side}_mb": (v, "MB") for side, v in rss.items()})
        if args.trace:
            import layers

            tracer.unwrap_all()
            layer = layers.compute(args.workload, tracer.spans, extra.get("jobs", {}), extra)
            units = {n: u for n, u, *_ in layers.LAYER_METRICS}
            for name, value in layer.items():
                run.layer_metric(name, value, units[name])
    finally:
        run.cleanup()
    wall = time.perf_counter() - t0

    for name, (value, unit) in run.report.items():
        print(f"{name:34s} {value!s:>14} {unit}")
    print(f"{'error_rate':34s} {run.rec.failed / max(run.rec.attempted, 1):>14.4f} failed/attempted")
    for name, ok, detail in run.checks:
        print(f"check {name:30s} {'ok' if ok else 'FAILED'}  {detail}")
    for err in run.rec.errors:
        print(f"error {err}")
    missing = [n for n, _ in END_TO_END if n not in run.metrics]
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"metric {name:27s} {value:>14.4f} {unit}")
    correct = all(ok for _, ok, _ in run.checks) and not missing and run.rec.failed == 0
    if missing:
        print(f"missing end-to-end metrics (no samples): {missing}")

    if args.trace:
        path = run.write_trace_file({
            "env": env, "workload": args.workload, "wall_s": wall,
            "end_to_end_traced": run.metrics, "report": run.report,
            "layers": run.layer, "checks": run.checks,
            "jobs": extra.get("jobs"), "spans": tracer.spans,
        })
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        metrics = run.layer
    else:
        metrics = {n: run.metrics[n] for n, _ in END_TO_END if n in run.metrics}
    print(json.dumps({
        "correct": correct,
        "attempted": run.rec.attempted,
        "failed": run.rec.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
