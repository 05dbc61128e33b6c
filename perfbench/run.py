"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives one Spark session on
local[<cpus>] with one closed-loop client: the next query or job starts
only after the last one finished, as in a nightly batch. Set-up (session
start, then either the check pass against every query's DuckDB oracle and
two untimed warm-up passes, or the seeded change-feed generation, the
bootstrap night, its snapshot and one untimed run of the loaded job) is
timed as `setup_s`. Passes (a registry pass or a night) then run back to
back: at least one, and more while another pass of median length still
fits in ``--seconds``. Output checks run outside the timed
regions; an operation that raised or failed its check is counted in
``failed``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones:

  setup_s       set-up wall time
  pass_s        median wall time of one pass (registry pass or night)
  peak_rss_mb   peak resident memory of the driver process, the JVM and
                the Python workers (workers by proportional set size)

With ``--trace 1`` the run opens a span around every call into the traced
engine functions, enables the Spark event log through
``get_session(extra_conf=...)``, and reports the per-layer metrics, each
per pass (median over passes). ``trace.pass_s`` minus the untraced
``pass_s`` is the tracing overhead. Spans and per-layer values are written
to ``.perfbench/out/`` when the run ends; untraced runs write their
per-operation times there.

Workloads:
  registry_sf01  9 registry queries on the sf0.1 tables in data/sf0.1,
                 noop sink, a seeded order per pass
  nightly_sf01   4 reference jobs on warm watermarks (inputs in
                 data/reference) plus one job merging a seeded change feed
                 derived from sf0.1 lineitem and orders, from a
                 post-bootstrap snapshot
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spans  # noqa: E402
import sparklog  # noqa: E402
from harness import PKG, Run  # noqa: E402
from nightly_workload import NightlyWorkload  # noqa: E402
from registry_workload import RegistryWorkload  # noqa: E402

WORKLOADS = {"registry_sf01": RegistryWorkload, "nightly_sf01": NightlyWorkload}


def install_tracing(run: Run) -> None:
    """Open a span around every call into the traced engine functions."""
    import dataclasses
    import pkgutil
    from importlib import import_module

    from com_danliris_service_etl_spark import jobs, operators
    from com_danliris_service_etl_spark.plans.registry import load_all
    from com_danliris_service_etl_spark.sources import fsutil, sinks
    from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

    tracer = run.tracer
    load_all()  # import every query module, so their operator bindings exist
    for m in pkgutil.iter_modules(operators.__path__):
        mod = import_module(f"{PKG}.operators.{m.name}")
        spans.patch_module(tracer, mod, f"operators.{m.name}", [PKG])
    spans.patch_module(tracer, fsutil, "sources.fsutil", [PKG])
    spans.patch_function(tracer, sinks, "merge_upsert", "sources.sinks.merge_upsert", [PKG])
    for method in ("read_watermark", "commit_run"):
        spans.patch_method(tracer, WatermarkStore, method, f"sources.watermark.{method}")
    for module in ("inventory", "production", "sales", "deal", "purchasing", "qc", "garment", "control"):
        for spec in getattr(jobs, module).SPECS:
            name = f"jobs.{module}.build"
            jobs.ALL_SPECS[spec.name] = dataclasses.replace(
                spec,
                build=tracer.wrap(spec.build, name),
                extra_targets={
                    t: (tracer.wrap(v[0], name), *v[1:]) for t, v in spec.extra_targets.items()
                },
            )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    workload = WORKLOADS[args.workload](run)
    try:
        try:
            run.start_session()
            t_session = time.perf_counter() - T_START
            if run.traced:
                install_tracing(run)
            workload.setup()
            setup_s = time.perf_counter() - T_START
            print(f"[perfbench] setup {setup_s:.1f} s, of which session start {t_session:.1f} s", file=sys.stderr)
            run.run_passes(workload.run_pass, workload.min_passes)
            workload.finish()
        except Exception:
            print_log_tail(run.driver_log)
            raise
        finally:
            run.stop()
        if run.traced:
            metrics = traced_metrics(run, workload)
        else:
            metrics = run.end_to_end(setup_s)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    for op, error in run.tally.errors().items():
        print(f"[perfbench] FAILED {op}: {error}", file=sys.stderr)
    result = {
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def print_log_tail(path: str, lines: int = 40) -> None:
    try:
        with open(path, errors="replace") as f:
            tail = f.readlines()[-lines:]
    except OSError:
        return
    print("[perfbench] driver log tail:\n" + "".join(tail), file=sys.stderr)


def traced_metrics(run: Run, workload) -> dict[str, tuple[float, str]]:
    import layers

    spark_ops = sparklog.read_events(sparklog.event_lines(os.path.join(run.work, "eventlog")))
    with open(run.driver_log, "rb") as f:
        driver_log = f.read()
    codegen = [
        sparklog.count_codegen_fallbacks(driver_log[a:b].decode(errors="replace"))
        for a, b in run.pass_log_offsets
    ]
    metrics = layers.layer_metrics(
        run.tracer.spans, run.pass_ids, run.pass_walls, spark_ops, codegen, workload.layer_extras()
    )
    base = os.path.join(run.out_dir, f"{run.workload}-seed{run.seed}")
    run.tracer.dump(base + "-spans.json")
    with open(base + "-layers.json", "w") as f:
        json.dump({k: v for k, (v, _u) in metrics.items()}, f, indent=1)
    return metrics


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(2)
