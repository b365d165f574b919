"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``; the
run measures for ``--seconds``, checks the program's outputs, and prints
as its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: every end-to-end metric of ``BENCHMARK.json``
with ``--trace 0``, every per-layer metric with ``--trace 1``.  A wrong
output exits with code 1; so does a missing library.  Everything the run
writes goes under ``.perfbench_work/`` in the repository root; the span
trace of a traced run is kept there as ``trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
# a run that has not finished by then is killed with its process tree and
# exits non-zero without a result, inside the 180 s a run may take
WATCHDOG_S = 170


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        import search_engine_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 1

    from layers import layer_metrics
    from spans import descendants, parse_event_log, tree_cpu_seconds
    from workloads import WORKLOADS, Run

    def abort() -> None:
        print(f"run exceeded {WATCHDOG_S} s; killing it", file=sys.stderr)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S - (time.perf_counter() - T_START), abort)
    watchdog.daemon = True
    watchdog.start()

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    cpu = (0.0, 0.0)
    try:
        WORKLOADS[args.workload](run)
        cpu = tree_cpu_seconds()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        run.stop_spark()
        run.sampler.stop()
    run.e2e["peak_rss_mb"] = run.sampler.peak_bytes / 2**20

    detail = {
        "workload": args.workload, "seed": args.seed, "inputs": run.info,
        "peak_rss_mb_by_process": {
            k: v / 2**20 for k, v in run.sampler.peak_by_name.items()
        },
        "wall_s": {
            "before_setup": run.t_setup_start - T_START,
            "setup": run.e2e["setup_s"],
            "measured_and_checks": t_stop - run.t_measured,
            "teardown": time.perf_counter() - t_stop,
        },
    }
    if run.traced:
        jobs = parse_event_log(str(run.event_dir))
        by_span = run.tracer.attribute_jobs(jobs)
        layers, extra = layer_metrics(run, by_span, cpu)
        detail.update(
            traced_end_to_end=run.e2e, layer_detail=extra,
            trace_file=str(
                (ROOT / ".perfbench_work"
                 / f"trace-{args.workload}-{args.seed}.json").relative_to(ROOT)
            ),
        )
        run.tracer.write(
            str(ROOT / detail["trace_file"]),
            {"workload": args.workload, "seed": args.seed,
             "jobs_per_span": {
                 sid: len(js) for sid, js in by_span.items() if js
             }},
        )
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], run.e2e
    shutil.rmtree(run.work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    for what in run.wrong:
        print(f"WRONG: {what}", file=sys.stderr)
    watchdog.cancel()
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not run.wrong,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0 if not run.wrong else 1


if __name__ == "__main__":
    sys.exit(main())
