"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload ingest_drops --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``. A readable report goes to standard error, and
the full record of the run (latencies, tail percentile and sample count,
host-band marker, failures; spans in a traced run) is written under
``.perfbench_out/``. The exit code is 0 only if every output check passed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

WORKLOADS = ("ingest_drops", "query_mix", "clean_corpus")
PACKAGE = "bucket_to_bigquery_spark"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_line(b, trace: bool) -> tuple[dict, dict]:
    """The printed result and the metrics it holds, by name."""
    from perfbench import metrics

    if trace:
        units = metrics.PER_LAYER
        shown = {name: b.layer.get(name, 0.0) for name in units}
    else:
        units = metrics.END_TO_END
        shown = b.end_to_end()
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(shown[k]), "unit": units[k]} for k in units},
    }, shown


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    sys.path[0] = root  # import the checkout's package and perfbench itself
    from perfbench import harness

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.session_env(work, root)
    harness.redirect_program_scratch(work)
    module = importlib.import_module(f"perfbench.workloads.{args.workload}")
    b = harness.Bench(work, args.seed, args.seconds, bool(args.trace))
    error = None
    t = time.perf_counter()
    try:
        module.run(b)
    except Exception as e:  # noqa: BLE001 — reported as a run without a result
        import traceback

        traceback.print_exc()
        error = f"{type(e).__name__}: {e}"
    finally:
        b.detail["run_s"] = time.perf_counter() - t  # inputs, set-up, window, checks
        b.probe.stop()
        if b.spark is not None:
            harness.stop_session(b.spark)
        shutil.rmtree(work, ignore_errors=True)
        b.detail["stop_s"] = time.perf_counter() - t - b.detail["run_s"]
    if error is not None:
        print(f"perfbench: {args.workload} did not complete: {error}", file=sys.stderr)
        return 1

    result, shown = result_line(b, bool(args.trace))
    e2e = b.end_to_end()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "end_to_end": e2e,
              "per_layer": shown if args.trace else {},
              "attempted": b.attempted, "failed": b.failed, "failures": b.failures,
              "latencies_s": [r.latency for r in b.ops if not r.traced],
              "traced_latencies_s": [r.latency for r in b.ops if r.traced],
              # like-for-like ops run the same Spark jobs
              "spark_jobs": [r.engine.get("spark.jobs") for r in b.ops],
              "host_band": b.host_band, **b.detail}
    out = os.path.join(root, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    with open(os.path.join(out, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=float)
    if args.trace:
        b.tracer.write(os.path.join(out, stem + ".spans.jsonl"))

    for k, m in result["metrics"].items():
        print(f"{args.workload:>13} {k:<36} {m['value']:14.6f} {m['unit']}", file=sys.stderr)
    t, hb = b.detail["op_tail"], b.host_band
    print(f"{args.workload:>13} {b.failed}/{b.attempted} failed; "
          f"tail p{t['percentile']} of {t['n']} ops; "
          f"warm-up {[round(x, 3) for x in hb['warmup_s']]}; "
          f"calib {hb['calib_before_s']:.3f}/{hb['calib_after_s']:.3f} s; "
          f"steal {hb['steal_frac']:.4f}", file=sys.stderr)
    for f in b.failures:
        print(f"{args.workload:>13} FAILED {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
