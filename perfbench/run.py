"""Benchmark entry point.

    python3 perfbench/run.py --workload sweep --seed 1 --seconds 3 --trace 0

Run from the repository root.  Workloads: ``sweep`` (every registry query
over seeded tables), ``fv_sparse`` (the feature vector at local[nproc] and
local[1]) and ``pipeline`` (the checkpointed CLI job); see README.md.

Progress and the host stamp go to stderr and to a ``{"stamp": ...}`` line;
the last stdout line is the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics and writes the spans to ``.perfbench/trace-<workload>-<seed>.json``.
All scratch files live under ``.perfbench/`` in the working directory and
are removed on exit.  Exits 1 if an output check fails, 2 if the program
under test cannot be found or imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a stuck JVM must not outlive us
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        _log(f"perfbench: no program under test in {root} "
             "(run from the repository root)")
        return 2
    sys.path.insert(1, root)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    try:
        import __spark_entry__  # noqa: F401
        import radarpipeline_spark  # noqa: F401
    except ImportError as e:
        _log(f"perfbench: cannot import the program under test: {e}")
        return 2

    import metrics
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    out_dir = os.path.join(root, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"tmp-{args.workload}-", dir=out_dir)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # streaming cells stage their files here

    tracer = Tracer(enabled=bool(args.trace))
    bench = workloads.Bench(root, tmp, args.seed, args.seconds, tracer)
    t0 = time.perf_counter()
    res = bench.result
    crashed = False
    try:
        res = workloads.WORKLOADS[args.workload](bench)
    except Exception:  # noqa: BLE001 — report the failure as a failed run
        traceback.print_exc()
        crashed = True
    finally:
        bench.stop()
        _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    res.layers["trace.overhead_s"] = tracer.overhead_s
    if crashed:
        res.attempted += 1
        res.failed += 1
    for note in res.notes:
        _log(f"perfbench: FAILED {note}")
    if args.trace and not crashed:
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                           "layers": res.layers, "stamp": res.stamp})
    stamp = dict(res.stamp, workload=args.workload, seed=args.seed,
                 trace=args.trace, run_s=time.perf_counter() - t0)
    print(json.dumps({"stamp": stamp}), flush=True)
    _log(f"perfbench: {json.dumps(stamp)}")

    if crashed:
        names, values = [], {}
    elif args.trace:
        names, values = metrics.PER_LAYER, res.layers
    else:
        names, values = metrics.END_TO_END, res.e2e
    out = {
        "correct": res.failed == 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": {m[0]: {"value": values[m[0]], "unit": m[1]} for m in names},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
