"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload ocpp_refresh --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout: the program (``kwwhat_spark``)
is imported from the checkout, never from an installed copy. Every
file the run writes stays under ``.bench_work/`` in the checkout.

A run times one pipeline (a full refresh, or one incremental batch),
then asks rounds of chat-BI questions until ``--seconds`` have passed
since the pipeline started, at least one round. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a separate traced run. Exit code 0 with a JSON
result line, 1 when a run fails, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kwwhat_spark
    except ImportError as e:
        print(f"perfbench: the program is missing from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(kwwhat_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: kwwhat_spark resolves outside {ROOT}", file=sys.stderr)
        return 2

    from perfbench import catalog, ocpp

    if args.workload not in ocpp.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = ocpp.WORKLOADS[args.workload](ROOT, work, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for what, problems in res.ops.problems:
        print(f"perfbench: FAILED {what}: {problems}", file=sys.stderr)
    if args.trace:
        values = res.layers
        units = {n: u for n, (u, _, _) in catalog.PER_LAYER.items()}
    else:
        values = res.e2e
        units = {n: u for n, (u, _, _) in catalog.END_TO_END.items()}
    if set(values) != set(units):
        print(f"perfbench: metrics differ from the catalog: {set(values) ^ set(units)}",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res.ops.failed == 0,
        "attempted": res.ops.attempted,
        "failed": res.ops.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
