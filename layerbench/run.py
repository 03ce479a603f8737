"""Run one benchmark workload and print its metrics.

    python3 layerbench/run.py --workload catalog_ops --seed 1 \
        --seconds 15 --trace 0

Run from the repository root (the program is imported from there). The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it starts with
``REPORT`` and holds the host stamp, per-class latencies with sample
counts, and the workload's extra end-to-end figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog_ops", "lakehouse_dml", "analytic_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    import olympia_spark  # noqa: F401 — fail fast outside a checkout

    work = os.path.join(root, ".layerbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile
    tempfile.tempdir = None

    from layerbench.host import HostStamp
    stamp = HostStamp()
    if args.workload == "catalog_ops":
        from layerbench.catalog_ops import CatalogOps as cls
    elif args.workload == "lakehouse_dml":
        from layerbench.lakehouse_dml import LakehouseDml as cls
    else:
        from layerbench.analytic_reads import AnalyticReads as cls
    wl = cls(args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics, report = wl.run()
    finally:
        wl.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass                    # another run's work dir is still there
        # the deletions' write-back is done before the next run starts
        os.sync()
    report["workload"] = args.workload
    report["seed"] = args.seed
    report["host"] = stamp.finish(wl.threads, wl.heap)
    print("REPORT " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
