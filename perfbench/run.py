"""Extraction benchmark entry point.

    python3 perfbench/run.py --workload page_scan --seed 1 --seconds 2 --trace 0

Run from the root of a checkout. Prints every computed metric with its
unit, then, as the last line of standard output, one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits non-zero,
without a result, when the program cannot be imported from the checkout.
Every process the run starts has ended when it exits (``reap``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("page_scan", "neural_ocr", "crawl_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kraken_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import harness

    result = harness.run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(harness.emit(result, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench import reap

    sys.exit(reap.guarded(main))
