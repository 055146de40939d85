"""Benchmark of the KG-construction and curation pipelines and the headline
query pack on local[4].

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root. Workloads (see workloads.py):

- ``kg_build``: ``pipeline.run`` into a fresh warehouse;
- ``curate``: ``datapipe.curate`` over a corpus with planted duplicates;
- ``query_pack``: one pass over ``bench.HEADLINE`` on the tables at
  ``bench.SF_DIR`` (``$SPARK_GRAFT_SF_DIR``), as bench.py reads them.

``--trace 0`` reports the end-to-end metrics (``wall_s``, ``docs_per_s``,
``setup_s``, ``peak_rss_mb``); ``--trace 1`` runs the measured iteration
inside layer spans and reports the per-layer metrics instead, ``resume_s``
among them. The error rate is ``failed / attempted``; progress, resume times
and any failure go to standard error. Human-readable lines come first; the
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Inputs, recorded output digests and Spark scratch files live in
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    try:
        # the workloads import the program and bench.py from the checkout
        from perfbench.workloads import WORKLOADS, run_workload
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    result = run_workload(args.workload, args.seed, args.seconds,
                          bool(args.trace), os.path.join(HERE, ".work"))
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate = "
          f"{result['failed'] / result['attempted']:.6g} "
          f"({result['failed']}/{result['attempted']})")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
