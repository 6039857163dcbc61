#!/usr/bin/env python3
"""Curation-job benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload curate_model --seed 1 --seconds 1 --trace 0

``--trace 0`` times whole runs (event log off) and prints the
end-to-end metrics; ``--trace 1`` runs the traced pass and prints the
per-layer metrics. The last stdout line is the result object; the line
before it is the full report (host facts, seed, sample counts).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.trace:
        from perfbench.traced import traced_mode as mode
    else:
        from perfbench.loop import timed_mode as mode
    metrics, runs, detail = mode(args)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": metrics,
        **detail,
    }
    from perfbench.harness import WORK, write_json
    from perfbench.loop import result

    write_json(WORK / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", report)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result(metrics, runs)))
    return 0


if __name__ == "__main__":
    try:
        import oscar_tools_spark  # noqa: F401
        import tests.reference_model  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from a checkout of the repository ({e})", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
