#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py untraced.json traced.json

Each argument is the output of one ``perfbench/run.py`` run of the same
workload (``--trace 0`` and ``--trace 1``); only its last line is read.
Pass several files per side as ``a.json,b.json`` to compare medians.
"""

from __future__ import annotations

import json
import statistics
import sys


def _medians(paths: str, prefix: str) -> dict[str, float]:
    runs = []
    for path in paths.split(","):
        with open(path) as f:
            runs.append(json.loads(f.read().strip().splitlines()[-1])["metrics"])
    keys = [k for k in runs[0] if k.startswith(prefix)]
    return {
        k[len(prefix) :]: statistics.median(r[k]["value"] for r in runs) for k in keys
    }


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    plain = _medians(sys.argv[1], "")
    traced = _medians(sys.argv[2], "traced.")
    for name, v in traced.items():
        base = plain[name]
        print(f"{name}: untraced={base:.4f} traced={v:.4f} overhead={v - base:+.4f} "
              f"({(v - base) / base:+.1%})")


if __name__ == "__main__":
    main()
