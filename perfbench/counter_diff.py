"""Compare the deterministic counters of two traced runs.

    python3 perfbench/counter_diff.py A.json B.json

A and B are trace files that ``run.py --trace 1`` leaves in
``.perfbench_work/traces/``.  Job, task and input-row counts per call, and
the DB's file count, bytes and versions, repeat exactly for one seed and
one program, so any difference is a change in the work done, whatever the
host's load.  Prints every counter that differs and exits 1 if any does.
"""

from __future__ import annotations

import json
import sys


def diff_counters(a: dict, b: dict) -> list[tuple[str, object, object]]:
    """(name, value in a, value in b) for every counter that differs;
    a counter missing on one side reads as None there."""
    return [(k, a.get(k), b.get(k)) for k in sorted(set(a) | set(b))
            if a.get(k) != b.get(k)]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    runs = []
    for path in argv:
        with open(path) as f:
            runs.append(json.load(f))
    a, b = runs
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        print(f"note: comparing {a['workload']}/seed {a['seed']} with "
              f"{b['workload']}/seed {b['seed']}", file=sys.stderr)
    diffs = diff_counters(a["counters"], b["counters"])
    for name, va, vb in diffs:
        print(f"{name}: {va} -> {vb}")
    print(f"{len(diffs)} of {len(set(a['counters']) | set(b['counters']))} "
          "counters differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
