"""Render a traced run as the layer table.

    python3 crawlbench/render.py [RECORD.json]

With no argument, renders the newest traced record in
``.crawlbench/runs``. Columns: layer, metric, value, unit, and the
end-to-end metric and workloads it feeds. When an untraced record of the
same workload and seed exists, the tracing overhead is printed as the
difference of their end-to-end numbers.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(os.path.dirname(HERE), ".crawlbench", "runs")
sys.path.insert(0, HERE)

from metrics import PER_LAYER  # noqa: E402


def _records(trace: int) -> list[str]:
    return sorted(glob.glob(os.path.join(RUNS, f"*-trace{trace}-*.json")), key=os.path.getmtime)


def table(record: dict) -> list[str]:
    metrics = record["result"]["metrics"]
    rows = [("layer", "metric", "value", "unit", "feeds")]
    for name, _, _, feeds in PER_LAYER:
        layer, metric = name.rsplit(".", 1)
        m = metrics[name]
        rows.append((layer, metric, f"{m['value']:.6g}", m["unit"], feeds))
    widths = [max(len(r[i]) for r in rows) for i in range(4)]
    return ["  ".join(c.ljust(w) for c, w in zip(r, widths)) + "  " + r[4] for r in rows]


def overhead(record: dict) -> list[str]:
    env = record["env"]
    traced = record["e2e"]
    for path in reversed(_records(0)):
        with open(path) as f:
            plain = json.load(f)
        if plain["workload"] == record["workload"] and plain["env"]["seed"] == env["seed"]:
            lines = ["", "tracing overhead (traced vs untraced, same workload and seed):"]
            for name, m in plain["result"]["metrics"].items():
                if name in traced and m["value"]:
                    lines.append(f"  {name}: {traced[name]:.6g} vs {m['value']:.6g} "
                                 f"({traced[name] / m['value'] - 1:+.1%})")
            return lines
    return ["", "tracing overhead: no untraced record of this workload and seed"]


def main() -> int:
    paths = sys.argv[1:] or _records(1)[-1:]
    if not paths:
        print("no traced run record found; run crawlbench/run.py with --trace 1", file=sys.stderr)
        return 2
    with open(paths[0]) as f:
        record = json.load(f)
    env = record["env"]
    print(f"workload {record['workload']}  seed {env['seed']}  nproc {env['nproc']}  "
          f"pyspark {env['pyspark']}  commit {env['git_commit'][:12]}")
    print("\n".join(table(record) + overhead(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
