"""Print a traced run's layer table.

    python3 perfbench/layers.py .perfbench/out/pipeline_trickle-seed1-trace1-c4.json
    python3 perfbench/layers.py RECORD.json --lane flagship_secure_report
    python3 perfbench/layers.py --overhead TRACED.json UNTRACED.json

The table has one row per span name over the measured operations (the
warm-up is left out): calls, inclusive wall, self wall, the driver /
executor split of the self wall, GC, shuffle and spill. ``--lane``
restricts it to one query lane. For the trickle, a second table shows
per wave how much of its wall the layer spans cover. ``--overhead``
prints traced minus untraced end-to-end metrics of two records of the
same workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import overhead  # noqa: E402

_COLS = ("calls", "wall_s", "self_s", "driver_s", "executor_run_s",
         "executor_cpu_s", "gc_s", "jobs", "tasks", "shuffle_MB", "spill_MB")
_COUNTS = ("calls", "jobs", "tasks")


def layer_rows(spans: list[dict], lane: str | None = None) -> dict[str, dict]:
    rows: dict[str, dict] = {}
    for s in spans:
        if s["op"] is None or s["op"] < 0:
            continue
        if lane is not None and s["name"] != f"lane.{lane}":
            continue
        r = rows.setdefault(s["name"], {c: 0 if c in _COUNTS else 0.0 for c in _COLS})
        r["calls"] += 1
        r["wall_s"] += s["end"] - s["start"]
        r["self_s"] += s["wall_s"]
        for c in ("driver_s", "executor_run_s", "executor_cpu_s", "gc_s"):
            r[c] += s[c]
        for c in ("jobs", "tasks"):
            r[c] += int(s[c])
        r["shuffle_MB"] += s["shuffle_bytes"] / 2**20
        r["spill_MB"] += s["spill_bytes"] / 2**20
    return rows


def coverage(spans: list[dict]) -> list[tuple]:
    """(wave, wall, covered by layer spans, tracer bookkeeping, uncovered)
    per measured wave: the ``wave`` span's self time is bookkeeping plus
    whatever no layer span covers."""
    return [(s["op"], s["end"] - s["start"], s["end"] - s["start"] - s["wall_s"],
             s.get("trace_s", 0.0), s["wall_s"] - s.get("trace_s", 0.0))
            for s in spans if s["name"] == "wave" and s["op"] >= 0]


def _table(header, rows) -> str:
    cells = [header] + [[_fmt(v) for v in r] for r in rows]
    widths = [max(len(c[i]) for c in cells) for i in range(len(header))]
    return "\n".join("  ".join(c[i].rjust(widths[i]) if i else c[i].ljust(widths[i])
                               for i in range(len(header))) for c in cells)


def _fmt(v) -> str:
    return f"{v:.3f}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record", nargs="+")
    ap.add_argument("--lane")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    recs = []
    for path in args.record:
        with open(path) as f:
            recs.append(json.load(f))
    if args.overhead:
        traced, untraced = recs
        for k, d in overhead(traced["end_to_end"], untraced["end_to_end"]).items():
            share = "" if d["share"] is None else f" ({d['share']:+.1%})"
            print(f"{k:18s} {d['delta']:+.4f}{share}")
        return 0
    rec = recs[0]
    if not rec["spans"]:
        print("record has no spans: run with --trace 1", file=sys.stderr)
        return 2
    rows = layer_rows(rec["spans"], args.lane)
    print(f"{rec['workload']} seed={rec['seed']} cpus={rec['host']['spark_graft_cpus']} "
          f"steal_s={rec['host']['steal_s']}")
    print(_table(("layer",) + _COLS, [(n,) + tuple(r.values()) for n, r in rows.items()]))
    if rec["workload"] == "pipeline_trickle" and not args.lane:
        print()
        print(_table(("wave", "wall_s", "covered_s", "trace_s", "uncovered_s"),
                     coverage(rec["spans"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
