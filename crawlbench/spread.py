"""Summarize repeated benchmark runs into per-metric medians and spreads.

    python3 crawlbench/spread.py runs.jsonl [more.jsonl ...] > summary.json

Each input line is one run: ``{"w": <workload>, "seed": <n>, "total": <run
wall s>, "digest": <the run's digest>, "res": <the run's last stdout line>}``.
For every workload and end-to-end metric it prints the median, the
quartiles from ``statistics.quantiles(values, n=4)``, and the spread
(q3 - q1) / median, next to the metric's bound from ``BENCHMARK.json``.
Runs of one seed must agree on the digest; ``digests_agree`` says whether
they do.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path


def summarize(lines: list[dict], bounds: dict[str, float]) -> dict:
    out: dict[str, dict] = {}
    for w in sorted({x["w"] for x in lines}):
        runs = [x for x in lines if x["w"] == w]
        entry = {
            "seeds": [x["seed"] for x in runs],
            "run_total_s": statistics.median(x["total"] for x in runs),
            "all_correct": all(x["res"]["correct"] for x in runs),
            "failed": sum(x["res"]["failed"] for x in runs),
            "attempted": sum(x["res"]["attempted"] for x in runs),
            "digests_agree": all(
                len({x["digest"] for x in runs if x["seed"] == seed}) == 1 for seed in {x["seed"] for x in runs}
            ),
            "metrics": {},
        }
        for name in runs[0]["res"]["metrics"]:
            vals = [x["res"]["metrics"][name]["value"] for x in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            entry["metrics"][name] = {
                "values": vals,
                "median": statistics.median(vals),
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / statistics.median(vals),
                "bound": bounds.get(name),
            }
        out[w] = entry
    return out


def main() -> int:
    lines = [json.loads(line) for p in sys.argv[1:] for line in Path(p).read_text().splitlines() if line]
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(json.dumps(summarize(lines, bounds), indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
