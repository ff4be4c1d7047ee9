#!/usr/bin/env python3
"""Re-derive the catalog baseline table from a traced run's spans.

  python3 perfbench/run.py --workload catalog_sf01 --queries all --trace 1 --seconds 1
  python3 perfbench/baseline.py .bench_work/trace-catalog_sf01-1.json

Reads the span file a traced run writes and reports, for the last warm
pass: catalog wall, DataFrame construction (constructor jobs included),
Catalyst phases, jobs and tasks, how many queries spend more than 300 ms
executing and how many of those run at parallelism below 1.2 (task run
time over execution wall time), the queries whose constructor runs jobs,
and the fixed floor of queries under 300 ms.
"""
import json
import sys


def main():
    spans = json.load(open(sys.argv[1]))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    passes = [s for s in spans if s["kind"] == "pass"]
    last = [p for p in passes if p["name"].startswith("warm")][-1]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    rows = []
    for q in kids.get(last["id"], []):
        if q["kind"] != "query":
            continue
        phases = {p["kind"]: p for p in kids.get(q["id"], [])}
        cons, act = phases["construct"], phases["action"]
        ctor_jobs = [j for j in kids.get(cons["id"], []) if j["kind"] == "job"]
        act_jobs = [j for j in kids.get(act["id"], []) if j["kind"] == "job"]
        jobs = ctor_jobs + act_jobs
        rows.append({
            "name": q["name"], "wall": dur(q), "construct": dur(cons),
            "catalyst": cons.get("catalyst_s", 0.0)
            + sum(dur(phases[k]) for k in ("analyze", "optimize", "physical")),
            "action": dur(act), "ctor_jobs": len(ctor_jobs), "jobs": len(jobs),
            "tasks": sum(j.get("tasks", 0) for j in jobs),
            "act_task_s": sum(j.get("task_s", 0.0) for j in act_jobs),
        })
    wall = sum(r["wall"] for r in rows)
    cons = sum(r["construct"] for r in rows)
    cat = sum(r["catalyst"] for r in rows)
    busy = [r for r in rows if r["action"] > 0.3]
    serial = [r for r in busy if r["act_task_s"] / r["action"] < 1.2]
    ctor = [r for r in rows if r["ctor_jobs"] > 0]
    floor = [r for r in rows if r["wall"] < 0.3]
    print("| Measure | Value |")
    print("|---|---|")
    print(f"| Queries | {len(rows)} |")
    print(f"| Catalog wall (warm) | {wall:.1f} s |")
    print(f"| DataFrame construction | {cons:.1f} s ({cons / wall:.0%}) |")
    print(f"| Catalyst (in-constructor analysis + analyze/optimize/physical) | {cat:.1f} s ({cat / wall:.0%}) |")
    print(f"| Jobs / tasks | {sum(r['jobs'] for r in rows)} jobs, {sum(r['tasks'] for r in rows)} tasks |")
    print(f"| Queries with >300 ms of execution | {len(busy)} |")
    print(f"| ...of those, parallelism <1.2 | {len(serial)} |")
    print(f"| Queries running jobs in the constructor | {len(ctor)} ({sum(r['ctor_jobs'] for r in ctor)} jobs) |")
    print(f"| Constructor time of those queries | {sum(r['construct'] for r in ctor):.1f} s |")
    print(f"| Fixed floor | {len(floor)} queries under 300 ms, {sum(r['wall'] for r in floor):.1f} s total |")
    top = sorted(rows, key=lambda r: -r["construct"] / r["wall"])[:5]
    print("\nLargest construction shares: " + ", ".join(
        f"{r['name']} ({r['construct'] / r['wall']:.0%})" for r in top))


if __name__ == "__main__":
    main()
