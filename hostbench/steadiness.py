#!/usr/bin/env python3
"""Steadiness record: repeated runs of every workload, in sets.

    python3 hostbench/steadiness.py

It takes no options; everything it runs is fixed below, so a record made
again is made the same way. Each set runs every workload of
``BENCHMARK.json`` once per seed in ``SEEDS`` (the same seeds in every
set, workloads interleaved per seed so host drift spreads over all of
them), then one traced run per workload on ``TRACED_SEED``. For each
end-to-end metric it records every value and, per set, the median and
quartiles (``statistics.quantiles(n=4)``), the quartile spread as a
share of the median, and the drift of each set's median from the first
set's in the metric's worse direction.

After the sets it measures how much of a build's wall grows with the
page count: ``build`` runs on seeded 1/M slices of the corpus
(``BUILD_SIZE_MODS``), and a least-squares line through the median wall
at each size, the full corpus from the sets included, splits the full
build into a fixed part and a per-page part.

Every run it makes is kept in ``STEADINESS.json``; ``STEADINESS.md``
holds the same record as tables.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "STEADINESS.json")
SEEDS = range(1000, 1010)
SETS = 2
TRACED_SEED = 1000
BUILD_SIZE_MODS = (20, 4)
BUILD_SIZE_SEEDS = range(1000, 1003)


def run_once(workload: str, seed: int, seconds: int, trace: int,
             build_mod: int | None = None) -> dict:
    argv = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if build_mod:
        argv += ["--build-mod", str(build_mod)]
    t = time.time()
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
           "exit": proc.returncode}
    if build_mod:
        rec["build_mod"] = build_mod
    if proc.returncode != 0 or not lines:
        rec["stderr_tail"] = proc.stderr[-2000:]
        return rec
    rec["result"] = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith("{"):
            obj = json.loads(line)
            if "report" in obj:
                rec["report"] = obj
    return rec


def plain(records: list[dict]) -> list[dict]:
    """The untraced full-size runs of the sets."""
    return [r for r in records if not r["trace"] and "build_mod" not in r
            and "result" in r]


def summarize(records: list[dict], spec: dict) -> dict:
    out: dict = {}
    for m in spec["end_to_end"]:
        name, bound, better = m["name"], m["bound"], m["better"]
        for wl in [w["name"] for w in spec["workloads"]]:
            per_set: dict = {}
            for r in plain(records):
                if r["workload"] == wl:
                    v = r["result"]["metrics"][name]["value"]
                    per_set.setdefault(r["set"], []).append(v)
            rows = {}
            for s, vals in sorted(per_set.items()):
                q1, med, q3 = statistics.quantiles(vals, n=4)
                rows[s] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / med, "values": vals}
            base = rows[min(rows)]["median"] if rows else None
            for row in rows.values():
                d = (row["median"] - base) / base
                row["drift_worse"] = d if better == "lower" else -d
            out.setdefault(wl, {})[name] = {"bound": bound, "better": better,
                                             "sets": rows}
    return out


def tracing_overhead(records: list[dict]) -> dict:
    out: dict = {}
    for r in records:
        if not r["trace"] or "report" not in r:
            continue
        walls = [x["report"]["phases_s"]["measure"] for x in plain(records)
                 if x["workload"] == r["workload"] and x["set"] == r["set"]
                 and "report" in x]
        if not walls:
            continue
        base = statistics.median(walls)
        traced = r["report"]["phases_s"]["measure"]
        out.setdefault(r["workload"], {})[r["set"]] = {
            "traced_s": traced, "untraced_s": base,
            "share": (traced - base) / base}
    return out


def build_size(records: list[dict]) -> dict:
    """Median build wall per slice size and the line through them."""
    points: dict[int, dict] = {}
    for r in records:
        if r["workload"] != "build" or r["trace"] or "report" not in r:
            continue
        mod = r.get("build_mod", 1)
        p = points.setdefault(mod, {"docs": [], "wall_ms": []})
        p["docs"].append(r["report"]["report"]["build_docs_per_s"]["docs"])
        p["wall_ms"].append(r["result"]["metrics"]["op_p50_ms"]["value"])
    rows = {mod: {"n": len(p["docs"]), "docs": statistics.median(p["docs"]),
                  "wall_ms": statistics.median(p["wall_ms"])}
            for mod, p in sorted(points.items())}
    if len(rows) < 2 or 1 not in rows:
        return {"sizes": rows}
    xs = [r["docs"] for r in rows.values()]
    ys = [r["wall_ms"] for r in rows.values()]
    slope, fixed = statistics.linear_regression(xs, ys)
    full = rows[1]
    return {"sizes": rows, "fixed_ms": fixed, "ms_per_page": slope,
            "per_page_share_full": slope * full["docs"] / full["wall_ms"]}


def markdown(summary: dict, overhead: dict, size: dict) -> str:
    lines = ["# Steadiness record", "",
             "Generated by `python3 hostbench/steadiness.py`; every number "
             "below is in `STEADINESS.json` with its raw values, and every "
             "run it made is there.", "",
             f"Seeds {SEEDS.start}-{SEEDS.stop - 1} in each of {SETS} sets.", "",
             "| workload | metric | bound | set | n | median | q1 | q3 | "
             "spread | drift vs set 0 |",
             "|---|---|---|---|---|---|---|---|---|---|"]
    for wl, metrics in summary.items():
        for name, m in metrics.items():
            for s, r in m["sets"].items():
                lines.append(
                    f"| {wl} | {name} | {m['bound']} | {s} | {r['n']} | "
                    f"{r['median']:.4g} | {r['q1']:.4g} | {r['q3']:.4g} | "
                    f"{r['spread']:.3f} | {r['drift_worse']:+.3f} |")
    lines += ["", "Tracing overhead: measure-phase wall of the traced run "
              f"(seed {TRACED_SEED}) against the median of the untraced runs "
              "of the same set.", "",
              "| workload | set | traced measure s | untraced median s | overhead |",
              "|---|---|---|---|---|"]
    for wl, sets in overhead.items():
        for s, o in sets.items():
            lines.append(f"| {wl} | {s} | {o['traced_s']:.2f} | "
                         f"{o['untraced_s']:.2f} | {o['share']:+.3f} |")
    lines += ["", "Build size: median wall of `write_index` + "
              "`optimize_postings` in a fresh JVM per slice of the corpus "
              "(1/M of its pages; M = 1 is the benchmark's build).", "",
              "| M | runs | pages | wall ms |", "|---|---|---|---|"]
    for mod, r in size["sizes"].items():
        lines.append(f"| {mod} | {r['n']} | {r['docs']:.0f} | {r['wall_ms']:.0f} |")
    if "fixed_ms" in size:
        lines += ["", f"Least-squares line: {size['fixed_ms']:.0f} ms fixed + "
                  f"{size['ms_per_page']:.3f} ms per page; the per-page part "
                  f"is {size['per_page_share_full']:.2f} of the full build."]
    return "\n".join(lines) + "\n"


def write(records: list[dict], spec: dict) -> None:
    summary = summarize(records, spec)
    overhead = tracing_overhead(records)
    size = build_size(records)
    with open(OUT, "w") as f:
        json.dump({"summary": summary, "tracing_overhead": overhead,
                   "build_size": size, "records": records},
                  f, indent=1, sort_keys=True)
    with open(os.path.splitext(OUT)[0] + ".md", "w") as f:
        f.write(markdown(summary, overhead, size))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    records: list[dict] = []

    def keep(rec: dict, label: str) -> None:
        records.append(rec)
        res = rec.get("result", {})
        print(f"{label}: exit {rec['exit']} wall {rec['wall_s']:.1f}s "
              f"correct {res.get('correct')} failed {res.get('failed')}",
              flush=True)

    for s in range(SETS):
        for seed in SEEDS:
            for wl in workloads:
                keep(run_once(wl, seed, seconds, 0) | {"set": s},
                     f"set {s} seed {seed} {wl}")
        for wl in workloads:
            keep(run_once(wl, TRACED_SEED, seconds, 1) | {"set": s},
                 f"set {s} traced {wl}")
        write(records, spec)
    for mod in BUILD_SIZE_MODS:
        for seed in BUILD_SIZE_SEEDS:
            keep(run_once("build", seed, seconds, 0, mod),
                 f"build size 1/{mod} seed {seed}")
    write(records, spec)
    bad = [r for r in records if r["exit"] != 0
           or not r.get("result", {}).get("correct")]
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
