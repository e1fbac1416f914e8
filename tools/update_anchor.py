#!/usr/bin/env python3
"""Refresh tools/bench_anchor.json as the per-query / per-cell MIN over
the existing anchor and one or more fresh full-bench artifacts.

Contention on this box only ever inflates a reading, so the min across
runs is the best available estimate of quiet plan cost — and a lower
anchor makes the bench's 1.5x re-measure regression gate STRICTER,
never looser. (This is the same argument the r11 round recorded; the
r11 ADVICE asked for the x10 scale tier to be re-measured before being
trusted, which feeding fresh runs through this script does.)

Usage: python3 tools/update_anchor.py NEW_BENCH_JSON [NEW_BENCH_JSON ...]
Writes tools/bench_anchor.json in place and prints a delta summary.

A merged anchor describes no single run, so the fields that stamp one
run (its load average at start and end, its contention flag, its tail
re-measures and its dirty queries) are dropped.
"""
import json
import sys

# top-level fields of a bench artifact that describe the one run it came from
RUN_FIELDS = ("load_start", "load_end", "contended", "remeasured_n", "remeasure", "dirty_n", "dirty")


def merge_queries(base: dict, new: dict) -> dict:
    out = dict(base)
    for q, v in new.items():
        if v is None or v < 0:
            continue
        if q not in out or out[q] < 0 or v < out[q]:
            out[q] = v
    return out


def merge_cells(base, new):
    """Per-(factor, query) min for scale/ann sections."""
    if not new:
        return base
    if not base:
        return new
    by_f = {c["factor"]: c for c in base}
    for cell in new:
        f = cell["factor"]
        if f not in by_f:
            by_f[f] = cell
            continue
        cur = by_f[f]
        merged = merge_queries(cur.get("queries", {}), cell.get("queries", {}))
        # keep the metadata of whichever run was quieter at that cell
        meta = cell if cell.get("load", 1e9) < cur.get("load", 1e9) else cur
        by_f[f] = {**meta, "queries": merged}
    return [by_f[f] for f in sorted(by_f)]


def main():
    anchor_path = "tools/bench_anchor.json"
    with open(anchor_path) as f:
        anchor = json.load(f)
    for path in sys.argv[1:]:
        with open(path) as f:
            new = json.load(f)
        before_total = sum(v for v in anchor["queries"].values() if v > 0)
        anchor["queries"] = merge_queries(anchor["queries"], new.get("queries", {}))
        anchor["scale"] = merge_cells(anchor.get("scale"), new.get("scale"))
        anchor["ann_scale"] = merge_cells(anchor.get("ann_scale"), new.get("ann_scale"))
        after_total = sum(v for v in anchor["queries"].values() if v > 0)
        print(f"merged {path}: main-suite anchor total {before_total:.1f} -> {after_total:.1f} s")
    anchor["value"] = round(sum(v for v in anchor["queries"].values() if v > 0), 3)
    for field in RUN_FIELDS:
        anchor.pop(field, None)
    with open(anchor_path, "w") as f:
        json.dump(anchor, f)
    print(f"anchor total now {anchor['value']} s over {len(anchor['queries'])} queries")


if __name__ == "__main__":
    main()
