#!/usr/bin/env python3
"""Compare a fresh graft.Bench record against a committed one, using the
committed record's per-query spread to separate environmental jitter from
real regressions.

Usage: python3 tools/bench_compare.py BENCH_FULL.json /tmp/bench_new.json

Verdict policy (per query, on medians):
  - OK        : new med <= committed spread max, or within 1.5x committed med
  - JITTER    : new med above both, but the committed spread itself was wide
                (max > 2x med) -- the query is known-noisy on this box
  - REGRESSED : new med > committed max AND > 2x committed med on a
                narrow-spread query -- not explainable by recorded noise

Exit code 1 iff any query REGRESSED (so CI/driver use is one line).

For every REGRESSED or JITTER query whose two records both carry per-query
counters (graft.Bench's `counters` map), one more line prints the counter
deltas -- jobs, task_s, cpu_s, shuffle MB, spill MB, and codegen compiles
when both records carry them -- so a regression says which layer moved.
The counters do not change the verdict.

A record with a non-empty `late_builds` (layouts built inside the query
section, i.e. missing from a query's declared layouts) gets one line per
query that built one. These do not change the verdict either.
"""
import json
import sys

# (label, counters key or keys summed) for the layer line
LAYERS = [
    ("jobs", ("jobs",)),
    ("task_s", ("task_s",)),
    ("cpu_s", ("cpu_s",)),
    ("shuffle_mb", ("shuffle_read_mb", "shuffle_write_mb")),
    ("spill_mb", ("spill_mb",)),
    ("compiles", ("compiles",)),
]


def layer_line(q, old, new):
    """Per-layer deltas of one query, or None when either record lacks them."""
    if old is None or new is None:
        return None
    parts = []
    for label, keys in LAYERS:
        if not all(k in old and k in new for k in keys):
            continue
        a = sum(old[k] for k in keys)
        b = sum(new[k] for k in keys)
        parts.append(f"{label} {a:g} -> {b:g} ({b - a:+.3g})")
    return f"         {q} layers: " + ", ".join(parts)


def late_build_lines(label, record):
    """One line per query in the record's `late_builds`."""
    return [f"late     {label} {q}: " + ", ".join(f"{d}={s:.3f}s" for d, s in builds.items())
            for q, builds in sorted(record.get("late_builds", {}).items())]


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    committed = json.load(open(sys.argv[1]))
    fresh = json.load(open(sys.argv[2]))
    spread = committed.get("spread", {})
    old_counters = committed.get("counters", {})
    new_counters = fresh.get("counters", {})
    regressed, jitter = [], []
    for q, med in sorted(committed["queries"].items()):
        new = fresh["queries"].get(q)
        if new is None:
            print(f"missing  {q}: not in fresh record")
            regressed.append(q)
            continue
        if new < 0 or med < 0:
            print(f"failed   {q}: committed={med} fresh={new}")
            regressed.append(q)
            continue
        sp = spread.get(q, {"med": med, "min": med, "max": med})
        if new <= max(sp["max"], 1.5 * med):
            continue
        if sp["max"] > 2 * sp["med"]:
            jitter.append(q)
            print(f"jitter   {q}: fresh {new:.2f}s vs committed med {med:.2f}s "
                  f"(known-noisy: committed max {sp['max']:.2f}s)")
        else:
            regressed.append(q)
            print(f"REGRESSED {q}: fresh {new:.2f}s vs committed med {med:.2f}s "
                  f"max {sp['max']:.2f}s")
        layers = layer_line(q, old_counters.get(q), new_counters.get(q))
        if layers:
            print(layers)
    for label, record in (("committed", committed), ("fresh", fresh)):
        for line in late_build_lines(label, record):
            print(line)
    n = len(committed["queries"])
    print(f"total: committed {committed['value']:.1f}s fresh {fresh['value']:.1f}s over {n} queries; "
          f"{len(regressed)} regressed, {len(jitter)} known-noisy outliers")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
