#!/usr/bin/env python3
"""Per-layer report from the span files that traced runs write.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 3 --trace 1
    python3 perfbench/report.py                 # every file in perfbench/traces
    python3 perfbench/report.py FILE [FILE ...]

For each workload it prints the per-layer metrics, the workload's own layers
(operator modules, ml.workflow, serving.api), and the self time of each layer
in the set-up, the cold pass and the mean traced warm pass. It then checks
that the traced warm passes' per-op build_s + write_s reconciles with the
untraced warm pass wall within trace.overhead_s plus 5% of that wall (the
pass-to-pass noise), and exits 1 if any file does not.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

from spans import duration, warm_passes

# Warm passes of one process differ by a few percent, traced or not.
RECONCILE_NOISE = 0.05


def reconcile(doc: dict) -> tuple[bool, str]:
    spans = doc["spans"]
    traced = warm_passes(spans, True)
    ids = {r["pass"] for r in traced}
    ops = sum(duration(r) for r in spans if r["pass"] in ids and r["phase"] in ("build", "write"))
    ops /= len(ids)
    untraced = statistics.mean(map(duration, warm_passes(spans, False)))
    overhead = doc["layers"]["trace.overhead_s"]["value"]
    allowed = abs(overhead) + RECONCILE_NOISE * untraced
    ok = abs(ops - untraced) <= allowed
    return ok, (
        f"build_s + write_s per traced warm pass {ops:.3f} s vs untraced warm pass "
        f"{untraced:.3f} s: |diff| {abs(ops - untraced):.3f} s, allowed {allowed:.3f} s "
        f"(trace.overhead_s {overhead:+.3f} s) -> {'ok' if ok else 'NOT RECONCILED'}"
    )


def print_doc(doc: dict) -> bool:
    print(f"== {doc['workload']}  seed {doc['seed']}  sf{doc['sf']}  {doc['cores']} cores")
    for title, table in (("per-layer metrics", doc["layers"]), ("workload layers", doc["details"])):
        print(f"  {title}")
        for name, m in sorted(table.items()):
            print(f"    {name:<40} {m['value']:>16.6g} {m['unit']:<6} n={m['n']}")
    print("  self time by layer (s)")
    groups = doc["self_times"]
    layers = sorted({layer for g in groups.values() for layer in g})
    print(f"    {'layer':<24}" + "".join(f"{g:>10}" for g in groups))
    for layer in layers:
        print(f"    {layer:<24}" + "".join(f"{groups[g].get(layer, 0.0):>10.3f}" for g in groups))
    ok, line = reconcile(doc)
    print(f"  reconcile: {line}")
    return ok


def main(argv: list[str]) -> int:
    here = Path(__file__).resolve().parent
    files = [Path(a) for a in argv] or sorted((here / "traces").glob("*.json"))
    if not files:
        print("no trace files; run run.py with --trace 1 first", file=sys.stderr)
        return 1
    ok = True
    for path in files:
        with open(path) as f:
            ok &= print_doc(json.load(f))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
