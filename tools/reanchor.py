"""Re-anchor BASELINE.md from five full bench runs (r18 VERDICT #1).

Usage: python tools/reanchor.py run1.json run2.json ... [--write]

Each argument is a bench detail JSON (BENCH_DETAIL_PATH artifact) or a
compact bench JSON carrying a top-level "queries" map.  Per the
committed anchor protocol the new anchor is the PER-QUERY MEDIAN of
the per-run min-of-3 statistics.  Prints the old/new table; with
--write, rewrites the <!-- anchors:begin/end --> block in BASELINE.md
in place (prose untouched).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BASELINE.md"
)


def main() -> None:
    paths = [a for a in sys.argv[1:] if not a.startswith("--")]
    write = "--write" in sys.argv
    runs = []
    for p in paths:
        with open(p) as fh:
            d = json.load(fh)
        runs.append(d.get("queries") or d["parsed"]["queries"])
    names = sorted(set().union(*[set(r) for r in runs]))
    med = {
        n: round(statistics.median([r[n] for r in runs if n in r]), 3)
        for n in names
    }
    src = open(BASELINE).read()
    m = re.search(
        r"(<!-- anchors:begin -->\n)(.*?)(<!-- anchors:end -->)",
        src,
        re.S,
    )
    assert m, "anchor markers missing"
    old = dict(
        (mm.group(1), float(mm.group(2)))
        for mm in re.finditer(r"\| (\S+) \| ([\d.]+) \|", m.group(2))
    )
    rows = ["| query | seconds |", "|---|---|"]
    for n in old:  # keep the committed row order; new queries appended
        rows.append(f"| {n} | {med.get(n, old[n])} |")
    for n in names:
        if n not in old:
            rows.append(f"| {n} | {med[n]} |")
    table = "\n".join(rows) + "\n"
    for n in sorted(set(old) | set(med)):
        o, v = old.get(n), med.get(n)
        if o is None:
            tag = "  new"
        elif v is None or (o and 0.5 <= v / o <= 2.0):
            tag = ""
        else:
            tag = "  <<<"
        print(f"{n:35s} {o if o is not None else '-':>8} -> "
              f"{v if v is not None else '(kept)'}{tag}")
    stale = sorted(set(old) - set(med))
    if stale:
        print(f"stale anchors kept, no run had the query ({len(stale)}): "
              + ", ".join(stale))
    if write:
        out = src[: m.start(2)] + table + src[m.end(2):]
        with open(BASELINE, "w") as fh:
            fh.write(out)
        print("BASELINE.md anchors rewritten")


if __name__ == "__main__":
    main()
