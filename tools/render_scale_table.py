"""Render a tools/scale.py JSON result as the BASELINE.md §4 markdown
table, joined against the §2 sf0.1 pins (engine and DuckDB columns,
read through bench.py's parser) for the collapse comparison.
Usage: python tools/render_scale_table.py bench_sf1.json"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _parse_pins  # noqa: E402


def main() -> None:
    d = json.load(open(sys.argv[1]))
    eng, duck = d["engine"], d["duckdb"]
    pin_eng, pin_duck = _parse_pins(1)[0], _parse_pins(2)[0]
    print("| query | engine sf0.1 | duckdb sf0.1 | ratio sf0.1 | "
          f"engine sf{d['sf_equiv']:g} | duckdb sf{d['sf_equiv']:g} | "
          f"ratio sf{d['sf_equiv']:g} |")
    print("|---|---|---|---|---|---|---|")
    for q in eng:
        e1, d1 = pin_eng.get(q), pin_duck.get(q)
        ek, dk = eng[q], duck.get(q)
        r1 = f"{e1 / d1:.1f}x" if e1 and d1 else "—"
        rk = f"{ek / dk:.1f}x" if dk else "—"
        print(f"| {q} | {e1} | {d1} | {r1} | {ek} | {dk} | {rk} |")
    print(f"| **total** | **{sum(pin_eng.get(q, 0) for q in eng):.1f}** | "
          f"**{sum(pin_duck.get(q, 0) for q in eng):.2f}** | — | "
          f"**{d['engine_total']}** | **{d['duckdb_total']}** | "
          f"**{d['engine_total'] / d['duckdb_total']:.1f}x** |")


if __name__ == "__main__":
    main()
