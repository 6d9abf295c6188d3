#!/usr/bin/env python
"""Generate OPERATORS.md — the one-page consumer index of every registered
query (round-9 verdict task 8). Everything in the table is DERIVED from
the registry and module sources at generation time, so it cannot drift
silently: tests/test_parity.py::test_operators_md_in_sync regenerates it
and fails if the committed page differs.

Columns:
- query key (sorted; the driver samples dict order, which rotates — the
  page sorts alphabetically so diffs are stable across rounds)
- impl: workload.py line of the registered query function
- oracle: `full` (DuckDB oracle, hash-gated) or `rows-only`
- operators: xena_gdc_etl_spark/operators modules the query's source
  (plus any `_shared_*` workload helpers it calls) imports, or reaches
  through a module-level alias of workload.py (`mx.`, `sv.`, ...)
- knobs: scale/cost knobs the query source sets explicitly (from the
  curated knob-name list below)

Run:  python scripts/gen_operators_md.py          # rewrites OPERATORS.md
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# scale/cost knobs worth surfacing to a consumer scanning the page
KNOBS = [
    "max_bucket_size",
    "driver_max_edges",
    "max_cell_size",
    "block_size",
    "n_cells",
    "nprobe",
    "max_columns",
    "max_driver_rows",
    "num_hashes",
    "band_size",
    "max_iterations",
    "target_cell_rows",
]


def _query_sources(workload, fn) -> str:
    """Source of the query fn plus any _shared_* workload helpers it calls
    (one level — the helpers are flat)."""
    src = inspect.getsource(fn)
    for helper in set(re.findall(r"(_shared_\w+)\s*\(", src)):
        h = getattr(workload, helper, None)
        if h is not None:
            src += inspect.getsource(h)
    return src


def _module_aliases(workload) -> dict[str, str]:
    """Module-level ``from xena_gdc_etl_spark.operators import X as Y``
    in workload.py, as {Y: X} (Y is X when there is no ``as``)."""
    tree = ast.parse(inspect.getsource(workload))
    return {
        a.asname or a.name: a.name
        for node in tree.body
        if isinstance(node, ast.ImportFrom)
        and node.module == "xena_gdc_etl_spark.operators"
        for a in node.names
    }


def build() -> str:
    from xena_gdc_etl_spark import workload

    aliases = _module_aliases(workload)

    lines = [
        "# OPERATORS — generated query/operator index",
        "",
        "Generated by `scripts/gen_operators_md.py`; kept in sync by",
        "`tests/test_parity.py::test_operators_md_in_sync`. Do not edit by",
        "hand — regenerate.",
        "",
        f"Registered queries: **{len(workload.QUERIES)}** "
        f"({len(workload.ORACLES)} with a full DuckDB oracle, "
        f"{len(workload.QUERIES) - len(workload.ORACLES)} rows-only).",
        "",
        "| query | impl | oracle | operators | knobs |",
        "| --- | --- | --- | --- | --- |",
    ]
    for key in sorted(workload.QUERIES):
        fn = workload.QUERIES[key]
        src = _query_sources(workload, fn)
        line = fn.__code__.co_firstlineno
        mods = sorted(
            set(re.findall(r"operators\.(\w+) import", src))
            | set(re.findall(r"operators import (\w+)", src))
            | {m for a, m in aliases.items() if re.search(rf"\b{a}\.", src)}
        )
        knobs = sorted(k for k in KNOBS if re.search(rf"\b{k}\s*=", src))
        lines.append(
            "| {k} | workload.py:{ln} | {o} | {m} | {kn} |".format(
                k=key,
                ln=line,
                o="full" if key in workload.ORACLES else "rows-only",
                m=", ".join(mods) or "—",
                kn=", ".join(knobs) or "—",
            )
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "OPERATORS.md",
    )
    with open(out, "w") as fh:
        fh.write(build())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
