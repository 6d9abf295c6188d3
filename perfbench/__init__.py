"""Seeded benchmark of the Spark engine: one GDC→Xena ETL workload and two
serving-session query mixes, with an optional layer-by-layer trace.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
