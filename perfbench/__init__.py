"""Seeded, closed-loop benchmark of the rollup engine's public API.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload in this process and prints one JSON
result line; see ``perfbench/README.md``.
"""
