"""Closed-loop benchmark of the engine: two workloads, end-to-end metrics,
and a traced run that splits each operation's time across the layers.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
