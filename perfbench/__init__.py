"""Benchmark harness for the vacancy pipeline and the curation registry.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``run.py`` for the
workloads, the metrics and the output contract.
"""
