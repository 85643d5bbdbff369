"""Benchmark for the noise_mitigation_spark KG-construction engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds
<s> --trace <0|1>`` from the repository root; the last stdout line is
one JSON result. BENCHMARK.json lists the workloads and metrics.
"""
