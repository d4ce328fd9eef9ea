"""Benchmark for the extraction engine: seeded workloads, output checks,
end-to-end metrics from outside the program and a traced per-layer run.

Run ``python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0|1`` from the repository root; ``BENCHMARK.json`` lists the
workloads and metrics.
"""
