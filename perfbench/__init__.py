"""Repository benchmark for gelos_spark: two closed-loop workloads,
end-to-end metrics, and a traced run with per-layer numbers.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""
