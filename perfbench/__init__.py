"""Repository benchmark: three workloads over the crack engine's public API.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  See RATIONALE.md
for why each workload and metric exists.
"""
