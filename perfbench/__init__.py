"""Seeded end-to-end benchmark for feature_extractor_spark.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>`` from the repository root. The design,
the workload choices and the noise evidence behind them are in
``perfbench/DESIGN.md``.
"""
