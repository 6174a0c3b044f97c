"""Crawl benchmark for minicrawler_spark: four workloads, end-to-end
metrics, and a traced mode that splits the time by layer.

Run one workload with `python3 perfbench/run.py --workload <name>`.
"""
