"""Crawl-engine benchmark: workloads, staged crawl driver, oracle check and
the traced per-layer run. Entry point: ``python3 perfbench/run.py``."""
