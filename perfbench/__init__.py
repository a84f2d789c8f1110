"""Benchmark for the german_ocr_spark engine; run ``python3 perfbench/run.py``."""
