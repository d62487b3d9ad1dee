"""Benchmark harness for the news ETL engine; entry point is ``perfbench/run.py``."""
