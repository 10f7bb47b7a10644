"""Benchmark for the portfolio_data_pipelines_spark engine (see run.py)."""
