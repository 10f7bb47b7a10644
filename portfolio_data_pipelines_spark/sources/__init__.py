"""Ingestion sources: JSON payload parsers, typed parquet scans and the
Delta streaming feed. Import each name from the module that defines it."""
