"""Model layer: dbt-parity registry of named SQL models + quality tests.
Import each name from the module that defines it."""
