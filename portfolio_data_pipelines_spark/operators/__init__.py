"""Engine operators: the Delta lake, JDBC warehouse writers, dedup,
similarity, text, multimodal. Import each name from the module that
defines it."""
