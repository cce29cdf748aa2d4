"""Sources & sinks: corpus reader (parquet now, Iceberg-shaped API) and the
idempotent results and run-commit writers."""
