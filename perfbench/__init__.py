"""End-to-end benchmark of tuplex_spark pipelines (see README.md)."""
