"""witdb_spark benchmark (see README.md)."""
