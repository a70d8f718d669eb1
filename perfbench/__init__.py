"""Benchmark of the database_importer_spark engine; see README.md."""
