"""Seeded SQL/PGQ benchmark for duckpgq_extension_spark (see README.md)."""
