"""Pipeline benchmark for mycelial_spark; entry point pipebench/run.py."""
