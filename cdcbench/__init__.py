"""CDC ingest benchmark for binlogsub_spark: see README.md and run.py."""
