"""Closed-loop benchmark of the log engine: bulk_ingest, tail_pubsub and
log_analytics. Run ``python3 perfbench/run.py --help`` from the repository
root; see README.md in this directory."""
