"""Benchmark of the Kafka→upsert stream, the document front door and the
heavy data-pipeline queries; run with ``python3 perfbench/run.py``."""
