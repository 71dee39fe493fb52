"""Distributed PySpark pipeline (SURVEY.md §3.2).

Stages: ingest -> tag -> extract -> link -> canon -> materialize -> eval.
All relational logic is DataFrame/Catalyst; in the pipeline, Python
crosses the Arrow boundary only in the tagger pandas UDFs (no per-row
Python anywhere, per BASELINE.json input_hint).
"""
