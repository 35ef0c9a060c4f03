"""Layer benchmark for the PySpark knowledge-graph engine; see
``WORKLOADS.md`` and ``run.py``."""
