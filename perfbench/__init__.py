"""Job-shape benchmark for ``ExtractionJob.run``; entry point ``run.py``."""
