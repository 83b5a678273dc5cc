"""Product-path benchmark of the batch-inference dataflow (see run.py)."""
