"""GraphRAFT question benchmark (see run.py)."""
