"""Store-surface benchmark of nimhdfstore_spark (see run.py)."""
