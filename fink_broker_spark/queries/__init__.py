"""Query functions by family; ``__spark_entry__`` imports each family."""
