"""The repository's benchmark; ``run.py`` is the entry point."""
