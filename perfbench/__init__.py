"""sparkjesse benchmark harness (see README.md)."""
