"""CDC engine benchmark (see README.md)."""
