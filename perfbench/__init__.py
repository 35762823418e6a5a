"""Citation-engine benchmark (see README.md)."""
