"""End-to-end and per-layer benchmark of the crawler (see README.md)."""
