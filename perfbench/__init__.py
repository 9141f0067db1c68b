"""Host-sized entity-resolution benchmark (see perfbench/README.md)."""
