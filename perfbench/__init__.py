"""sparklog benchmark package (see NOTE.md)."""
