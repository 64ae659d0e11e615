"""Privacy-release benchmark of the engine; see README.md."""
