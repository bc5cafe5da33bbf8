"""Pipeline-level benchmark of the feature engine; see README.md."""
