"""Plan introspection utilities."""
