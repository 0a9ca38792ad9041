"""A seeded, host-sized benchmark of the engine; see README.md."""
