"""A seeded, layered benchmark of the catalog plane and the Spark data
plane; see README.md in this directory."""
