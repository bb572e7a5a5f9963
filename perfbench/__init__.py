"""Benchmark of the pipeline, query and curation layers; see README.md."""
