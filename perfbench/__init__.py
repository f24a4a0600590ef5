"""Seeded end-to-end benchmark of the KG-construction and corpus-curation
pipelines; see perfbench/README.md."""
