"""Seeded end-to-end benchmark of the approval pipeline and the keyed
table store; see NOTES.md. Entry point: ``python3 perfbench/run.py``."""
