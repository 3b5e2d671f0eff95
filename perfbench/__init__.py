"""Seeded, correctness-checked benchmark of the extraction and curation
jobs; ``python3 perfbench/run.py --help`` runs it."""
