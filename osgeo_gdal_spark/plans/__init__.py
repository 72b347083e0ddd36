"""Checkpointing and lineage: the per-unit stage writer."""
