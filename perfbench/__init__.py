"""End-to-end and per-layer benchmark of the KG-construction pipeline."""
