"""Seeded, layer-traced benchmark: see NOTES.md."""
