"""Dataflow operators (SURVEY.md §2) — extraction, validation, merge, facets,
search, linking, canonicalization, export, and the documents-table
training-data operators (dedup, sampling, packing, sketches)."""
