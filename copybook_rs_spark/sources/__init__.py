"""Sources: deterministic token-table derivation from the driver's parquet
testdata and the chunk/manifest table schemas (SURVEY.md §2.1)."""
