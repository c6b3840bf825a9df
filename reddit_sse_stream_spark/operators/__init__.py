"""Operator library: projection, dedup (exact / minhash-LSH / simhash),
text analysis, similarity search (brute force / LSH / IVF / PQ), corpus
plumbing, packing, sketches, layout keys, time series and multimodal
columns.  Import the submodule you need; this package re-exports nothing."""
