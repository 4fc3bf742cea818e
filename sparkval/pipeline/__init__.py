"""Training-data pipeline operators over document/embedding tables.

Large-scale corpus curation ops the validation engine's users need at
100 TB: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine), approximate similarity search, text analysis
(language-ID, quality scoring, token counting, fingerprinting), and
multimodal binary-column plumbing. All built-in DataFrame expressions
plus vectorized Arrow UDFs — no per-row Python.
"""
