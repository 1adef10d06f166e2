"""Training-data pipeline operators over web-scale text/embedding tables.

Beyond the reference's codec surface, these are the operations a
100 TB training-data pipeline runs on the same tables the engine
encodes: deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine), main-content extraction, text analysis (language
id, quality scores, token counts, fingerprints), filtering,
decontamination, sampling, sessionization and sequence packing.

Everything here is Catalyst-first: pure pyspark.sql.functions
expressions (whole-stage codegen, no Python in the hot path) except
main-content extraction, which is Arrow-batched by construction.

The package imports no submodule itself: a WARC extraction worker that
imports ``pipeline.extract`` loads only that module.
"""
