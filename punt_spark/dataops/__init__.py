"""Training-data pipeline operators: deduplication, similarity search,
text analysis, sampling, packing and curation.

These extend the punt-derived log-pipeline engine with the operations a
large-scale training-data pipeline needs at 100 TB. Everything is
DataFrame-native; Python appears only as Arrow-batched pandas UDFs.
"""
