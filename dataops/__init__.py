"""dataops — LLM-data-pipeline and 100 TB operators kept apart from the
bio2bel surface.

These modules (dedup, similarity search, sketches, text quality, cleaning,
packing, BPE, multimodal decode, layout, temporal/cohort analytics, SCD,
skew handling, validation, streaming ingest) serve no bio2bel source,
catalog, pathway, graph, namespace or SPARQL path. They form one import
cluster: they may import :mod:`bio2bel_spark`, but nothing in
:mod:`bio2bel_spark` or ``perfbench`` imports them. Only the query
registry (``__spark_entry__.py``) and their own tests call them.
"""
