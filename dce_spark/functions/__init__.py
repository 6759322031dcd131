"""Large-scale training-data pipeline operators (dedup, similarity,
text analysis) as native DataFrame transformations: Catalyst
expressions, plus vectorized Arrow kernels in the Python worker
(``mapInArrow``/``mapInPandas``, grouped ``applyInArrow``) where
per-row hashing or vector math dominates. No row-at-a-time Python
UDFs."""
