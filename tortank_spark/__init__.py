"""tortank_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference engine nbittich/tortank
(Turtle/N-Triples parsing, triple-set algebra, RDF/JSON interchange)
as an idiomatic Spark pipeline: Arrow-batched per-document extraction,
DataFrame set algebra, broadcast-join entity linking, iterative
connected-components canonicalization, and partitioned materialization
with per-partition lineage/metrics.
"""

__version__ = "0.1.0"
