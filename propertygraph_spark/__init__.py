"""propertygraph_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the extraction semantics of PandaAwAke/PropertyGraph (a
single-JVM Java AST/CFG/PDG -> DOT transformer) as a distributed Spark
pipeline:

- ``kernel``    : pure-Python per-document semantic core (Java front-end,
                  program-element tree, def/use dataflow, CFG, PDG).  Runs
                  inside Arrow-vectorized UDFs; no Spark dependency.
- ``pipeline``  : Spark plumbing — docs-table scan, fused extraction stage,
                  entity linking (packed broadcast join), connected-components
                  canonicalization, partitioned materialization with
                  manifest-based checkpoint/resume.
- ``ops``       : large-scale training-data operators (dedup, similarity
                  search, text analysis, multimodal plumbing).
- ``streaming`` : Structured Streaming equivalents for the events table.
"""

__version__ = "0.1.0"
