"""graphiti_spark — a from-scratch, PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference Graphiti library (/root/reference, graphiti-core v0.14.0).

NOT a port: the reference is an asyncio + Neo4j/Cypher object pipeline;
this engine is batch dataflow over partitioned parquet/Iceberg-style
tables, expressed with the DataFrame API + Arrow-vectorized UDFs so
Catalyst/Tungsten own the physical plan.

Layout
------
- ``session``    SparkSession factory (UTC, Arrow, AQE).
- ``schemas``    StructTypes for episodes/nodes/edges/mentions tables
                 (SURVEY.md §1.3) + deterministic id helpers.
- ``corpus``     shared constants of the deterministic synthetic corpus
                 (entity pool, predicates, contradiction map).
- ``synth``      deterministic interleaved-span episode synthesizer
                 (BASELINE.json input_hint shape) — pure column ops.
- ``operators``  extraction (X1/X3), dedup (J6/D4), connected components
                 (D5), temporal resolution (T1/T2/T3), pointer rewrite (J1).
- ``functions``  hash embedder (X7 stand-in), Jaro-Winkler, tokenizers.
- ``pipeline``   the end-to-end episodes → nodes/edges/mentions DAG
                 (reference flow: graphiti.py:540-665 add_episode_bulk,
                 plus the invalidation stage bulk mode omits).
- ``io``         TableIO: MERGE-INTO-semantics persistence on parquet
                 (partition-scoped merges, dynamic partition overwrite,
                 append — the Iceberg-commit stand-ins).
- ``materialize``  O(batch) incremental graph merges + lineage/metrics
                 + the episode_edges / node_stats derived tables.
- ``search_api`` 4-lane hybrid search, the full recipe set, batched
                 multi-query variants, pluggable CrossEncoder.
- ``streaming``  foreachBatch incremental ingest.
- ``graphiti``   GraphitiSpark: the reference's top-level class as a
                 facade over one graph root.
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy public API (keeps `import graphiti_spark` free of a JVM
    dependency until something is actually used)."""
    surface = {
        "get_spark": ("graphiti_spark.session", "get_spark"),
        "run_pipeline": ("graphiti_spark.pipeline", "run_pipeline"),
        "run_on_sf": ("graphiti_spark.pipeline", "run_on_sf"),
        "materialize_graph": ("graphiti_spark.materialize", "materialize_graph"),
        "search": ("graphiti_spark.search_api", "search"),
        "SearchConfig": ("graphiti_spark.search_api", "SearchConfig"),
        "synthesize_episodes": ("graphiti_spark.synth", "synthesize_episodes"),
        "read_episodes": ("graphiti_spark.sources.episodes", "read_episodes"),
        "TableIO": ("graphiti_spark.io.tables", "TableIO"),
        "SearchIndex": ("graphiti_spark.operators.search", "SearchIndex"),
        "RECIPES": ("graphiti_spark.search_api", "RECIPES"),
        "GraphitiSpark": ("graphiti_spark.graphiti", "GraphitiSpark"),
    }
    if name in surface:
        import importlib

        mod, attr = surface[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(name)
