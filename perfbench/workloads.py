"""The two bulk-build workloads: input preparation, the timed build,
the output checks and the traced, layer-by-layer build.

Both workloads run the same operation, ``run_pipeline`` with every
output table drained through Spark's ``noop`` sink (all columns
computed, nothing written), over different corpora:

- ``bulk_template``: ``synthesize_episodes`` over seeded doc ids. Twenty
  entities, so ~10k triples collapse onto 480 edges and one hot entity
  holds ~20% of facts. Extraction and the dedup/mention shuffles do the
  work; resolution sees ~100 names.
- ``bulk_entity_rich``: random-letter names with planted near-duplicate
  variants and repeated endpoint pairs. Resolution (LSH, scoring,
  components) and the bi-temporal stage do the work; sharing is low.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark import corpus
from graphiti_spark.pipeline import GraphOutput, run_pipeline

from . import inputs
from .spans import Tracer

INPUT_FILES = 8
# the tables materialize_graph would write, in GraphOutput
OUTPUT_TABLES = ("triples_raw", "uuid_map", "nodes", "edges", "mentions",
                 "duplicates")

SIZES = {
    "bulk_template": {"n_docs": 5000, "replicas": 1},
    "bulk_entity_rich": {"n_groups": 4, "n_entities": 1000, "n_docs": 4000},
}


# -- inputs ----------------------------------------------------------------


def prepare(spark: SparkSession, workload: str, seed: int, out_dir: str) -> dict:
    """Generate the workload's inputs from ``seed`` under ``out_dir`` as
    INPUT_FILES parquet files (so the scan, and extraction, run in
    parallel) and count them through Spark; returns paths, ground truth
    and sizes."""
    size = SIZES[workload]
    if workload == "bulk_entity_rich":
        info = inputs.entity_rich(seed, out_dir, n_files=INPUT_FILES, **size)
        info["n_docs"] = spark.read.parquet(info["episodes"]).count()
    else:
        info = {"sf_dir": inputs.template_documents(
            seed, size["n_docs"], out_dir, n_files=INPUT_FILES)}
        info["n_docs"] = spark.read.parquet(
            os.path.join(out_dir, "documents.parquet")).count()
    return info


def episodes(spark: SparkSession, workload: str, info: dict) -> DataFrame:
    """The build's input. For ``bulk_template`` it is the lazy
    ``synthesize_episodes`` plan, so synthesis runs inside the build."""
    if workload == "bulk_entity_rich":
        return spark.read.parquet(info["episodes"])
    from graphiti_spark.synth import synthesize_episodes

    return synthesize_episodes(spark, info["sf_dir"],
                               replicas=SIZES[workload]["replicas"])


# -- timed build -----------------------------------------------------------


def build(spark: SparkSession, episodes: DataFrame) -> GraphOutput:
    """The measured operation: one bulk build, every output computed."""
    out = run_pipeline(spark, episodes)
    for name in OUTPUT_TABLES:
        getattr(out, name).write.format("noop").mode("overwrite").save()
    return out


def release(spark: SparkSession) -> None:
    """Isolate repetitions: drop everything the previous pass pinned."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


# -- checks ------------------------------------------------------------------


TRIPLE_COLS = ("group_id", "doc_id", "offset", "speaker", "subj_name",
               "predicate", "obj_name", "year")


def ground_truth(workload: str, info: dict, eps: DataFrame) -> dict:
    """Expected raw triples (TRIPLE_COLS tuples), expected edge keys
    (group_id, subj_name, predicate, obj_name, year) and planted
    duplicate pairs (group_id, name_a, name_b)."""
    if workload == "bulk_entity_rich":
        return {k: info[k] for k in ("triples", "edges", "planted")}
    from graphiti_spark.operators.evaluate import expected_triples

    triples = _tuples(expected_triples(eps).select(*TRIPLE_COLS))
    # A near-duplicate pair is planted in a group only when both names
    # occur there; otherwise the name that occurs stays canonical.
    present = {(t[0], n) for t in triples for n in (t[4], t[6])}
    planted = sorted(
        (g, base, variant)
        for g in {g for g, _ in present}
        for variant, base in corpus.CANONICAL.items()
        if (g, base) in present and (g, variant) in present
    )
    canonical = {(g, variant): base for g, base, variant in planted}
    return {
        "triples": triples,
        "edges": inputs.canonical_edges(triples, canonical),
        "planted": planted,
    }


def _tuples(df: DataFrame) -> list[tuple]:
    """``df``'s rows as tuples, fetched through Arrow."""
    t = df.toArrow()
    return list(zip(*(c.to_pylist() for c in t.columns)))


def _rows(df: DataFrame, columns: list[str]) -> Counter:
    """Multiset of ``columns`` tuples, with ``valid_at`` as its year."""
    cols = [F.year(c).alias("year") if c == "valid_at" else c for c in columns]
    return Counter(_tuples(df.select(*cols)))


def _compare(got: Counter, want: Counter) -> tuple[bool, str]:
    if got == want:
        return True, f"{sum(got.values())} rows match"
    return False, (f"{sum((got - want).values())} unexpected, "
                   f"{sum((want - got).values())} missed of {sum(want.values())}")


def check_output(out: GraphOutput, truth: dict) -> tuple[list, dict]:
    """Check a build's output: raw triple precision/recall, canonical
    edge set, planted-pair recall. Returns ([(name, ok, detail)], row
    counts)."""
    checks = []
    triples = _rows(out.triples_raw, [*TRIPLE_COLS[:-1], "valid_at"])
    checks.append(("triples_pr", *_compare(triples, Counter(truth["triples"]))))

    # edge keys are unique per edge, so this also checks the row count
    edges = _rows(out.edges, [
        "group_id", "subj_name", "predicate", "obj_name", "valid_at"])
    checks.append(("edges", *_compare(edges, Counter(truth["edges"]))))

    uuid_of = {(g, n): u for g, n, u in _rows(
        out.uuid_map, ["group_id", "name", "canonical_uuid"])}
    planted = truth["planted"]
    merged = sum(
        (g, a) in uuid_of and uuid_of.get((g, a)) == uuid_of.get((g, b))
        for g, a, b in planted
    )
    checks.append(("planted_pair_recall", merged == len(planted),
                   f"{merged}/{len(planted)} planted pairs merged"))
    return checks, {"triples_raw": sum(triples.values()),
                    "edges": sum(edges.values())}


# -- traced build ------------------------------------------------------------


def traced_build(spark: SparkSession, episodes: DataFrame, tracer: Tracer) -> dict:
    """The build again, one layer at a time in ``run_pipeline``'s order,
    each layer's upstream materialized before its span opens, so eager
    actions inside a layer (resolution's counts and collects) are
    charged to that layer. Mirrors ``pipeline.run_pipeline``: keep it in
    step when that changes. Returns the counts taken at the span
    boundaries."""
    from graphiti_spark.functions.minhash import lsh_candidate_pairs
    from graphiti_spark.functions.similarity import hash_embed_udf
    from graphiti_spark.operators.extract import (
        extract_mentions,
        extract_triples,
        text_spans,
    )
    from graphiti_spark.operators.ontology import enrich_nodes
    from graphiti_spark.operators.resolve import (
        build_uuid_map,
        connected_components,
        distinct_entities,
        duplicate_pairs,
        resolution_partitions,
        resolve_pointers,
    )
    from graphiti_spark.operators.temporal import resolve_bitemporal
    from graphiti_spark.pipeline import dedupe_edges
    from graphiti_spark.schemas import edge_uuid

    batch_ts = F.lit(corpus.BATCH_TIME).cast("timestamp")
    c = {"spans_in": text_spans(episodes).count()}  # input size, untraced

    with tracer.span("operators.extract"):
        triples_raw = extract_triples(episodes).persist()
        c["triples_out"] = triples_raw.count()
        mentions_raw = extract_mentions(triples_raw).persist()
        mentions_raw.count()

    with tracer.span("operators.resolve.distinct"):
        entities = distinct_entities(mentions_raw).cache()
        c["n_entities"] = entities.count()

    # candidate generation alone, to count LSH candidates; duplicate_pairs
    # below recomputes it as part of its own work
    with tracer.span("functions.minhash"):
        cand = lsh_candidate_pairs(
            entities.repartition(resolution_partitions(entities)),
            id_col="uuid", text_col="name", partition_cols=["group_id"],
            include_texts=False,
        )
        c["n_candidate_pairs"] = cand.count()

    with tracer.span("operators.resolve.pairs"):
        pairs = duplicate_pairs(entities).persist()
        c["n_accepted_pairs"] = pairs.count()

    with tracer.span("operators.resolve.components"):
        comps = connected_components(entities, pairs).persist()
        comps.count()

    with tracer.span("operators.resolve.uuid_map"):
        uuid_map = build_uuid_map(entities, comps).cache()
        uuid_map.count()

    with tracer.span("pipeline.duplicates"):
        names = entities.select("uuid", "name")
        duplicates = (
            pairs.join(names.select(F.col("uuid").alias("id_a"),
                                    F.col("name").alias("name_a")), "id_a")
            .join(names.select(F.col("uuid").alias("id_b"),
                               F.col("name").alias("name_b")), "id_b")
            .select(
                "group_id",
                F.least("name_a", "name_b").alias("name_a"),
                F.greatest("name_a", "name_b").alias("name_b"),
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .withColumn("name", F.lit("IS_DUPLICATE_OF"))
            .withColumn("uuid", F.sha2(F.concat_ws(
                "|", F.lit("dup"), F.col("id_a"), F.col("id_b")), 256))
            .withColumn("created_at", batch_ts)
            .persist()
        )
        c["duplicate_rows"] = duplicates.count()

    with tracer.span("operators.resolve.pointers"):
        resolved = triples_raw
        for col, name_col in (("source_node_uuid", "subj_name"),
                              ("target_node_uuid", "obj_name")):
            resolved = resolve_pointers(
                resolved.withColumn(col, F.lit(None).cast("string")),
                uuid_map, col, name_col,
            )
        resolved = resolved.where(
            F.col("source_node_uuid") != F.col("target_node_uuid")
        ).persist()
        c["resolved_rows"] = resolved.count()

    with tracer.span("pipeline.dedupe_edges"):
        deduped = dedupe_edges(resolved).persist()
        c["deduped_rows"] = deduped.count()

    with tracer.span("operators.temporal"):
        edges = (
            resolve_bitemporal(deduped, batch_time=corpus.BATCH_TIME)
            .withColumn("uuid", edge_uuid(
                F.col("group_id"), F.col("source_node_uuid"), F.col("predicate"),
                F.col("target_node_uuid"), F.col("valid_at"),
            ))
            .persist()
        )
        r = edges.agg(F.count(F.lit(1)).alias("n"),
                      F.count("invalid_at").alias("inv")).first()
        c["n_edges"], c["n_invalidated"] = r["n"], r["inv"]

    with tracer.span("pipeline.mentions"):
        mentions = (
            resolve_pointers(mentions_raw, uuid_map, "entity_uuid", "name")
            .select("doc_id", "group_id", "entity_uuid", "name")
            .distinct()
            .withColumn("uuid", F.sha2(F.concat_ws(
                "|", F.lit("mention"), F.col("doc_id"), F.col("entity_uuid")
            ), 256))
            .withColumn("created_at", batch_ts)
            .persist()
        )
        c["mention_rows"] = mentions.count()

    with tracer.span("operators.ontology"):
        nodes_base = (
            uuid_map.select("group_id", F.col("canonical_uuid").alias("uuid"),
                            F.col("canonical_name").alias("name"))
            .dropDuplicates(["group_id", "uuid"])
            .withColumn("name_embedding", hash_embed_udf(F.col("name")))
            .withColumn("created_at", batch_ts)
        )
        nodes = enrich_nodes(nodes_base, mentions).persist()
        c["node_rows"] = nodes.count()
    return c


RESOLVE_SPANS = (
    "operators.resolve.distinct", "operators.resolve.pairs",
    "operators.resolve.components", "operators.resolve.uuid_map",
    "operators.resolve.pointers",
)


def layer_metrics(tracer: Tracer, c: dict, untraced_s: float) -> dict:
    """Per-layer metrics {name: (value, unit)} from the traced build."""
    def sec(name: str) -> float:
        return tracer.get(name).seconds

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    traced_s = sum(s.seconds for s in tracer.spans if s.parent is None)
    return {
        "operators.extract.busy_s": (sec("operators.extract"), "s"),
        "operators.extract.spans_in": (c["spans_in"], "count"),
        "operators.extract.triples_out": (c["triples_out"], "count"),
        "operators.extract.parse_yield": (ratio(c["triples_out"], c["spans_in"]), "ratio"),
        "functions.minhash.busy_s": (sec("functions.minhash"), "s"),
        "functions.minhash.n_candidate_pairs": (c["n_candidate_pairs"], "count"),
        "operators.resolve.distinct_s": (sec("operators.resolve.distinct"), "s"),
        "operators.resolve.pairs_s": (sec("operators.resolve.pairs"), "s"),
        "operators.resolve.components_s": (sec("operators.resolve.components"), "s"),
        "operators.resolve.uuid_map_s": (sec("operators.resolve.uuid_map"), "s"),
        "operators.resolve.pointers_s": (sec("operators.resolve.pointers"), "s"),
        "operators.resolve.n_entities": (c["n_entities"], "count"),
        "operators.resolve.n_accepted_pairs": (c["n_accepted_pairs"], "count"),
        "operators.resolve.accept_ratio": (
            ratio(c["n_accepted_pairs"], c["n_candidate_pairs"]), "ratio"),
        # share of the build proper: the functions.minhash span is an
        # extra candidate count that the build itself does not run
        "operators.resolve.build_share": (
            ratio(sum(sec(n) for n in RESOLVE_SPANS),
                  traced_s - sec("functions.minhash")), "ratio"),
        "pipeline.dedupe_edges.busy_s": (sec("pipeline.dedupe_edges"), "s"),
        "pipeline.dedupe_edges.rows_in": (c["resolved_rows"], "count"),
        "pipeline.dedupe_edges.rows_out": (c["deduped_rows"], "count"),
        "operators.temporal.busy_s": (sec("operators.temporal"), "s"),
        "operators.temporal.n_edges": (c["n_edges"], "count"),
        "operators.temporal.n_invalidated": (c["n_invalidated"], "count"),
        "pipeline.mentions.busy_s": (sec("pipeline.mentions"), "s"),
        "pipeline.mentions.rows_out": (c["mention_rows"], "count"),
        "operators.ontology.busy_s": (sec("operators.ontology"), "s"),
        "operators.ontology.rows_out": (c["node_rows"], "count"),
        "pipeline.duplicates.busy_s": (sec("pipeline.duplicates"), "s"),
        "pipeline.duplicates.rows_out": (c["duplicate_rows"], "count"),
        "trace.traced_s": (traced_s, "s"),
        "trace.untraced_s": (untraced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
    }
