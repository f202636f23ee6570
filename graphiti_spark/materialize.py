"""Materialized pipeline runs: tables + lineage + metrics + resume.

A graph root has one on-disk layout and one merge path:
- every stage output lands in a hash-partitioned table (parquet
  stand-in for Iceberg; see io.tables.TableIO) — `episodes`,
  `triples_raw`, `nodes`, `edges`, `mentions`, `uuid_map`,
  `node_stats`, `episode_edges`, plus the `entity_bands` LSH index;
- per-partition lineage rows (stage, partition, row_count,
  content_hash) written after the merges;
- one metrics write per `materialize_graph` call: row counts and the
  O(batch) work counters, all sharing that call's `seq`;
- idempotent resume: with `resume=True` the episode partitions already
  in the extract stage's lineage are skipped, and the rest merge (keyed
  upserts) into the stored tables. Re-running after a crash (or running
  twice) gives byte-identical tables.

The resolution strategy is derived from the root, never chosen by the
caller. Once `entity_bands` exists (it is written last, so it marks a
committed entity space) a batch resolves against only its LSH-collided
neighborhood (operators/incremental.py). Without it — a fresh root, or
a first build that died before its last write — the batch and every
stored `uuid_map` name resolve in one global pass. Either way,
micro-batches equal one global build of their union.

Incremental batches are O(batch), not O(table):
- `episodes`/`triples_raw` merge partition-scoped on the doc-hash
  bucket (`part`); only buckets the batch touches are rewritten.
- `edges` is hive-partitioned by `epart` = hash of the unordered
  endpoint pair. The bi-temporal rectify window is per
  (group_id, pair, pred_class) — entirely inside one `epart` bucket —
  so an incremental merge only re-groups/re-rectifies the buckets that
  hold (a) pairs present in the incoming batch and (b) stored rows
  whose endpoints appear in the CHANGED uuid-map entries (cluster
  merges). Every other bucket's files stay on disk untouched (the
  window never crosses a pair, and rectify is idempotent on unchanged
  pairs).
- `mentions` likewise on the doc-hash bucket `mpart` (a remap never
  moves a mention across docs).
- `uuid_map`/`nodes`/`node_stats` merge on the entity-hash buckets
  (`upart`/`npart`/`spart`): only entities mentioned in the batch or
  touched by a cluster merge are rewritten; all other rows carry over.

Partition key: `part = pmod(xxhash64(doc_id), N_BUCKETS)` — the north
rule's doc_id-hash partitioning. Entity/edge tables key on
content-derived uuids, so upserts are naturally idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus
from .io.tables import TableIO
from .operators.temporal import resolve_bitemporal
from .pipeline import run_pipeline

N_BUCKETS = 32
EDGE_PARTS = 64

EDGE_COLS = [
    "uuid", "group_id", "source_node_uuid", "predicate", "target_node_uuid",
    "valid_at", "subj_name", "obj_name", "fact", "episodes", "created_at",
    "invalid_at", "expired_at", "attributes",
]


def with_part(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "part", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_BUCKETS)).cast("int")
    )


def edge_part():
    """Hash bucket of the unordered endpoint pair — the edge table's
    physical partition. All rows of one (group, pair) land in one
    bucket, so per-pair regroup + bi-temporal rectify never cross a
    partition boundary."""
    src, dst = F.col("source_node_uuid"), F.col("target_node_uuid")
    pair = F.concat_ws("~", F.least(src, dst), F.greatest(src, dst))
    return F.pmod(
        F.xxhash64(F.concat_ws("|", F.col("group_id"), pair)), F.lit(EDGE_PARTS)
    ).cast("int")


def _regroup_edges(df: DataFrame) -> DataFrame:
    """After endpoint re-canonicalization, rows can collide on the
    canonical triple: regroup, union provenance, rebuild the fact text
    from canonical names, recompute the deterministic uuid. Interval
    fields keep their tightest (min) values; the following bi-temporal
    rectify recomputes them over the merged rows (the merge lattice is
    monotone, so replays and partial runs converge)."""
    from .pipeline import _phrase_col
    from .schemas import edge_uuid

    g = df.groupBy(
        "group_id", "source_node_uuid", "predicate", "target_node_uuid", "valid_at"
    ).agg(
        F.min("subj_name").alias("subj_name"),
        F.min("obj_name").alias("obj_name"),
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("episodes")))).alias(
            "episodes"
        ),
        F.min("created_at").alias("created_at"),
        F.min("invalid_at").alias("invalid_at"),
        F.min("expired_at").alias("expired_at"),
        F.first("attributes").alias("attributes"),
    )
    fact = F.concat(
        F.col("subj_name"), F.lit(" "), _phrase_col("predicate"), F.lit(" "),
        F.col("obj_name"), F.lit(" since "), F.year("valid_at").cast("string"),
        F.lit("."),
    )
    return g.withColumn("fact", fact).withColumn(
        "uuid",
        edge_uuid(
            F.col("group_id"), F.col("source_node_uuid"), F.col("predicate"),
            F.col("target_node_uuid"), F.col("valid_at"),
        ),
    )


def _apply_edge_remap(edges: DataFrame, remap: DataFrame) -> DataFrame:
    """J1 over stored rows: rewrite endpoints (and their surface names)
    through old→canonical mappings, then drop collapsed self-loops."""
    out = edges
    for endpoint, name_col in (
        ("source_node_uuid", "subj_name"),
        ("target_node_uuid", "obj_name"),
    ):
        out = (
            out.join(F.broadcast(remap), out[endpoint] == remap["_old"], "left")
            .withColumn(endpoint, F.coalesce("_new", F.col(endpoint)))
            .withColumn(name_col, F.coalesce("_new_name", F.col(name_col)))
            .drop("_old", "_new", "_new_name")
        )
    return out.where(F.col("source_node_uuid") != F.col("target_node_uuid"))


def _episode_edge_rows(edges: DataFrame) -> DataFrame:
    """(doc_id, uuid, part) forward pointers of ``edges``' provenance."""
    return with_part(edges.select(F.explode("episodes").alias("doc_id"), "uuid"))


def _sync_episode_edges(io: TableIO, replaced: DataFrame, rect: DataFrame) -> None:
    """Incrementally maintain ``episode_edges`` (doc_id, edge_uuid) —
    the forward pointers the reference stores as
    ``episode.entity_edges`` (graphiti.py:513). A table (doc-hash
    partitioned) instead of an array column on episodes: episode rows
    never need rewriting when their edges change, and the subgraph
    lookup becomes an indexed semi-join instead of an
    ``arrays_overlap`` scan of all edges.

    ``replaced``: the stored edge rows being superseded this merge;
    ``rect``: their replacement rows. Only the doc-hash buckets holding
    either side's provenance are rewritten — O(affected), not O(table).
    """
    removed = _episode_edge_rows(replaced)
    added = _episode_edge_rows(rect)
    if not io.exists("episode_edges"):
        io.write("episode_edges", added.dropDuplicates(["doc_id", "uuid"]),
                 partition_by=["part"])
        return
    parts = sorted(
        {r.part for r in removed.select("part").unionByName(
            added.select("part")
        ).dropDuplicates().collect()}
    )
    if not parts:
        return
    stored = io.read("episode_edges").where(F.col("part").isin(parts))
    kept = stored.join(
        replaced.select("uuid").dropDuplicates(), "uuid", "left_anti"
    )
    content = kept.unionByName(added.where(F.col("part").isin(parts))).dropDuplicates(
        ["doc_id", "uuid"]
    )
    io.overwrite_partitions("episode_edges", content, "part", parts=parts)


def merge_edges(
    io: TableIO, updates: DataFrame, remap: DataFrame | None = None
) -> dict:
    """Edge MERGE with provenance union + bi-temporal rectification,
    scoped to the affected pair-hash partitions.

    Colliding edge uuids UNION their episode provenance (the reference
    appends episodes on duplicate, edge_operations.py:468-469) and keep
    the tightest validity interval; T1/T2/T3 re-run ONLY over the
    (group, pair, pred_class) groups present in the incoming batch or
    touched by ``remap`` (changed old→canonical mappings) — the rectify
    window is per-pair, so this is exactly equivalent to a full-table
    pass. All operations are monotone (min / array-union / least), so
    replays converge — idempotent resume.

    Returns {"n_rows_rewritten", "n_parts_rewritten", "replaced",
    "written"} (-1 parts = first write of the table).
    """
    updates = updates.select(*EDGE_COLS)
    if not io.exists("edges"):
        io.write("edges", updates.withColumn("epart", edge_part()),
                 partition_by=["epart"])
        io.write("episode_edges", _episode_edge_rows(io.read("edges")),
                 partition_by=["part"])
        return {
            "n_rows_rewritten": io.fast_count("edges"), "n_parts_rewritten": -1,
            "replaced": None, "written": io.read("edges"),
        }

    stored = io.read("edges")
    touched = None
    delta = updates
    if remap is not None and not remap.isEmpty():
        keys = remap.select("_old").dropDuplicates()
        t_src = stored.join(
            F.broadcast(keys.withColumnRenamed("_old", "source_node_uuid")),
            "source_node_uuid",
            "left_semi",
        )
        t_dst = stored.join(
            F.broadcast(keys.withColumnRenamed("_old", "target_node_uuid")),
            "target_node_uuid",
            "left_semi",
        )
        touched = t_src.unionByName(t_dst).dropDuplicates(["uuid"]).localCheckpoint(
            eager=True
        )
        remapped = _apply_edge_remap(touched.select(*EDGE_COLS), remap)
        delta = remapped.unionByName(updates)

    # affected buckets: where delta rows land + where touched rows leave
    part_src = delta.select(edge_part().alias("epart"))
    if touched is not None:
        part_src = part_src.unionByName(touched.select("epart"))
    parts = sorted({r.epart for r in part_src.dropDuplicates().collect()})
    if not parts:
        return {
            "n_rows_rewritten": 0, "n_parts_rewritten": 0,
            "replaced": None, "written": None,
        }

    replaced = stored.where(F.col("epart").isin(parts)).localCheckpoint(eager=True)
    in_parts = replaced
    if touched is not None:
        in_parts = in_parts.join(
            F.broadcast(touched.select("uuid")), "uuid", "left_anti"
        )
    merged = _regroup_edges(in_parts.select(*EDGE_COLS).unionByName(delta))
    rect = (
        resolve_bitemporal(merged)
        .select(*EDGE_COLS)
        .withColumn("epart", edge_part())
        .localCheckpoint(eager=True)
    )
    io.overwrite_partitions("edges", rect, "epart", parts=parts)
    _sync_episode_edges(io, replaced, rect)
    n = io.fast_count("edges", parts=("epart", parts))
    return {
        "n_rows_rewritten": n, "n_parts_rewritten": len(parts),
        "replaced": replaced, "written": rect,
    }


def merge_mentions(
    io: TableIO, updates: DataFrame, remap: DataFrame | None = None
) -> dict:
    """MENTIONS merge scoped to the doc-hash buckets holding (a) the
    batch's docs and (b) stored rows whose entity was re-canonicalized.
    A remap never changes doc_id, so rows never cross buckets; the
    per-doc dedup after remap stays inside one bucket."""
    mcols = ["uuid", "doc_id", "group_id", "name", "entity_uuid", "created_at"]

    def _remap_rows(df: DataFrame) -> DataFrame:
        if remap is None:
            return df
        return (
            df.join(F.broadcast(remap), df["entity_uuid"] == remap["_old"], "left")
            .withColumn("entity_uuid", F.coalesce("_new", F.col("entity_uuid")))
            .withColumn("name", F.coalesce("_new_name", F.col("name")))
            .drop("_old", "_new", "_new_name")
            .dropDuplicates(["doc_id", "entity_uuid"])
            .withColumn(
                "uuid",
                F.sha2(
                    F.concat_ws(
                        "|", F.lit("mention"), F.col("doc_id"), F.col("entity_uuid")
                    ),
                    256,
                ),
            )
        )

    updates = with_part(updates).withColumnRenamed("part", "mpart")
    if not io.exists("mentions"):
        io.write("mentions", updates, partition_by=["mpart"])
        return {"n_rows_rewritten": io.fast_count("mentions"), "n_parts_rewritten": -1}

    stored = io.read("mentions")
    batch_parts = updates.select("mpart")
    if remap is not None and not remap.isEmpty():
        keys = remap.select("_old").dropDuplicates()
        touched_parts = stored.join(
            F.broadcast(keys.withColumnRenamed("_old", "entity_uuid")),
            "entity_uuid",
            "left_semi",
        ).select("mpart")
        batch_parts = batch_parts.unionByName(touched_parts)
    parts = sorted({r.mpart for r in batch_parts.dropDuplicates().collect()})
    if not parts:
        return {"n_rows_rewritten": 0, "n_parts_rewritten": 0}

    in_parts = _remap_rows(
        stored.where(F.col("mpart").isin(parts)).select(*mcols)
    )
    kept = in_parts.join(
        F.broadcast(updates.select("uuid").dropDuplicates()), "uuid", "left_anti"
    )
    out = with_part(kept.unionByName(updates.select(*mcols))).withColumnRenamed(
        "part", "mpart"
    )
    io.overwrite_partitions("mentions", out, "mpart", parts=parts)
    n = io.fast_count("mentions", parts=("mpart", parts))
    return {"n_rows_rewritten": n, "n_parts_rewritten": len(parts)}


def _update_node_stats(
    io: TableIO, batch_mentions: DataFrame, changed: DataFrame
) -> DataFrame:
    """Maintain per-entity distinct-episode counts incrementally: only
    entities mentioned in this batch or involved in a cluster merge are
    re-aggregated (against the already-merged mentions table); all
    other rows carry over, and old uuids swallowed by a merge are
    dropped. The table is hash-partitioned on entity_uuid (``spart``)
    so the file rewrite is scoped to the affected buckets. Returns the
    new stats table (entity_uuid, n_episodes, spart)."""
    from .operators.incremental import upart_col

    merged_mentions = io.read("mentions")
    if not io.exists("node_stats"):
        stats = merged_mentions.groupBy("entity_uuid").agg(
            F.countDistinct("doc_id").alias("n_episodes")
        ).withColumn("spart", upart_col(F.col("entity_uuid")))
        io.write("node_stats", stats, partition_by=["spart"])
        return io.read("node_stats")

    affected = batch_mentions.select("entity_uuid").dropDuplicates()
    dead = None
    if not changed.isEmpty():
        affected = affected.unionByName(
            changed.select(F.col("_new").alias("entity_uuid"))
        ).dropDuplicates()
        dead = changed.select(F.col("_old").alias("entity_uuid")).dropDuplicates()
    fresh = (
        merged_mentions.join(F.broadcast(affected), "entity_uuid", "left_semi")
        .groupBy("entity_uuid")
        .agg(F.countDistinct("doc_id").alias("n_episodes"))
        .withColumn("spart", upart_col(F.col("entity_uuid")))
    )
    drop_keys = (
        (affected if dead is None else affected.unionByName(dead))
        .dropDuplicates()
        .withColumn("spart", upart_col(F.col("entity_uuid")))
        .localCheckpoint(eager=True)
    )
    stored = io.read("node_stats")
    parts = sorted({r.spart for r in drop_keys.select("spart").distinct().collect()})
    if parts:
        kept = stored.where(F.col("spart").isin(parts)).join(
            F.broadcast(drop_keys.select("entity_uuid")), "entity_uuid", "left_anti"
        )
        io.overwrite_partitions(
            "node_stats", kept.unionByName(fresh), "spart", parts=parts
        )
    return io.read("node_stats")


def _merge_uuid_map(io: TableIO, rows: DataFrame) -> dict:
    """Partition-scoped keyed upsert of restricted uuid_map rows.
    Ingest never deletes a name (remove_episode handles durable deletes), so this is a pure
    upsert on the uuid key."""
    from .operators.incremental import upart_col

    rows = rows.withColumn("upart", upart_col(F.col("uuid")))
    # one job yields the row count AND the affected-bucket set; pass the
    # buckets through so merge_upsert skips its own distinct-collect
    per_part = rows.groupBy("upart").agg(F.count(F.lit(1)).alias("n")).collect()
    n = sum(r.n for r in per_part)
    parts = [r.upart for r in per_part]
    io.merge_upsert(
        "uuid_map", rows, key_cols=["uuid"], partition_col="upart", parts=parts
    )
    return {"n_rows_rewritten": n, "n_parts_rewritten": len(parts)}


def _merge_nodes(io: TableIO, fresh: DataFrame, dead: DataFrame) -> dict:
    """Keyed merge of the recomputed canonical-node rows (upsert) plus
    deletion of canonicals swallowed by a cluster merge, scoped to the
    affected ``npart`` hash buckets."""
    from .operators.incremental import upart_col

    fresh = fresh.withColumn("npart", upart_col(F.col("uuid")))
    if not io.exists("nodes"):
        io.write("nodes", fresh, partition_by=["npart"])
        return {"n_rows_rewritten": io.fast_count("nodes"), "n_parts_rewritten": -1}
    keys = (
        fresh.select("uuid")
        .unionByName(dead.select("uuid"))
        .dropDuplicates()
        .withColumn("npart", upart_col(F.col("uuid")))
        .localCheckpoint(eager=True)
    )
    stored = io.read("nodes")
    parts = sorted({r.npart for r in keys.select("npart").distinct().collect()})
    if not parts:
        return {"n_rows_rewritten": 0, "n_parts_rewritten": 0}
    kept = stored.where(F.col("npart").isin(parts)).join(
        F.broadcast(keys.select("uuid")), "uuid", "left_anti"
    )
    out = kept.unionByName(fresh).localCheckpoint(eager=True)
    io.overwrite_partitions("nodes", out, "npart", parts=parts)
    return {"n_rows_rewritten": out.count(), "n_parts_rewritten": len(parts)}


def materialize_graph(
    spark: SparkSession,
    episodes: DataFrame,
    out_dir: str,
    resume: bool = False,
    batch_time: str = corpus.BATCH_TIME,
    search_indexes: bool = False,
) -> TableIO:
    """Run the pipeline on ``episodes`` and merge its outputs into the
    graph root ``out_dir``, with lineage and one metrics write.

    The entity-resolution strategy follows from the root (see the
    module docstring): restricted once ``entity_bands`` exists, global
    over the batch plus the stored ``uuid_map`` names before that.
    ``resume=True`` skips the episode partitions already recorded in
    the 'extract' lineage (crash recovery over the same input). Ids
    and timestamps are content-derived (never now()/uuid4), so a
    re-run converges to the same table state.

    The frames ``run_pipeline`` caches are released before returning.
    """
    io = TableIO(spark, out_dir)
    eps = with_part(episodes)
    todo = io.resume_filter("extract", eps, "part") if resume else eps
    if todo.isEmpty():
        return io

    from .operators.incremental import incremental_resolve

    restricted: dict | None = None
    if io.exists("entity_bands"):
        # resolve the batch against ONLY the LSH-collided neighborhood
        # of the stored graph — O(batch) compute, identical output to
        # the global pass (operators/incremental.py)
        restricted = {}

        def _resolver(mentions_raw):
            restricted.update(incremental_resolve(io, mentions_raw))
            return restricted["uuid_map"], restricted["entities"]

        out = run_pipeline(
            spark, todo.drop("part"), batch_time=batch_time, resolver=_resolver
        )
    else:
        stored_names = (
            io.read("uuid_map").select("group_id", "name")
            if io.exists("uuid_map")
            else None
        )
        out = run_pipeline(
            spark,
            todo.drop("part"),
            batch_time=batch_time,
            extra_entity_names=stored_names,
        )
    try:
        _merge_batch(io, eps, out, restricted, search_indexes)
    finally:
        out.release()
    return io


def _merge_batch(
    io: TableIO,
    eps: DataFrame,
    out,
    restricted: dict | None,
    search_indexes: bool,
) -> None:
    """Merge one pipeline output into the root. ``restricted`` is the
    incremental resolver's result, or None after a global resolution
    (whose uuid_map IS the full entity space)."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators.incremental import (
        BAND_INDEX_WRITE_OPTIONS,
        entity_band_rows,
        upart_col,
    )
    from .operators.ontology import enrich_nodes_with_stats

    if restricted is not None:
        changed = restricted["changed"].localCheckpoint(eager=True)
    else:
        # Only CHANGED mappings re-canonicalize stored rows (identity
        # mappings are no-ops by construction: canonical names are a
        # deterministic function of the canonical uuid).
        changed = (
            out.uuid_map.select(
                F.col("uuid").alias("_old"),
                F.col("canonical_uuid").alias("_new"),
                F.col("canonical_name").alias("_new_name"),
            )
            .where(F.col("_old") != F.col("_new"))
            .localCheckpoint(eager=True)
        )
    triples = with_part(out.triples_raw)

    # A new batch can merge clusters the old graph kept separate, so
    # stored edges/mentions must be re-canonicalized through the new
    # map — the merges below scope all re-grouping, rectification, and
    # file rewrites to the affected hash buckets.
    #
    # The keyed merges touch DISJOINT tables and read only checkpointed
    # upstream plans, so they are submitted from a thread pool: Spark
    # runs the jobs concurrently (multi-threaded job submission is the
    # supported pattern) and the per-batch DRIVER latency — plan
    # compile, job scheduling, commit renames — overlaps instead of
    # serializing. Each merge is byte-for-byte the job it was when
    # sequential; only wall-clock changes.
    jobs = {
        "episodes": lambda: io.merge_upsert(
            "episodes", eps, key_cols=["doc_id"], partition_col="part"
        ),
        "triples_raw": lambda: io.merge_upsert(
            "triples_raw", triples, key_cols=["doc_id", "offset"],
            partition_col="part",
        ),
        "edges": lambda: merge_edges(io, out.edges, remap=changed),
        "mentions": lambda: merge_mentions(io, out.mentions, remap=changed),
    }
    if restricted is not None:
        jobs["uuid_map"] = lambda: _merge_uuid_map(io, out.uuid_map)
        new_bands_plan = entity_band_rows(restricted["new_entities"])

        def _append_bands():
            nb = new_bands_plan.localCheckpoint(eager=True)
            if not nb.isEmpty():
                io.append(
                    "entity_bands",
                    nb.sortWithinPartitions("key"),
                    partition_by=["kpart"],
                    options=BAND_INDEX_WRITE_OPTIONS,
                )

        jobs["entity_bands"] = _append_bands
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = {k: pool.submit(fn) for k, fn in jobs.items()}
        merged = {k: f.result() for k, f in futures.items()}
    edge_stats = merged["edges"]
    mention_stats = merged["mentions"]

    # Node enrichment (summary = all-time mention stats) must see the
    # MERGED mention counts; node_stats maintains them incrementally,
    # so it follows the mentions merge and nodes follow node_stats.
    stats = _update_node_stats(io, out.mentions, changed)
    nodes = enrich_nodes_with_stats(
        out.nodes.select("group_id", "uuid", "name", "name_embedding", "created_at"),
        stats,
    )
    if restricted is not None:
        # partition-scoped keyed merges over the restricted rows only
        resolve_stats = merged["uuid_map"]
        node_merge = _merge_nodes(io, nodes, restricted["dead_canonicals"])
    else:
        # global resolution: the map IS the full entity space —
        # overwrite (stale canonicals disappear, as in a fresh run),
        # then write the band index LAST: it marks the entity space as
        # committed, so the next batch takes the restricted path
        resolve_stats = node_merge = {
            "n_rows_rewritten": -1, "n_parts_rewritten": -1,
        }
        io.write(
            "uuid_map",
            out.uuid_map.withColumn("upart", upart_col(F.col("uuid"))),
            partition_by=["upart"],
        )
        io.write(
            "nodes",
            nodes.withColumn("npart", upart_col(F.col("uuid"))),
            partition_by=["npart"],
        )
        io.write(
            "entity_bands",
            entity_band_rows(
                io.read("uuid_map").select("group_id", "uuid", "name")
            ).sortWithinPartitions("key"),
            partition_by=["kpart"],
            options=BAND_INDEX_WRITE_OPTIONS,
        )

    # Opt-in persistent fulltext indexes (reference index DDL,
    # graph_queries.py:68-86), maintained O(batch) per micro-batch:
    # episodes are immutable → append-only merge; node/edge ids merged
    # away by canonicalization are tombstoned (SearchIndex.delete) and
    # new ids appended — the ledger skips everything already indexed.
    # Node summaries churn per batch and are deliberately NOT indexed
    # incrementally (search them via the inline fulltext path).
    if search_indexes:
        from .operators.search import SearchIndex
        from .search_api import episode_content

        SearchIndex(io, "ft_episodes").merge(
            episode_content(out.episodes), "doc_id", "content"
        )
        nidx = SearchIndex(io, "ft_nodes")
        if nidx.exists() and not changed.isEmpty():
            nidx.delete(changed.select("_old"))
        nidx.merge(out.nodes.select("uuid", "name"), "uuid", "name")
        eidx = SearchIndex(io, "ft_edges")
        if eidx.exists() and edge_stats["replaced"] is not None:
            dead = edge_stats["replaced"].select("uuid").join(
                edge_stats["written"].select("uuid"), "uuid", "left_anti"
            )
            eidx.delete(dead)
        if edge_stats["written"] is not None:
            eidx.merge(
                edge_stats["written"].select("uuid", "fact"), "uuid", "fact"
            )

    # lineage AFTER the writes (a crash before this point re-runs the
    # partitions; the keyed merges make that idempotent)
    io.record_lineage("extract", triples, "part")
    # Table sizes come from footer stats (Iceberg snapshot-stats
    # stand-in), NOT Spark counts, which would re-scan every table per
    # micro-batch. The *_merge rows are the O(batch) evidence: rows and
    # parts each merge rewrote (-1 = first write or global overwrite).
    metrics = [
        ("extract", "n_triples", io.fast_count("triples_raw")),
        ("resolve", "n_nodes", io.fast_count("nodes")),
        ("edges", "n_edges", io.fast_count("edges")),
        ("edges", "n_invalidated", io.fast_count("edges", non_null="invalid_at")),
        ("mentions", "n_mentions", io.fast_count("mentions")),
    ]
    for stage, st in (
        ("edges_merge", edge_stats),
        ("mentions_merge", mention_stats),
        ("resolve_merge", resolve_stats),
        ("nodes_merge", node_merge),
    ):
        metrics += [(stage, k, st[k]) for k in ("n_rows_rewritten", "n_parts_rewritten")]
    if restricted is not None:
        metrics += [
            ("resolve_incremental", k, v) for k, v in restricted["metrics"].items()
        ]
    io.record_metrics(metrics)
