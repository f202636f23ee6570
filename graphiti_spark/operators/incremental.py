"""O(batch) incremental entity resolution against a persisted LSH band
index — the scale-out form of the reference's ``resolve_extracted_nodes``
(graphiti_core/utils/maintenance/node_operations.py:229-338: per NEW
node, search the EXISTING graph for candidates; never re-cluster the
whole graph) + ``compress_uuid_map`` (bulk_utils.py:400-409).

Why this is exactly equivalent to re-resolving the entire entity space
(the global path in pipeline.run_pipeline with ``extra_entity_names``):

- Entity uuids and LSH band keys are both pure functions of
  (group_id, lower(name)) — ``schemas.entity_uuid`` and
  ``functions.minhash`` (shingles lowercase) — so a stored entity's
  band rows NEVER change; the ``entity_bands`` table is append-only.
- LSH pair generation is bucket-local: a pair (a, b) is produced iff a
  and b share a (group, band, key) bucket, independent of who else is
  in the bucket. Hence pairs(restricted set) = pairs(all) ∩
  (restricted × restricted).
- Any pair between a pulled-neighborhood entity and an *unrestricted*
  stored entity was already produced and scored (deterministically, on
  immutable bands) by an earlier batch ⇒ both are already in the same
  stored component ⇒ the partner is in the neighborhood too (we pull
  whole components). No accepted pair crosses the restriction
  boundary, so connected components over (batch ∪ collided
  neighborhood) with the stored intra-component edges as seeds yields
  the identical global component structure — while touching only
  O(batch + neighborhood) rows instead of O(graph entities).

Scale shape per micro-batch:
- band lookup: broadcast semi-join of the batch's band keys against
  the ``entity_bands`` index, with the keys ALSO pushed to the scan as
  one InSet predicate over key-sorted, bloom-filtered parquet (row
  groups that hold no batch key are skipped — the stored side costs
  O(matching row groups), not O(entities), per batch); no shuffle of
  the stored side, output is the collided id set only.
- neighborhood pull: two broadcast-filtered scans of ``uuid_map``
  (by uuid — upart-pruned — then by canonical_uuid); again no shuffle.
- everything downstream (LSH, scoring, components, canonical pick)
  runs on the restricted vertex set: O(batch) compute.
- persistence is partition-scoped keyed merges (materialize.py), so
  file rewrites are O(affected buckets) too.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.minhash import band_keys, shingles
from .resolve import (
    build_uuid_map,
    connected_components,
    distinct_entities,
    duplicate_pairs,
)

BAND_KPARTS = 64   # entity_bands partition buckets (hash of band+key)
UUID_PARTS = 64    # uuid_map/nodes/node_stats partition buckets

# Band files are written sorted by `key` with a parquet bloom filter on
# it, so the batch's band keys — pushed down as one InSet predicate —
# skip row groups instead of scanning every stored band row. This is
# the parquet stand-in for Iceberg bloom-filter file skipping.
BAND_INDEX_WRITE_OPTIONS = {"parquet.bloom.filter.enabled#key": "true"}

# Push the batch's band keys into the scan only while the InSet stays a
# bounded plan literal (one node holding N longs — NOT the per-literal
# Catalyst blowup class); a bulk load past the cap keeps the broadcast
# semi-join alone, whose scan the kpart pruning still bounds.
KEY_PUSHDOWN_CAP = 100_000


def upart_col(col: Column, n_parts: int = UUID_PARTS) -> Column:
    """Stable hash bucket of an entity uuid — the partition key of the
    entity-space tables (uuid_map/nodes/node_stats), so incremental
    merges rewrite only the buckets holding affected entities."""
    return F.pmod(F.xxhash64(col), F.lit(n_parts)).cast("int")


def entity_band_rows(entities: DataFrame) -> DataFrame:
    """(group_id, uuid, band, key, kpart) — one row per LSH band per
    entity. Pure column expressions (functions/minhash.py); immutable
    per uuid, so the persisted index is append-only."""
    sh = entities.select(
        "group_id", "uuid", shingles(F.col("name")).alias("_sh")
    )
    return (
        sh.select("group_id", "uuid", F.explode(band_keys("_sh")).alias("bk"))
        .select(
            "group_id",
            "uuid",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
        .withColumn(
            "kpart",
            F.pmod(
                F.xxhash64(F.col("band"), F.col("key")), F.lit(BAND_KPARTS)
            ).cast("int"),
        )
    )


def compact_entity_bands(io) -> None:
    """Iceberg-style maintenance for the append-only band index: every
    micro-batch appends one file per touched ``kpart`` bucket, so file
    count grows linearly with batch count and each file covers its own
    key range (bloom filters and min/max stats lose skipping power as
    files accumulate). Rewrite to ONE key-sorted, bloom-filtered file
    per bucket; content is unchanged (the snapshot-swap write reads the
    old files while staging, so no checkpoint is needed). Run on a
    maintenance cadence, not per batch — the same contract as
    ``SearchIndex.compact``."""
    bands = (
        io.read("entity_bands")
        .repartition(BAND_KPARTS, "kpart")
        .sortWithinPartitions("key")
    )
    io.write(
        "entity_bands", bands, partition_by=["kpart"],
        options=BAND_INDEX_WRITE_OPTIONS,
    )


def incremental_resolve(io, mentions_raw: DataFrame) -> dict:
    """Resolve one micro-batch against the existing graph, touching
    only the LSH-collided neighborhood.

    ``mentions_raw``: the batch's extracted (group_id, name, ...)
    mention rows. Requires ``uuid_map`` and ``entity_bands`` to exist
    (materialize_graph's first, global run writes them).

    Two physical strategies behind one semantics (the same adaptive
    pattern as ``connected_components``):

    - batch fits the driver caps (the common micro-batch case): the
      whole restricted pipeline — banding, LSH pairs, scoring,
      components, canonical pick, deltas — runs DRIVER-SIDE
      (operators/incremental_local.py, bit-exact hash/kernel mirrors),
      leaving only 3-4 bounded index/neighborhood lookups as Spark
      jobs. This cuts the ~8 driver-synchronous jobs of scheduling
      latency that dominated the micro-batch fixed cost.
    - otherwise (more distinct batch names than
      ``incremental_local.DRIVER_RESOLVE_NAMES_CAP``, or a cap hit
      mid-path): the distributed path below, unchanged.

    Byte-equality of the two paths is pinned by
    tests/test_incremental_local.py.

    Returns a dict:
      uuid_map   — restricted mapping rows (every batch name + the
                   collided neighborhood), same schema as the stored
                   table minus upart;
      entities   — the restricted vertex set (group_id, uuid, name);
      changed    — (_old, _new, _new_name) non-identity mappings for
                   stored-row re-canonicalization (bounded by the
                   restricted set — NOT the historical global map);
      dead_canonicals — (uuid) canonicals swallowed by a merge this
                   batch (their nodes-table rows must be deleted);
      new_entities — (group_id, uuid, name) first-seen entities whose
                   band rows must be appended to the index;
      metrics    — evidence counters for the O(batch) claim.
    """
    from . import incremental_local as L

    cap = L.DRIVER_RESOLVE_NAMES_CAP
    batch_rows = (
        mentions_raw.select("group_id", "name")
        .dropDuplicates()
        .limit(cap + 1)
        .collect()
    )
    if len(batch_rows) <= cap:
        try:
            return _incremental_resolve_local(
                io, mentions_raw.sparkSession, batch_rows
            )
        except L.FallbackToSpark:
            pass
    return _incremental_resolve_spark(io, mentions_raw)


def _incremental_resolve_local(io, spark, batch_rows: list) -> dict:
    """Driver-side strategy: see ``incremental_resolve``. ``batch_rows``
    are the collected distinct (group_id, name) batch surface forms."""
    from ..session import local_frame
    from . import incremental_local as L

    batch_entities = L.local_distinct_entities(
        [(r.group_id, r.name) for r in batch_rows]
    )
    keys, kpart = L.band_rows([name for _g, _u, name in batch_entities])

    # --- band-index lookup (Spark job 1): same kpart pruning + key
    # InSet pushdown as the distributed path, with the batch side as a
    # broadcast local relation instead of a recomputed column plan
    kparts = np.unique(kpart).tolist()
    key_list = np.unique(keys).tolist()
    stored_bands = io.read("entity_bands").where(F.col("kpart").isin(kparts))
    if len(key_list) <= KEY_PUSHDOWN_CAP:
        stored_bands = stored_bands.where(F.col("key").isin(key_list))
    bk = local_frame(
        spark,
        sorted(
            {
                (g, b, k)
                for (g, _u, _n), row in zip(batch_entities, keys.tolist())
                for b, k in enumerate(row)
            }
        ),
        "group_id string, band int, key bigint",
    )
    collided_rows = (
        stored_bands.join(F.broadcast(bk), ["group_id", "band", "key"], "left_semi")
        .select("uuid")
        .dropDuplicates()
        .limit(L.DRIVER_NEIGHBORHOOD_CAP + 1)
        .collect()
    )
    if len(collided_rows) > L.DRIVER_NEIGHBORHOOD_CAP:
        raise L.FallbackToSpark("collided set over cap")
    collided = sorted({r.uuid for r in collided_rows})

    # --- neighborhood pull (Spark jobs 2-3): collided rows' canonical
    # seeds (upart-pruned), then the seeds' FULL stored components
    neighborhood_rows: list = []
    if collided:
        stored_map = io.read("uuid_map")
        uparts = np.unique(L.upart_py(collided)).tolist()
        cdf = F.broadcast(
            local_frame(spark, [(u,) for u in collided], "uuid string")
        )
        seeds = sorted(
            {
                r.canonical_uuid
                for r in stored_map.where(F.col("upart").isin(uparts))
                .join(cdf, "uuid", "left_semi")
                .select("canonical_uuid")
                .dropDuplicates()
                .collect()
            }
        )
        if seeds:
            sdf = F.broadcast(
                local_frame(spark, [(s,) for s in seeds], "canonical_uuid string")
            )
            neighborhood_rows = (
                stored_map.join(sdf, "canonical_uuid", "left_semi")
                .select(
                    "group_id", "uuid", "name", "canonical_uuid", "canonical_name"
                )
                .limit(L.DRIVER_NEIGHBORHOOD_CAP + 1)
                .collect()
            )
            if len(neighborhood_rows) > L.DRIVER_NEIGHBORHOOD_CAP:
                raise L.FallbackToSpark("neighborhood over cap")

    # --- restricted resolve, entirely driver-side
    vertices = L.local_distinct_entities(
        [(r.group_id, r.name) for r in batch_rows]
        + [(r.group_id, r.name) for r in neighborhood_rows]
    )
    seed_pairs = {
        (min(r.uuid, r.canonical_uuid), max(r.uuid, r.canonical_uuid))
        for r in neighborhood_rows
        if r.uuid != r.canonical_uuid
    }
    _pairs, new_map = L.resolve_local(vertices, seed_pairs)

    # --- deltas vs the stored state (same predicates as the
    # distributed path)
    stored_by_uuid = {
        r.uuid: (r.canonical_uuid, r.canonical_name) for r in neighborhood_rows
    }
    changed = [
        (uuid, cu, cn)
        for _g, uuid, _name, cu, cn in new_map
        if uuid != cu and stored_by_uuid.get(uuid) != (cu, cn)
    ]
    stored_canon = {r.canonical_uuid for r in neighborhood_rows}
    new_canon = {cu for _g, _u, _n, cu, _cn in new_map}
    dead = sorted(stored_canon - new_canon)
    collided_set = set(collided)
    # (uuid, group_id, name) — the distributed path's anti-join on
    # "uuid" surfaces the key first; keep the same column order
    new_entities = [
        (u, g, n) for g, u, n in batch_entities if u not in collided_set
    ]

    map_schema = (
        "group_id string, uuid string, name string, "
        "canonical_uuid string, canonical_name string"
    )
    ent_schema = "group_id string, uuid string, name string"
    return {
        "uuid_map": local_frame(spark, new_map, map_schema),
        "entities": local_frame(spark, vertices, ent_schema),
        "changed": local_frame(
            spark, changed, "_old string, _new string, _new_name string"
        ),
        "dead_canonicals": local_frame(spark, [(d,) for d in dead], "uuid string"),
        "new_entities": local_frame(
            spark, new_entities, "uuid string, group_id string, name string"
        ),
        "metrics": {
            "n_batch_entities": len(batch_entities),
            "n_collided": len(collided),
            "n_neighborhood": len(neighborhood_rows),
            "n_vertices_resolved": len(vertices),
        },
    }


def _incremental_resolve_spark(io, mentions_raw: DataFrame) -> dict:
    """Distributed strategy: see ``incremental_resolve``."""
    batch_entities = distinct_entities(
        mentions_raw.select("group_id", "name")
    ).localCheckpoint(eager=True)
    # batch_bands is a cheap column plan over the checkpointed entities
    # (band_keys renders as one SQL expression), so its two consumers —
    # the key collect below and the broadcast join — just recompute it;
    # a checkpoint here was one more fixed-cost job per micro-batch.
    batch_bands = entity_band_rows(batch_entities)

    # --- band-index lookup: which stored entities collide with the batch?
    # ONE collect serves both pruning levels: the kpart partition filter
    # and the key InSet pushdown (they were two separate jobs).
    kp_rows = (
        batch_bands.select("kpart", "key")
        .dropDuplicates()
        .limit(KEY_PUSHDOWN_CAP + 1)
        .collect()
    )
    capped = len(kp_rows) > KEY_PUSHDOWN_CAP
    if capped:
        # bulk load past the cap: the limited sample can't prove kpart
        # coverage — re-collect the (bounded, ≤BAND_KPARTS) kpart set
        kparts = sorted(
            {r.kpart for r in batch_bands.select("kpart").distinct().collect()}
        )
    else:
        kparts = sorted({r.kpart for r in kp_rows})
    stored_bands = io.read("entity_bands").where(F.col("kpart").isin(kparts))
    # point-lookup IO bound: a micro-batch's band keys fit one InSet
    # predicate, pushed to the parquet scan where the key-sorted,
    # bloom-filtered band files skip non-matching row groups — the
    # stored side is no longer a full O(entities) scan per batch
    if not capped:
        keys = sorted({r.key for r in kp_rows})
        stored_bands = stored_bands.where(F.col("key").isin(keys))
    collided = (
        stored_bands.join(
            F.broadcast(
                batch_bands.select("group_id", "band", "key").dropDuplicates()
            ),
            ["group_id", "band", "key"],
            "left_semi",
        )
        .select("uuid")
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    # --- neighborhood: the collided entities' FULL stored components
    stored_map = io.read("uuid_map")
    uparts = sorted(
        {
            r.p
            for r in collided.select(upart_col(F.col("uuid")).alias("p"))
            .distinct()
            .collect()
        }
    )
    if uparts:
        seed_canon = (
            stored_map.where(F.col("upart").isin(uparts))
            .join(F.broadcast(collided), "uuid", "left_semi")
            .select("canonical_uuid")
            .dropDuplicates()
        )
        neighborhood = (
            stored_map.join(F.broadcast(seed_canon), "canonical_uuid", "left_semi")
            .select("group_id", "uuid", "name", "canonical_uuid", "canonical_name")
            .localCheckpoint(eager=True)
        )
    else:
        neighborhood = (
            stored_map.limit(0)
            .select("group_id", "uuid", "name", "canonical_uuid", "canonical_name")
            .localCheckpoint(eager=True)
        )

    # --- restricted vertex set: batch surface forms ∪ stored
    # representatives; distinct_entities re-picks the per-lowercase-key
    # representative (min by (length, name)) exactly as the global path
    vertices = distinct_entities(
        mentions_raw.select("group_id", "name").unionByName(
            neighborhood.select("group_id", "name")
        )
    ).localCheckpoint(eager=True)

    # --- pairs: fresh LSH+scoring over the restricted set, plus the
    # stored intra-component edges as seeds (prior merges carry over)
    pairs = duplicate_pairs(vertices).select("group_id", "id_a", "id_b")
    seed_pairs = neighborhood.where(
        F.col("uuid") != F.col("canonical_uuid")
    ).select(
        "group_id",
        F.least("uuid", "canonical_uuid").alias("id_a"),
        F.greatest("uuid", "canonical_uuid").alias("id_b"),
    )
    all_pairs = pairs.unionByName(seed_pairs).dropDuplicates(["id_a", "id_b"])

    comps = connected_components(vertices, all_pairs)
    new_map = build_uuid_map(vertices, comps).localCheckpoint(eager=True)

    # --- deltas vs the stored state
    changed = (
        new_map.where(F.col("uuid") != F.col("canonical_uuid"))
        .join(
            neighborhood.select(
                "uuid",
                F.col("canonical_uuid").alias("_sc"),
                F.col("canonical_name").alias("_sn"),
            ),
            "uuid",
            "left",
        )
        .where(
            F.col("_sc").isNull()
            | (F.col("_sc") != F.col("canonical_uuid"))
            | (F.col("_sn") != F.col("canonical_name"))
        )
        .select(
            F.col("uuid").alias("_old"),
            F.col("canonical_uuid").alias("_new"),
            F.col("canonical_name").alias("_new_name"),
        )
    )
    dead_canonicals = (
        neighborhood.select(F.col("canonical_uuid").alias("uuid"))
        .dropDuplicates()
        .join(
            new_map.select(F.col("canonical_uuid").alias("uuid")).dropDuplicates(),
            "uuid",
            "left_anti",
        )
    )
    # an existing entity's lowercase name always LSH-collides with its
    # batch twin (identical shingles), so "first-seen" == "not collided"
    new_entities = batch_entities.join(F.broadcast(collided), "uuid", "left_anti")

    # one Spark job for all four evidence counters (each source is
    # already checkpointed, so the union of their 1-row aggregates is
    # pure agg work — four separate .count() jobs were pure scheduling
    # overhead at micro-batch cadence)
    def _n(df: DataFrame, key: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(key).alias("k"), "n"
        )

    metrics = {
        r.k: r.n
        for r in _n(batch_entities, "n_batch_entities")
        .unionByName(_n(collided, "n_collided"))
        .unionByName(_n(neighborhood, "n_neighborhood"))
        .unionByName(_n(vertices, "n_vertices_resolved"))
        .collect()
    }
    return {
        "uuid_map": new_map,
        "entities": vertices.select("group_id", "uuid", "name"),
        "changed": changed,
        "dead_canonicals": dead_canonicals,
        "new_entities": new_entities,
        "metrics": metrics,
    }
