"""GraphitiSpark — the reference's top-level ``Graphiti`` class
(graphiti_core/graphiti.py) re-expressed as a thin facade over the
engine's tables and operators, so a user of the reference can switch
entry point for entry point:

| reference (graphiti.py)          | here                               |
|----------------------------------|------------------------------------|
| ``add_episode`` (:351)           | ``add_episodes`` (batch-of-one)    |
| ``add_episode_bulk`` (:540)      | ``add_episodes``                   |
| ``search`` / ``search_`` (:698)  | ``search``                         |
| ``add_triplet`` (:811)           | ``add_triplet``                    |
| ``build_communities`` (:667)     | ``build_communities``              |
| ``remove_episode`` (:851)        | ``remove_episode``                 |
| ``get_nodes_and_edges_by_episode`` (:797) | ``episode_subgraph``      |
| ``retrieve_episodes`` (:…/graph_data_operations.py:86) | ``retrieve_episodes`` |
| ``build_indices_and_constraints`` (graph_data_operations.py:32) | table partition specs are created on write; ``search_indexes=True`` maintains the fulltext indexes |

Everything is a view over the materialized tables — the facade holds a
``TableIO`` root plus options, no other state (exactly how the
reference treats Neo4j as its only state, README.md:77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import corpus
from .io.tables import TableIO
from .materialize import materialize_graph
from .search_api import (
    EDGE_HYBRID_SEARCH_RRF,
    CrossEncoder,
    SearchConfig,
    SearchResults,
    episode_content,
    search as _search,
    with_fact_embeddings,
)


class GraphitiSpark:
    """Facade over one graph root directory.

    >>> g = GraphitiSpark(spark, "/data/graph", search_indexes=True)
    >>> g.add_episodes(episodes_df)            # incremental, O(batch)
    >>> g.search("who works for acme?")        # 4-lane hybrid read
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        batch_time: str = corpus.BATCH_TIME,
        search_indexes: bool = False,
    ):
        self.spark = spark
        self.io = TableIO(spark, root)
        self.batch_time = batch_time
        self.search_indexes = search_indexes

    # -- tables -------------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        return self.io.read(name)

    @property
    def nodes(self) -> DataFrame:
        return self.table("nodes")

    @property
    def edges(self) -> DataFrame:
        return self.table("edges")

    @property
    def episodes(self) -> DataFrame:
        return self.table("episodes")

    @property
    def mentions(self) -> DataFrame:
        return self.table("mentions")

    # -- write path ---------------------------------------------------------

    def add_episodes(self, episodes: DataFrame) -> TableIO:
        """add_episode / add_episode_bulk: run the extraction →
        resolution → bi-temporal pipeline incrementally into the graph
        tables (plus the invalidation stage the reference's bulk mode
        omits). A 1-row DataFrame is the reference's add_episode."""
        return materialize_graph(
            self.spark,
            episodes,
            self.io.root,
            batch_time=self.batch_time,
            search_indexes=self.search_indexes,
        )

    def add_triplet(
        self,
        group_id: str,
        subj_name: str,
        predicate: str,
        obj_name: str,
        valid_at: str,
        fact: str | None = None,
    ) -> None:
        """Manual triple insert (graphiti.py:811-849), full lifecycle:
        surface names first RESOLVE through the existing uuid_map (the
        reference runs node resolution before saving), the edge row goes
        through the SAME pair-scoped merge + bi-temporal rectify as
        pipeline output, genuinely-new endpoint nodes are upserted and
        recorded in the uuid_map (so later batches resolve against
        them), and the persisted fulltext indexes receive the new fact
        and node names."""
        from pyspark.sql import functions as F

        from .materialize import EDGE_COLS, merge_edges
        from .pipeline import edge_attributes_col
        from .schemas import edge_uuid, entity_uuid

        def resolve(name: str) -> tuple[str | None, str]:
            if self.io.exists("uuid_map"):
                hit = (
                    self.io.read("uuid_map")
                    .where(
                        (F.col("group_id") == group_id)
                        & (F.lower(F.col("name")) == name.lower())
                    )
                    .select("canonical_uuid", "canonical_name")
                    .limit(1)
                    .collect()
                )
                if hit:
                    return hit[0].canonical_uuid, hit[0].canonical_name
            return None, name

        subj_uuid, subj_name = resolve(subj_name)
        obj_uuid, obj_name = resolve(obj_name)

        row = self.spark.createDataFrame(
            [(group_id, subj_name, predicate, obj_name, valid_at)],
            "group_id string, subj_name string, predicate string, "
            "obj_name string, valid_at string",
        ).select(
            "group_id",
            (
                F.lit(subj_uuid)
                if subj_uuid
                else entity_uuid(F.col("group_id"), F.col("subj_name"))
            ).alias("source_node_uuid"),
            "predicate",
            (
                F.lit(obj_uuid)
                if obj_uuid
                else entity_uuid(F.col("group_id"), F.col("obj_name"))
            ).alias("target_node_uuid"),
            F.col("valid_at").cast("timestamp").alias("valid_at"),
            "subj_name",
            "obj_name",
            (
                F.lit(fact)
                if fact is not None
                else F.concat_ws(
                    " ", F.col("subj_name"), F.col("predicate"), F.col("obj_name")
                )
            ).alias("fact"),
            F.array().cast("array<string>").alias("episodes"),
            F.lit(self.batch_time).cast("timestamp").alias("created_at"),
            F.lit(None).cast("timestamp").alias("invalid_at"),
            F.lit(None).cast("timestamp").alias("expired_at"),
            edge_attributes_col("predicate").alias("attributes"),
        )
        row = row.withColumn(
            "uuid",
            edge_uuid(
                F.col("group_id"), F.col("source_node_uuid"), F.col("predicate"),
                F.col("target_node_uuid"), F.col("valid_at"),
            ),
        ).select(*EDGE_COLS)
        merge_edges(self.io, row)

        # upsert only the genuinely-new endpoints (resolved names keep
        # their canonical node rows untouched)
        new_names = [
            n for n, u in ((subj_name, subj_uuid), (obj_name, obj_uuid))
            if u is None
        ]
        if new_names:
            self._upsert_entities(group_id, new_names)
        if self.search_indexes:
            from .operators.search import SearchIndex

            SearchIndex(self.io, "ft_edges").merge(
                row.select("uuid", "fact"), "uuid", "fact"
            )

    def save_entity_node(
        self,
        group_id: str,
        name: str,
        summary: str | None = None,
    ) -> str:
        """The server's entity-node upsert (graph_service/routers/
        ingest.py:72-84 → zep_graphiti save_entity_node): create or
        refresh one entity node with the standard enrichment (labels,
        typed attributes, stat-or-given summary), registered in the
        uuid_map and LSH band index so later batches resolve against
        it. Uuid is content-derived (deterministic), returned —
        computed driver-side (the python twin of schemas.entity_uuid;
        kept in sync like oracle.py's SQL twin) rather than paying a
        Spark job for one literal hash on the synchronous HTTP path."""
        import hashlib

        self._upsert_entities(group_id, [name], summary=summary)
        return hashlib.sha256(
            f"entity|{group_id}|{name.lower()}".encode()
        ).hexdigest()

    def _upsert_entities(
        self,
        group_id: str,
        new_names: list[str],
        summary: str | None = None,
    ) -> None:
        """Shared node-upsert path for add_triplet endpoints and
        save_entity_node: enrich → merge nodes/uuid_map → extend the
        entity band index → refresh the node fulltext index."""
        from pyspark.sql import functions as F

        from .functions.similarity import hash_embed_udf
        from .operators.incremental import entity_band_rows, upart_col
        from .operators.ontology import enrich_nodes_with_stats
        from .schemas import entity_uuid

        base = (
            self.spark.createDataFrame(
                [(group_id, n) for n in dict.fromkeys(new_names)],
                "group_id string, name string",
            )
            .withColumn("uuid", entity_uuid(F.col("group_id"), F.col("name")))
            .withColumn("name_embedding", hash_embed_udf(F.col("name")))
            .withColumn(
                "created_at", F.lit(self.batch_time).cast("timestamp")
            )
        )
        # the stored node_stats columns, so these node rows carry the
        # same columns as the ones materialize_graph writes
        stats = (
            self.io.read("node_stats")
            if self.io.exists("node_stats")
            else self.spark.createDataFrame(
                [], "entity_uuid string, n_episodes long, spart int"
            )
        )
        new_nodes = enrich_nodes_with_stats(
            base.select(
                "group_id", "uuid", "name", "name_embedding", "created_at"
            ),
            stats,
        )
        if summary is not None:
            # caller-provided summary wins over the stat sentence (the
            # server's save_entity_node passes one through)
            new_nodes = new_nodes.withColumn("summary", F.lit(summary))
        # always the partitioned layout, always registered in the
        # uuid_map and band index: the next add_episodes then resolves
        # against these nodes instead of overwriting them
        self.io.merge_upsert(
            "nodes",
            new_nodes.withColumn("npart", upart_col(F.col("uuid"))),
            key_cols=["uuid"],
            partition_col="npart",
        )
        self.io.merge_upsert(
            "uuid_map",
            base.select(
                "group_id", "uuid", "name",
                F.col("uuid").alias("canonical_uuid"),
                F.col("name").alias("canonical_name"),
                upart_col(F.col("uuid")).alias("upart"),
            ),
            key_cols=["uuid"],
            partition_col="upart",
        )
        self.io.append(
            "entity_bands",
            entity_band_rows(base.select("group_id", "uuid", "name")),
            partition_by=["kpart"],
        )
        if self.search_indexes:
            from .operators.search import SearchIndex

            SearchIndex(self.io, "ft_nodes").merge(
                base.select("uuid", "name"), "uuid", "name"
            )

    def remove_episode(self, doc_id: str) -> None:
        """S8 cascade: drop the episode, its solely-evidenced edges,
        and orphaned entities (graphiti.py:851-886) — PARTITION-SCOPED:
        a point delete rewrites only the doc's hash bucket of
        episodes/mentions/episode_edges, the pair buckets of the edges
        that cited the doc, and the entity-hash buckets of the orphaned
        nodes/uuid_map/entity_bands/node_stats rows; every other
        partition's files stay on disk untouched. The uuid_map/band
        deletion makes the node delete DURABLE: no later batch can
        resurrect the orphans through resolution. The persisted
        fulltext indexes follow via tombstones."""
        from pyspark.sql import functions as F

        from .operators.incremental import upart_col

        affected = (
            self.mentions.where(F.col("doc_id") == doc_id)
            .select("entity_uuid")
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        # edge rows citing the doc — captured BEFORE any swap
        cited = (
            self.edges.where(F.array_contains("episodes", doc_id))
            .localCheckpoint(eager=True)
        )
        dead_edges = (
            cited.where(F.size("episodes") == 1)
            .select(F.col("uuid").alias("id"))
            .localCheckpoint(eager=True)
        )

        # orphaned entities: every mention is from this doc
        mention_counts = self.mentions.groupBy("entity_uuid").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("doc_id") == doc_id, 1).otherwise(0)
            ).alias("n_here"),
        )
        orphan = (
            mention_counts.where(
                (F.col("n") == F.col("n_here")) & (F.col("n_here") > 0)
            )
            .select("entity_uuid")
            .localCheckpoint(eager=True)
        )

        # nodes: point delete of the orphans, scoped to their npart hash
        # buckets
        orphan_ids = orphan.withColumnRenamed("entity_uuid", "uuid")
        nparts = [
            r[0]
            for r in orphan_ids.select(
                upart_col(F.col("uuid")).alias("p")
            ).distinct().collect()
        ]
        if nparts:
            content = self.nodes.where(F.col("npart").isin(nparts)).join(
                F.broadcast(orphan_ids), "uuid", "left_anti"
            )
            self.io.overwrite_partitions("nodes", content, "npart", parts=nparts)

        # episodes + mentions: only the doc's hash bucket is rewritten
        for table, pcol in (("episodes", "part"), ("mentions", "mpart")):
            stored = self.table(table)
            parts = [
                r[0]
                for r in stored.where(F.col("doc_id") == doc_id)
                .select(pcol)
                .distinct()
                .collect()
            ]
            if not parts:
                continue
            content = stored.where(
                F.col(pcol).isin(parts) & (F.col("doc_id") != doc_id)
            )
            self.io.overwrite_partitions(table, content, pcol, parts=parts)

        # edges: only the pair buckets of cited edges are rewritten
        eparts = [r[0] for r in cited.select("epart").distinct().collect()]
        if eparts:
            content = (
                self.edges.where(F.col("epart").isin(eparts))
                .join(
                    F.broadcast(dead_edges.withColumnRenamed("id", "uuid")),
                    "uuid",
                    "left_anti",
                )
                .withColumn("episodes", F.array_remove(F.col("episodes"), doc_id))
            )
            self.io.overwrite_partitions("edges", content, "epart", parts=eparts)

        # episode_edges forward index: the doc's bucket loses its rows
        # (dead edges cite ONLY this doc, so no other bucket changes)
        if self.io.exists("episode_edges"):
            ee = self.table("episode_edges")
            parts = [
                r[0]
                for r in ee.where(F.col("doc_id") == doc_id)
                .select("part")
                .distinct()
                .collect()
            ]
            if parts:
                content = ee.where(
                    F.col("part").isin(parts) & (F.col("doc_id") != doc_id)
                )
                self.io.overwrite_partitions(
                    "episode_edges", content, "part", parts=parts
                )
        # uuid_map + band index: drop the orphaned canonicals AND every
        # surface-form variant mapping to them — without this, the next
        # add_episodes would feed the names back into resolution and
        # silently resurrect the deleted nodes (the reference's node
        # delete is durable, graphiti.py:851-886).
        if self.io.exists("uuid_map"):
            um = self.table("uuid_map")
            doomed = (
                um.join(
                    F.broadcast(
                        orphan.withColumnRenamed("entity_uuid", "canonical_uuid")
                    ),
                    "canonical_uuid",
                    "left_semi",
                )
                .localCheckpoint(eager=True)
            )
            uparts = [r[0] for r in doomed.select("upart").distinct().collect()]
            if uparts:
                content = um.where(F.col("upart").isin(uparts)).join(
                    F.broadcast(doomed.select("uuid")), "uuid", "left_anti"
                )
                self.io.overwrite_partitions(
                    "uuid_map", content, "upart", parts=uparts
                )
            if self.io.exists("entity_bands"):
                eb = self.table("entity_bands")
                hit = eb.join(
                    F.broadcast(doomed.select("uuid")), "uuid", "left_semi"
                ).localCheckpoint(eager=True)
                kparts = [r[0] for r in hit.select("kpart").distinct().collect()]
                if kparts:
                    content = eb.where(F.col("kpart").isin(kparts)).join(
                        F.broadcast(doomed.select("uuid")), "uuid", "left_anti"
                    )
                    self.io.overwrite_partitions(
                        "entity_bands", content, "kpart", parts=kparts
                    )
        if self.io.exists("node_stats"):
            fresh = (
                self.mentions.join(F.broadcast(affected), "entity_uuid", "left_semi")
                .groupBy("entity_uuid")
                .agg(F.countDistinct("doc_id").alias("n_episodes"))
            )
            fresh = fresh.withColumn("spart", upart_col(F.col("entity_uuid")))
            keys = affected.withColumn(
                "spart", upart_col(F.col("entity_uuid"))
            ).localCheckpoint(eager=True)
            sparts = [r[0] for r in keys.select("spart").distinct().collect()]
            if sparts:
                kept = (
                    self.io.read("node_stats")
                    .where(F.col("spart").isin(sparts))
                    .join(F.broadcast(keys.select("entity_uuid")), "entity_uuid",
                          "left_anti")
                )
                self.io.overwrite_partitions(
                    "node_stats", kept.unionByName(fresh), "spart", parts=sparts
                )
        if self.search_indexes:
            from .operators.search import SearchIndex

            eidx = SearchIndex(self.io, "ft_edges")
            if eidx.exists():
                eidx.delete(dead_edges)
            epidx = SearchIndex(self.io, "ft_episodes")
            if epidx.exists():
                epidx.delete(
                    self.spark.createDataFrame([(doc_id,)], "id string")
                )
            # orphaned nodes = affected entities no longer in nodes
            nidx = SearchIndex(self.io, "ft_nodes")
            if nidx.exists():
                dead_nodes = affected.withColumnRenamed(
                    "entity_uuid", "id"
                ).join(
                    self.nodes.select(F.col("uuid").alias("id")), "id", "left_anti"
                )
                nidx.delete(dead_nodes)

    # -- read path ----------------------------------------------------------

    def search(
        self,
        query: str,
        config: SearchConfig | None = None,
        group_ids: list[str] | None = None,
        center_uuid: str | None = None,
        bfs_origins: list[str] | None = None,
        cross_encoder: CrossEncoder | None = None,
        filters=None,
    ) -> SearchResults:
        """The 4-lane hybrid search over the graph tables; defaults to
        EDGE_HYBRID_SEARCH_RRF like the reference's simple ``search``
        (graphiti.py:739-742). Uses the persisted fulltext indexes when
        the facade maintains them. ``filters``: an optional
        operators.filters.SearchFilters applied to the lane INPUTS
        (the reference passes SearchFilters into search(), search.py
        filters pre-ranking) — so a label filter constrains the
        candidate pool rather than post-truncating ranked output."""
        config = config or EDGE_HYBRID_SEARCH_RRF()
        indexes = {}
        if self.search_indexes:
            from .operators.search import SearchIndex

            for lane, prefix in (
                ("edges", "ft_edges"),
                ("nodes", "ft_nodes"),
                ("episodes", "ft_episodes"),
            ):
                idx = SearchIndex(self.io, prefix)
                if idx.exists():
                    indexes[lane] = idx
        communities = (
            self.table("communities") if self.io.exists("communities") else None
        )
        nodes = self.nodes
        edges = self.edges
        if filters is not None:
            from .operators.filters import (
                apply_edge_filters,
                apply_node_filters,
            )

            nodes = apply_node_filters(nodes, filters)
            edges = apply_edge_filters(edges, filters)
        return _search(
            query,
            config,
            nodes=nodes,
            edges=with_fact_embeddings(edges),
            episodes_text=episode_content(self.episodes),
            communities=communities,
            mentions=self.mentions,
            group_ids=group_ids,
            center_uuid=center_uuid,
            bfs_origins=bfs_origins,
            cross_encoder=cross_encoder,
            indexes=indexes,
        )

    def retrieve_episodes(
        self, reference_time: str, last_n: int = 10,
        group_ids: list[str] | None = None,
    ) -> DataFrame:
        """T6 point-in-time episode retrieval."""
        from .operators.maintenance import retrieve_episodes as _re

        return _re(
            self.episodes, reference_time, last_n=last_n, group_ids=group_ids
        )

    def episode_subgraph(self, doc_ids: list[str]):
        """get_nodes_and_edges_by_episode (graphiti.py:797-809), via
        the episode_edges forward-pointer index."""
        from .operators.graph_api import episode_subgraph as _sub

        ee = (
            self.table("episode_edges")
            if self.io.exists("episode_edges")
            else None
        )
        return _sub(doc_ids, self.nodes, self.edges, self.mentions,
                    episode_edges=ee)

    # -- communities --------------------------------------------------------

    def build_communities(self, group_ids: list[str] | None = None) -> None:
        """C2+C3: detect + build + persist community tables.

        ``group_ids``: rebuild ONLY those graph partitions' communities
        (the reference filters the community projection per group —
        graphiti.py:667, community_operations.py:33-43); every other
        group's community rows carry over untouched, so a multi-tenant
        deployment never pays an all-tenant rebuild for one tenant's
        ingest. LPA is group-local (detection partitions by group_id),
        so a scoped rebuild's output for the scoped groups is identical
        to a full rebuild's."""
        from pyspark.sql import functions as F

        from .operators.community import build_communities, detect_communities

        edges, nodes = self.edges, self.nodes
        if group_ids:
            edges = edges.where(F.col("group_id").isin(group_ids))
            nodes = nodes.where(F.col("group_id").isin(group_ids))
        membership = detect_communities(edges, nodes)
        comms, members = build_communities(membership, nodes, self.batch_time)
        if group_ids and self.io.exists("communities"):
            # snapshot-swap write: the union plan reads the OLD table
            # files while the staging dir is written, so no checkpoint
            # is needed before overwriting the table it reads from
            comms = (
                self.table("communities")
                .where(~F.col("group_id").isin(group_ids))
                .unionByName(comms)
            )
            members = (
                self.table("community_members")
                .where(~F.col("group_id").isin(group_ids))
                .unionByName(members)
            )
        self.io.write("communities", comms)
        self.io.write("community_members", members)

    def remove_communities(self) -> None:
        from .operators.graph_api import remove_communities as _rc

        _rc(self.io)

    # -- maintenance ---------------------------------------------------------

    def compact(self) -> None:
        """Iceberg-style table maintenance (run on a cadence, never per
        batch): rewrite the append-only LSH band index to one key-sorted
        bloom-filtered file per bucket, and compact the fulltext indexes
        (coalesce append-generated small files, physically drop
        tombstone-hidden postings). Query results are unchanged; what
        changes is file count and row-group skipping tightness, which
        otherwise degrade linearly with micro-batch count."""
        from .operators.incremental import compact_entity_bands
        from .operators.search import SearchIndex

        if self.io.exists("entity_bands"):
            compact_entity_bands(self.io)
        for prefix in ("ft_episodes", "ft_nodes", "ft_edges"):
            idx = SearchIndex(self.io, prefix)
            if idx.exists():
                idx.compact()
