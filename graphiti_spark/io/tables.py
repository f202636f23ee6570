"""TableIO — Iceberg-style persistence on plain parquet.

The reference persists via Cypher ``MERGE`` upserts keyed on uuid
(graphiti_core/models/nodes/node_db_queries.py:17-52,
models/edges/edge_db_queries.py:17-56). The Spark-native equivalent is
Iceberg ``MERGE INTO``; the iceberg-spark runtime jar is not available
offline in this sandbox, so this layer reproduces the same semantics
(idempotent keyed upsert, snapshot swap, partition layout) on parquet
directories behind one storage-agnostic interface — swap the
implementation for `spark.sql("MERGE INTO ...")` on a real cluster.

Also the home of the north-rule bookkeeping:
- ``lineage`` table: one row per (stage, partition key, row_count,
  content_hash) — resuming a stage anti-joins its input against
  completed lineage, making every stage restart idempotent.
- ``metrics`` table: per-stage row counts, one file per run (the
  reference logs these ad hoc, graphiti_core/graphiti.py:651).
"""

from __future__ import annotations

import os
import shutil
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        if any(f.endswith(".parquet") for f in os.listdir(p)) or os.path.isfile(
            os.path.join(p, "_SUCCESS")
        ):
            return True
        # hive-partitioned layout: part=<v>/ dirs holding the files
        return any(
            "=" in d and os.path.isdir(os.path.join(p, d)) for d in os.listdir(p)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        """Snapshot-swap overwrite: write to a staging dir, then rename —
        readers never observe a half-written table (the parquet stand-in
        for an Iceberg snapshot commit)."""
        final = self.path(name)
        staging = final + ".staging-" + _uuid.uuid4().hex[:8]
        w = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        old = final + ".old-" + _uuid.uuid4().hex[:8]
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(staging, final)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    def append(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        """Append-only file add (Iceberg fast-append): new files land
        inside the existing partition dirs; nothing is rewritten. The
        caller guarantees key-disjointness (e.g. anti-join on already
        present ids first). ``options`` pass through to the parquet
        writer (e.g. per-column bloom filters for point-lookup tables)."""
        if not self.exists(name):
            self.write(name, df, partition_by=partition_by, options=options)
            return
        w = df.write.mode("append")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def merge_upsert(
        self,
        name: str,
        updates: DataFrame,
        key_cols: list[str],
        partition_col: str | None = None,
        parts: list | None = None,
    ) -> None:
        """MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT:
        updates win on key collision; all other existing rows survive.

        With ``partition_col`` (a hash-bucket column present in
        ``updates``), the merge is PARTITION-SCOPED: only the buckets
        the batch touches are read-modified-rewritten; every other
        bucket's files are left in place — O(batch), not O(table), work
        and I/O per incremental batch (Iceberg MERGE INTO file-level
        rewrite semantics).

        ``parts``: the exact set of ``partition_col`` values present in
        ``updates``, when the caller already knows it — skips the
        distinct-collect job this method would otherwise run."""
        if not self.exists(name):
            self.write(
                name, updates, partition_by=[partition_col] if partition_col else None
            )
            return
        if partition_col is None:
            existing = self.read(name)
            kept = existing.join(
                F.broadcast(updates.select(*key_cols).dropDuplicates(key_cols))
                if len(key_cols) <= 2
                else updates.select(*key_cols).dropDuplicates(key_cols),
                key_cols,
                "left_anti",
            )
            self.write(name, kept.unionByName(updates, allowMissingColumns=True))
            return
        if parts is None:
            parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
        # static partition pruning: only the affected buckets are scanned
        existing = self.read(name).where(F.col(partition_col).isin(parts))
        kept = existing.join(
            F.broadcast(updates.select(*key_cols).dropDuplicates(key_cols)),
            key_cols,
            "left_anti",
        )
        self.overwrite_partitions(
            name,
            kept.unionByName(updates, allowMissingColumns=True),
            partition_col,
            parts=parts,
        )

    def overwrite_partitions(
        self,
        name: str,
        df: DataFrame,
        partition_col: str,
        parts: list | None = None,
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the hive partitions
        named in ``parts`` (default: those present in ``df``) with the
        rows of ``df``; all other partition directories are untouched on
        disk. ``df`` must carry the FULL new content of every partition
        it replaces; a part listed in ``parts`` with no rows in ``df``
        becomes empty (its directory is removed).

        This is the parquet stand-in for Iceberg's partition-level
        commit; the per-partition dir swap is not atomic across
        partitions (Iceberg's snapshot commit is), which the idempotent
        keyed merges above tolerate."""
        final = self.path(name)
        if not self.exists(name):
            self.write(name, df, partition_by=[partition_col])
            return
        staging = final + ".staging-" + _uuid.uuid4().hex[:8]
        df.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
        prefix = partition_col + "="
        written = {d for d in os.listdir(staging) if d.startswith(prefix)}
        expected = (
            {f"{prefix}{p}" for p in parts} if parts is not None else set(written)
        )
        for d in sorted(expected | written):
            src, dst = os.path.join(staging, d), os.path.join(final, d)
            if os.path.exists(dst):
                shutil.rmtree(dst, ignore_errors=True)
            if os.path.exists(src):
                os.rename(src, dst)
        shutil.rmtree(staging, ignore_errors=True)

    def delete_where(self, name: str, condition) -> None:
        """MERGE ... WHEN MATCHED THEN DELETE equivalent (S8)."""
        self.write(name, self.read(name).where(~condition))

    def drop(self, name: str) -> None:
        """DROP TABLE: remove the directory entirely."""
        shutil.rmtree(self.path(name), ignore_errors=True)

    # ------------------------------------------------------------------
    # lineage + metrics (north rule: per-partition lineage & counts)
    # ------------------------------------------------------------------

    def record_lineage(self, stage: str, df: DataFrame, partition_col: str) -> DataFrame:
        """Aggregate per-partition row counts + order-insensitive content
        hash for ``stage``; append to the lineage table and return the
        summary. The hash is xor-of-row-hashes (commutative), computed
        JVM-side."""
        hashed = df.withColumn("_h", F.xxhash64(*[F.col(c) for c in df.columns]))
        summary = hashed.groupBy(F.col(partition_col).alias("part")).agg(
            F.count(F.lit(1)).alias("row_count"),
            F.expr("bit_xor(_h)").alias("content_hash"),  # xor: commutative, no overflow
        ).withColumn("stage", F.lit(stage))
        if self.exists("lineage"):
            # merge per (stage, part): a resume run records only ITS
            # partitions — prior completions for the same stage must
            # survive or a later resume would reprocess them.
            prior = self.read("lineage").join(
                summary.select(F.lit(stage).alias("stage"), "part"),
                ["stage", "part"],
                "left_anti",
            )
            self.write("lineage", prior.unionByName(summary))
        else:
            self.write("lineage", summary)
        return summary

    def completed_parts(self, stage: str) -> DataFrame | None:
        if not self.exists("lineage"):
            return None
        return self.read("lineage").where(F.col("stage") == stage).select("part")

    def resume_filter(self, stage: str, df: DataFrame, partition_col: str) -> DataFrame:
        """Idempotent resume: drop input partitions whose lineage rows
        already exist for ``stage`` (anti-join on the partition key)."""
        done = self.completed_parts(stage)
        if done is None:
            return df
        return df.join(
            F.broadcast(done.withColumnRenamed("part", partition_col)),
            partition_col,
            "left_anti",
        )

    def fast_count(
        self,
        name: str,
        non_null: str | None = None,
        parts: tuple[str, list] | None = None,
    ) -> int:
        """Table row count — optionally of non-null values in one
        top-level column — from parquet footer metadata alone: the
        stand-in for Iceberg snapshot statistics (total-records /
        null-value-counts), O(#files) driver-side metadata reads with
        NO executor scan. materialize_graph records its per-batch
        table-size metrics this way; a Spark ``count()`` there would be
        an O(table) scan per micro-batch — the complexity class every
        other part of the incremental path is designed to avoid.

        ``parts=(partition_col, values)`` restricts the walk to those
        hive partition directories — the footer-stats analogue of the
        partition-scoped Spark counts the incremental merges report.

        Falls back to a Spark count if any footer lacks the needed
        column statistics (never happens for Spark-written files)."""
        import pyarrow.parquet as pq

        roots = (
            [os.path.join(self.path(name), f"{parts[0]}={v}") for v in parts[1]]
            if parts is not None
            else [self.path(name)]
        )
        total = 0
        nulls = 0
        for dirpath, _dirs, files in (
            w for r in roots for w in os.walk(r)
        ):
            for f in files:
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
                total += md.num_rows
                if non_null is None:
                    continue
                idx = next(
                    (
                        i
                        for i in range(md.num_columns)
                        if md.schema.column(i).path == non_null
                    ),
                    None,
                )
                if idx is None:
                    return self._spark_count(name, non_null, parts)
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or st.null_count is None:
                        return self._spark_count(name, non_null, parts)
                    nulls += st.null_count
        return total - nulls if non_null is not None else total

    def _spark_count(
        self,
        name: str,
        non_null: str | None = None,
        parts: tuple[str, list] | None = None,
    ) -> int:
        df = self.read(name)
        if parts is not None:
            df = df.where(F.col(parts[0]).isin(list(parts[1])))
        if non_null is not None:
            df = df.where(F.col(non_null).isNotNull())
        return df.count()

    def record_metrics(self, rows: list[tuple[str, str, float]]) -> None:
        """Append one run's (stage, metric, value) rows as ONE parquet
        file. Every row carries the same ``seq``, the number of files
        already in the table: each call adds exactly one file, so the
        file count is a free monotone run counter that orders rows
        across batches without reading any prior row.

        pyarrow writes the 4-column parquet Spark reads back; a Spark
        write-job (createDataFrame + committer + dir listing) would cost
        seconds per call at micro-batch cadence."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = self.path("metrics")
        os.makedirs(p, exist_ok=True)
        seq = sum(1 for f in os.listdir(p) if f.startswith("part-"))
        stages, metrics, values = zip(*rows)
        t = pa.table(
            {
                "stage": pa.array(stages, pa.string()),
                "metric": pa.array(metrics, pa.string()),
                "value": pa.array([float(v) for v in values], pa.float64()),
                "seq": pa.array([seq] * len(rows), pa.int64()),
            }
        )
        tmp = os.path.join(p, f".tmp-{_uuid.uuid4().hex}.parquet")
        pq.write_table(t, tmp)
        os.rename(tmp, os.path.join(p, f"part-metrics-{_uuid.uuid4().hex}.parquet"))
