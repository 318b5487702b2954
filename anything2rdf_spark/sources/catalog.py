"""Checkpoint table catalog.

At target scale every stage materializes to partitioned **Iceberg** tables
(``df.writeTo(...).partitionedBy(bucket(N, 'conv_id')).createOrReplace()``);
Iceberg's jars are not on this sandbox's classpath, so the catalog writes
partitioned parquet directories with the same layout and falls back
transparently — the pipeline code is identical either way.

Vendoring attempts (blocked by environment, re-checked every round —
r6 re-verified 2026-08-22: ``find / -iname '*iceberg*'`` finds nothing,
``import pyiceberg`` still fails, and the configured pip index still
serves NO pyiceberg distribution — ``pip download pyiceberg`` → "Could
not find a version that satisfies the requirement pyiceberg (from
versions: none)". Unchanged from the r5 check of 2026-08-17):
* no ``iceberg-spark-runtime`` jar anywhere on disk
  (``find / -iname '*iceberg*'`` → empty; ``$SPARK_HOME/jars`` has none);
* no ``pyiceberg`` package installed;
* no network: DNS resolution fails for both the pip index
  (``Name or service not known`` for the configured artifactory mirror)
  and ``repo1.maven.org``, so neither ``pip download pyiceberg`` nor a
  direct runtime-jar fetch can succeed.
The parquet stand-in keeps Iceberg's load-bearing properties: bucket
partition layout where a table asks for one, schema sidecar, atomic commit
marker for idempotent resume, and per-partition lineage metrics on write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Catalog:
    """A stage-output catalog rooted at a warehouse directory.

    A table written with a ``bucket_col`` has that column hashed into
    ``n_buckets`` partition directories — the parquet stand-in for
    Iceberg's ``bucket(n, conv_id)`` partition transform (SURVEY §4.1
    partitioning row): co-locates each conversation's rows and bounds
    per-file size under skew. A table written without one is flat: one
    file per non-empty partition of the DataFrame's plan, no shuffle.
    ``Pipeline`` buckets only its final triple table.

    Every table is written with parquet's zstd codec, Iceberg's default
    (``write.parquet.compression-codec``), rather than Spark's snappy: each
    checkpoint is written once and read back by its readers and by resume,
    so the bytes are the cost it pays, and zstd cuts a build's warehouse by
    about a third at the same build time. Parquet records the codec per
    column chunk, so tables written with another codec still read back.
    """

    def __init__(self, spark: SparkSession, warehouse: str, n_buckets: int = 32):
        self.spark = spark
        self.warehouse = warehouse
        self.n_buckets = n_buckets
        os.makedirs(warehouse, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        """A checkpoint is valid only with BOTH the parquet commit marker
        (_SUCCESS) and the schema sidecar (written after the commit): a
        crashed overwrite re-run leaves at most one of them, so resume
        re-computes instead of consuming truncated stage output."""
        p = self.path(table)
        return (
            os.path.isdir(p)
            and os.path.exists(os.path.join(p, "_SUCCESS"))
            and os.path.exists(os.path.join(p, "_schema.json"))
        )

    def write(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str | None = "conv_id",
        collect_partition_counts: bool = False,
    ) -> dict[int, int] | None:
        """Write a checkpoint table, bucketed by ``bucket_col`` or flat when
        it is None. With ``collect_partition_counts`` the per-partition row
        counts (per bucket, or per write task of a flat table) come from the
        freshly-written parquet FOOTERS
        — a metadata-only read (O(files), not O(rows)): no data-scan
        read-back (at 100 TB that's a full extra pass per stage), and no
        per-row observe aggregates either (r2 rode a 32-way ``count_if``
        observe on the write, which measured ~3s/stage of interpreted
        per-row accumulator work at sf0.1). On a real cluster this footer
        read is the Iceberg manifest row-count lookup the table commit
        already maintains."""
        if bucket_col and bucket_col in df.columns:
            out = df.withColumn(
                "pbucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(self.n_buckets))
            )
            # hash write-distribution (Iceberg write.distribution-mode=hash):
            # co-locate each bucket in one task so the layout is
            # bucket-per-file instead of tasks×buckets small files
            writer = out.repartition(self.n_buckets, "pbucket").write.partitionBy("pbucket")
        else:
            writer = df.write
        writer.mode("overwrite").option("compression", "zstd").parquet(self.path(table))
        # schema sidecar: empty tables write no parquet footers, so the
        # reader needs the schema from here (Iceberg would carry it in
        # table metadata). Written AFTER the parquet commit — exists()
        # requires both, closing the partial-overwrite resume hole.
        with open(os.path.join(self.path(table), "_schema.json"), "w") as f:
            f.write(df.schema.json())
        if collect_partition_counts:
            return self._partition_counts_from_footers(table)
        return None

    def _partition_counts_from_footers(self, table: str) -> dict[int, int]:
        """Per-partition row counts from parquet footer metadata (num_rows
        per file). A bucketed table sums each ``pbucket=`` directory; a flat
        table keys each file by the write task number in its
        ``part-NNNNN-…`` name, i.e. by the DataFrame partition that wrote
        it. Metadata-only: reads no row data."""
        import glob

        import pyarrow.parquet as pq

        root = self.path(table)
        counts: dict[int, int] = {}
        part_dirs = glob.glob(os.path.join(root, "pbucket=*"))
        if part_dirs:
            for d in part_dirs:
                b = int(d.rsplit("=", 1)[1])
                n = sum(
                    pq.ParquetFile(fp).metadata.num_rows
                    for fp in glob.glob(os.path.join(d, "*.parquet"))
                )
                if n:
                    counts[b] = n
        else:
            for fp in glob.glob(os.path.join(root, "part-*.parquet")):
                task = int(os.path.basename(fp).split("-", 2)[1])
                n = pq.ParquetFile(fp).metadata.num_rows
                if n:
                    counts[task] = counts.get(task, 0) + n
        return counts

    def row_count(self, table: str) -> int:
        """Total row count from parquet footer metadata — O(files), no Spark
        job, no data scan (the Iceberg manifest row-count lookup). Use for
        size-policy decisions (e.g. broadcast-vs-shuffle) on checkpointed
        tables instead of df.count(), which is a full pass at 100 TB."""
        return sum(self._partition_counts_from_footers(table).values())

    def read(self, table: str) -> DataFrame:
        from pyspark.sql import types as T

        sidecar = os.path.join(self.path(table), "_schema.json")
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                schema = T.StructType.fromJson(__import__("json").loads(f.read()))
            df = self.spark.read.schema(schema).parquet(self.path(table))
        else:
            df = self.spark.read.parquet(self.path(table))
        return df.drop("pbucket") if "pbucket" in df.columns else df

    def drop(self, table: str) -> None:
        import shutil

        shutil.rmtree(self.path(table), ignore_errors=True)
