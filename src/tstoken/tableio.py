"""Table IO seam: Iceberg when available, partitioned Parquet fallback.

The production spec (BASELINE.json north_rule) targets Iceberg tables;
this sandbox has no iceberg-spark-runtime jar (verified in SURVEY.md
§7.0), so TableIO exposes one API with two backends:

  - `iceberg`: spark.catalog tables, MERGE INTO upserts, snapshot ids
    from the snapshots metadata table (used when the configured catalog
    exists on the classpath);
  - `parquet`: directory-per-table layout partitioned by `source` (or
    the writer's `partition_by`), and a manifest JSON carrying a
    monotonically increasing snapshot id, the read schema and the
    partition columns (the lineage anchor for checkpoint.py).

Overwrites replace the whole table (INSERT OVERWRITE semantics, static
whatever the session's `partitionOverwriteMode`) and may read the table
they replace, which is what makes the checkpoint/resume path safe to
re-run.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType


class TableIO:
    def __init__(self, spark: SparkSession, base_dir: str,
                 backend: str = "auto", catalog: str = "spark_catalog"):
        self.spark = spark
        self.base_dir = base_dir
        self.catalog = catalog
        if backend == "auto":
            backend = "iceberg" if self._iceberg_available() else "parquet"
        self.backend = backend
        if backend == "parquet":
            os.makedirs(base_dir, exist_ok=True)

    def _iceberg_available(self) -> bool:
        try:
            self.spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog")
            return True
        except Exception:
            return False

    # ------------------------------------------------------------ paths

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._path(table), "_manifest.json")

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"snapshot_id": 0, "history": []}

    def _bump_manifest(self, table: str, m: dict, op: str, df: DataFrame,
                       partition_by: tuple[str, ...]) -> int:
        """Advance manifest `m`'s snapshot id and record the schema `read`
        passes to Spark (data columns, then partition columns, all
        nullable — what parquet inference yields), so no read runs an
        inference job, and the partition columns, so a rewrite keeps the
        table's layout."""
        m["snapshot_id"] = int(m["snapshot_id"]) + 1
        m["partition_by"] = list(partition_by)
        fields = ([f for f in df.schema if f.name not in partition_by]
                  + [df.schema[c] for c in partition_by])
        m["schema"] = StructType(
            [StructField(f.name, f.dataType, True) for f in fields]).json()
        m["history"].append({"snapshot_id": m["snapshot_id"], "op": op,
                             "ts": time.time(),
                             "run": str(uuid.uuid4())[:8]})
        with open(self._manifest_path(table), "w") as f:
            json.dump(m, f)
        return m["snapshot_id"]

    # -------------------------------------------------------------- API

    def exists(self, table: str) -> bool:
        if self.backend == "iceberg":
            return self.spark.catalog.tableExists(f"{self.catalog}.{table}")
        p = self._path(table)
        return os.path.exists(p) and any(
            not e.startswith("_") for e in os.listdir(p))

    def read(self, table: str) -> DataFrame:
        if self.backend == "iceberg":
            return self.spark.read.table(f"{self.catalog}.{table}")
        schema = self._read_manifest(table).get("schema")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(self._path(table))

    def append(self, table: str, df: DataFrame,
               partition_by: tuple[str, ...] = ("source",)) -> int:
        if self.backend == "iceberg":
            df.writeTo(f"{self.catalog}.{table}").append()
            return self.snapshot_id(table)
        (df.write.mode("append").partitionBy(*partition_by)
           .parquet(self._path(table)))
        return self._bump_manifest(table, self._read_manifest(table),
                                   "append", df, partition_by)

    def overwrite(self, table: str, df: DataFrame,
                  partition_by: tuple[str, ...] = ("source",)) -> int:
        """Replace the table with `df`, which may read the table itself
        (merge-back). Iceberg snapshots make this safe natively; the
        parquet backend writes `df` to a sibling dir, swaps it in for
        an existing table and keeps the manifest's snapshot count."""
        if self.backend == "iceberg":
            df.writeTo(f"{self.catalog}.{table}").createOrReplace()
            return self.snapshot_id(table)
        path = self._path(table)
        m = self._read_manifest(table)
        staged = path + "__staging" if os.path.exists(path) else path
        # the write option outranks the session conf, so a session in
        # dynamic mode cannot leave stale partitions behind
        (df.write.mode("overwrite").option("partitionOverwriteMode", "static")
         .partitionBy(*partition_by).parquet(staged))
        if staged != path:
            shutil.rmtree(path)
            os.rename(staged, path)
        return self._bump_manifest(table, m, "overwrite", df, partition_by)

    def delete_where(self, table: str, predicate: str) -> int:
        """Retention delete. Iceberg: metadata-only DELETE FROM;
        parquet fallback: overwrite with the surviving rows in the
        table's own partition layout (`source` for manifests that
        predate it)."""
        if self.backend == "iceberg":
            self.spark.sql(
                f"DELETE FROM {self.catalog}.{table} WHERE {predicate}")
            return self.snapshot_id(table)
        partition_by = tuple(self._read_manifest(table)
                             .get("partition_by", ("source",)))
        return self.overwrite(
            table, self.read(table).filter(f"NOT ({predicate})"),
            partition_by)

    def snapshot_id(self, table: str) -> int:
        if self.backend == "iceberg":
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self.catalog}.{table}.snapshots "
                f"ORDER BY committed_at DESC LIMIT 1").collect()
            return int(row[0][0]) if row else 0
        return int(self._read_manifest(table)["snapshot_id"])
