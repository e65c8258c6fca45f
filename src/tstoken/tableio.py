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
whatever the session's `partitionOverwriteMode`), which is what makes
the checkpoint/resume path safe to re-run.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

    def _bump_manifest(self, table: str, op: str, rows: int, df: DataFrame,
                       partition_by: tuple[str, ...]) -> int:
        """Advance the snapshot id and record the schema `read` passes to
        Spark (data columns, then partition columns, all nullable — what
        parquet inference yields), so no read runs an inference job, and
        the partition columns, so a rewrite keeps the table's layout."""
        m = self._read_manifest(table)
        m["snapshot_id"] = int(m["snapshot_id"]) + 1
        m["partition_by"] = list(partition_by)
        fields = ([f for f in df.schema if f.name not in partition_by]
                  + [df.schema[c] for c in partition_by])
        m["schema"] = StructType(
            [StructField(f.name, f.dataType, True) for f in fields]).json()
        m["history"].append({"snapshot_id": m["snapshot_id"], "op": op,
                             "rows": rows, "ts": time.time(),
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
        return self._bump_manifest(table, "append", -1, df, partition_by)

    def overwrite(self, table: str, df: DataFrame,
                  partition_by: tuple[str, ...] = ("source",)) -> int:
        if self.backend == "iceberg":
            df.writeTo(f"{self.catalog}.{table}").createOrReplace()
            return self.snapshot_id(table)
        self._overwrite_dir(df, self._path(table), partition_by)
        return self._bump_manifest(table, "overwrite", -1, df, partition_by)

    def overwrite_safe(self, table: str, df: DataFrame,
                       partition_by: tuple[str, ...] = ("source",)) -> int:
        """Overwrite a table with a DataFrame that may READ from the same
        table (merge-back). Iceberg snapshots make this safe natively;
        the parquet fallback stages to a sibling dir and swaps."""
        if self.backend == "iceberg" or not self.exists(table):
            return self.overwrite(table, df, partition_by)
        return self._stage_and_swap(table, df, partition_by, "overwrite_safe")

    def delete_where(self, table: str, predicate: str) -> int:
        """Retention delete. Iceberg: metadata-only DELETE FROM;
        parquet fallback: rewrite the surviving rows in the table's own
        partition layout (`source` for manifests that predate it)."""
        if self.backend == "iceberg":
            self.spark.sql(
                f"DELETE FROM {self.catalog}.{table} WHERE {predicate}")
            return self.snapshot_id(table)
        partition_by = tuple(self._read_manifest(table)
                             .get("partition_by", ("source",)))
        df = self.read(table).filter(f"NOT ({predicate})")
        return self._stage_and_swap(table, df, partition_by,
                                    f"delete_where:{predicate}")

    @staticmethod
    def _overwrite_dir(df: DataFrame, path: str,
                       partition_by: tuple[str, ...]) -> None:
        # the write option outranks the session conf, so a session in
        # dynamic mode cannot leave stale partitions behind
        (df.write.mode("overwrite").option("partitionOverwriteMode", "static")
         .partitionBy(*partition_by).parquet(path))

    def _stage_and_swap(self, table: str, df: DataFrame,
                        partition_by: tuple[str, ...], op: str) -> int:
        """Write `df`, which may read `table` itself, to a sibling dir,
        then swap it in for the table, keeping the manifest history."""
        final = self._path(table)
        tmp = final + "__staging"
        self._overwrite_dir(df, tmp, partition_by)
        manifest = self._read_manifest(table)
        shutil.rmtree(final)
        os.rename(tmp, final)
        with open(self._manifest_path(table), "w") as f:
            json.dump(manifest, f)
        return self._bump_manifest(table, op, -1, df, partition_by)

    def snapshot_id(self, table: str) -> int:
        if self.backend == "iceberg":
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self.catalog}.{table}.snapshots "
                f"ORDER BY committed_at DESC LIMIT 1").collect()
            return int(row[0][0]) if row else 0
        return int(self._read_manifest(table)["snapshot_id"])
