"""Crawl state tables with snapshot/resume semantics.

Production target is Iceberg (atomic snapshot commits, time travel); this
environment ships no Iceberg runtime jar, so the catalog degrades to
parquet directories with a generation-numbered snapshot layout that
preserves the two properties the engine relies on:

* atomic-enough commits: a snapshot directory is written fully, then a
  ``_SUCCESS``-style manifest row is appended to ``_snapshots``;
* resume: ``latest_generation`` reads the manifest, not directory listings.

Iceberg swap-in: construct with ``catalog="<name>"`` (a configured Spark
Iceberg catalog, e.g. ``spark.sql.catalog.crawl = org.apache.iceberg...``).
Each table then lives at ``<catalog>.<namespace>.<table>`` partitioned by
the ``gen`` column; writes append the generation partition via ``writeTo``
and reads filter on it — the manifest stays the commit record so resume
semantics are identical across both backends.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StateStore:
    def __init__(self, spark: SparkSession, root: str,
                 catalog: str | None = None, namespace: str = "crawl"):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.namespace = namespace
        os.makedirs(root, exist_ok=True)
        self._manifest = os.path.join(root, "_snapshots.json")
        if catalog:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    # -- manifest ----------------------------------------------------------

    def _read_manifest(self) -> list[dict]:
        if not os.path.exists(self._manifest):
            return []
        with open(self._manifest, encoding="utf-8") as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _append_manifest(self, entry: dict) -> None:
        with open(self._manifest, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(entry) + "\n")

    def latest_generation(self) -> int | None:
        gens = [m["generation"] for m in self._read_manifest()
                if m.get("committed")]
        return max(gens) if gens else None

    def latest_stats(self) -> dict:
        """Stats of the latest committed snapshot (e.g. cumulative
        ``seq_end``) — avoids re-counting state tables on resume."""
        entries = [m for m in self._read_manifest() if m.get("committed")]
        return entries[-1] if entries else {}

    # -- tables --------------------------------------------------------------

    def _path(self, table: str, generation: int) -> str:
        return os.path.join(self.root, table, f"gen={generation}")

    def _iceberg_name(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _conform(self, df: DataFrame, schema) -> DataFrame:
        """Apply an explicit read schema on the catalog path: Iceberg reads
        return the TABLE schema, so columns added after table creation
        (e.g. the frontier ``validated`` flag) must be projected as typed
        NULLs when reading older tables, and the column order must match
        the caller's schema — mirrors what ``spark.read.schema(...)`` does
        for the parquet backend."""
        if schema is None:
            return df
        for f in schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df.select([f.name for f in schema.fields])

    def write(self, table: str, df: DataFrame, generation: int) -> None:
        if self.catalog:
            name = self._iceberg_name(table)
            tagged = df.withColumn("gen", F.lit(generation))
            if not self.spark.catalog.tableExists(name):
                (tagged.writeTo(name).partitionedBy(F.col("gen")).create())
            else:
                # replace this generation's partition atomically (re-runs of
                # a failed generation overwrite their own partition only)
                tagged.writeTo(name).overwritePartitions()
            return
        df.write.mode("overwrite").parquet(self._path(table, generation))

    def read(self, table: str, generation: int, schema=None) -> DataFrame:
        if self.catalog:
            return self._conform(
                self.spark.read.table(self._iceberg_name(table))
                .filter(F.col("gen") == generation).drop("gen"), schema)
        reader = self.spark.read.schema(schema) if schema else self.spark.read
        return reader.parquet(self._path(table, generation))

    def read_all(self, table: str, schema=None) -> DataFrame:
        """Union of every committed generation, with the partition bookkeeping
        column ``gen`` normalized away in BOTH backends (parquet directory
        layout infers it; Iceberg stores it) — readers see identical schemas.
        """
        if self.catalog:
            return self._conform(
                self.spark.read.table(self._iceberg_name(table)).drop("gen"),
                schema)
        reader = self.spark.read.schema(schema) if schema else self.spark.read
        return reader.parquet(
            os.path.join(self.root, table)).drop("gen")

    def exists(self, table: str, generation: int) -> bool:
        if self.catalog:
            name = self._iceberg_name(table)
            if not self.spark.catalog.tableExists(name):
                return False
            return bool(self.spark.read.table(name)
                        .filter(F.col("gen") == generation).head(1))
        return os.path.exists(self._path(table, generation))

    def commit(self, generation: int, tables: list[str], stats: dict) -> None:
        self._append_manifest({"generation": generation, "tables": tables,
                               "committed": True, **stats})
