"""Iceberg backend for the engine's StateStore — SURVEY §1.4 (a).

BASELINE.json:6,14 call for "Iceberg state tables"; the sandbox has no
Iceberg runtime jar and no network to fetch one (SURVEY §0.5 [ENV]),
so this backend is code-pathed but inert here: ``iceberg_available``
probes the classpath and ``make_store`` selects it only when the probe
succeeds (or the caller forces it).  Everything engine-side talks to
the ``StateStore`` protocol; ``ParquetSnapshotStore`` (state.py) and
``IcebergStateStore`` are drop-in peers, unit-tested for interface
conformance with the Iceberg calls mocked (tests/test_state_iceberg.py).

Mapping of the snapshot/append semantics onto Iceberg:

  * versioned tables (frontier/seen/hosts) live in ONE Iceberg table
    each with a ``_v`` partition column; ``write_version`` is an
    idempotent replace-partition (``overwritePartitions`` on the
    ``_v = n`` slice), ``read_version`` a partition-pruned filter, and
    ``read_delta_union`` a ``_v <= n`` scan — the seen table keeps its
    O(new-per-wave) append cost (state.py read_delta_union rationale);
  * append tables (images/crawl_log/metrics) use a ``_w`` wave column
    the same way, so re-executing a crashed wave overwrites only that
    wave's partition (same idempotence contract as the parquet store);
  * the manifest is a single-row-per-commit append table; the LATEST
    row (max commit_seq) is the committed state, and Iceberg's atomic
    snapshot commit on that append IS the commit point (SPEC-12) —
    the rename-commit of the parquet store maps onto it directly;
  * ``cleanup`` is a no-op for table data: uncommitted wave output is
    invisible because readers always filter ``_v <=`` / ``_w <=`` the
    committed manifest's versions, and stale partitions above them are
    simply overwritten when the wave re-executes.  (The parquet store
    must physically delete stale dirs because its readers scan
    directories; Iceberg readers never see them.)

The bloom sidecars (engine/bloom.py) are NOT Iceberg tables — their
storage goes through the pluggable ``bloom.ShardIO`` seam instead:
``LocalShardIO`` (tmp + fsync + rename) here, a full-object /
conditional PUT on an object store (mapping documented on ShardIO;
torn-write invisibility unit-tested in tests/test_shard_io.py).
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_1_spark.engine.state import SCHEMAS, ParquetSnapshotStore


@runtime_checkable
class StateStore(Protocol):
    """What the crawler needs from a state backend (SURVEY §1.4)."""

    def read_manifest(self) -> dict | None: ...
    def commit(self, manifest: dict) -> None: ...
    def cleanup(self) -> None: ...
    def write_version(self, name: str, version: int, df: DataFrame) -> None: ...
    def read_version(self, name: str, version: int) -> DataFrame: ...
    def read_delta_union(self, name: str, upto_version: int) -> DataFrame: ...
    def write_wave(self, name: str, wave: int, df: DataFrame) -> None: ...
    def read_waves(self, name: str, upto_wave: int) -> DataFrame: ...


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def make_store(spark: SparkSession, root: str, backend: str | None = None):
    """Backend selection per SURVEY §1.4: Iceberg when the runtime jar
    is present (``backend=None`` auto-detects; ``"iceberg"`` forces),
    the parquet snapshot store otherwise.  ``root`` is a directory for
    the parquet backend and a catalog namespace (``cat.db``) for
    Iceberg."""
    if backend == "iceberg" or (
        backend is None and iceberg_available(spark) and "/" not in root
    ):
        return IcebergStateStore(spark, root)
    return ParquetSnapshotStore(spark, root)


class IcebergStateStore:
    """Iceberg-tables backend (see module docstring for the mapping).

    All Spark interactions go through ``writeTo`` / ``spark.table`` /
    ``spark.sql`` so the class is exercisable with those three mocked
    (no Iceberg jar in this sandbox)."""

    MANIFEST_SCHEMA = "commit_seq long, manifest_json string"

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.namespace = namespace

    # ------------------------------------------------------- manifest

    def _manifest_tbl(self) -> str:
        return f"{self.namespace}.manifest"

    def read_manifest(self) -> dict | None:
        import json

        try:
            rows = (
                self.spark.table(self._manifest_tbl())
                .orderBy(F.col("commit_seq").desc())
                .limit(1)
                .collect()
            )
        except Exception:
            return None  # first run: manifest table does not exist yet
        if not rows:
            return None
        return json.loads(rows[0]["manifest_json"])

    def commit(self, manifest: dict) -> None:
        """Append one manifest row; Iceberg's atomic snapshot commit on
        this append is the SPEC-12 commit point."""
        import json

        prev = self.read_manifest()
        seq = (prev or {}).get("_commit_seq", -1) + 1
        manifest = dict(manifest, _commit_seq=seq)
        row_df = self.spark.createDataFrame(
            [(seq, json.dumps(manifest, sort_keys=True))],
            self.MANIFEST_SCHEMA,
        )
        self._writer(row_df, self._manifest_tbl()).append()

    def cleanup(self) -> None:
        """No physical deletion needed: readers filter to the committed
        manifest's versions, and a re-executed wave replaces its own
        ``_v`` / ``_w`` partition (see module docstring)."""

    # ------------------------------------------------- versioned tables

    def _tbl(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def _writer(self, df: DataFrame, table: str):
        return df.writeTo(table)

    def write_version(self, name: str, version: int, df: DataFrame) -> None:
        tagged = df.withColumn("_v", F.lit(version))
        self._writer(tagged, self._tbl(name)).overwritePartitions()

    def _read(self, name: str, tag: str, keep) -> DataFrame:
        """``name``'s rows whose ``tag`` column passes ``keep``, without
        the tag.  A table never written reads as empty, like the parquet
        store's missing directory: the crawl writes no hosts v0."""
        try:
            t = self.spark.table(self._tbl(name))
        except Exception:
            return self.spark.createDataFrame([], SCHEMAS[name])
        return t.filter(keep(F.col(tag))).drop(tag)

    def read_version(self, name: str, version: int) -> DataFrame:
        return self._read(name, "_v", lambda v: v == version)

    def read_delta_union(self, name: str, upto_version: int) -> DataFrame:
        return self._read(name, "_v", lambda v: v <= upto_version)

    # ---------------------------------------------------- append tables

    def write_wave(self, name: str, wave: int, df: DataFrame) -> None:
        tagged = df.withColumn("_w", F.lit(wave))
        self._writer(tagged, self._tbl(name)).overwritePartitions()

    def read_waves(self, name: str, upto_wave: int) -> DataFrame:
        return self._read(name, "_w", lambda w: w <= upto_wave)
