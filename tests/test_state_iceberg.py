"""SURVEY §1.4 backend split: IcebergStateStore interface conformance
with the Iceberg calls mocked (no Iceberg runtime jar in this sandbox
— SURVEY §0.5 [ENV]), plus backend auto-selection.

The real-cluster semantics under test: versioned/wave writes replace
exactly their ``_v``/``_w`` partition slice (idempotent wave re-exec),
reads filter to the committed versions, the manifest append is the
atomic commit point, and ``cleanup`` needs no physical deletion.
"""

from __future__ import annotations

import json
from unittest.mock import MagicMock

import pytest

from spider_1_spark.engine.state import ParquetSnapshotStore
from spider_1_spark.engine.state_iceberg import (
    IcebergStateStore,
    StateStore,
    iceberg_available,
    make_store,
)


def test_both_backends_satisfy_the_protocol():
    assert issubclass(IcebergStateStore, StateStore)
    assert issubclass(ParquetSnapshotStore, StateStore)


def test_iceberg_not_available_in_sandbox(spark):
    # [ENV]: no Iceberg jar here — detection must say so, not raise
    assert iceberg_available(spark) is False


def test_make_store_selects_parquet_without_jar(spark, tmp_path):
    st = make_store(spark, str(tmp_path / "state"))
    assert isinstance(st, ParquetSnapshotStore)


def test_make_store_forced_iceberg():
    spark = MagicMock()
    st = make_store(spark, "cat.db", backend="iceberg")
    assert isinstance(st, IcebergStateStore)
    assert st.namespace == "cat.db"


def _mock_spark_with_manifest(rows):
    spark = MagicMock()
    limited = spark.table.return_value.orderBy.return_value.limit
    limited.return_value.collect.return_value = rows
    return spark


def test_write_version_replaces_partition_slice():
    spark = MagicMock()
    st = IcebergStateStore(spark, "cat.db")
    df = MagicMock()
    st.write_version("frontier", 3, df)
    df.withColumn.assert_called_once()  # tags _v = 3
    tagged = df.withColumn.return_value
    tagged.writeTo.assert_called_once_with("cat.db.frontier")
    # replace-partition, NOT blind append: idempotent wave re-execution
    tagged.writeTo.return_value.overwritePartitions.assert_called_once()
    tagged.writeTo.return_value.append.assert_not_called()


def test_write_wave_replaces_partition_slice():
    spark = MagicMock()
    st = IcebergStateStore(spark, "cat.db")
    df = MagicMock()
    st.write_wave("images", 7, df)
    tagged = df.withColumn.return_value
    tagged.writeTo.assert_called_once_with("cat.db.images")
    tagged.writeTo.return_value.overwritePartitions.assert_called_once()


def test_read_version_filters_and_drops_tag():
    spark = MagicMock()
    st = IcebergStateStore(spark, "cat.db")
    out = st.read_version("seen", 2)
    spark.table.assert_called_once_with("cat.db.seen")
    filtered = spark.table.return_value.filter
    filtered.assert_called_once()
    filtered.return_value.drop.assert_called_once_with("_v")
    assert out is filtered.return_value.drop.return_value


def test_read_version_of_a_missing_table_is_empty():
    """The crawl writes no hosts v0, so wave 0 reads a version of a
    table that does not exist yet: an empty frame of the table's
    schema, as from the parquet store's missing directory."""
    from spider_1_spark.engine.state import HOSTS_SCHEMA

    spark = MagicMock()
    spark.table.side_effect = Exception("table not found")
    out = IcebergStateStore(spark, "cat.db").read_version("hosts", 0)
    spark.createDataFrame.assert_called_once_with([], HOSTS_SCHEMA)
    assert out is spark.createDataFrame.return_value


def test_manifest_commit_appends_next_seq():
    row = {"manifest_json": json.dumps({"wave_id": 4, "_commit_seq": 9})}
    rows = [MagicMock(__getitem__=lambda self, k: row[k])]
    spark = _mock_spark_with_manifest(rows)
    st = IcebergStateStore(spark, "cat.db")
    st.commit({"wave_id": 5, "versions": {"seen": 6}})
    args = spark.createDataFrame.call_args[0]
    (seq, payload), = args[0]
    assert seq == 10  # monotone commit sequence
    stored = json.loads(payload)
    assert stored["wave_id"] == 5 and stored["_commit_seq"] == 10
    # manifest is append-only: Iceberg's atomic snapshot commit on the
    # append IS the SPEC-12 commit point
    w = spark.createDataFrame.return_value.writeTo
    w.assert_called_once_with("cat.db.manifest")
    w.return_value.append.assert_called_once()


def test_read_manifest_latest_row_and_first_run():
    row = {"manifest_json": json.dumps({"wave_id": 2, "_commit_seq": 0})}
    rows = [MagicMock(__getitem__=lambda self, k: row[k])]
    spark = _mock_spark_with_manifest(rows)
    st = IcebergStateStore(spark, "cat.db")
    assert st.read_manifest()["wave_id"] == 2

    fresh = MagicMock()
    fresh.table.side_effect = Exception("table not found")
    assert IcebergStateStore(fresh, "cat.db").read_manifest() is None


def test_cleanup_is_physical_noop():
    spark = MagicMock()
    IcebergStateStore(spark, "cat.db").cleanup()
    spark.sql.assert_not_called()
    spark.table.assert_not_called()


def test_crawler_accepts_injected_store(spark, tmp_path):
    """The engine talks only to the StateStore protocol: injecting a
    parquet store built by the factory must behave identically to the
    default construction path."""
    from spider_1_spark.engine import Policy, SparkCrawler
    from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds
    from spider_1_spark.reference_model import spider1_ref as ref

    pol = Policy(1, 2, 4, 9)
    web = SyntheticWeb(4)
    seeds = make_seeds(3, 4)
    root = str(tmp_path / "st")
    store = make_store(spark, root)
    art = SparkCrawler(spark, pol, web, root, store=store).run(seeds)
    oracle = ref.crawl(seeds, pol, web)
    assert art.counters == oracle.counters
    got = sorted(
        (r.seq, r.url) for r in art.crawl_log.collect()
    )
    assert got == sorted((t[0], t[1]) for t in oracle.crawl_log)
