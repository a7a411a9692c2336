"""SURVEY §5.5 — static guards.

1. No row-at-a-time Python UDFs anywhere in the package: the
   BASELINE.json:15 API constraint ("vectorized pandas/Arrow UDFs, no
   per-row Python") is enforced mechanically.
2. explain() golden checks: the physical plans the engine relies on
   actually materialize — parquet filter/column pushdown, broadcast
   hash join for dimension joins, range partitioning for the global
   rank (SURVEY §4 table).
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spider_1_spark",
)

# F.udf( / functions.udf( / @udf( — the row-at-a-time form
_ROW_UDF_RE = re.compile(r"(?<![\w.])(?:F\.|functions\.)?udf\s*\(")


def test_no_row_at_a_time_udfs():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    if "pandas_udf" in line or line.lstrip().startswith("#"):
                        continue
                    if _ROW_UDF_RE.search(line):
                        offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, "row-at-a-time UDFs are banned:\n" + "\n".join(
        offenders
    )


def test_engine_reads_no_environment_and_prints_nothing():
    """The engine's behaviour comes from its constructor arguments and
    the Spark session alone: no module under engine/ reads os.environ
    (or os.getenv) or calls print().  Per-layer timings come from the
    benchmark's traced run, not from environment-switched markers."""
    import ast

    engine = os.path.join(PKG, "engine")
    offenders = []
    for fn in sorted(os.listdir(engine)):
        if not fn.endswith(".py"):
            continue
        path = os.path.join(engine, fn)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                bad = node.func.id == "print"
            elif isinstance(node, ast.Attribute):
                bad = node.attr in ("environ", "getenv") and isinstance(
                    node.value, ast.Name
                ) and node.value.id == "os"
            else:
                bad = False
            if bad:
                offenders.append(f"{path}:{node.lineno}")
    assert not offenders, "\n".join(offenders)


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_filter_and_column_pushdown(spark):
    from spider_1_spark.relational.queries import filter_pred

    plan = _plan(filter_pred(spark, SF))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderstatus)" in plan or "EqualTo(o_orderstatus" in plan
    # column pruning: lineitem columns absent, only selected ones read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols <= {
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority",
    }


def test_dimension_join_is_broadcast(spark):
    from spider_1_spark.relational.queries import join_broadcast

    plan = _plan(join_broadcast(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_global_rank_uses_range_partitioning(spark):
    from spider_1_spark.engine.operators import with_global_rank

    df = spark.range(100).selectExpr(
        "id as depth", "id as parent_rank", "cast(id as int) as link_pos",
        "concat('u', id) as url"
    )
    ranked, cached = with_global_rank(
        df, ["depth", "parent_rank", "link_pos", "url"]
    )
    plan = _plan(ranked)
    assert "rangepartitioning" in plan.lower()
    cached.unpersist()


def test_global_rank_exact_at_80_partitions(spark):
    """Over more than 64 range partitions the per-partition offsets
    lookup must give the exact 0-based sort order.  Every partition id
    > 0 has an offset of about -(pid << 33), outside the int32 range."""
    from pyspark.sql import functions as F

    from spider_1_spark.engine.operators import with_global_rank

    df = spark.range(500).selectExpr(
        "cast(id % 7 as long) as depth",
        "cast(499 - id as long) as parent_rank",
        "cast(id as int) as link_pos",
        "concat('u', id) as url",
    )
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "80")
    try:
        ranked, cached = with_global_rank(
            df, ["depth", "parent_rank", "link_pos", "url"]
        )
        rows = ranked.collect()
        max_pid = cached.agg(F.max("_pid")).first()[0]
    finally:
        spark.conf.set(key, old)
    assert max_pid >= 64, max_pid
    expect = sorted(
        rows, key=lambda r: (r.depth, r.parent_rank, r.link_pos, r.url)
    )
    assert [r.g for r in expect] == list(range(500))
    cached.unpersist()


def test_rank_and_host_plans_stay_in_the_jvm(spark, monkeypatch):
    """The per-host top-k on the grouped path, the global rank and the
    host extraction are expressions, joins and shuffles only: no
    physical plan node hands their rows to a Python worker."""
    from spider_1_spark.engine import operators as ops
    from spider_1_spark.reference_model.spider1_ref import Policy

    monkeypatch.setattr(ops, "SALT_PATH_MAX_B", 0)
    df = spark.range(60).selectExpr(
        "concat('http://h', id % 3, '.x/p/', id) as url",
        "cast(0 as int) as depth",
        "id as parent_rank",
        "cast(0 as int) as link_pos",
        "cast(0 as int) as t0",
    )
    hosted = ops.with_host(df)
    cand, cand_cached = ops.candidate_set(hosted, Policy(1, 2, 4, 10))
    ranked, rank_cached = ops.with_global_rank(hosted, ops.KEY_COLS)
    try:
        for name, frame in (
            ("candidate_set", cand), ("with_global_rank", ranked),
            ("with_host", hosted),
        ):
            plan = _plan(frame)
            for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
                assert node not in plan, (name, node, plan)
    finally:
        cand_cached.unpersist()
        rank_cached.unpersist()


def test_politeness_window_is_salted(spark):
    """candidate_set must contain BOTH the salt-local window and the
    exact per-host window (A5 skew-proofing)."""
    from spider_1_spark.engine.operators import candidate_set
    from spider_1_spark.reference_model.spider1_ref import Policy

    df = spark.range(50).selectExpr(
        "concat('h', id % 5) as host",
        "cast(0 as int) as depth",
        "id as parent_rank",
        "cast(0 as int) as link_pos",
        "concat('http://h', id % 5, '.x/p/', id) as url",
        "cast(0 as int) as t0",
    )
    cand, cached = candidate_set(df, Policy())
    assert cached is None
    plan = _plan(cand)
    # two window operators: partition by (host, salt) then by host
    assert plan.lower().count("window") >= 2
    assert "xxhash64" in plan.lower()


def test_partitioned_sink_readback_prunes_partitions(spark):
    """sink_partitioned's read-back filter must reach the scan as a
    PartitionFilter (only the o_orderstatus=F directory is listed) —
    the §4 'partition pruning' row made mechanical.  A plan where the
    predicate runs post-scan reads every partition of a 100 TB sink."""
    from spider_1_spark.relational.queries import sink_partitioned

    plan = _plan(sink_partitioned(spark, SF))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "o_orderstatus" in m.group(1), plan


def test_compaction_reduces_file_count_and_preserves_rows(spark):
    """sink_compact_files: the compacted directory must hold far fewer
    parquet files than the fragmented one (the part no SQL oracle can
    see), with identical row counts."""
    import glob

    from spider_1_spark.relational.queries import (
        COMPACT_FRAGMENT_N,
        COMPACT_TARGET_N,
        _scratch_dir,
        sink_compact_files,
    )

    out = sink_compact_files(spark, SF).collect()[0]
    n_frag = len(glob.glob(_scratch_dir("frag", SF) + "/part-*.parquet"))
    n_comp = len(glob.glob(_scratch_dir("compact", SF) + "/part-*.parquet"))
    assert n_frag == COMPACT_FRAGMENT_N
    assert n_comp == COMPACT_TARGET_N
    assert out.n_rows == spark.read.parquet(
        f"{SF}/orders.parquet"
    ).count()


def test_insert_overwrite_dynamic_touches_only_present_partitions(
    spark,
):
    """sink_insert_overwrite_dynamic: the part no SQL oracle can see —
    the dynamic overwrite must replace EXACTLY the partitions present
    in the update frame.  O/P keep their byte-identical base file
    inventory (same names, sizes, mtimes: never rewritten), while F's
    file set actually changes.  A silent fall-back to static mode
    would delete O/P; an append would leave F's old files in place."""
    import glob
    import os

    from spider_1_spark.relational.queries import _insert_overwrite_plan

    def inventory(out):
        return {
            s: {
                (os.path.basename(p), os.path.getsize(p),
                 os.stat(p).st_mtime_ns)
                for p in glob.glob(
                    os.path.join(out, f"o_orderstatus={s}", "*.parquet")
                )
            }
            for s in ("F", "O", "P")
        }

    base = {}
    out_dir, _ = _insert_overwrite_plan(
        spark, SF, probe=lambda out: base.update(inventory(out))
    )
    after = inventory(out_dir)
    assert base["O"] and base["P"] and base["F"]
    assert after["O"] == base["O"] and after["P"] == base["P"]
    assert after["F"] and after["F"].isdisjoint(base["F"])


def test_salted_join_shuffles_instead_of_broadcasting(spark):
    """join_skew_salted's shuffle_hash hint must hold: if AQE/Catalyst
    broadcasts the replicated dim side, the salted exchange the key
    exists to demonstrate never runs (the result would still be
    correct — this is a plan guard, not a correctness guard)."""
    from spider_1_spark.relational.queries import join_skew_salted

    plan = _plan(join_skew_salted(spark, SF))
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_bucketed_join_has_no_exchange(spark):
    """join_bucketed_colocated's whole point: both sides pre-bucketed
    on the join key -> the join AND the following same-key aggregate
    run with ZERO shuffle.  Any Exchange in the plan means bucketing
    stopped being honored (e.g. mismatched bucket counts or a config
    regression) — the 100 TB story silently re-shuffles.  Pins the
    PRODUCTION plan builder (merge_hint forces SMJ because at sf0.001
    AQE would broadcast the tiny dim side — also shuffle-free, but it
    wouldn't exercise bucketing)."""
    from spider_1_spark.relational.queries import _bucketed_join_plan

    joined, drop = _bucketed_join_plan(spark, SF, merge_hint=True)
    try:
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        drop()


def test_full_oracle_keys_return_scalar_columns_only():
    """Driver-proofing for the r03 `emb_quantize_int8` failure class
    (VERDICT r3 items 1/6): the driver's order-insensitive result
    canonicalizer pandas-sorts every top-level column, and a list- or
    map-valued column is unhashable there — the row errors before any
    comparison, which the contract counts as a hard FAIL.  So every
    FULL-oracle key must emit scalar top-level columns only (explode
    arrays to rows, as emb_centroid_per_label / emb_quantize_int8 do).

    Checked via DuckDB `DESCRIBE <oracle_sql>` — pure type inference,
    no execution, and by the column-parity contract the oracle's
    columns mirror the Spark result's.  Rows-only keys (no oracle
    SQL) never reach the canonicalizer and are out of scope."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"parquet_scan('/root/testdata/sf0.001/{t}.parquet')"
        )
    # Strict allowlist, not just a non-scalar denylist: DuckDB
    # silently widens window-/plain sums over BIGINT to HUGEINT,
    # which pandas materializes as float128/object and the driver's
    # value-hash then diverges from Spark's int64 even when every
    # value is equal (the r4 corpus_pack_sequences hash-fail;
    # VERDICT r4 item 1).  Any type outside this set must be cast
    # in the oracle SQL to the Spark-result dtype explicitly.
    allowed = {"BIGINT", "INTEGER", "DOUBLE", "BOOLEAN", "TIMESTAMP",
               "VARCHAR"}
    offenders = []
    for key, sql in entrymod.oracle_sql().items():
        for name, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall():
            if typ not in allowed:
                offenders.append(f"{key}.{name}: {typ}")
    assert not offenders, (
        "full-oracle keys with top-level columns outside the "
        "driver-hashable dtype allowlist (cast in the oracle SQL — "
        "HUGEINT/DECIMAL/LIST/... hash differently from Spark):\n"
        + "\n".join(offenders)
    )


def test_gapfill_spine_join_is_broadcast(spark):
    """timeseries_gapfill's scale story: raw events are scanned ONCE
    (the spine derives from the cached aggregate — no second/third
    events scan) and the fill join broadcasts its BUILD (right) side;
    a hint on the left of a left-outer join is unsupported and Spark
    would silently shuffle both sides (r4 review finding).  Inspects
    the pre-checkpoint plan via _gapfill_plan."""
    from spider_1_spark.relational.queries import _gapfill_plan

    filled, counts = _gapfill_plan(spark, SF)
    try:
        plan = _plan(filled)
        assert "BroadcastHashJoin" in plan, plan
        # bounds, type set, and fill all read the CACHED aggregate
        # (the formatted plan prints the cache's parquet lineage per
        # reference, but execution hits InMemoryTableScan) — three
        # cache reads == zero redundant raw-events scans
        assert plan.count("InMemoryTableScan") >= 3, plan
    finally:
        counts.unpersist()


def test_centroid_join_is_broadcast(spark):
    """emb_dist_to_centroid: the O(labels × dim) centroid frame must
    broadcast — the exploded corpus side shuffling for this join is
    exactly the 100 TB failure the docstring promises away."""
    from spider_1_spark.pipeline.queries import emb_dist_to_centroid

    plan = _plan(emb_dist_to_centroid(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_rank_topk_uses_window_group_limit(spark):
    """agg_mode_per_group / events_top_transitions rank only their
    aggregated frames, and Spark's WindowGroupLimit pushdown must
    materialize so the rank filter prunes before the sort — its
    absence would mean the rank-k filter stopped being recognized."""
    from spider_1_spark.relational.queries import (
        agg_mode_per_group,
        events_top_transitions,
    )

    for fn in (agg_mode_per_group, events_top_transitions):
        plan = _plan(fn(spark, SF))
        assert "WindowGroupLimit" in plan, (fn.__name__, plan)
