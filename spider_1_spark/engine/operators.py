"""Spark-side crawl operators — SURVEY §2 Layer A (A1–A20).

Every operator is a pure DataFrame→DataFrame function; Python crosses
the JVM boundary ONLY via Arrow-vectorized forms (``pandas_udf``,
``mapInPandas``) per the BASELINE.json:15 "no per-row Python" API
constraint.  The semantics are pinned by SURVEY §0.4 SPEC-1..11 and
shared with the single-process oracle through the pure modules in
``spider_1_spark.functions`` — sharing one implementation is what makes
"exact match vs reference" testable.

Scale notes (the 100 TB / 10^10-URL design points, SURVEY §6):
  * per-host politeness ranks are computed with a SALTED two-phase
    window (A5): salt-local top-B first (bounded partitions even for a
    host holding 10^8 frontier rows), then an exact window over the
    ≤ N_SALTS·B survivors per host; budgets too large to salt take the
    global rank over (host, KEY) instead (see ``_grouped_topk``);
  * the global fetch sequence uses a two-phase range-partitioned rank
    (`with_global_rank`) instead of a single-partition Window — the
    classic distributed zipWithIndex, O(P) driver state, applied as
    one array-literal lookup per row at any partition count;
  * non-candidates never need a per-host rank at all: their
    dropped/deferred classification is a closed-form function of
    (t0, cap_h, F_h, G-cutoff key) derived in the module docstring of
    crawler.py — so the skewed tail of a hot host is classified with
    one broadcast-ish join, no sort.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spider_1_spark.functions import robots as robots_mod
from spider_1_spark.functions.codecs import DecodeError, decode
from spider_1_spark.functions.extract import extract_refs
from spider_1_spark.functions.phash import dhash64
from spider_1_spark.functions.urlnorm import canonicalize
from spider_1_spark.reference_model.spider1_ref import image_id_of

# sort key shared by every ordering decision (SPEC-3); url is a
# tiebreak only (keys are unique by construction, see spider1_ref).
KEY_COLS = ["depth", "parent_rank", "link_pos", "url"]

# salt sub-partitions per over-budget host in candidate_set's salted
# window
N_SALTS = 8

# budgets up to this take the salted-window path in candidate_set;
# larger budgets (where salting cannot shrink anything) take the
# grouped two-phase rank.  Patchable so tests can force either path
# on small fixtures.
SALT_PATH_MAX_B = 4096


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions``: the task count
    of every engine-owned shuffle (ranking, frontier, bloom update)."""
    return max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))


def partition_counts(df: DataFrame) -> list[tuple[int, int]]:
    """Per-partition row counts (A20), one job: ``(partition_id, n)``
    for every non-empty partition."""
    return [
        (int(r["partition_id"]), int(r["n"]))
        for r in df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]


# ------------------------------------------------------------------ A2

@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """A2: RFC 3986 canonicalization, vectorized (SPEC-2)."""
    return urls.map(lambda u: canonicalize(u) if u is not None else None)


# ------------------------------------------------------------------ A3/A4

# the authority of a canonical URL: everything between "://" and the
# first "/", "?" or "#" — what ``urlnorm.host_of`` returns, JVM-side
# (property-tested against it in tests/test_properties.py)
_HOST_RE = r"^[^:]+://([^/?#]*)"


def with_host(df: DataFrame) -> DataFrame:
    """A3+A4: host + stable 64-bit host hash for partitioning."""
    return df.withColumn(
        "host", F.regexp_extract("url", _HOST_RE, 1)
    ).withColumn("host_hash", F.xxhash64("host"))


# ------------------------------------------------------------------ A1

def ingest_seeds(
    spark: SparkSession, seeds: list[str]
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """A1: ordered seed list → wave-0 frontier (SPEC-1/4).

    Returns (frontier_df, per-partition duplicate counts).  Seed index
    is explicit — never ``monotonically_increasing_id`` (SURVEY §7 hard
    part 1).  First occurrence wins; duplicates count into ``deduped``.
    """
    raw = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seeds)], "seed_rank long, raw_url string"
    )
    return ingest_seed_frame(raw)


def ingest_seed_frame(
    raw: DataFrame,
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """Distributed seed ingestion from a (seed_rank, raw_url) frame;
    the duplicate counts come per partition of the dedup window, one
    job."""
    df = raw.withColumn("url", canonicalize_udf(F.col("raw_url"))).filter(
        F.col("url").isNotNull()
    )
    w = Window.partitionBy("url").orderBy("seed_rank")
    df = df.withColumn("_rn", F.row_number().over(w))
    dups = partition_counts(df.filter(F.col("_rn") > 1))
    df = df.filter(F.col("_rn") == 1).drop("_rn")
    frontier = with_host(df).select(
        "url",
        "host",
        "host_hash",
        F.lit(0).alias("depth"),
        F.col("seed_rank").alias("parent_rank"),
        F.lit(0).alias("link_pos"),
        F.lit(0).alias("discovered_wave"),
        F.lit("PENDING").alias("state"),
    )
    return frontier, dups


# ------------------------------------------------------------------ A11

@F.pandas_udf(T.BooleanType())
def robots_allowed_udf(urls: pd.Series, rules_json: pd.Series) -> pd.Series:
    """A11: RFC 9309 allow/deny, vectorized with a per-batch rule cache."""
    cache: dict[str, list] = {}
    out = []
    for u, rj in zip(urls, rules_json):
        if rj is None or rj == "":
            out.append(True)
            continue
        rules = cache.get(rj)
        if rules is None:
            rules = [(bool(a), p) for a, p in json.loads(rj)]
            cache[rj] = rules
        out.append(robots_mod.allowed(rules, robots_mod.robots_path(u)))
    return pd.Series(out)


def fetch_robots(new_hosts: DataFrame, web_b, user_agent: str) -> DataFrame:
    """A11/SPEC-6: fetch+parse robots.txt for first-appearance hosts.

    Distributed ``mapInPandas`` — the robots fetch consumes no budget
    and produces no crawl-log entry.  Rules stored as a JSON string in
    the ``hosts`` state table (schema stays flat and portable).
    """
    schema = "host string, host_hash long, rules_json string, fetch_total int"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        web = web_b.value
        for pdf in batches:
            if pdf.empty:
                continue
            rules = [
                json.dumps(robots_mod.parse_robots(web.robots(h), user_agent))
                for h in pdf["host"]
            ]
            yield pd.DataFrame(
                {
                    "host": pdf["host"],
                    "host_hash": pdf["host_hash"],
                    "rules_json": rules,
                    "fetch_total": 0,
                }
            )

    return new_hosts.select("host", "host_hash").mapInPandas(gen, schema)


# ------------------------------------------------------------------ A5+A9+A10

def candidate_set(
    allowed: DataFrame, policy
) -> tuple[DataFrame, DataFrame | None]:
    """A5+A10: per-host fetch candidates = host-rank ≤ cap_h, skew-proof.

    ``allowed`` must carry ``t0`` (the host's pre-wave fetch total) and
    the KEY_COLS.  cap_h = max(0, min(B, C - t0)) — the closed form of
    the oracle's sequential C-then-B gating for the fetched prefix
    (derivation in crawler.py docstring).

    Returns ``(candidates, cached)``: the grouped path's persisted
    frame (None on the salted path), for the caller to release.

    Skew strategy (A5, BASELINE.json:6 "salting of hot domains"), by
    host class:

    * **under-budget hosts** (frontier rows ≤ cap_h — the vast
      majority): every row is a candidate; NO ranking work at all.
    * **over-budget hosts** with a small budget (B ≤ 4096): salt
      prefilter — a hot host's rows spread over ``N_SALTS``
      sub-partitions, each yields its local top-cap_h, and only the
      ≤ N_SALTS·cap_h survivors see the exact per-host window.  The
      per-host top-cap_h is a subset of the union of salt-local
      top-cap_h's, so this is exact.
    * **over-budget hosts with a huge budget** (B > 4096, where the
      salt prefilter cannot shrink anything): the global rank over
      (host, KEY), which range-partitions so ONE host legally spans
      MANY partitions; a row's rank within its host is its global rank
      minus its host's first one (see _grouped_topk).  No
      single-partition window ever sees a whole hot host, so a host
      holding 19% of a 10^10-row frontier still ranks at full cluster
      parallelism, and the driver holds O(P) state.
    """
    B, C = policy.per_host_wave_budget, policy.per_host_total_cap
    df = allowed.withColumn(
        "cap_h",
        F.greatest(F.lit(0), F.least(F.lit(B), F.lit(C) - F.col("t0"))),
    )
    df = df.filter(F.col("cap_h") > 0)

    # split hosts by whether ranking can change anything
    hc = df.groupBy("host").agg(F.count("*").alias("_hc"))
    df = df.join(hc, "host")
    under = df.filter(F.col("_hc") <= F.col("cap_h")).drop("_hc")
    over = df.filter(F.col("_hc") > F.col("cap_h")).drop("_hc")

    if B > SALT_PATH_MAX_B:
        ranked, cached = _grouped_topk(over)
        return under.unionByName(ranked), cached
    over = over.withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(N_SALTS)))
    w_salt = Window.partitionBy("host", "salt").orderBy(*KEY_COLS)
    over = (
        over.withColumn("_sr", F.row_number().over(w_salt))
        .filter(F.col("_sr") <= F.col("cap_h"))
        .drop("_sr", "salt")
    )
    w_host = Window.partitionBy("host").orderBy(*KEY_COLS)
    ranked = (
        over.withColumn("_hr", F.row_number().over(w_host))
        .filter(F.col("_hr") <= F.col("cap_h"))
        .drop("_hr")
    )
    return under.unionByName(ranked), None


def _grouped_topk(over: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact per-host top-cap_h by KEY for over-budget hosts, with no
    per-host partition; ``(top, cached)`` as from with_global_rank.

    The global rank ``_gr`` over (host, KEY) lays each host's rows out
    contiguously, so a row's 0-based rank within its host is ``_gr``
    minus the smallest ``_gr`` of its host.  That minimum comes from a
    per-host aggregate joined back null-safely: a null host is a legal
    group and sorts first, like any other.  The aggregate has one row
    per over-budget host, at most N/(B+1) rows but not bounded by P, so
    the planner — not a hint — decides whether to broadcast it.
    """
    # the rank's stats job has materialized the cache, so the aggregate
    # and the join's other side read it warm (BENCH/BASELINE.md §3d)
    ranked, cached = _global_rank(over, ["host", *KEY_COLS], "_gr")
    first = ranked.groupBy(F.col("host").alias("_h")).agg(
        F.min("_gr").alias("_g0")
    )
    top = (
        ranked.join(first, F.col("host").eqNullSafe(F.col("_h")))
        .filter(F.col("_gr") - F.col("_g0") < F.col("cap_h"))
        .drop("_gr", "_h", "_g0")
    )
    return top, cached


def with_global_rank(
    df: DataFrame, order_cols: list[str], out_col: str = "g"
) -> tuple[DataFrame, DataFrame]:
    """A9: dense 0-based global rank by ``order_cols`` — two-phase
    distributed zipWithIndex (SURVEY §4 "deterministic ordering is
    engine-owned").

    Returns ``(ranked, cached)``: the persisted sorted frame, for the
    caller to release once ``ranked`` is consumed.

    Phase 1 range-partitions + sorts; phase 2 counts rows per partition
    (one tiny job, O(P) driver state) and adds ``offset + local_index``
    entirely JVM-side: ``monotonically_increasing_id`` on the cached
    sorted partitions is ``(pid << 33) + row_index`` with a CONSECUTIVE
    0-based row index per partition, so
    ``g = global_offset[pid] + (mid - min_mid[pid])`` — no Python/Arrow
    crossing; ``min(mid)`` rides the same job and spares baking in the
    bit layout.  The offsets reach the rows as one array literal
    indexed by partition id (``element_at``), the same expression at
    any partition count.  No single-partition Window — this is the
    piece that survives a 10^10-row frontier.
    """
    # partition id + row id stored as COLUMNS at cache-materialization
    # time — NOT TaskContext.partitionId() at rank time: inside a union
    # stage (candidate_set unions the grouped top-k with the
    # under-budget rows) a task's partition index is shifted by the
    # other branch's partition count.  Both are deterministic: the
    # range partitioning and the sort fix each row's position.
    part = (
        df.repartitionByRange(
            shuffle_partitions(df.sparkSession),
            *[F.col(c) for c in order_cols],
        )
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    # persist: a localCheckpoint's RDD blocks would survive unpersist()
    part = part.persist()
    stats = {
        r["_pid"]: (r["cnt"], r["m0"], r["m1"])
        for r in part.groupBy("_pid")
        .agg(
            F.count("*").alias("cnt"),
            F.min("_mid").alias("m0"),
            F.max("_mid").alias("m1"),
        )
        .collect()
    }
    acc = 0
    # offs[pid] = global offset - min mid (0 for pids with no rows)
    offs = [0] * (max(stats, default=0) + 1)
    for pid in sorted(stats):
        cnt, m0, m1 = stats[pid]
        # The offset arithmetic requires monotonically_increasing_id's
        # per-partition record number to be CONSECUTIVE, which PySpark
        # documents only as monotonic+unique.  The current layout
        # ((pid << 33) + 0-based consecutive counter) satisfies it; if
        # a Spark upgrade ever changes that, fail loudly here instead
        # of silently corrupting the global fetch order (crawl-log seq,
        # the G cutoff).  Same tiny O(P) job — max() rides along free.
        if m1 - m0 + 1 != cnt:
            raise AssertionError(
                "monotonically_increasing_id is no longer consecutive "
                f"within a partition (pid={pid}: span {m1 - m0 + 1} != "
                f"count {cnt}); with_global_rank's offset arithmetic "
                "needs a per-partition zipWithIndex fallback on this "
                "Spark version"
            )
        offs[pid] = acc - m0
        acc += cnt
    # bigint: offsets are acc - (pid << 33), outside int32 for pid > 0.
    # Non-null elements keep g non-nullable under ANSI mode, so the
    # crawl log's seq column stays a required parquet field.
    offsets_lit = F.lit(offs).cast(T.ArrayType(T.LongType(), False))
    ranked = part.withColumn(
        out_col, F.col("_mid") + F.element_at(offsets_lit, F.col("_pid") + 1)
    ).drop("_pid", "_mid")
    return ranked, part


# _grouped_topk ranks through this private name, so a wrapper installed
# on the public one (perfbench's tracer) counts each ranking call once.
_global_rank = with_global_rank


# ------------------------------------------------------------------ A12+A13

REF_SCHEMA = (
    "parent_depth int, seq long, pos int, kind string, url string, "
    "caption string, maybe_seen boolean"
)


def fetch_extract(fetchset: DataFrame, web_b, bloom,
                  bloom_version: int) -> DataFrame:
    """A12+A13(+A2+A6): batched fetch + document-order ref extraction
    (SPEC-7), with per-ref RFC 3986 canonicalization (SPEC-2) and the
    bloom seen-probe fused into the SAME Arrow stage.

    One Python crossing instead of three (fetch → canonicalize UDF →
    probe) — at millions of refs per wave the extra Arrow round-trips
    and their shuffles were the wave's dominant cost.  Emits one row
    per ref with canonical URL, 0-based document position (= SPEC-3
    link_pos), verbatim ``alt`` caption, and ``maybe_seen`` from the
    bloom shards at ``bloom_version``.  Pages that 404 emit nothing;
    non-http(s) refs are dropped here (canonicalize -> None, SPEC-7).
    """
    from spider_1_spark.engine import bloom as bloom_mod

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        web = web_b.value
        shard_cache: dict[int, object] = {}
        for pdf in batches:
            rows = []
            for url, depth, seq in zip(pdf["url"], pdf["depth"], pdf["seq"]):
                html = web.html(url)
                if html is None:
                    continue
                for pos, kind, raw, cap in extract_refs(html):
                    canon = canonicalize(raw, base=url)
                    if canon is None:
                        continue
                    rows.append((int(depth), int(seq), pos, kind, canon, cap))
            if not rows:
                continue
            out = pd.DataFrame(
                rows,
                columns=[
                    "parent_depth", "seq", "pos", "kind", "url", "caption",
                ],
            )
            out["maybe_seen"] = bloom_mod.probe_pandas(
                out["url"], bloom, bloom_version, shard_cache
            )
            yield out

    return fetchset.select("url", "depth", "seq").mapInPandas(gen, REF_SCHEMA)


# ------------------------------------------------------------------ A14+A15

IMG_OUT_SCHEMA = (
    "url string, image_id string, bytes binary, w int, h int, "
    "fmt string, caption string, phash long, ok boolean"
)


def decode_images(img_refs: DataFrame, web_b) -> DataFrame:
    """A14+A15: image fetch + decode + dHash, Arrow-batched (SPEC-8/9).

    Emits ``ok=false`` rows (null payload) for missing/corrupt images so
    the ``decode_failed`` counter can be taken per partition (SPEC-11).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        web = web_b.value
        for pdf in batches:
            rows = []
            for url, cap in zip(pdf["url"], pdf["caption"]):
                data = web.image(url)
                if data is None:
                    rows.append((url, None, None, None, None, None, cap, None, False))
                    continue
                try:
                    rgb, fmt = decode(data)
                except DecodeError:
                    rows.append((url, None, None, None, None, None, cap, None, False))
                    continue
                h, w = rgb.shape[:2]
                rows.append(
                    (url, image_id_of(url), data, w, h, fmt, cap, dhash64(rgb), True)
                )
            if rows:
                cols = list(zip(*rows))
                # phash/w/h carry Nones for failed rows: a plain
                # DataFrame would coerce int64→float64 and destroy the
                # low bits of the 64-bit hash — use nullable Int64.
                yield pd.DataFrame(
                    {
                        "url": cols[0],
                        "image_id": cols[1],
                        "bytes": cols[2],
                        "w": pd.array(cols[3], dtype="Int64"),
                        "h": pd.array(cols[4], dtype="Int64"),
                        "fmt": cols[5],
                        "caption": cols[6],
                        "phash": pd.array(cols[7], dtype="Int64"),
                        "ok": cols[8],
                    }
                )

    return img_refs.select("url", "caption").mapInPandas(gen, IMG_OUT_SCHEMA)

