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
    ≤ N_SALTS·B survivors per host;
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
from spider_1_spark.functions.urlnorm import canonicalize, host_of
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

@F.pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    """A3: host (netloc) of an already-canonical URL."""
    return urls.map(lambda u: host_of(u) if u is not None else None)


def with_host(df: DataFrame, url=None) -> DataFrame:
    """A3+A4: host + stable 64-bit host hash for partitioning, of the
    ``url`` column or of the ``url`` expression (null where no row
    needs a host)."""
    return df.withColumn(
        "host", host_udf(F.col("url") if url is None else url)
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

def candidate_set(allowed: DataFrame, policy) -> DataFrame:
    """A5+A10: per-host fetch candidates = host-rank ≤ cap_h, skew-proof.

    ``allowed`` must carry ``t0`` (the host's pre-wave fetch total) and
    the KEY_COLS.  cap_h = max(0, min(B, C - t0)) — the closed form of
    the oracle's sequential C-then-B gating for the fetched prefix
    (derivation in crawler.py docstring).

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
      salt prefilter cannot shrink anything): grouped two-phase rank —
      range-partition on (host, KEY) so ONE host legally spans MANY
      partitions, sort within partitions, then per-(partition, host)
      counts give each host's cross-partition rank offsets.  No
      single-partition window ever sees a whole hot host, so a host
      holding 19% of a 10^10-row frontier still ranks at full cluster
      parallelism.  The offsets collect is O(P) by construction: only
      boundary-spanning hosts (≤ P-1 of them) need offsets at all
      (see _grouped_topk).
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

    if B <= SALT_PATH_MAX_B:
        over = over.withColumn(
            "salt", F.pmod(F.xxhash64("url"), F.lit(N_SALTS))
        )
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
    else:
        ranked = _grouped_topk(over)
    res = under.unionByName(ranked)
    # surface _grouped_topk's cached frame so the wave can unpersist it
    res._aux_persist = getattr(ranked, "_rank_source", None)
    return res


def _grouped_topk(over: DataFrame) -> DataFrame:
    """Exact per-host top-cap_h by KEY for over-budget hosts, with no
    per-host partition: two-phase distributed rank grouped by host.

    The partition id is STORED AS A COLUMN at cache-materialization
    time rather than read from ``TaskContext.partitionId()`` at rank
    time: a later narrow stage may pipeline this frame into a union
    (candidate_set unions it with the under-budget rows), and the
    task's partition index inside a union stage is shifted by the
    other branch's partition count — data-embedded ids are immune.
    """
    spark = over.sparkSession
    part = (
        over.repartitionByRange(
            shuffle_partitions(spark),
            F.col("host"),
            *[F.col(c) for c in KEY_COLS],
        )
        .sortWithinPartitions("host", *KEY_COLS)
        .withColumn("_pid", F.spark_partition_id())
    )
    # persist (not localCheckpoint — its RDD blocks would survive
    # DataFrame.unpersist() at wave commit, ADVICE r1); per-wave
    # lineage is bounded anyway by the parquet snapshot boundaries.
    part = part.persist()
    # Driver state is HARD-BOUNDED at O(P): only hosts that SPAN a
    # partition boundary need cross-partition rank offsets, and a
    # range partitioning by (host, KEY) puts at most one spanning host
    # on each of the P-1 boundaries.  Single-partition hosts rank
    # locally from zero, and every row carries its own cap in the
    # cap_h column — so nothing per-host is collected or broadcast
    # (ADVICE r1: the (pid, host) dict could reach millions of entries
    # at the 10^10-row design point; this collect is ≤ 2P rows by
    # construction, at ANY host count).
    per = part.groupBy("_pid", "host").agg(F.count("*").alias("cnt"))
    # Spanning-host filter as a window over the TINY per frame: ONE
    # linear job (scan part → agg → reshuffle ≤(hosts+P) rows →
    # window → collect).  The r1 shape — per ⋈ broadcast(spanning) —
    # put the broadcast-build stage and the probe stage of the SAME
    # job onto the COLD `part`/input caches concurrently; racing a
    # cold cached frame measured 15-24x per-record JVM-CPU inflation
    # at local[16] (BENCH/BASELINE.md §3d) while being invisible at
    # local[4].  This job is also `part`'s single cache-materializing
    # job: everything downstream reads it warm.
    w_span = Window.partitionBy("host")
    stats = (
        per.withColumn("np", F.count("*").over(w_span))
        .filter(F.col("np") > 1)
        .drop("np")
        .collect()
    )
    offsets: dict[tuple[int, str | None], int] = {}
    per_host: dict[str | None, int] = {}
    # None-safe sort key: nulls sort FIRST in the range partitioning,
    # so a large unparseable-URL population straddles the first
    # partition boundary and lands in `stats` as host=None alongside
    # str hosts — a bare (host, pid) key would raise TypeError on the
    # None-vs-str compare and kill the whole grouped-topk query
    # (ADVICE r4).
    for r in sorted(
        stats,
        key=lambda r: (r["host"] is not None, r["host"] or "", r["_pid"]),
    ):
        offsets[(r["_pid"], r["host"])] = per_host.get(r["host"], 0)
        per_host[r["host"]] = per_host.get(r["host"], 0) + r["cnt"]
    off_b = spark.sparkContext.broadcast(offsets)

    def keep_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized gate (r4; the per-row zip loop was the hottest
        # remaining Python loop, VERDICT r3 item 3): a row's global
        # rank within its host is  cross-partition offset (offs)
        #   + rows seen in EARLIER batches of this task (carry)
        #   + 0-based position within this batch (groupby cumcount),
        # all three computed group-at-a-time; only the tiny per-group
        # dict updates stay in Python (O(hosts-in-batch), not O(rows)).
        import numpy as np

        offs = off_b.value
        carry: dict[tuple[int, object], int] = {}

        def norm(h):  # None/NaN host -> None, matching the collected
            return None if pd.isna(h) else h  # stats rows' key shape

        for pdf in batches:
            if pdf.empty:
                continue
            # dropna=False: a null host is a legal group (host_udf
            # emits None for unparseable urls) — the default dropna
            # would silently FILTER those rows out instead of ranking
            # them (r4 review finding).  ngroup+array indexing (not a
            # merge) because pandas merge never matches NaN keys.
            g = pdf.groupby(["_pid", "host"], sort=False, dropna=False)
            local = g.cumcount().to_numpy()
            codes = g.ngroup().to_numpy()
            sizes = g.size()  # index: (pid, host), group order = ngroup
            group_base = np.fromiter(
                (
                    offs.get((int(p), norm(h)), 0)
                    + carry.get((int(p), norm(h)), 0)
                    for p, h in sizes.index
                ),
                dtype=np.int64,
                count=len(sizes),
            )
            base = group_base[codes]
            mask = (base + local) < pdf["cap_h"].to_numpy()
            yield pdf[pd.Series(mask, index=pdf.index)]
            for (p, h), sz in sizes.items():
                k = (int(p), norm(h))
                carry[k] = carry.get(k, 0) + int(sz)

    out = part.mapInPandas(keep_topk, part.schema).drop("_pid")
    out._rank_source = part  # caller may unpersist
    return out


def with_global_rank(
    df: DataFrame,
    spark: SparkSession,
    order_cols: list[str],
    out_col: str = "g",
) -> DataFrame:
    """A9: dense 0-based global rank by ``order_cols`` — two-phase
    distributed zipWithIndex (SURVEY §4 "deterministic ordering is
    engine-owned").

    Phase 1 range-partitions + sorts; phase 2 counts rows per partition
    (one tiny job, O(P) driver state) and adds ``offset + local_index``
    entirely JVM-side: ``monotonically_increasing_id`` on the cached
    sorted partitions is ``(pid << 33) + row_index`` with a CONSECUTIVE
    0-based row index per partition, so
    ``g = global_offset[pid] + (mid - min_mid[pid])`` — no Python/Arrow
    crossing (the previous mapInPandas pass round-tripped every
    candidate row through a Python worker once per wave; r2 profile
    showed the schedule+rank span flat at ~13 s across 4→16 cores).
    ``min(mid)`` is collected alongside the counts — same single tiny
    job, and subtracting it avoids baking in the bit layout.  The
    offsets reach the rows as one array literal indexed by partition id
    (``element_at``), so the apply is the same expression at any
    partition count.  No single-partition Window — this is the piece
    that survives a 10^10-row frontier.
    """
    # partition id + row id stored as COLUMNS at cache-materialization
    # time — NOT TaskContext.partitionId() at rank time, whose value
    # shifts if a later narrow stage pipelines this frame into a union
    # (see _grouped_topk docstring for the failure mode).  Both are
    # deterministic: the range partitioning and the within-partition
    # sort fix each row's (partition, position).
    part = (
        df.repartitionByRange(
            shuffle_partitions(spark), *[F.col(c) for c in order_cols]
        )
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
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
    ranked._rank_source = part  # handle for the caller to unpersist
    return ranked


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

