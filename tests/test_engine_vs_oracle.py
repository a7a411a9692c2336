"""SURVEY §5.1 — exact equality of the Spark engine vs the pinned
single-process oracle (BASELINE.json:2,14,15).

Artifacts compared bit-for-bit per configuration:
  * crawl ordering: the full (seq, url, depth, parent_rank, link_pos,
    wave_id) log [SPEC-3];
  * final URL-seen set WITH discovery metadata [SPEC-4];
  * images row set: image_id, raw bytes, w, h, fmt, caption, phash
    [SPEC-8..10] — phash/bytes equality subsumes decoded-pixel
    equality because both sides share the decoders;
  * counter totals, and the engine's per-partition metrics rows must
    SUM to the oracle's totals [SPEC-11].

Configs chosen (tests/../scripts probe) to exercise every gate:
``tight_g`` hits mid-wave G exhaustion; ``robots`` hits robots_blocked,
deferral, per-host caps and decode failures; ``dup_seeds`` repeats seed
URLs (seed-ingest ``deduped``); ``g_zero`` exhausts G before the first
fetch; ``deep_dedup`` counts beyond-depth anchors that follow their
URL's first discovery in the same wave.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from spider_1_spark.engine import Policy, SparkCrawler, bloom
from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds
from spider_1_spark.reference_model import spider1_ref as ref

CONFIGS = {
    # name: (n_hosts, n_seeds, policy)
    "tight_g": (8, 6, Policy(3, 2, 8, 11)),
    "robots": (12, 8, Policy(2, 1, 4, 30)),
    # 12 seeds over 8 hosts repeat URLs: the seed-ingest dedup must
    # reach the metrics rows as well as the counters
    "dup_seeds": (8, 12, Policy(3, 2, 8, 11)),
    # G = 0: one wave, every URL dropped before anything is fetched
    "g_zero": (8, 4, Policy(2, 2, 5, 0)),
    # deferred URLs keep their depth, so wave 3 mixes depths 2 and 3:
    # a beyond-depth anchor follows its URL's first eligible occurrence
    # in the same wave, a dedup (7 in all, not 6)
    "deep_dedup": (2, 1, Policy(3, 2, 6, 10)),
}


def run_both(spark, name, **crawler_kw):
    n_hosts, n_seeds, policy = CONFIGS[name]
    web = SyntheticWeb(n_hosts)
    seeds = make_seeds(n_seeds, n_hosts)
    oracle = ref.crawl(seeds, policy, web)
    root = tempfile.mkdtemp(prefix=f"spider1_{name}_")
    try:
        art = SparkCrawler(spark, policy, web, root, **crawler_kw).run(seeds)
        yield_art = (
            sorted(
                (r.seq, r.url, r.depth, r.parent_rank, r.link_pos, r.wave_id)
                for r in art.crawl_log.collect()
            ),
            {
                r.url: (r.first_wave, r.depth, r.parent_rank, r.link_pos)
                for r in art.seen.collect()
            },
            sorted(
                (r.image_id, bytes(r.bytes), r.w, r.h, r.fmt, r.caption, r.phash)
                for r in art.images.collect()
            ),
            art.counters,
            art.metrics.collect(),
            art.n_waves,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return oracle, yield_art


def check_equal(oracle, art):
    log, seen, images, counters, metrics, n_waves = art
    # SPEC-3 crawl ordering, exact
    assert log == [tuple(t) for t in oracle.crawl_log]
    # SPEC-4 seen set + discovery metadata, exact
    assert seen == oracle.seen
    # SPEC-8..10 image rows, exact (bytes + phash + caption)
    assert images == sorted(oracle.images)
    # SPEC-11 counters, exact
    assert counters == oracle.counters
    assert n_waves == oracle.n_waves

    # per-partition metrics rows sum to the oracle totals (SPEC-11 /
    # BASELINE.json:6 "per-partition lineage counters")
    sums = {k: 0 for k in ref.COUNTER_NAMES}
    for row in metrics:
        for k in sums:
            sums[k] += row[k]
    assert sums == oracle.counters


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_engine_matches_oracle_exactly(spark, name):
    oracle, art = run_both(spark, name)
    check_equal(oracle, art)


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_engine_matches_oracle_grouped_rank_path(spark, name, monkeypatch):
    """Force candidate_set's grouped two-phase rank (the huge-budget /
    hot-host skew path, normally taken only when B > 4096) onto the
    small fixtures and require the same bit-for-bit oracle equality."""
    from spider_1_spark.engine import operators as ops

    monkeypatch.setattr(ops, "SALT_PATH_MAX_B", 0)
    oracle, art = run_both(spark, name)
    check_equal(oracle, art)


def test_engine_matches_oracle_grouped_rank_shuffle_join(spark, monkeypatch):
    """The grouped path joins each over-budget row to its host's first
    global rank; with autoBroadcastJoinThreshold=-1 that join (and the
    null-safe key it runs on) takes the partitioned shuffle plan Spark
    picks once the per-host frame outgrows the threshold."""
    from spider_1_spark.engine import operators as ops

    monkeypatch.setattr(ops, "SALT_PATH_MAX_B", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        oracle, art = run_both(spark, "robots")
    finally:
        spark.conf.set(key, old)
    check_equal(oracle, art)


def bloom_false_positives(seen: dict, m_bits: int) -> int:
    """URLs that a one-shard Bloom of ``m_bits`` reported maybe-seen in
    the wave that first inserted them.  Wave w >= 1 probes seen version
    w, which holds every URL first seen before wave w (the seeds have
    first_wave 0), so its bitmap is the OR of their bit positions."""
    n = 0
    for w in sorted({fw for fw, *_ in seen.values()} - {0}):
        older = [u for u, (fw, *_) in seen.items() if fw < w]
        bits = set(bloom.bit_positions(older, m_bits).ravel().tolist())
        new = [u for u, (fw, *_) in seen.items() if fw == w]
        for pos in bloom.bit_positions(new, m_bits):
            n += set(pos.tolist()) <= bits
    return n


@pytest.mark.parametrize("name", ["robots", "tight_g"])
def test_engine_matches_oracle_saturated_bloom(spark, name):
    """A one-shard 64-bit Bloom saturates within a wave or two, so new
    URLs probe maybe-seen and only the exact seen join keeps them
    fresh: the Bloom-positive-but-unseen path the default filter never
    reaches on test crawls must give the same bits."""
    oracle, art = run_both(spark, name, bloom_shards=1, bloom_bits=64)
    assert bloom_false_positives(art[1], 64) > 0
    check_equal(oracle, art)


def test_wave_commit_releases_all_cached_blocks(spark):
    """ADVICE r1: localCheckpoint'ed frames were released with
    DataFrame.unpersist(), which does NOT free their RDD blocks —
    cached-block growth on long crawls.  After a run every
    wave-created cache entry AND checkpoint block must be gone."""
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    oracle, art = run_both(spark, "tight_g")
    check_equal(oracle, art)
    after = len(jsc.getRDDStorageInfo())
    assert after <= before, (
        f"crawl leaked {after - before} cached RDD(s) past wave commit"
    )


def test_engine_matches_oracle_hosts_shuffle_join_path(spark):
    """autoBroadcastJoinThreshold=-1 forces the partitioned shuffle
    join for the frontier⋈hosts enrichment from wave 0 — the plan
    Spark picks once the hosts snapshot outgrows the threshold, which
    otherwise never happens at test-size host counts (VERDICT r2
    missing item 4)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        oracle, art = run_both(spark, "robots")
    finally:
        spark.conf.set(key, old)
    check_equal(oracle, art)


@pytest.mark.parametrize("payload", ["image", "none"])
def test_engine_matches_oracle_frontier_mode(spark, payload):
    """run_frontier + max_depth=0 — the BENCH regime (image harvesting
    over a pre-built frontier).  Every wave of this mode takes the
    depth-exhausted pipelined harvest path (crawler.py no_anchor):
    wave w's fetch/decode runs on a pool thread while wave w+1's
    schedule+rank chain executes, so this pins bit-for-bit equality of
    ordering/seen/images/counters under that cross-wave concurrency.
    The oracle equivalent is a plain seed crawl over the same URLs in
    seed_rank order with the same policy.

    payload="none" is the image-free web the 10^8-row scaling evidence
    runs on (BENCH/BASELINE.md §3g): same web object on both sides, so
    equality here proves that AT max_depth=0 the mode changes nothing
    about scheduling — anchors are dropped before the frontier either
    way, so only the <img> items (and hence images rows /
    decode_failed) vanish.  (The claim is deliberately scoped: at
    depth>0 the shorter item list draws a different page-item
    permutation, so link_pos/anchor ORDER differs between payload
    modes — each mode is oracle-equal to itself, not to the other.)"""
    from spider_1_spark.fixtures.frontier_gen import frontier_frame

    n_hosts, n_rows = 20, 2500
    # B sized so the zipf hot host drains in ~4 politeness waves and
    # deferred rows persist across 3+ waves (multiple pipelined
    # handoffs, not a single-wave drain)
    policy = Policy(
        max_depth=0,
        per_host_wave_budget=150,
        per_host_total_cap=1 << 40,
        global_page_budget=1 << 40,
    )
    web = SyntheticWeb(n_hosts, payload=payload)
    frame = frontier_frame(spark, n_rows, n_hosts)
    seeds = [
        r.raw_url
        for r in frame.orderBy("seed_rank").collect()
    ]
    oracle = ref.crawl(seeds, policy, web)
    assert oracle.n_waves >= 3, "fixture must span several waves"
    if payload == "none":
        assert not oracle.images and oracle.counters["decode_failed"] == 0
    root = tempfile.mkdtemp(prefix="spider1_frontier_")
    try:
        art = SparkCrawler(spark, policy, web, root).run_frontier(frame)
        got = (
            sorted(
                (r.seq, r.url, r.depth, r.parent_rank, r.link_pos, r.wave_id)
                for r in art.crawl_log.collect()
            ),
            {
                r.url: (r.first_wave, r.depth, r.parent_rank, r.link_pos)
                for r in art.seen.collect()
            },
            sorted(
                (r.image_id, bytes(r.bytes), r.w, r.h, r.fmt, r.caption, r.phash)
                for r in art.images.collect()
            ),
            art.counters,
            art.metrics.collect(),
            art.n_waves,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    check_equal(oracle, got)


def test_grouped_topk_ranks_null_host_rows(spark):
    """A null host is a legal group: the grouped-rank gate must RANK
    those rows against cap_h like any host, not silently drop them (an
    equi-join on host never matches null keys; the per-host first-rank
    join is null-safe)."""
    from spider_1_spark.engine.operators import _grouped_topk

    rows = []
    for i in range(40):
        rows.append((None, 0, i, 0, f"bad://u{i}", 0, 7))
    for i in range(40):
        rows.append((f"h{i % 2}", 0, i, 0, f"http://h{i % 2}.x/{i}", 0, 7))
    df = spark.createDataFrame(
        rows,
        "host string, depth int, parent_rank long, link_pos int, "
        "url string, t0 int, cap_h long",
    )
    # ranks over the session's 4 shuffle partitions (conftest)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 4
    out, cached = _grouped_topk(df)
    got = out.collect()
    cached.unpersist()
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r.parent_rank)
    # every host, INCLUDING None, keeps exactly its cap_h=7 smallest
    # rows by the (depth, parent_rank, link_pos, url) ordering
    expect = {}
    for h, *_ in rows:
        ranks = sorted(r[2] for r in rows if r[0] == h)
        expect[h] = ranks[:7]
    assert {h: sorted(v) for h, v in by_host.items()} == expect


def test_grouped_topk_null_host_spans_partitions(spark):
    """Null hosts sort FIRST under the range partitioning, so a large
    null-host population straddles the first partition boundary, and
    so does a str host next to it.  A host's rank must then continue
    across partitions: 200 null + 200 'hA' rows over 4 range
    partitions force both to span; the ranks are asserted exactly."""
    from spider_1_spark.engine.operators import _grouped_topk

    rows = []
    for i in range(200):
        rows.append((None, 0, i, 0, f"bad://u{i:03d}", 0, 150))
    for i in range(200):
        rows.append(("hA", 0, i, 0, f"http://hA.x/{i:03d}", 0, 150))
    df = spark.createDataFrame(
        rows,
        "host string, depth int, parent_rank long, link_pos int, "
        "url string, t0 int, cap_h long",
    )
    # ranks over the session's 4 shuffle partitions (conftest)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 4
    out, cached = _grouped_topk(df)
    got = out.collect()
    cached.unpersist()
    by_host: dict = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r.parent_rank)
    # cap_h=150 > 400/4 rows-per-partition, so neither host fits in
    # one partition's local rank range: correct output REQUIRES each
    # group's rank to continue across partition boundaries
    assert {h: sorted(v) for h, v in by_host.items()} == {
        None: list(range(150)),
        "hA": list(range(150)),
    }
