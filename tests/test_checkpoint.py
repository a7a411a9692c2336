"""SURVEY §5.3 — resumability (SPEC-12, BASELINE.json:6,14).

Invariant: ``run(seeds)`` ≡ ``run k waves; resume`` for every wave
boundary k, over ALL artifacts (crawl log, seen, images, counters).
Also: crash residue between "tables written" and "manifest renamed"
must be rolled back by ``cleanup()`` on resume.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from spider_1_spark.engine import Policy, SparkCrawler
from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds
from spider_1_spark.reference_model import spider1_ref as ref

N_HOSTS, N_SEEDS = 8, 4
POLICY = Policy(2, 2, 5, 24)


def collect(art):
    return (
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
        art.n_waves,
    )


@pytest.fixture(scope="module")
def oracle():
    return ref.crawl(
        make_seeds(N_SEEDS, N_HOSTS), POLICY, SyntheticWeb(N_HOSTS)
    )


def test_resume_from_every_wave_boundary(spark, oracle):
    web = SyntheticWeb(N_HOSTS)
    seeds = make_seeds(N_SEEDS, N_HOSTS)
    n_waves = oracle.n_waves
    assert n_waves >= 2, "config must produce a multi-wave crawl"
    for k in (1, n_waves - 1):
        root = tempfile.mkdtemp(prefix=f"spider1_resume{k}_")
        try:
            c1 = SparkCrawler(spark, POLICY, web, root)
            c1.run(seeds, max_waves=k)  # stop mid-crawl
            # fresh crawler object (fresh process semantics) resumes
            c2 = SparkCrawler(spark, POLICY, web, root)
            art = c2.resume()
            log, seen, images, counters, waves = collect(art)
            assert log == [tuple(t) for t in oracle.crawl_log], f"k={k}"
            assert seen == oracle.seen, f"k={k}"
            assert images == sorted(oracle.images), f"k={k}"
            assert counters == oracle.counters, f"k={k}"
            assert waves == n_waves, f"k={k}"
        finally:
            shutil.rmtree(root, ignore_errors=True)


def test_crash_residue_rolled_back(spark, oracle):
    """Simulate a crash AFTER state tables were written but BEFORE the
    manifest rename: stale v=/w= dirs must be pruned and the re-run
    wave must produce identical artifacts."""
    web = SyntheticWeb(N_HOSTS)
    seeds = make_seeds(N_SEEDS, N_HOSTS)
    root = tempfile.mkdtemp(prefix="spider1_crash_")
    try:
        c1 = SparkCrawler(spark, POLICY, web, root)
        c1.run(seeds, max_waves=1)
        manifest = c1.store.read_manifest()
        assert manifest["wave_id"] == 0

        # fabricate uncommitted wave-1 output (what a crash leaves)
        for name, vdir in (
            ("frontier", "v=2"),
            ("seen", "v=2"),
            ("hosts", "v=2"),
            ("images", "w=1"),
            ("crawl_log", "w=1"),
            ("metrics", "w=1"),
        ):
            d = os.path.join(root, name, vdir)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "garbage.parquet"), "wb") as f:
                f.write(b"not a parquet file")

        art = SparkCrawler(spark, POLICY, web, root).resume()
        log, seen, images, counters, waves = collect(art)
        assert log == [tuple(t) for t in oracle.crawl_log]
        assert seen == oracle.seen
        assert images == sorted(oracle.images)
        assert counters == oracle.counters
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("salt_max_b", [4096, 0], ids=["salted", "grouped"])
def test_crawl_log_seq_is_a_required_parquet_field(spark, monkeypatch, salt_max_b):
    """The crawl log's seq is the global rank's non-nullable g plus an
    offset, so parquet stores it as a REQUIRED field (max definition
    level 0) whichever per-host ranking path the wave took."""
    import glob

    import pyarrow.parquet as pq

    from spider_1_spark.engine import operators as ops

    monkeypatch.setattr(ops, "SALT_PATH_MAX_B", salt_max_b)
    root = tempfile.mkdtemp(prefix="spider1_seq_")
    try:
        SparkCrawler(spark, POLICY, SyntheticWeb(N_HOSTS), root).run(
            make_seeds(N_SEEDS, N_HOSTS), max_waves=1
        )
        files = glob.glob(os.path.join(root, "crawl_log", "w=0", "*.parquet"))
        assert files
        for f in files:
            schema = pq.ParquetFile(f).schema
            seq = schema.column(schema.names.index("seq"))
            assert seq.max_definition_level == 0, f
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_refuses_another_bloom_layout(spark):
    """Every manifest records the Bloom layout.  resume() with another
    shard count or bitmap size, on state whose layout names no shard
    codec (raw .npy shards), or on state that recorded none, raises
    ValueError before any Spark job — probing shards written under
    another layout would give false negatives."""
    web = SyntheticWeb(N_HOSTS)
    root = tempfile.mkdtemp(prefix="spider1_layout_")
    try:
        c = SparkCrawler(spark, POLICY, web, root)
        c.run(make_seeds(N_SEEDS, N_HOSTS), max_waves=0)
        assert c.store.read_manifest()["bloom"] == c.bloom.layout
        tracker = spark.sparkContext.statusTracker()
        jobs = set(tracker.getJobIdsForGroup())
        for kw in ({"bloom_shards": 16}, {"bloom_bits": 1 << 20}):
            with pytest.raises(ValueError, match="bloom layout"):
                SparkCrawler(spark, POLICY, web, root, **kw).resume()
        manifest = c.store.read_manifest()
        # state from before the zstd shard codec: .npy shard files
        manifest["bloom"] = {
            k: v for k, v in c.bloom.layout.items() if k != "codec"
        }
        c.store.commit(manifest)
        with pytest.raises(ValueError, match="bloom layout"):
            SparkCrawler(spark, POLICY, web, root).resume()
        del manifest["bloom"]
        c.store.commit(manifest)
        with pytest.raises(ValueError, match="bloom layout"):
            SparkCrawler(spark, POLICY, web, root).resume()
        assert set(tracker.getJobIdsForGroup()) == jobs
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_manifest_commit_is_atomic_rename(spark):
    """The manifest file is always complete JSON (tmp+os.replace)."""
    root = tempfile.mkdtemp(prefix="spider1_manifest_")
    try:
        from spider_1_spark.engine.state import ParquetSnapshotStore

        st = ParquetSnapshotStore(spark, root)
        st.commit({"wave_id": 3, "versions": {}, "counters": {}})
        with open(st.manifest_path) as f:
            assert json.load(f)["wave_id"] == 3
        assert not [
            p for p in os.listdir(root) if p.endswith(".manifest.tmp")
        ], "no tmp residue after commit"
    finally:
        shutil.rmtree(root, ignore_errors=True)


class _WaveFault(RuntimeError):
    pass


def _payload_free_frontier(spark):
    """The 3-wave payload-free run_frontier config of
    test_frontier_resume_skips_empty_bloom_updates."""
    from spider_1_spark.fixtures.frontier_gen import frontier_frame

    n_hosts = 20
    policy = Policy(
        max_depth=0,
        per_host_wave_budget=40,
        per_host_total_cap=1 << 40,
        global_page_budget=1 << 40,
    )
    web = SyntheticWeb(n_hosts, payload="none")
    return policy, web, frontier_frame(spark, 300, n_hosts)


def test_frontier_resume_skips_empty_bloom_updates(spark, monkeypatch):
    """Payload-free run_frontier at max_depth=0: every wave's seen
    delta is empty (anchors lie beyond max_depth, there are no images),
    so no wave calls bloom.update or writes a bloom version — only the
    seed set's v=0 exists.  Stopping after wave 1 and resuming must
    still match an uninterrupted run on every artifact: the probe at
    each later seen version falls back to v=0."""
    from spider_1_spark.engine import bloom

    calls = []
    update = bloom.update

    def counted(df, store, prev_version, new_version):
        calls.append((prev_version, new_version))
        return update(df, store, prev_version, new_version)

    monkeypatch.setattr(bloom, "update", counted)

    policy, web, frame = _payload_free_frontier(spark)
    roots = [tempfile.mkdtemp(prefix=f"spider1_{n}_") for n in ("full", "cut")]
    try:
        c1 = SparkCrawler(spark, policy, web, roots[0])
        want = collect(c1.run_frontier(frame))
        assert want[4] >= 3, "fixture must span several waves"
        SparkCrawler(spark, policy, web, roots[1]).run_frontier(
            frame, max_waves=1
        )
        c2 = SparkCrawler(spark, policy, web, roots[1])
        assert collect(c2.resume()) == want
        # one crawl-start update per run, none per wave
        assert calls == [(-1, 0), (-1, 0)]
        for c in (c1, c2):
            assert c.store.read_manifest()["versions"]["seen"] == want[4]
            assert os.listdir(c.bloom.base) == ["v=0"]
    finally:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("regime", ["anchor", "no_anchor"])
def test_fetch_failure_drains_pools_and_resumes(spark, monkeypatch, regime):
    """A fetch stage that raises on wave 1 must surface from the crawl
    call, leave no wave pool thread alive, release every frame the
    uncommitted waves cached, and leave state that a fresh crawler
    resumes to the uninterrupted artifacts.  ``anchor`` (seed crawl,
    max_depth 2) waits on the harvest inside the failing wave;
    ``no_anchor`` (payload-free frontier, max_depth 0) only meets the
    failure when the next wave's harvest or wave 1's commit joins it."""
    import threading

    from spider_1_spark.engine import operators as ops

    if regime == "anchor":
        policy, web = POLICY, SyntheticWeb(N_HOSTS)
        seeds = make_seeds(N_SEEDS, N_HOSTS)

        def crawl(c):
            return c.run(seeds)
    else:
        policy, web, frame = _payload_free_frontier(spark)

        def crawl(c):
            return c.run_frontier(frame)

    fetch_extract = ops.fetch_extract
    armed = [True]

    def failing(fetchset, web_b, bloom, seen_version):
        # wave w probes the bloom at seen version w
        if armed[0] and seen_version == 1:
            raise _WaveFault("injected fetch failure on wave 1")
        return fetch_extract(fetchset, web_b, bloom, seen_version)

    monkeypatch.setattr(ops, "fetch_extract", failing)
    roots = [tempfile.mkdtemp(prefix=f"spider1_{n}_") for n in ("full", "cut")]
    try:
        before = set(threading.enumerate())
        jsc = spark.sparkContext._jsc.sc()
        n_cached = jsc.getPersistentRDDs().size()
        with pytest.raises(_WaveFault):
            crawl(SparkCrawler(spark, policy, web, roots[1]))
        n_leaked = jsc.getPersistentRDDs().size() - n_cached
        assert n_leaked <= 0, f"failed crawl left {n_leaked} cached RDD(s)"
        leaked = [
            t
            for t in threading.enumerate()
            if t not in before
            and t.name.startswith("ThreadPoolExecutor")
            and t.is_alive()
        ]
        assert not leaked, f"wave pool threads still alive: {leaked}"
        assert SparkCrawler(spark, policy, web, roots[1]).store.read_manifest()[
            "wave_id"
        ] < 1, "the failed wave must not commit"

        armed[0] = False
        want = collect(crawl(SparkCrawler(spark, policy, web, roots[0])))
        assert want[4] >= 2, "wave 1 must exist"
        got = collect(SparkCrawler(spark, policy, web, roots[1]).resume())
        assert got == want
    finally:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)
