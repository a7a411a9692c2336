"""The distributed wave loop — SURVEY §2 op A22 / §3 EP1+EP2.

Replaces the reference's single-threaded ``while queue:`` loop
(SURVEY §0.2 [GENRE]) with barrier-synchronous Spark waves that
reproduce its crawl ordering, seen set, image rows and counters
EXACTLY (BASELINE.json:2,14,15).  Equality is provable because the
oracle's dequeue order is a pure function of the web graph and policy
(SPEC-3): no wall-clock enters any decision.

Closed-form re-derivation of the oracle's sequential gates
----------------------------------------------------------
Per wave the oracle scans frontier URLs in SPEC-3 key order and, per
URL, checks: robots → host total cap C → host wave budget B → global
budget G; only a *fetch* increments any counter.  For host h with
pre-wave total t0 and eligible (robots-allowed) URLs ranked r=1.. by
key:

* cap_h = max(0, min(B, C - t0)).  Absent G exhaustion exactly the
  first cap_h eligible URLs are fetched ("candidates").
* G is consumed in GLOBAL key order: with ``remaining`` budget, the
  first ``remaining`` candidates (by global key order) are fetched;
  exhaustion happens at the key K* of the last fetched candidate.
* any URL evaluated after exhaustion (key > K*) sees the FINAL host
  fetch count F_h; any URL before it sees cap_h (all smaller-ranked
  candidates of its host were already fetched).  Hence every
  non-fetched URL classifies as:
      f  = F_h  if exhausted and key > K*  else cap_h
      status = dropped  if t0 + f >= C          (oracle's C gate)
             = deferred if f >= B               (oracle's B gate)
             = dropped  otherwise               (only reachable post-
                                                 exhaustion: G gate)
  Deferred URLs re-enter the next wave with their ORIGINAL key
  (SPEC-5), which keeps the global ordering stable.

This closed form is what lets a 1000-executor cluster reproduce a
single-process crawl: per-host ranks come from salted windows, or
for budgets too large to salt from a global rank over (host, KEY)
(operators.candidate_set), the global rank from a two-phase
zipWithIndex (operators.with_global_rank), and everything else is
joins + column expressions — no sequential scan anywhere.
"""

from __future__ import annotations

import os
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_1_spark.engine import bloom as bloom_mod
from spider_1_spark.engine import operators as ops
from spider_1_spark.engine.state import METRICS_SCHEMA
from spider_1_spark.reference_model.spider1_ref import COUNTER_NAMES, Policy

KEY = ops.KEY_COLS  # depth, parent_rank, link_pos, url

# Scheduler pools for wave pipelining (see fairscheduler.xml for the
# measured FIFO-starvation failure mode).  Sessions opt in with
#   spark.scheduler.mode=FAIR
#   spark.scheduler.allocation.file=FAIR_SCHEDULER_XML
# The engine tags every driver thread's jobs with a pool either way;
# under the default FIFO scheduler the tags are inert.
FAIR_SCHEDULER_XML = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml"
)
CRITICAL_POOL = "critical"  # jobs the wave (or next wave) blocks on
HARVEST_POOL = "harvest"  # overlapped fetch/decode stages (see below)
LAGGING_POOL = "lagging"  # sink writes joined only at commit


def _release_cached(df: DataFrame | None) -> None:
    """Release a wave's cached frame COMPLETELY, at its commit or on a
    crawl failure (None: nothing was cached).

    ``DataFrame.unpersist()`` only drops cache-manager entries; the RDD
    blocks of a ``localCheckpoint``'ed frame are not among them and
    would linger until GC/ContextCleaner — unbounded cached-block
    growth on long crawls (ADVICE r1).  A checkpointed frame's plan is
    a ``LogicalRDD`` wrapping the materialized RDD: unpersist that RDD
    directly.  Non-checkpointed frames pass through the plan probe
    harmlessly.
    """
    if df is None:
        return
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # plan shapes without a wrapped RDD: nothing to free


@dataclass
class CrawlArtifacts:
    """Handles onto the committed state after a run (all DataFrames)."""

    crawl_log: DataFrame
    seen: DataFrame
    images: DataFrame
    metrics: DataFrame
    counters: dict[str, int]
    n_waves: int


@dataclass
class _Harvest:
    """One wave's fetch → extract → dedup result (``_harvest``)."""

    metrics: list[tuple]  # ("dedup", pid, "deduped", n)
    n_anchor: int  # fresh anchors = next-frontier rows besides deferred
    fresh: DataFrame  # this wave's new URLs, first discovery each
    fut_images: Future  # -> ("decode", pid, "decode_failed", n) rows
    fut_seen: Future  # seen delta durable
    fut_bloom: Future  # bloom shards durable


@dataclass
class _Wave:
    """One wave between its critical path and its commit."""

    manifest: dict  # committed as JSON, with the counters, at commit
    frontier: DataFrame  # in-memory next-frontier handoff
    harvest: Future  # -> _Harvest
    sinks: list[Future]  # crawl-log and frontier writes
    metrics: list[tuple]  # (stage, pid, counter_name, n)
    pool: ThreadPoolExecutor
    release: list[DataFrame | None]  # every frame the wave cached


class SparkCrawler:
    """EP1 ``run(seeds)`` / EP2 ``resume()`` (SPEC-1..12)."""

    def __init__(
        self,
        spark: SparkSession,
        policy: Policy,
        web,
        root: str,
        bloom_shards: int = 32,
        bloom_bits: int = 1 << 22,
        store=None,
        bloom_root: str | None = None,
        bloom_io=None,
    ):
        self.spark = spark
        self.policy = policy
        self.web = web
        self.web_b = spark.sparkContext.broadcast(web)
        # SURVEY §1.4 backend split: IcebergStateStore when the runtime
        # jar is on the classpath and ``root`` is a catalog namespace
        # (make_store auto-detects; inert in this sandbox — no jar),
        # ParquetSnapshotStore otherwise.  ``store`` injects either
        # explicitly.  The bloom sidecars always need a filesystem/
        # object-store path: pass ``bloom_root`` when ``root`` is a
        # catalog namespace.
        if store is None:
            from spider_1_spark.engine.state_iceberg import make_store

            store = make_store(spark, root)
        self.store = store
        # bloom_io: a bloom.ShardIO for non-local shard storage (the
        # object-store deployments the ShardIO docstring maps out);
        # default LocalShardIO.  The instance rides inside BloomStore
        # through the worker-side probe closures, so it must pickle.
        self.bloom = bloom_mod.BloomStore(
            bloom_root or root, bloom_shards, bloom_bits, io=bloom_io
        )

    # ------------------------------------------------------------ run

    def run(self, seeds: list[str], max_waves: int | None = None) -> CrawlArtifacts:
        """Fresh crawl from a seed list; the list index is the explicit
        seed rank, never ``monotonically_increasing_id`` (SURVEY §7)."""
        raw = self.spark.createDataFrame(
            list(enumerate(seeds)), "seed_rank long, raw_url string"
        )
        return self.run_frontier(raw, max_waves)

    def run_frontier(
        self, seed_frame: DataFrame, max_waves: int | None = None
    ) -> CrawlArtifacts:
        """Fresh crawl from a (seed_rank, raw_url) DataFrame.  The
        frontier and seen v0 writes and the seed Bloom update read one
        cached seed frame; hosts v0 is never written (it reads empty)."""
        st = self.store
        st.cleanup()
        self.bloom.prune(-1)
        frontier, cached, seed_dups, n_seeds = ops.ingest_seed_frame(seed_frame)
        try:
            st.write_version("frontier", 0, frontier)
            seen0 = frontier.select(
                "url", "host_hash", F.lit(0).alias("first_wave"),
                "depth", "parent_rank", "link_pos",
            )
            st.write_version("seen", 0, seen0)
            bloom_mod.update(frontier.select("url"), self.bloom, -1, 0)
        finally:
            _release_cached(cached)
        manifest = {
            "wave_id": -1,
            "versions": {"frontier": 0, "seen": 0, "hosts": 0},
            "seq_next": 0,
            "global_fetched": 0,
            # duplicate seeds: wave 0 commits these rows with its own,
            # so the counters stay one sum of metrics rows (SPEC-11)
            "ingest_metrics": [
                ("ingest", pid, "deduped", n) for pid, n in seed_dups
            ],
            "counters": {k: 0 for k in COUNTER_NAMES},
            "bloom": self.bloom.layout,
            # empty seed frontier => zero waves, like the oracle's
            # `while frontier:` never entering the loop
            "done": n_seeds == 0,
        }
        st.commit(manifest)
        return self._loop(manifest, max_waves)

    def resume(self, max_waves: int | None = None) -> CrawlArtifacts:
        """EP2: continue from the last committed manifest (SPEC-12).
        State whose Bloom layout is not this crawler's (or unrecorded)
        raises ValueError: its shards would probe as false negatives."""
        st = self.store
        manifest = st.read_manifest()
        if manifest is None:
            raise ValueError(f"no manifest at {self.store.root}")
        if manifest.get("bloom") != self.bloom.layout:
            raise ValueError(
                f"bloom layout {manifest.get('bloom')} of the state differs "
                f"from this crawler's {self.bloom.layout}"
            )
        st.cleanup()
        self.bloom.prune(manifest["versions"]["seen"])
        return self._loop(manifest, max_waves)

    # ----------------------------------------------------------- loop

    def _loop(self, manifest: dict, max_waves: int | None) -> CrawlArtifacts:
        """Pipelined wave loop.

        Wave w+1's critical path (``_wave_critical``: everything the
        next wave reads) starts as soon as wave w's ends; wave w's
        lagging branches (images sink, crawl-log and frontier writes,
        bloom update) drain concurrently and ``_wave_commit`` commits
        wave w only after w+1's critical path.  Manifest commits stay
        strictly sequential, so the crash contract is unchanged:
        anything newer than the committed manifest is pruned on resume
        and the wave replays idempotently (SPEC-12;
        tests/test_checkpoint.py).

        Each wave's thread pool and its list of cached frames are
        created here; the wave's layers append every frame they cache.
        A failure anywhere drains the uncommitted wave's pool and the
        failing wave's own, so no branch thread is still writing files
        while the exception unwinds (a caller that catches and
        resume()s would otherwise race those writers against
        cleanup()'s pruning — ADVICE r1), then releases both waves'
        frames, as their commits would have.
        """
        waves_run = 0
        pending: _Wave | None = None  # critical path done, not committed
        latest = manifest  # last COMMITTED manifest
        pool, frames = None, []  # the wave whose critical path runs
        # the loop thread drives every critical-path job
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", CRITICAL_POOL
        )
        try:
            while not (pending.manifest if pending else latest)["done"]:
                if max_waves is not None and waves_run >= max_waves:
                    break
                # one worker per branch (≤ 8 live submissions a wave:
                # log, gate, hosts, harvest, frontier and the harvest's
                # images/seen/bloom).  The hosts write blocks on the
                # gate while holding a worker, so the pool stays above
                # the live count or a queued dependency deadlocks it.
                pool, frames = ThreadPoolExecutor(max_workers=12), []
                wave = self._wave_critical(latest, pending, pool, frames)
                waves_run += 1
                if pending is not None:
                    latest = self._wave_commit(pending, latest)
                pending, pool, frames = wave, None, []
            if pending is not None:
                latest = self._wave_commit(pending, latest)
        except BaseException:
            for p in (pending.pool if pending else None, pool):
                if p is not None:
                    p.shutdown(wait=True)
            for df in frames + (pending.release if pending else []):
                _release_cached(df)
            raise
        return self.artifacts(latest)

    def artifacts(self, manifest: dict | None = None) -> CrawlArtifacts:
        if manifest is None:
            manifest = self.store.read_manifest()
        wave = manifest["wave_id"]
        v = manifest["versions"]
        return CrawlArtifacts(
            crawl_log=self.store.read_waves("crawl_log", wave),
            seen=self.store.read_delta_union("seen", v["seen"]),
            images=self.store.read_waves("images", wave),
            metrics=self.store.read_waves("metrics", wave),
            counters=dict(manifest["counters"]),
            n_waves=wave + 1,
        )

    # ----------------------------------------------------------- wave

    def _submit(self, pool: ThreadPoolExecutor, pool_name: str, fn, *args):
        """Run ``fn(*args)`` on a wave pool thread whose Spark jobs are
        tagged with scheduler pool ``pool_name``.

        Pool local-properties are per-thread and executor threads are
        reused across branches with different pools, so each branch
        must (re)set its own at entry — thread-creation inheritance
        cannot be relied on.
        """
        sc = self.spark.sparkContext

        def branch():
            sc.setLocalProperty("spark.scheduler.pool", pool_name)
            return fn(*args)

        try:
            return pool.submit(branch)
        except RuntimeError as e:
            # a harvest thread submitting after the loop thread's
            # failure drain shut the pool down (ADVICE r2): name the
            # cause instead of a bare "cannot schedule new futures"
            raise RuntimeError(
                "wave branch not scheduled: the wave pool was shut down "
                "by a concurrent wave failure (this wave never commits; "
                "resume replays it)"
            ) from e

    def _wave_critical(
        self, latest: dict, handoff: _Wave | None, pool: ThreadPoolExecutor, frames
    ) -> _Wave:
        """Run the next wave up to (and including) the state snapshots
        the wave after it reads; its lagging branches are left in
        ``pool`` for ``_wave_commit``.  Every frame the wave caches is
        appended to ``frames`` as it is cached.

        ``handoff`` is the previous wave while it is not committed yet
        (its manifest, in-memory frontier and harvest); on wave 0 and
        on resume it is None and ``latest``, the last committed
        manifest, is the previous wave's.

        The wave is a DAG of Spark jobs whose edges are the persisted
        frames: ``_enrich`` → ``_schedule`` → (``_gate`` ∥ ``_harvest``
        ∥ crawl-log sink) → hosts snapshot and next frontier.
        Independent branches run from pool threads (a SparkSession is
        thread-safe for job submission) so the JVM-side write/count jobs
        — low CPU, latency-bound — overlap the Arrow/Python stages that
        saturate the cores.  Each persisted frame is materialized by
        exactly ONE job before concurrent consumers fork, so nothing
        computes twice.  Completion order never affects results: the
        manifest rename is still the single sequential commit (SPEC-12).
        """
        st = self.store
        prev = handoff.manifest if handoff is not None else latest
        wave = prev["wave_id"] + 1
        v = prev["versions"]

        # In-memory handoff from the previous wave when available: the
        # frontier PARQUET write is a lagging branch (joined at that
        # wave's commit), so reading it back here would stall on it.
        # The handoff plan recomputes from frames the previous wave
        # keeps cached until its commit — which happens only after
        # this wave's critical path.  Resume / wave 0 read the
        # committed snapshot.  The enriched `fr` is persisted
        # MEMORY_AND_DISK and materialized by this wave's first job,
        # i.e. before the previous wave's frames are released; after
        # that release the handoff lineage is no longer recomputable
        # (it crosses a freed localCheckpoint), so a lost `fr` block on
        # a real cluster fails the wave — recovery is the normal
        # resume-from-manifest contract, which reads parquet only.
        if handoff is not None:
            frontier = handoff.frontier
        else:
            frontier = st.read_version("frontier", v["frontier"])
        allowed, hosts_all, robots_rows = self._enrich(
            frontier, st.read_version("hosts", v["hosts"]), frames
        )
        fetchset, fetch_rows, no_anchor, post = self._schedule(
            allowed, prev, frames
        )
        metrics = [tuple(r) for r in prev.get("ingest_metrics", ())]
        metrics += robots_rows + fetch_rows
        n_fetched = sum(r[3] for r in fetch_rows)

        # fetchset is already range-partitioned + sorted by KEY and
        # seq = g + const is monotone across those partitions, so the
        # crawl-log files are seq-contiguous as-is; every reader orders
        # by the seq COLUMN.  (A repartitionByRange(seq) here
        # re-shuffled the whole fetchset per wave and competed with the
        # fetch stage for cores — r2 profile.)
        fut_log = self._submit(
            pool, LAGGING_POOL, st.write_wave, "crawl_log", wave,
            fetchset.select(
                "seq", "url", "depth", "parent_rank", "link_pos",
                F.lit(wave).alias("wave_id"),
            ),
        )
        # per-host fetched counts — ONE shuffle of fetchset, shared by
        # the gate and the hosts snapshot; the gate's collect job
        # materializes it, and the hosts write waits on the gate
        fh = fetchset.groupBy("host").agg(F.count("*").alias("F_h")).persist()
        frames.append(fh)
        fut_gate = self._submit(
            pool, CRITICAL_POOL, self._gate, allowed, fetchset, fh, post, frames
        )
        hosts_next = (
            hosts_all.join(fh, "host", "left")
            .withColumn(
                "fetch_total",
                (F.col("fetch_total") + F.coalesce(F.col("F_h"), F.lit(0))).cast(
                    "int"
                ),
            )
            .drop("F_h")
        )

        def write_hosts() -> None:
            fut_gate.result()
            st.write_version("hosts", v["hosts"] + 1, hosts_next)

        fut_hosts = self._submit(pool, CRITICAL_POOL, write_hosts)
        # Under no_anchor the harvest is off the critical path: the next
        # frontier closes from the gate alone, and the loop schedules
        # wave w+1's entire schedule+rank chain WHILE this wave
        # fetches/decodes (the profile showed those chains serializing
        # ~35 s of a 4-wave 10^6 run at local[16] against otherwise-idle
        # cores).  Otherwise the next frontier needs `fresh`.
        fut_harvest = self._submit(
            pool, HARVEST_POOL if no_anchor else CRITICAL_POOL,
            self._harvest, wave, v, fetchset, handoff, pool, frames,
        )
        rest, gate_rows = fut_gate.result()
        metrics += gate_rows
        next_frontier = self._deferred(rest)
        n_anchor = 0
        if not no_anchor:
            h = fut_harvest.result()
            next_frontier = self._anchors(wave, h.fresh).unionByName(
                next_frontier
            )
            n_anchor = h.n_anchor

        # lazy localCheckpoint: truncates the LOGICAL plan to a
        # LogicalRDD — without it the handoff chains every prior
        # wave's plan into the next (geometric plan growth; the
        # optimizer/explain pass OOMs after ~8 waves).  The write
        # branch and the next wave's first job share the materialized
        # blocks; released at this wave's commit, which runs after the
        # next wave's critical path has materialized its `fr`, and on
        # block loss the recovery is resume-from-manifest, same as
        # fetchset.  The parquet write LAGS: only the commit (and
        # resume) reads it.  Explicit host-hash range partitioning
        # (BASELINE.json:6 "explicit repartitionByRange").
        next_frontier = next_frontier.localCheckpoint(eager=False)
        frames.append(next_frontier)
        fut_frontier = self._submit(
            pool, LAGGING_POOL, st.write_version, "frontier", v["frontier"] + 1,
            next_frontier.repartitionByRange(
                ops.shuffle_partitions(self.spark),
                F.col("host_hash"),
                F.col("url"),
            ),
        )
        # the next wave reads the hosts parquet; seen/bloom are waited
        # by the next wave's harvest before it builds its plans
        fut_hosts.result()
        # the next frontier is EXACTLY fresh anchors + deferred rows, so
        # its emptiness needs no job and no wait on the lagging write
        n_deferred = sum(r[3] for r in gate_rows if r[2] == "deferred")
        global_fetched = prev["global_fetched"] + n_fetched
        return _Wave(
            manifest={
                "wave_id": wave,
                "versions": {name: n + 1 for name, n in v.items()},
                "seq_next": prev["seq_next"] + n_fetched,
                "global_fetched": global_fetched,
                "bloom": self.bloom.layout,
                "done": n_anchor + n_deferred == 0
                or global_fetched >= self.policy.global_page_budget,
            },
            frontier=next_frontier,
            harvest=fut_harvest,
            sinks=[fut_log, fut_frontier],
            metrics=metrics,
            pool=pool,
            release=frames,
        )

    def _enrich(self, frontier: DataFrame, hosts: DataFrame, frames: list):
        """A11/SPEC-6: hosts join, robots for new hosts, robots gate.

        Returns the robots-allowed rows (with ``t0``, the host's
        pre-wave fetch total), the hosts snapshot with this wave's new
        hosts appended and the ``robots_blocked`` metrics rows.
        """
        pol = self.policy
        # ONE left join against the hosts table yields both the rules/t0
        # enrichment AND new-host detection (unmatched rows), so the
        # distinct shuffles only unmatched rows (wave 0: all, later:
        # ~none) and the robots/union chain short-circuits when there
        # are none — the steady state of a long crawl.  No hint on the
        # hosts side: Spark's planner broadcasts the hosts snapshot
        # while its size stays under autoBroadcastJoinThreshold and
        # shuffle-joins it past that (the 10^8-host design point).
        fr = frontier.join(
            hosts.select("host", "rules_json", "fetch_total"), "host", "left"
        )
        new_hosts = (
            fr.filter(F.col("fetch_total").isNull())
            .select("host", "host_hash")
            .distinct()
        )
        # persisted so the hosts snapshot reuses the SAME robots fetch;
        # materialized lazily by the broadcast exchange below — an
        # explicit count job here measured -20% throughput at local[4]
        # (one extra sequential job per wave).
        new_host_rows = ops.fetch_robots(
            new_hosts, self.web_b, pol.user_agent
        ).persist()
        frames.append(new_host_rows)
        nh = F.broadcast(
            new_host_rows.select(
                "host",
                F.col("rules_json").alias("_rj"),
                F.col("fetch_total").alias("_ft"),
            )
        )
        fr = (
            fr.join(nh, "host", "left")
            .withColumn(
                "rules_json", F.coalesce(F.col("rules_json"), F.col("_rj"))
            )
            .withColumn(
                "fetch_total",
                F.coalesce(F.col("fetch_total"), F.col("_ft")),
            )
            .drop("_rj", "_ft")
        )
        # every frontier row crosses to Python (a CASE skipping rule-less
        # rows still plans the UDF below it; a two-branch union scans
        # the frontier twice); the UDF allows null, "" and "[]" rules
        fr = fr.withColumn(
            "allowed", ops.robots_allowed_udf(F.col("url"), F.col("rules_json"))
        )
        fr = fr.withColumn("t0", F.coalesce(F.col("fetch_total"), F.lit(0)))
        fr = fr.persist()
        frames.append(fr)
        # Materialize `fr` NOW with the robots-blocked partition count
        # (A20): ONE linear job before any other consumer exists.
        # Counting on a lagging branch concurrent with the rank chain's
        # first jobs raced 2-3 stages against the COLD `fr` cache: at
        # local[16] that measured 15-24x per-record JVM-CPU inflation
        # (codegen-lock convoy + duplicate partition compute + unroll
        # churn, BENCH/BASELINE.md §3d), invisible at local[4] — the
        # single biggest contributor to the 4-vs-16 efficiency gap.
        robots_rows = [
            ("robots", pid, "robots_blocked", n)
            for pid, n in ops.partition_counts(fr.filter(~F.col("allowed")))
        ]
        # Columns dead past the robots gate are dropped BEFORE the rank
        # chain: rules_json (robots JSON strings — the widest column),
        # the allowed flag, raw fetch_total (t0 already extracted) and
        # state (only ever re-emitted as a literal).  Everything from
        # the salt/grouped rank shuffles through the fetchset cache and
        # the gate anti-join carries the narrower rows.
        allowed = fr.filter(F.col("allowed")).drop(
            "rules_json", "fetch_total", "allowed", "state"
        )
        return allowed, hosts.unionByName(new_host_rows), robots_rows

    def _schedule(self, allowed: DataFrame, prev: dict, frames: list):
        """A5+A9+A10: candidates, global rank and the G cutoff.

        Returns the fetchset (materialized), its per-partition
        ``fetched`` metrics rows, whether no fetched page can emit an
        anchor and the gate's post-exhaustion predicate (module
        docstring: key > K*).
        """
        remaining = self.policy.global_page_budget - prev["global_fetched"]
        cand, cached = ops.candidate_set(allowed, self.policy)
        frames.append(cached)
        ranked, cached = ops.with_global_rank(cand, KEY, out_col="g")
        frames.append(cached)
        # lazy localCheckpoint (not persist): every downstream branch
        # re-references this frame (anti-join, per-host agg, log write,
        # fetch stage), and the branches run from CONCURRENT driver
        # threads — a checkpointed LogicalRDD hands each of them
        # precomputed partitions, while persist() was measured 2.4x
        # slower wall-clock on the 2×10^5 bench (r2 bisect: 180s vs
        # 54s).  Its RDD blocks are NOT freed by DataFrame.unpersist();
        # _release_cached reaches into the LogicalRDD at wave commit.
        fetchset = (
            ranked.filter(F.col("g") < remaining)
            .withColumn("seq", F.col("g") + F.lit(prev["seq_next"]))
            .localCheckpoint(eager=False)
        )
        frames.append(fetchset)
        # ONE materializing job: per-partition fetched counts (A20),
        # the min depth (decides whether the wave can emit anchors) and
        # the last fetched key K* (the G gate's exhaustion point)
        rows = (
            fetchset.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("n"),
                F.min("depth").alias("d"),
                F.max("g").alias("g"),
                F.max_by(F.struct(*KEY), "g").alias("k"),
            )
            .collect()
        )
        fetch_rows = [
            ("fetch", int(r["partition_id"]), "fetched", int(r["n"]))
            for r in rows
        ]
        n_fetched = sum(r[3] for r in fetch_rows)
        # No fetched page sits above max_depth-1 => no extracted anchor
        # survives SPEC-7, so the next frontier is EXACTLY this wave's
        # deferred rows — which depend only on the politeness gate, not
        # on the fetch ("frontier processing": image harvesting over a
        # pre-built frontier, and every crawl's final depth tier).
        min_depth = min((int(r["d"]) for r in rows), default=None)
        no_anchor = min_depth is None or min_depth >= self.policy.max_depth
        if n_fetched < remaining:  # G not exhausted this wave
            post = F.lit(False)
        elif not rows:  # exhausted before the first fetch
            post = F.lit(True)
        else:
            kstar = max(rows, key=lambda r: r["g"])["k"]
            post = F.struct(*KEY) > F.struct(
                *[F.lit(kstar[c]).alias(c) for c in KEY]
            )
        return fetchset, fetch_rows, no_anchor, post

    def _gate(
        self, allowed: DataFrame, fetchset: DataFrame, fh: DataFrame, post, frames
    ):
        """Closed-form dropped/deferred classification of the rows not
        fetched (module docstring) + per-partition gate metrics rows,
        one job; returns the persisted classified rows and the rows."""
        pol = self.policy
        rest = (
            allowed.join(fetchset.select("url"), "url", "left_anti")
            .join(fh, "host", "left")
            .withColumn("F_h", F.coalesce(F.col("F_h"), F.lit(0)))
            .withColumn(
                "cap_h",
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(pol.per_host_wave_budget),
                        F.lit(pol.per_host_total_cap) - F.col("t0"),
                    ),
                ),
            )
        )
        f_eff = F.when(post, F.col("F_h")).otherwise(F.col("cap_h"))
        rest = rest.withColumn(
            "status",
            F.when(
                F.col("t0") + f_eff >= F.lit(pol.per_host_total_cap),
                "dropped",
            )
            .when(f_eff >= F.lit(pol.per_host_wave_budget), "deferred")
            .otherwise("dropped"),
        ).persist()
        frames.append(rest)
        rows = [
            ("gate", int(r["partition_id"]), r["status"], int(r["n"]))
            for r in rest.groupBy(
                F.spark_partition_id().alias("partition_id"), "status"
            )
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        return rest, rows

    def _harvest(
        self,
        wave: int,
        v: dict,
        fetchset: DataFrame,
        handoff: _Wave | None,
        pool: ThreadPoolExecutor,
        frames: list,
    ) -> _Harvest:
        """A12–A18: fetch → extract → dedup, then the images, seen and
        bloom branches.

        Each discovered URL is decided once (SPEC-4/7), in one
        aggregate of the wave's refs grouped by URL.  An occurrence is
        *eligible* if it is an image or an anchor within ``max_depth``.
        A URL in the seen set counts every occurrence in ``deduped``;
        an unseen URL with an eligible occurrence is fresh, its first
        eligible occurrence by (seq, pos) enters the seen set and every
        occurrence after it counts, eligible or not; beyond-depth
        anchors before it, and an unseen URL with only beyond-depth
        anchors, are silent.  The Bloom flag (A6) decides which URLs the
        exact seen join (A7) looks at: a Bloom-negative URL is unseen.

        Cross-wave dependencies are waited HERE, not at wave entry:
        (a) the previous wave's bloom shard update must be durable
        before this wave's fused probe (SPEC-4 zero false negatives);
        (b) the previous wave's seen DELTA must be durable before the
        delta-union plan is *built* — read_delta_union skips
        not-yet-written version dirs at plan time, so an early plan
        would silently drop the newest delta and double-crawl its URLs.
        """
        st, pol = self.store, self.policy
        if handoff is not None:
            prev_h = handoff.harvest.result()
            prev_h.fut_seen.result()
            prev_h.fut_bloom.result()
        seen = st.read_delta_union("seen", v["seen"])

        # --- A12/A13(+A2+A6): fused fetch+extract+canon+bloom -------
        refs = ops.fetch_extract(fetchset, self.web_b, self.bloom, v["seen"])
        eligible = (F.col("kind") != "a") | (F.col("parent_depth") < pol.max_depth)
        # min_by skips the null ordering of ineligible rows; partial
        # map-side combine collapses duplicate URLs before the shuffle
        key = F.struct("seq", "pos")
        first = F.struct("parent_depth", "seq", "pos", "kind", "caption")
        by_url = refs.groupBy("url").agg(
            F.bool_or("maybe_seen").alias("maybe_seen"),
            F.count("*").alias("n_all"),
            F.min_by(first, F.when(eligible, key)).alias("first"),
            F.collect_list(F.when(~eligible, key)).alias("beyond"),
        )
        # the exact seen join (A7) matches Bloom-positive URLs only; a
        # Bloom-negative URL is unseen (zero false negatives)
        seen_urls = seen.select(F.col("url").alias("_seen"))
        by_url = by_url.join(
            seen_urls, F.col("maybe_seen") & (F.col("url") == F.col("_seen")), "left"
        )
        is_seen = F.col("_seen").isNotNull()
        is_fresh = ~is_seen & F.col("first").isNotNull()
        first_key = F.struct(F.col("first.seq"), F.col("first.pos"))
        silent = F.size(F.filter("beyond", lambda k: k < first_key))
        dups = F.when(is_seen, F.col("n_all")).when(
            is_fresh, F.col("n_all") - 1 - silent
        )
        decided = by_url.select(
            "url", "first.*", is_fresh.alias("fresh"), dups.otherwise(0).alias("dups")
        )
        is_new = F.col("fresh")
        decided = ops.with_host(decided).persist()
        frames.append(decided)
        # materialize ONCE before three concurrent consumers fork — a
        # cold persisted frame hit by parallel jobs computes per-job.
        # The same job sums the dups per partition and counts the fresh
        # URLs, anchors (with the gate's deferred count they decide
        # frontier emptiness without waiting on the frontier write)
        # and images.
        rows = decided.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.sum("dups").alias("dups"),
            F.count_if(is_new).alias("fresh"),
            F.count_if(is_new & (F.col("kind") == "a")).alias("anchors"),
            F.count_if(is_new & (F.col("kind") == "img")).alias("images"),
        ).collect()
        n_fresh, n_anchor, n_img = (
            sum(r[c] for r in rows) for c in ("fresh", "anchors", "images")
        )
        fresh = decided.filter(is_new)

        def write_seen() -> None:
            # delta write: only this wave's new URLs (append-only)
            st.write_version(
                "seen",
                v["seen"] + 1,
                fresh.select(
                    "url",
                    "host_hash",
                    F.lit(wave).alias("first_wave"),
                    (F.col("parent_depth") + 1).alias("depth"),
                    F.col("seq").alias("parent_rank"),
                    F.col("pos").alias("link_pos"),
                ),
            )

        def update_bloom() -> None:
            # A18: OR the new URLs' bits into the bloom shards, off the
            # critical path (the next wave probes them at its FETCH
            # stage) but durable before this wave's commit, or resume
            # would see bloom false negatives (SPEC-4).  An empty delta
            # writes no version: load_shard falls back to an older one.
            if n_fresh:
                bloom_mod.update(
                    fresh.select("url"), self.bloom, v["seen"], v["seen"] + 1
                )

        fut_images = self._submit(pool, LAGGING_POOL, self._images, wave, fresh, n_img)
        fut_seen = self._submit(pool, CRITICAL_POOL, write_seen)
        fut_bloom = self._submit(pool, LAGGING_POOL, update_bloom)
        return _Harvest(
            metrics=[
                ("dedup", r["pid"], "deduped", r["dups"]) for r in rows if r["dups"]
            ],
            n_anchor=n_anchor,
            fresh=fresh,
            fut_images=fut_images,
            fut_seen=fut_seen,
            fut_bloom=fut_bloom,
        )

    def _images(self, wave: int, fresh: DataFrame, n_img: int) -> list[tuple]:
        """A14/A15/A16: decode + verify + phash + images sink; returns
        the ``decode_failed`` metrics rows.  A wave without a fresh
        image runs no job and writes no images file."""
        if not n_img:
            return []
        decoded = ops.decode_images(
            fresh.filter(F.col("kind") == "img"), self.web_b
        ).persist()
        try:
            rows = [
                ("decode", pid, "decode_failed", n)
                for pid, n in ops.partition_counts(decoded.filter(~F.col("ok")))
            ]
            self.store.write_wave(
                "images",
                wave,
                decoded.filter(F.col("ok")).select(
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
                ),
            )
        finally:
            decoded.unpersist()
        return rows

    @staticmethod
    def _deferred(rest: DataFrame) -> DataFrame:
        """Next-frontier rows the gate deferred, with their ORIGINAL
        key (SPEC-5)."""
        return rest.filter(F.col("status") == "deferred").select(
            "url",
            "host",
            "host_hash",
            "depth",
            "parent_rank",
            "link_pos",
            "discovered_wave",
            F.lit("DEFERRED").alias("state"),
        )

    @staticmethod
    def _anchors(wave: int, fresh: DataFrame) -> DataFrame:
        """Next-frontier rows from this wave's fresh anchors, at
        depth + 1."""
        return fresh.filter(F.col("kind") == "a").select(
            "url",
            "host",
            "host_hash",
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("seq").alias("parent_rank"),
            F.col("pos").alias("link_pos"),
            F.lit(wave).alias("discovered_wave"),
            F.lit("PENDING").alias("state"),
        )

    def _wave_commit(self, w: _Wave, prev_manifest: dict) -> dict:
        """Join wave w's lagging branches, write its metrics table,
        commit its manifest (the ordered, atomic commit point) and
        release its cached frames.

        Every counter delta is the per-name sum of the wave's
        ``(stage, pid, name, n)`` metrics rows, so the counters and the
        metrics table cannot disagree (SPEC-11).  Runs after wave w+1's
        critical path — the image decode/sink and crawl-log writes it
        waits on overlap that compute.
        """
        st = self.store
        wave = w.manifest["wave_id"]
        # the harvest may still be running under depth-exhausted
        # pipelining — join it first, then its sub-branches
        h = w.harvest.result()
        metrics = w.metrics + h.metrics + h.fut_images.result()
        # the frontier parquet, seen delta and bloom update must be
        # durable before the manifest rename names their version:
        # resume reads the frontier from disk, and missing shard bits
        # would be bloom false negatives (SPEC-4)
        for fut in (*w.sinks, h.fut_seen, h.fut_bloom):
            fut.result()
        w.pool.shutdown(wait=True)
        st.write_wave("metrics", wave, self._metrics_df(wave, metrics))

        counters = dict(prev_manifest["counters"])
        for _, _, name, n in metrics:
            counters[name] += n
        manifest = {**w.manifest, "counters": counters}
        st.commit(manifest)
        for df in w.release:
            _release_cached(df)
        return manifest

    # -------------------------------------------------------- helpers

    def _metrics_df(self, wave: int, entries: list[tuple]) -> DataFrame:
        """Wide per-(stage, partition) metrics rows (FIXTURES §A6)."""
        byp: dict[tuple[str, int], dict[str, int]] = {}
        for stage, pid, name, n in entries:
            byp.setdefault((stage, pid), {})[name] = (
                byp.setdefault((stage, pid), {}).get(name, 0) + n
            )
        rows = [
            (
                wave,
                stage,
                pid,
                int(c.get("fetched", 0)),
                int(c.get("deduped", 0)),
                int(c.get("deferred", 0)),
                int(c.get("dropped", 0)),
                int(c.get("robots_blocked", 0)),
                int(c.get("decode_failed", 0)),
            )
            for (stage, pid), c in sorted(byp.items())
        ]
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)
