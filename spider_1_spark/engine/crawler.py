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
single-process crawl: per-host ranks come from salted windows
(operators.candidate_set), the global rank from a two-phase
zipWithIndex (operators.with_global_rank), and everything else is
joins + column expressions — no sequential scan anywhere.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_1_spark.engine import bloom as bloom_mod
from spider_1_spark.engine import operators as ops
from spider_1_spark.engine.state import HOSTS_SCHEMA, METRICS_SCHEMA
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


def _release_cached(df: DataFrame) -> None:
    """Release a wave's cached frame COMPLETELY at commit.

    ``DataFrame.unpersist()`` only drops cache-manager entries; the RDD
    blocks of a ``localCheckpoint``'ed frame are not among them and
    would linger until GC/ContextCleaner — unbounded cached-block
    growth on long crawls (ADVICE r1).  A checkpointed frame's plan is
    a ``LogicalRDD`` wrapping the materialized RDD: unpersist that RDD
    directly.  Non-checkpointed frames pass through the plan probe
    harmlessly.
    """
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
        """Fresh crawl: ingest seeds, loop waves, commit per wave."""
        frontier, seed_deduped = ops.ingest_seeds(self.spark, seeds)
        return self._start(frontier, seed_deduped, max_waves)

    def run_frontier(
        self, seed_frame: DataFrame, max_waves: int | None = None
    ) -> CrawlArtifacts:
        """Fresh crawl from a (seed_rank, raw_url) DataFrame (bench path)."""
        frontier, seed_deduped = ops.ingest_seed_frame(seed_frame)
        return self._start(frontier, seed_deduped, max_waves)

    def _start(
        self, frontier: DataFrame, seed_deduped: int, max_waves: int | None
    ) -> CrawlArtifacts:
        st = self.store
        st.cleanup()
        st.write_version("frontier", 0, frontier)
        seen0 = st.read_version("frontier", 0).select(
            "url",
            "host_hash",
            F.lit(0).alias("first_wave"),
            "depth",
            "parent_rank",
            "link_pos",
        )
        st.write_version("seen", 0, seen0)
        st.write_version("hosts", 0, self.spark.createDataFrame([], HOSTS_SCHEMA))
        self.bloom.prune(-1)
        bloom_mod.update(seen0.select("url"), self.bloom, -1, 0)
        counters = {k: 0 for k in COUNTER_NAMES}
        counters["deduped"] = seed_deduped
        # empty seed frontier => zero waves, like the oracle's
        # `while frontier:` never entering the loop
        empty = st.read_version("frontier", 0).limit(1).count() == 0
        manifest = {
            "wave_id": -1,
            "versions": {"frontier": 0, "seen": 0, "hosts": 0},
            "seq_next": 0,
            "global_fetched": 0,
            "counters": counters,
            "done": empty,
        }
        st.commit(manifest)
        return self._loop(manifest, max_waves)

    def resume(self, max_waves: int | None = None) -> CrawlArtifacts:
        """EP2: continue from the last committed manifest (SPEC-12)."""
        st = self.store
        manifest = st.read_manifest()
        if manifest is None:
            raise ValueError(f"no manifest at {self.store.root}")
        st.cleanup()
        self.bloom.prune(manifest["versions"]["seen"])
        return self._loop(manifest, max_waves)

    # ----------------------------------------------------------- loop

    def _loop(self, manifest: dict, max_waves: int | None) -> CrawlArtifacts:
        """Pipelined wave loop.

        Wave w+1's CRITICAL path (schedule → fetch → dedup → seen /
        frontier / hosts snapshots — everything the next wave reads)
        starts as soon as wave w's critical path ends; wave w's LAGGING
        branches (images sink append, crawl-log write, metrics, and the
        manifest rename) drain concurrently and commit while w+1
        computes.  Manifest commits stay strictly sequential, so the
        crash contract is unchanged: anything newer than the committed
        manifest is pruned on resume and the wave replays idempotently
        (SPEC-12; tests/test_checkpoint.py).
        """
        waves_run = 0
        pending: dict | None = None
        latest = manifest  # last COMMITTED manifest
        # the loop thread drives every critical-path job
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", CRITICAL_POOL
        )
        try:
            while not (
                pending["done"] if pending is not None else latest["done"]
            ):
                if max_waves is not None and waves_run >= max_waves:
                    break
                src = pending if pending is not None else latest
                new_pending = self._wave_critical(src)
                waves_run += 1
                if pending is not None:
                    latest = self._wave_commit(pending, latest)
                pending = new_pending
            if pending is not None:
                latest = self._wave_commit(pending, latest)
                # no next wave will consume the final handoff frame
                if pending.get("_frontier_df") is not None:
                    _release_cached(pending["_frontier_df"])
                pending = None
        except BaseException:
            # a failed wave must not abandon in-flight branch threads:
            # drain both the previous wave's lagging pool and the
            # failing wave's own pool so no thread is still writing
            # files while the exception unwinds (a caller that catches
            # and resume()s would otherwise race those writers against
            # cleanup()'s pruning — ADVICE r1)
            pools = [pending["_pool"]] if pending is not None else []
            active = getattr(self, "_active_pool", None)
            if active is not None and all(active is not p for p in pools):
                pools.append(active)
            for p in pools:
                p.shutdown(wait=True)
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

    def _branch(self, pool_name: str, fn):
        """Tag a branch thread's Spark jobs with a scheduler pool.

        Pool local-properties are per-thread and executor threads are
        reused across branches with different pools, so each branch
        must (re)set its own at entry — thread-creation inheritance
        cannot be relied on.
        """
        sc = self.spark.sparkContext

        def wrapped(*a, **kw):
            sc.setLocalProperty("spark.scheduler.pool", pool_name)
            return fn(*a, **kw)

        wrapped.__name__ = getattr(fn, "__name__", "branch")
        return wrapped

    def _wave_critical(self, src: dict) -> dict:
        """Run wave ``src["wave_id"]+1`` up to (and including) the state
        snapshots the NEXT wave reads; return a ``pending`` dict with
        the lagging futures for _wave_commit.  ``src`` is either the
        last committed manifest or the previous wave's pending dict —
        only its versions / seq_next / global_fetched / wave_id are
        read (counters are resolved at commit time)."""
        spark, st, pol = self.spark, self.store, self.policy
        wave = src["wave_id"] + 1
        v = src["versions"]
        remaining = pol.global_page_budget - src["global_fetched"]
        cdelta = {k: 0 for k in COUNTER_NAMES}
        metrics: list[tuple] = []  # (stage, pid, counter_name, n)

        # In-memory handoff from the previous wave when available: the
        # frontier PARQUET write is a lagging branch (joined at that
        # wave's commit), so reading it back here would stall on it.
        # The handoff plan recomputes from frames the previous wave
        # keeps cached until its commit — which happens only after
        # this wave's critical path.  Resume / wave 0 read the
        # committed snapshot.  The enriched `fr` below is persisted
        # MEMORY_AND_DISK and materialized by this wave's first job,
        # i.e. before the previous wave's frames are released; after
        # that release the handoff lineage is no longer recomputable
        # (it crosses a freed localCheckpoint), so a lost `fr` block on
        # a real cluster fails the wave — recovery is the normal
        # resume-from-manifest contract, which reads parquet only.
        frontier = src.get("_frontier_df")
        if frontier is None:
            frontier = st.read_version("frontier", v["frontier"])
        hosts = st.read_version("hosts", v["hosts"])
        # NOTE: the seen delta-union plan is built inside harvest_run
        # below, AFTER the previous wave's seen write is durable —
        # read_delta_union skips not-yet-written version dirs at plan
        # time, so building it here under harvest pipelining would
        # silently drop the newest delta.

        # --- A11/SPEC-6: hosts enrichment + robots for new hosts -----
        # ONE left join against the hosts table yields both the
        # rules/t0 enrichment AND new-host detection (unmatched rows).
        # The r1 shape (frontier-wide distinct → anti-join → robots →
        # union → semi-join → broadcast, every wave) paid its full cost
        # even when a wave brought no new hosts — the steady state of a
        # long crawl; now the distinct shuffles only unmatched rows
        # (wave 0: all, later: ~none) and the robots/union chain
        # short-circuits entirely when there are none.  No hint on the
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
        # persisted so the hosts snapshot branch reuses the SAME robots
        # fetch (no re-fetch on side paths); materialized lazily by the
        # broadcast exchange below — NO driver-blocking count job sits
        # in the critical path (an explicit count here measured -20%
        # throughput at local[4]: one extra sequential job per wave).
        # In the steady state (no new hosts) the broadcast is empty and
        # the join/union below cost ~nothing.
        new_host_rows = ops.fetch_robots(
            new_hosts, self.web_b, pol.user_agent
        ).persist()
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
        hosts_all = hosts.unionByName(new_host_rows)

        # --- robots gate + t0 ----------------------------------------
        # allow-all hosts (rules_json "[]") short-circuit JVM-side; the
        # rule-match UDF output is only consulted for hosts with real
        # rules.  (A two-branch union was tried and reverted: it scans
        # the frontier twice, which costs more than the vectorized UDF.)
        no_rules = F.col("rules_json").isNull() | (F.col("rules_json") == "[]")
        fr = fr.withColumn(
            "allowed",
            F.when(no_rules, F.lit(True)).otherwise(
                ops.robots_allowed_udf(F.col("url"), F.col("rules_json"))
            ),
        )
        fr = fr.withColumn("t0", F.coalesce(F.col("fetch_total"), F.lit(0)))
        fr = fr.persist()
        # Materialize `fr` NOW, with the robots-blocked partition count
        # the wave needs anyway (A20) — ONE linear job, before any
        # other consumer exists.  The r1 shape computed this count on a
        # lagging branch concurrent with the rank chain's first jobs,
        # so 2-3 stages raced the COLD `fr` cache: at local[16] that
        # measured 15-24x per-record JVM-CPU inflation (codegen-lock
        # convoy + duplicate partition compute + unroll churn,
        # BENCH/BASELINE.md §3d) and was invisible at local[4] — the
        # single biggest contributor to the 4-vs-16 efficiency gap.
        # Every downstream job (candidate ranking, gate, robots
        # metrics) now reads `fr` warm.
        robots_rows = [
            ("robots", pid, "robots_blocked", n)
            for pid, n in self._pcount_rows(fr.filter(~F.col("allowed")))
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

        # --- A5+A9+A10: candidates, global rank, G cutoff ------------
        cand = ops.candidate_set(allowed, pol)
        ranked = ops.with_global_rank(cand, spark, KEY, out_col="g")
        fetchset = ranked.filter(F.col("g") < remaining).withColumn(
            "seq", F.col("g") + F.lit(src["seq_next"])
        )
        # lazy localCheckpoint (not persist): every downstream branch
        # re-references this frame (anti-join, per-host agg, log write,
        # fetch stage), and the branches run from CONCURRENT driver
        # threads — a checkpointed LogicalRDD hands each of them
        # precomputed partitions, while persist() was measured 2.4x
        # slower wall-clock on the 2×10^5 bench (r2 bisect: 180s vs
        # 54s).  Its RDD blocks are NOT freed by DataFrame.unpersist();
        # _release_cached reaches into the LogicalRDD at wave commit
        # (ADVICE r1: cached-block growth on long crawls).  Lazy: the
        # per-partition count right below is the single next action,
        # so it doubles as the materializing job.
        fetchset = fetchset.localCheckpoint(eager=False)
        # ONE materializing job: per-partition fetched counts (A20)
        # plus the fetchset's min depth — the depth decides whether
        # this wave can emit anchors at all (pipelining gate below)
        fetch_rows = (
            fetchset.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n"), F.min("depth").alias("d"))
            .collect()
        )
        fetch_pc = [(int(r["partition_id"]), int(r["n"])) for r in fetch_rows]
        min_depth = min((int(r["d"]) for r in fetch_rows), default=None)
        for pid, n in fetch_pc:
            metrics.append(("fetch", pid, "fetched", n))
        n_fetched = sum(n for _, n in fetch_pc)
        cdelta["fetched"] += n_fetched
        # No fetched page sits above max_depth-1 => no extracted anchor
        # survives SPEC-7, so the next frontier is EXACTLY this wave's
        # deferred rows — which depend only on the politeness gate, not
        # on the fetch.  That decouples the next wave's schedule+rank
        # chain from this wave's fetch/decode stage (the "frontier
        # processing" regime: image harvesting over a pre-built
        # frontier, and every crawl's final depth tier).
        no_anchor = min_depth is None or min_depth >= pol.max_depth
        # n_cand >= remaining  <=>  the G budget ran out mid-wave
        exhausted = n_fetched == remaining
        if exhausted:
            kstar = (
                fetchset.filter(F.col("g") == remaining - 1)
                .select(*KEY)
                .collect()[0]
            )
        else:
            kstar = None

        # --- concurrent wave DAG -------------------------------------
        # The rest of the wave is a DAG of Spark jobs whose edges are
        # the persisted frames; independent branches run from driver
        # threads (a SparkSession is thread-safe for job submission)
        # so the JVM-side write/count jobs — low CPU, latency-bound —
        # overlap the Arrow/Python stages that saturate the cores.
        # Each persisted frame is materialized by exactly ONE job
        # before concurrent consumers fork, so nothing computes twice.
        # Completion order never affects results: the manifest rename
        # at the end is still the single sequential commit (SPEC-12).
        # one worker per branch (≤10 live submissions/wave: fh, robots,
        # log, gate, hosts, frontier, harvest + the harvest's images/
        # seen/bloom).  bloom_after_seen BLOCKS on fut_seen while
        # holding a worker, and the harvest thread holds one while
        # submitting three more, so the pool must stay comfortably
        # above the live count or a queued dependency deadlocks it
        pool = ThreadPoolExecutor(max_workers=12)
        self._active_pool = pool  # drained by _loop on mid-wave failure

        def robots_branch() -> list[tuple]:
            # computed up front as fr's materializing job (see above)
            return robots_rows

        def log_branch() -> None:
            # fetchset is already range-partitioned + sorted by KEY and
            # seq = g + const is monotone across those partitions, so
            # the output files are seq-contiguous as-is; every reader
            # orders by the seq COLUMN.  A repartitionByRange(seq) here
            # re-shuffled the whole fetchset (plus a range-sampling
            # job) per wave for nothing — removed (r2 profile: the log
            # branch was a full-shuffle job competing with the fetch
            # stage for cores).
            st.write_wave(
                "crawl_log",
                wave,
                fetchset.select(
                    "seq",
                    "url",
                    "depth",
                    "parent_rank",
                    "link_pos",
                    F.lit(wave).alias("wave_id"),
                ),
            )

        # per-host fetched counts — ONE shuffle of fetchset, shared by
        # the gate and hosts branches (each previously re-aggregated it:
        # two identical fetchset shuffles per wave).  Tiny result
        # (≤ #hosts rows), materialized by a pool job both consumers
        # join on.
        fh = fetchset.groupBy("host").agg(F.count("*").alias("F_h")).persist()

        def _f_h() -> DataFrame:
            fut_fh.result()
            return fh

        def gate_branch():
            """Closed-form dropped/deferred classification (module
            docstring) + per-partition gate counters, one job."""
            rest = (
                allowed.join(fetchset.select("url"), "url", "left_anti")
                .join(_f_h(), "host", "left")
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
            if kstar is not None:
                post = (
                    F.struct(*[F.col(c) for c in KEY])
                    > F.struct(*[F.lit(kstar[c]).alias(c) for c in KEY])
                )
            else:
                post = F.lit(False)
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
            rows = [
                ("gate", int(r["partition_id"]), r["status"], int(r["n"]))
                for r in rest.groupBy(
                    F.spark_partition_id().alias("partition_id"), "status"
                )
                .agg(F.count("*").alias("n"))
                .collect()
            ]
            return rest, rows

        def hosts_branch() -> None:
            hosts_next = (
                hosts_all.join(_f_h(), "host", "left")
                .withColumn(
                    "fetch_total",
                    (
                        F.col("fetch_total")
                        + F.coalesce(F.col("F_h"), F.lit(0))
                    ).cast("int"),
                )
                .drop("F_h")
            )
            st.write_version("hosts", v["hosts"] + 1, hosts_next)

        def fh_branch() -> int:
            return fh.count()

        fut_fh = pool.submit(self._branch(CRITICAL_POOL, fh_branch))
        fut_robots = pool.submit(self._branch(LAGGING_POOL, robots_branch))
        fut_log = pool.submit(self._branch(LAGGING_POOL, log_branch))
        fut_gate = pool.submit(self._branch(CRITICAL_POOL, gate_branch))
        fut_hosts = pool.submit(self._branch(CRITICAL_POOL, hosts_branch))

        def harvest_run() -> dict:
            """A12–A18: fetch → extract → dedup → seen/bloom/images.

            Runs INLINE on the loop thread when this wave can emit
            anchors (the next frontier then needs ``fresh``), and on a
            pool thread (HARVEST_POOL) when it cannot (``no_anchor``):
            the loop then schedules wave w+1's entire schedule+rank
            chain WHILE this wave fetches/decodes — the profile showed
            those chains serializing ~35 s of a 4-wave 10^6 run at
            local[16] against otherwise-idle cores.

            Cross-wave dependencies are waited HERE, not at wave
            entry: (a) the previous wave's bloom shard update must be
            durable before this wave's fused probe (SPEC-4 zero false
            negatives); (b) the previous wave's seen DELTA must be
            durable before the delta-union plan is *built* —
            read_delta_union skips not-yet-written version dirs at
            plan time, so an early plan would silently drop the
            newest delta and double-crawl its URLs.
            """
            prev_h = src.get("_fut_harvest")
            if prev_h is not None:
                ph = prev_h.result()
                ph["fut_seen"].result()
                ph["fut_bloom"].result()
            seen = st.read_delta_union("seen", v["seen"])
            hmetrics: list[tuple] = []
            hdelta = {"deduped": 0}

            # --- A12/A13(+A2+A6): fused fetch+extract+canon+bloom ---
            refs = ops.fetch_extract(
                fetchset, self.web_b, self.bloom, v["seen"]
            ).persist()

            # seen gate (A7): ONLY maybe-seen rows are joined against
            # the seen table (bloom-negative rows are definitely new —
            # zero false negatives by construction); a single left
            # join serves both the dup counter and the new-ref filter.
            seen_urls = seen.select("url")
            maybe = refs.filter(F.col("maybe_seen")).drop("maybe_seen")
            sure_new = refs.filter(~F.col("maybe_seen")).drop("maybe_seen")
            marked = maybe.join(
                seen_urls.withColumn("_seen", F.lit(True)), "url", "left"
            ).persist()
            dup_seen = marked.filter(F.col("_seen").isNotNull())
            new_refs = sure_new.unionByName(
                marked.filter(F.col("_seen").isNull()).drop("_seen")
            )

            # beyond-max_depth anchors vanish silently BEFORE
            # intra-wave dedup (oracle inserts nothing into seen for
            # them — SPEC-7)
            new_refs = new_refs.filter(
                ~(
                    (F.col("kind") == "a")
                    & (F.col("parent_depth") + 1 > F.lit(pol.max_depth))
                )
            )
            # A8 intra-wave dedup: first discovery by (seq, pos) wins.
            # Hash aggregate (min_by) instead of a sort window: partial
            # map-side combine collapses duplicate URLs before the
            # shuffle — the sort-based row_number variant shuffled
            # every ref.
            grouped = new_refs.groupBy("url").agg(
                F.min_by(
                    F.struct("parent_depth", "seq", "pos", "kind", "caption"),
                    F.struct("seq", "pos"),
                ).alias("first"),
                F.count("*").alias("n_occ"),
            )
            grouped = grouped.persist()
            pidc = F.spark_partition_id().alias("partition_id")
            # Two SEQUENTIAL linear jobs instead of the r1 3-branch
            # union: the union's map stages raced the COLD refs/
            # marked/grouped caches — concurrent stages over a cold
            # cached frame measured 15-24x per-record CPU inflation at
            # local[16] (§3d), and here the duplicated partition
            # compute is the Python fetch/extract stage itself, the
            # wave's most expensive work.  Job 1 scans `marked`
            # (materializing refs + marked — the fetch stage runs
            # exactly once); job 2 aggregates `grouped` (built from
            # the now-warm marked) in ONE scan yielding both the
            # intra-wave dup counts and the next-wave anchor count —
            # the latter (with the gate's deferred count) decides
            # frontier emptiness WITHOUT waiting for the frontier
            # parquet write.
            n_anchor_next = 0
            dedup_by_pid: dict[int, int] = {}
            for r in (
                dup_seen.groupBy(pidc)
                .agg(F.count("*").cast("long").alias("n"))
                .collect()
            ):
                n = int(r["n"] or 0)
                if n:
                    dedup_by_pid[int(r["partition_id"])] = n
            for r in (
                grouped.groupBy(pidc)
                .agg(
                    F.sum(F.col("n_occ") - 1).cast("long").alias("dups"),
                    F.sum(
                        F.when(F.col("first.kind") == "a", 1).otherwise(0)
                    ).cast("long").alias("anchors"),
                )
                .collect()
            ):
                n = int(r["dups"] or 0)
                if n:
                    pid = int(r["partition_id"])
                    dedup_by_pid[pid] = dedup_by_pid.get(pid, 0) + n
                n_anchor_next += int(r["anchors"] or 0)
            for pid, n in sorted(dedup_by_pid.items()):
                hmetrics.append(("dedup", pid, "deduped", n))
                hdelta["deduped"] += n
            fresh = grouped.select("url", "first.*")
            fresh = ops.with_host(fresh).persist()
            # materialize ONCE before three concurrent consumers fork —
            # a cold persisted frame hit by parallel jobs computes
            # per-job
            n_fresh = fresh.count()

            def images_branch():
                """A14/A15/A16: decode + verify + phash + sink."""
                img_refs = fresh.filter(F.col("kind") == "img")
                decoded = ops.decode_images(img_refs, self.web_b).persist()
                rows = [
                    ("decode", pid, "decode_failed", n)
                    for pid, n in self._pcount_rows(
                        decoded.filter(~F.col("ok"))
                    )
                ]
                st.write_wave(
                    "images",
                    wave,
                    decoded.filter(F.col("ok")).select(
                        "image_id", "bytes", "w", "h", "fmt", "caption",
                        "phash",
                    ),
                )
                decoded.unpersist()
                return rows

            def seen_branch() -> None:
                # delta write: only this wave's new URLs (append-only)
                seen_new = fresh.select(
                    "url",
                    "host_hash",
                    F.lit(wave).alias("first_wave"),
                    (F.col("parent_depth") + 1).alias("depth"),
                    F.col("seq").alias("parent_rank"),
                    F.col("pos").alias("link_pos"),
                )
                st.write_version("seen", v["seen"] + 1, seen_new)

            def bloom_branch() -> None:
                # A18: OR the new URLs' bits into the bloom shards.
                # Runs AFTER the seen write but outside the critical
                # join: the next wave needs the shards only at its
                # FETCH stage, not at schedule time.  It MUST complete
                # before this wave's manifest commit: a committed
                # manifest with missing shard bits would give the
                # resume path bloom false negatives (SPEC-4).  An empty
                # delta writes no version: load_shard falls back to the
                # newest older one.
                if n_fresh:
                    bloom_mod.update(
                        st.read_version("seen", v["seen"] + 1).select("url"),
                        self.bloom,
                        v["seen"],
                        v["seen"] + 1,
                    )

            def _submit(fn):
                # Under no_anchor pipelining harvest_run itself runs in
                # a pool thread; if the loop thread's failure drain has
                # already shutdown() this pool, submit raises a bare
                # "cannot schedule new futures after shutdown"
                # RuntimeError inside an abandoned future (ADVICE r2).
                # Harmless — the manifest never commits and resume
                # replays the wave — but re-raise it with the context
                # so a debugger reading the abandoned future's
                # exception isn't chasing a phantom scheduling bug.
                try:
                    return pool.submit(fn)
                except RuntimeError as e:
                    raise RuntimeError(
                        "harvest sub-branch not scheduled: the wave "
                        "pool was shut down by a concurrent wave "
                        "failure (this wave never commits; resume "
                        "replays it)"
                    ) from e

            fut_images = _submit(self._branch(LAGGING_POOL, images_branch))
            fut_seen = _submit(self._branch(CRITICAL_POOL, seen_branch))

            def bloom_after_seen() -> None:
                fut_seen.result()
                bloom_branch()

            fut_bloom = _submit(self._branch(LAGGING_POOL, bloom_after_seen))
            return {
                "metrics": hmetrics,
                "cdelta": hdelta,
                "n_anchor": n_anchor_next,
                "fresh": fresh,
                "fut_images": fut_images,
                "fut_seen": fut_seen,
                "fut_bloom": fut_bloom,
                "unpersist": [refs, marked, grouped, fresh],
            }

        def _deferred_frontier(rest: DataFrame) -> DataFrame:
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

        def _next_frontier(rest: DataFrame, fresh: DataFrame) -> DataFrame:
            # next frontier = fresh anchors at depth+1  ∪  deferred
            return (
                fresh.filter(F.col("kind") == "a")
                .select(
                    "url",
                    "host",
                    "host_hash",
                    (F.col("parent_depth") + 1).alias("depth"),
                    F.col("seq").alias("parent_rank"),
                    F.col("pos").alias("link_pos"),
                    F.lit(wave).alias("discovered_wave"),
                    F.lit("PENDING").alias("state"),
                )
                .unionByName(_deferred_frontier(rest))
            )

        def frontier_branch(nf: DataFrame) -> None:
            # explicit host-hash range partitioning on the persisted
            # frontier (BASELINE.json:6 "explicit repartitionByRange").
            # This write LAGS: the next wave consumes the in-memory
            # handoff plan, so only the commit (and resume) depends on
            # the parquet — it overlaps the next wave's critical path
            # exactly like the log/image sinks.
            st.write_version(
                "frontier",
                v["frontier"] + 1,
                nf.repartitionByRange(
                    ops.shuffle_partitions(spark),
                    F.col("host_hash"),
                    F.col("url"),
                ),
            )

        if no_anchor:
            # ---- depth-exhausted pipelining: the next frontier is
            # exactly this wave's deferred rows, so it closes from the
            # GATE alone; the fetch/decode stage moves to a pool
            # thread and overlaps the next wave's schedule+rank.
            fut_harvest = pool.submit(self._branch(HARVEST_POOL, harvest_run))
            rest, gate_rows = fut_gate.result()
            for _, pid, status, n in gate_rows:
                cdelta[status] += n
            metrics.extend(gate_rows)
            H = None
            n_anchor_next = 0
        else:
            # anchors possible: the next frontier needs `fresh`, so
            # the harvest runs inline (the pre-r2 shape).
            from concurrent.futures import Future

            fut_harvest = Future()
            try:
                fut_harvest.set_result(harvest_run())
            except BaseException as e:
                fut_harvest.set_exception(e)
                raise
            H = fut_harvest.result()
            rest, gate_rows = fut_gate.result()
            for _, pid, status, n in gate_rows:
                cdelta[status] += n
            metrics.extend(gate_rows)
            n_anchor_next = H["n_anchor"]

        # lazy localCheckpoint: truncates the LOGICAL plan to a
        # LogicalRDD — without it the handoff chains every prior
        # wave's plan into the next (geometric plan growth; the
        # optimizer/explain pass OOMs after ~8 waves).  The write
        # branch and the next wave's first job share the materialized
        # blocks; released at the NEXT wave's commit (or the loop
        # tail), and on block loss the recovery is resume-from-
        # manifest, same as fetchset.
        nf_plan = (
            _deferred_frontier(rest)
            if H is None
            else _next_frontier(rest, H["fresh"])
        )
        next_frontier = nf_plan.localCheckpoint(eager=False)
        fut_frontier = pool.submit(
            self._branch(LAGGING_POOL, frontier_branch),
            next_frontier,
        )

        # --- join the branches the NEXT wave reads -------------------
        # (seen/bloom are NOT joined here: the next wave's harvest
        # waits on them via _fut_harvest before building its plans)
        fut_hosts.result()
        # frontier emptiness from already-collected counters — the
        # next-frontier rows are EXACTLY fresh anchors + deferred, so
        # no job (and no wait on the lagging write) is needed
        frontier_empty = (n_anchor_next + cdelta["deferred"]) == 0
        global_fetched = src["global_fetched"] + n_fetched

        return {
            # next-wave inputs (same keys a committed manifest has)
            "wave_id": wave,
            "versions": {
                "frontier": v["frontier"] + 1,
                "seen": v["seen"] + 1,
                "hosts": v["hosts"] + 1,
            },
            "seq_next": src["seq_next"] + n_fetched,
            "global_fetched": global_fetched,
            "done": frontier_empty or global_fetched >= pol.global_page_budget,
            # in-memory next-frontier handoff (recomputes from frames
            # cached until this wave's commit, which runs after the
            # next wave's critical path)
            "_frontier_df": next_frontier,
            # lagging work joined by _wave_commit
            "_futs": {
                "robots": fut_robots,
                "log": fut_log,
                "frontier": fut_frontier,
            },
            "_fut_harvest": fut_harvest,
            "_pool": pool,
            "_metrics": metrics,
            "_cdelta": cdelta,
            "_unpersist": [
                fr, new_host_rows, fetchset, fh, rest,
                ranked._rank_source,
                getattr(cand, "_aux_persist", None),
                # the PREVIOUS wave's frontier handoff: fully consumed
                # once this wave's fr is materialized and that wave's
                # write has committed (ordered before this commit)
                src.get("_frontier_df"),
            ],
        }

    def _wave_commit(self, pending: dict, prev_manifest: dict) -> dict:
        """Join wave w's lagging branches, write its metrics table,
        commit its manifest (the ordered, atomic commit point), release
        its cached frames.  Runs after wave w+1's critical path — the
        image decode/sink and crawl-log writes it waits on overlap that
        compute."""
        st = self.store
        wave = pending["wave_id"]
        metrics = pending["_metrics"]
        cdelta = pending["_cdelta"]
        # the harvest (fetch/dedup/seen/images/bloom) may still be
        # running under depth-exhausted pipelining — join it first,
        # then its sub-branches
        H = pending["_fut_harvest"].result()
        metrics.extend(H["metrics"])
        for k, n in H["cdelta"].items():
            cdelta[k] = cdelta.get(k, 0) + n
        for row in pending["_futs"]["robots"].result():
            metrics.append(row)
            cdelta["robots_blocked"] += row[3]
        for row in H["fut_images"].result():
            metrics.append(row)
            cdelta["decode_failed"] += row[3]
        pending["_futs"]["log"].result()
        # the frontier parquet must be durable before the manifest
        # rename names its version (resume reads it from disk)
        pending["_futs"]["frontier"].result()
        # seen delta + deferred bloom update must be durable before
        # the manifest rename (resume would otherwise see missing
        # shard bits = bloom false negatives, breaking SPEC-4 dedup)
        H["fut_seen"].result()
        H["fut_bloom"].result()
        pending["_pool"].shutdown(wait=True)
        st.write_wave("metrics", wave, self._metrics_df(wave, metrics))

        counters = dict(prev_manifest["counters"])
        for k, n in cdelta.items():
            counters[k] += n
        new_manifest = {
            "wave_id": wave,
            "versions": pending["versions"],
            "seq_next": pending["seq_next"],
            "global_fetched": pending["global_fetched"],
            "counters": counters,
            "done": pending["done"],
        }
        st.commit(new_manifest)
        for df in pending["_unpersist"] + H["unpersist"]:
            if df is not None:
                _release_cached(df)
        return new_manifest

    # -------------------------------------------------------- helpers

    def _pcount_rows(self, df: DataFrame) -> list[tuple[int, int]]:
        """Per-partition row counts (A20) — pure, thread-safe."""
        return [
            (int(r["partition_id"]), int(r["n"]))
            for r in df.groupBy(
                F.spark_partition_id().alias("partition_id")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        ]

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
