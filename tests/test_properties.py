"""SURVEY §5.2 — property-based tests (hypothesis).

Random web graphs × random policies: the Spark engine's equality with
the oracle is covered (expensively) in test_engine_vs_oracle; here the
properties that guard the shared primitives and the oracle itself run
at hypothesis volume, plus the bloom filter's zero-false-negative
guarantee (SPEC-4 correctness depends on it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from spider_1_spark.engine.bloom import BLOOM_K, bit_positions, shard_of
from spider_1_spark.functions.urlnorm import canonicalize
from spider_1_spark.pipeline import textops
from spider_1_spark.reference_model import spider1_ref as ref

# ------------------------------------------------------ canonicalizer

url_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    max_size=60,
)


@settings(max_examples=300, deadline=None)
@given(url_text)
def test_canonicalize_idempotent_on_arbitrary_input(s):
    c1 = canonicalize(s)
    if c1 is not None:
        assert canonicalize(c1) == c1


@settings(max_examples=200, deadline=None)
@given(
    st.integers(0, 7),
    st.integers(0, 30),
    st.lists(
        st.tuples(
            st.sampled_from("abzk"), st.text("ab019", max_size=6)
        ),
        max_size=4,
    ),
)
def test_canonicalize_query_sort_total(host_k, page, params):
    q = "&".join(f"{k}={v}" for k, v in params)
    u = f"http://H{host_k}.Example.Test:80/p/{page}" + (f"?{q}" if q else "")
    c = canonicalize(u)
    assert c is not None
    assert c.startswith(f"http://h{host_k}.example.test/p/{page}")
    if "?" in c:
        toks = c.split("?", 1)[1].split("&")
        assert toks == sorted(
            toks, key=lambda t: tuple(t.split("=", 1)) if "=" in t else (t, "")
        )


# ------------------------------------------------ engine host column

_label = st.text("abz09-", min_size=1, max_size=6)
raw_urls = st.builds(
    lambda scheme, user, host, port, path, query, frag: (
        f"{scheme}://{user}{host}{port}{path}{query}{frag}"
    ),
    st.sampled_from(["http", "https", "HTTP", "ftp"]),
    st.sampled_from(["", "user@", "u:pw@", "a@b@"]),
    st.one_of(
        st.lists(_label, min_size=1, max_size=3).map(".".join),
        st.sampled_from(
            ["Ex.Test", "127.0.0.1", "[::1]", "[2001:DB8::1]", "[::ffff:1.2.3.4]"]
        ),
    ),
    st.sampled_from(["", ":", ":80", ":443", ":8080", ":65535"]),
    st.sampled_from(["", "/", "/a/../b", "/p%7e/q", "/x:y"]),
    st.sampled_from(["", "?", "?b=2&a=1", "?q=http://x/y", "?k"]),
    st.sampled_from(["", "#f", "#/x?y"]),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(raw_urls, url_text), min_size=1, max_size=40))
def test_engine_host_matches_host_of(spark, raws):
    """``operators.with_host`` extracts the host JVM-side; on every
    canonical URL (ports, IPv6, userinfo, query without a path) it must
    equal ``urlnorm.host_of``, the oracle's host, and a null URL keeps a
    null host."""
    from spider_1_spark.engine.operators import with_host
    from spider_1_spark.functions.urlnorm import host_of

    urls = sorted({c for c in map(canonicalize, raws) if c is not None})
    df = spark.createDataFrame([(u,) for u in urls] + [(None,)], "url string")
    got = {r.url: r.host for r in with_host(df).collect()}
    assert got == {None: None, **{u: host_of(u) for u in urls}}


# ------------------------------------------------ bloom shard column

_non_ascii = st.text(
    st.characters(blacklist_categories=("Cs",), min_codepoint=0x80),
    min_size=1,
    max_size=8,
)
shard_urls = st.one_of(
    raw_urls,
    st.builds(
        lambda h, p: f"http://{h}/{p}",
        st.sampled_from(["b\u00fccher.test", "x.test:81"]),
        _non_ascii,
    ),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(shard_urls, min_size=1, max_size=40), st.sampled_from([1, 7, 32]))
def test_bloom_shard_column_matches_probe_shard(spark, raws, n_shards):
    """``bloom.update`` shards JVM-side (``shard_col``); the probe
    shards with ``shard_of``.  On every canonical URL — ports, IPv6,
    userinfo, percent-encoding, non-ASCII — the two must agree, or the
    probe reads a shard the update never wrote (false negatives)."""
    from spider_1_spark.engine.bloom import shard_col

    urls = sorted({c for c in map(canonicalize, raws) if c is not None})
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select("url", shard_col("url", n_shards).alias("s")).collect()
    assert {r.url: r.s for r in got} == dict(
        zip(urls, shard_of(urls, n_shards).tolist())
    )


def test_bloom_first_position_is_independent_of_the_shard():
    """Position 0 of the URLs in one shard takes more than one residue
    mod the shard count: were the shard ``h1 % S`` with position 0 =
    ``h1 % m`` (m a multiple of S), every URL of shard k would set its
    first bit in residue class k, crowding a fraction 1/S of the
    bitmap."""
    n_shards, m = 32, 1 << 16
    urls = [f"http://h{i % 13}.example.test/p/{i}" for i in range(4000)]
    shards = shard_of(urls, n_shards)
    pos0 = bit_positions(urls, m)[:, 0] % np.uint64(n_shards)
    for k in range(n_shards):
        assert len(set(pos0[shards == k].tolist())) > 1, k


# ------------------------------------------------ oracle policy sweep

policies = st.builds(
    ref.Policy,
    st.integers(1, 4),      # max_depth
    st.integers(1, 4),      # B
    st.integers(1, 12),     # C
    st.integers(5, 200),    # G
)


@settings(max_examples=20, deadline=None)
@given(policies, st.integers(2, 10), st.integers(1, 6))
def test_oracle_invariants_under_random_policies(pol, n_hosts, n_seeds):
    from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds

    res = ref.crawl(make_seeds(n_seeds, n_hosts), pol, SyntheticWeb(n_hosts))
    # seq dense, ordering sorted by key WITHIN each wave (deferral can
    # carry a small key into a later wave — SPEC-5), budgets respected
    assert [r[0] for r in res.crawl_log] == list(range(len(res.crawl_log)))
    by_wave: dict[int, list] = {}
    for r in res.crawl_log:
        by_wave.setdefault(r[5], []).append((r[2], r[3], r[4], r[1]))
    for wave_keys in by_wave.values():
        assert wave_keys == sorted(wave_keys)
    assert res.counters["fetched"] <= pol.global_page_budget
    per_host: dict[str, int] = {}
    for _, url, *_ in res.crawl_log:
        h = url.split("/")[2]
        per_host[h] = per_host.get(h, 0) + 1
    assert all(v <= pol.per_host_total_cap for v in per_host.values())
    assert set(r[1] for r in res.crawl_log) <= res.seen_set


# ------------------------------------------------------- bloom filter

@settings(max_examples=50, deadline=None)
@given(st.lists(url_text, min_size=1, max_size=50, unique=True))
def test_bloom_bit_positions_stable_and_in_range(urls):
    m = 1 << 16
    s = pd.Series(urls)
    idx1 = bit_positions(s, m)
    idx2 = bit_positions(s, m)
    assert (idx1 == idx2).all()
    assert idx1.shape == (len(urls), BLOOM_K)
    assert (idx1 < m).all()


def test_bloom_zero_false_negatives_and_bounded_fpr():
    """Insert 20k URLs into a single shard-sized bitmap; every inserted
    URL must probe positive; FPR on 20k fresh URLs must be small."""
    m = 1 << 20
    bm = np.zeros(m // 8, dtype=np.uint8)
    ins = pd.Series([f"http://h{i % 97}.example.test/p/{i}" for i in range(20_000)])
    idx = bit_positions(ins, m)
    for i in range(BLOOM_K):
        byte = (idx[:, i] >> np.uint64(3)).astype(np.int64)
        bit = (idx[:, i] & np.uint64(7)).astype(np.int64)
        np.bitwise_or.at(bm, byte, (1 << bit).astype(np.uint8))

    def probe(series):
        p = bit_positions(series, m)
        hit = np.ones(len(series), dtype=bool)
        for i in range(BLOOM_K):
            byte = (p[:, i] >> np.uint64(3)).astype(np.int64)
            bit = (p[:, i] & np.uint64(7)).astype(np.int64)
            hit &= (bm[byte] >> bit) & 1 == 1
        return hit

    assert probe(ins).all(), "bloom must never miss an inserted URL"
    fresh = pd.Series([f"http://other{i}.example.test/q/{i}" for i in range(20_000)])
    fpr = probe(fresh).mean()
    # m/n = 52 bits/url, k=4 -> theoretical FPR ~ 3e-5; allow slack
    assert fpr < 0.005, f"FPR {fpr:.4f} out of bounds"


# -------------------------------------- closed-form politeness gate

def closed_form_crawl(seeds, policy, web):
    """Wave-parallel mirror of the ENGINE's closed-form politeness
    gate (crawler.py module docstring) and of its set-based dedup.

    Gate: candidates = per-host first cap_h eligible URLs, global G
    cutoff at key K*, every non-fetched URL classified from (t0, cap_h,
    F_h, K*) — no sequential scan.  Dedup: the wave's refs are checked
    against the PRE-wave seen set, then grouped by URL, as
    ``SparkCrawler._harvest``'s one aggregate does: a seen URL counts
    every occurrence; an unseen URL's first eligible occurrence by
    (seq, pos) enters the seen set and every occurrence ordered after
    it counts, eligible or not.

    Equality with the sequential spider1_ref.crawl pins both across
    random graphs and budgets — the mid-wave G-exhaustion boundary
    (key > K*), deferral chains across 3+ waves (VERDICT r1 item 9),
    and waves that mix depths, where a beyond-depth anchor follows its
    URL's first eligible occurrence.
    """
    from spider_1_spark.functions import robots as robots_mod
    from spider_1_spark.functions.codecs import DecodeError, decode
    from spider_1_spark.functions.extract import extract_refs
    from spider_1_spark.functions.urlnorm import canonicalize, host_of

    res = ref.CrawlResult()
    frontier = []
    for idx, raw in enumerate(seeds):
        canon = canonicalize(raw)
        if canon is None:
            continue
        if canon in res.seen:
            res.counters["deduped"] += 1
            continue
        res.seen[canon] = (0, 0, idx, 0)
        frontier.append(((0, idx, 0), canon))

    robots_cache: dict[str, list] = {}
    B, C, G = (policy.per_host_wave_budget, policy.per_host_total_cap,
               policy.global_page_budget)
    global_fetched = 0
    seq = 0
    wave = 0
    while frontier:
        rows = sorted(
            ((key, url, host_of(url)) for key, url in frontier),
            key=lambda t: (t[0], t[1]),
        )
        for _, url, host in rows:
            if host not in robots_cache:
                robots_cache[host] = robots_mod.parse_robots(
                    web.robots(host), policy.user_agent
                )
        eligible = []
        for key, url, host in rows:
            if robots_mod.allowed(
                robots_cache[host], robots_mod.robots_path(url)
            ):
                eligible.append((key, url, host))
            else:
                res.counters["robots_blocked"] += 1
        # --- the closed form under test ---------------------------
        t0 = dict(res.host_fetch_total)
        cap = {
            h: max(0, min(B, C - t0.get(h, 0)))
            for _, _, h in eligible
        }
        host_rank: dict[str, int] = {}
        candidates = []
        for key, url, host in eligible:  # global key order
            r = host_rank.get(host, 0)
            host_rank[host] = r + 1
            if r < cap[host]:
                candidates.append((key, url, host))
        remaining = G - global_fetched
        fetched = candidates[:max(0, remaining)]
        exhausted = len(fetched) == remaining
        kstar = (fetched[-1][0], fetched[-1][1]) if (
            exhausted and fetched
        ) else None
        f_h: dict[str, int] = {}
        for _, _, host in fetched:
            f_h[host] = f_h.get(host, 0) + 1
        fetched_urls = {u for _, u, _ in fetched}
        next_frontier = []
        for key, url, host in eligible:
            if url in fetched_urls:
                continue
            post = kstar is not None and (key, url) > kstar
            f = f_h.get(host, 0) if post else cap[host]
            if t0.get(host, 0) + f >= C:
                res.counters["dropped"] += 1
            elif f >= B:
                res.counters["deferred"] += 1
                next_frontier.append((key, url))
            else:
                res.counters["dropped"] += 1
        # --- fetch + extraction: a pre-wave seen check, then a group
        # by URL --------------------------------------------------
        pre_seen = set(res.seen)
        by_url: dict[str, list] = {}  # url -> [(seq, pos, kind, depth)]
        for key, url, host in fetched:
            depth, parent_rank, link_pos = key
            global_fetched += 1
            res.host_fetch_total[host] = res.host_fetch_total.get(host, 0) + 1
            res.counters["fetched"] += 1
            res.crawl_log.append(
                (seq, url, depth, parent_rank, link_pos, wave)
            )
            html = web.html(url)
            if html is not None:
                for pos, kind, raw_url, _ in extract_refs(html):
                    canon = canonicalize(raw_url, base=url)
                    if canon is not None:
                        by_url.setdefault(canon, []).append(
                            (seq, pos, kind, depth)
                        )
            seq += 1
        for canon, occ in by_url.items():  # occ is in (seq, pos) order
            if canon in pre_seen:
                res.counters["deduped"] += len(occ)
                continue
            eligible = [
                o for o in occ if o[2] != "a" or o[3] < policy.max_depth
            ]
            if not eligible:
                continue  # only beyond-depth anchors: silent
            s, pos, kind, depth = eligible[0]
            res.counters["deduped"] += sum(1 for o in occ if o[:2] > (s, pos))
            res.seen[canon] = (wave, depth + 1, s, pos)
            if kind == "a":
                next_frontier.append(((depth + 1, s, pos), canon))
                continue
            data = web.image(canon)
            if data is None:
                res.counters["decode_failed"] += 1
                continue
            try:
                decode(data)
            except DecodeError:
                res.counters["decode_failed"] += 1
        res.n_waves = wave + 1
        wave += 1
        frontier = next_frontier
        if global_fetched >= G:
            break
    return res


gate_policies = st.builds(
    ref.Policy,
    st.integers(0, 4),      # max_depth
    st.integers(1, 3),      # B small -> deferral chains across waves
    st.integers(1, 6),      # C small -> cap boundary hits
    # G small -> mid-wave exhaustion common; unbounded -> deep crawls
    st.one_of(st.integers(1, 25), st.just(2**40)),
)


@settings(max_examples=220, deadline=None)
@given(gate_policies, st.integers(2, 40), st.integers(1, 8))
# wave 3 fetches deferred depth-2 pages, then a depth-3 page whose
# beyond-depth anchor follows its URL's first eligible occurrence: a
# dedup (7 in all, not 6)
@example(ref.Policy(3, 2, 6, 10), 2, 1)
def test_closed_form_gate_equals_sequential_oracle(pol, n_hosts, n_seeds):
    """≥200 random (graph, policy) examples: the wave-parallel closed
    form and set-based dedup reproduce the sequential oracle's
    ordering, seen set and counters exactly — including runs where G
    exhausts mid-wave (K* boundary), deferred rows survive 3+ waves
    and a wave mixes depths."""
    from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds

    seeds = make_seeds(n_seeds, n_hosts)
    web = SyntheticWeb(n_hosts)
    oracle = ref.crawl(seeds, pol, web)
    sim = closed_form_crawl(seeds, pol, web)
    assert sim.crawl_log == oracle.crawl_log
    assert sim.seen == oracle.seen
    assert sim.counters == oracle.counters
    assert sim.n_waves == oracle.n_waves


def test_closed_form_gate_hits_target_boundaries():
    """The sweep must actually exercise the two danger zones; pin two
    configs that provably do (guards against the strategy silently
    shrinking away from them)."""
    from spider_1_spark.fixtures.webgen import SyntheticWeb, make_seeds

    # mid-wave G exhaustion: G=7 exhausts inside wave 1
    pol = ref.Policy(3, 2, 8, 7)
    web = SyntheticWeb(6)
    seeds = make_seeds(5, 6)
    oracle = ref.crawl(seeds, pol, web)
    assert oracle.counters["fetched"] == 7
    assert oracle.counters["dropped"] > 0  # post-exhaustion classify
    sim = closed_form_crawl(seeds, pol, web)
    assert (sim.crawl_log, sim.counters) == (oracle.crawl_log, oracle.counters)

    # deferral chain: B=1 with a deep host queue defers rows 3+ waves
    pol2 = ref.Policy(2, 1, 12, 60)
    web2 = SyntheticWeb(3)
    seeds2 = make_seeds(6, 3)
    oracle2 = ref.crawl(seeds2, pol2, web2)
    assert oracle2.n_waves >= 4 and oracle2.counters["deferred"] > 0
    sim2 = closed_form_crawl(seeds2, pol2, web2)
    assert sim2.crawl_log == oracle2.crawl_log
    assert sim2.counters == oracle2.counters


# ----------------------------------------------------- minhash bounds

@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 20))
def test_minhash_signature_deterministic(seed, n_tokens):
    rng = np.random.Generator(np.random.PCG64(seed))
    words = [f"w{int(x)}" for x in rng.integers(0, 50, n_tokens)]
    text = " ".join(words)
    a, b = textops.minhash_params(32)
    sh = textops.shingle_hashes(text)
    s1 = textops.minhash_signature(sh, a, b)
    s2 = textops.minhash_signature(textops.shingle_hashes(text), a, b)
    assert (s1 == s2).all()
    assert (s1 < textops.MERSENNE61 + 1).all()


# ------------------------------------------------------------- dHash

def _dhash64_loop(rgb: np.ndarray) -> int:
    """Reference dHash: one Python-level sum per grid block, bits
    folded into a Python int (SPEC-9, as pinned in functions/phash)."""
    h, w = rgb.shape[:2]
    px = rgb.astype(np.int64)
    gray = (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
    grid = np.empty((8, 9), dtype=np.int64)
    row_edges = [(r * h) // 8 for r in range(9)]
    col_edges = [(c * w) // 9 for c in range(10)]
    for r in range(8):
        for c in range(9):
            blk = gray[row_edges[r]:row_edges[r + 1], col_edges[c]:col_edges[c + 1]]
            grid[r, c] = int(blk.sum()) // blk.size
    bits = (grid[:, :8] > grid[:, 1:]).ravel()
    val = 0
    for k in range(64):
        if bits[k]:
            val |= 1 << (63 - k)
    return val - (1 << 64) if val >= 1 << 63 else val


@settings(max_examples=200, deadline=None)
@given(st.integers(8, 70), st.integers(9, 70), st.integers(0, 2**32 - 1),
       st.sampled_from(["noise", "flat", "bands"]))
@example(8, 9, 0, "noise")  # the minimum grid: one pixel per block
@example(8, 9, 0, "flat")
@example(13, 10, 1, "noise")  # 8 and 9 divide neither side
@example(17, 71, 2, "bands")
def test_dhash64_matches_block_loop(h, w, seed, kind):
    """The reduceat kernel equals the per-block loop bit for bit, on
    sizes 8 (rows) and 9 (columns) need not divide."""
    from spider_1_spark.functions.phash import dhash64

    rng = np.random.Generator(np.random.PCG64(seed))
    if kind == "noise":
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    elif kind == "flat":
        rgb = np.full((h, w, 3), int(rng.integers(0, 256)), dtype=np.uint8)
    else:  # ties and steps between neighbouring blocks
        col = rng.integers(0, 4, w) * 80
        rgb = np.broadcast_to(col[None, :, None], (h, w, 3)).astype(np.uint8)
    assert dhash64(rgb) == _dhash64_loop(rgb)
