"""Workload definitions, input generation checks and output digests.

Everything here is pure Python + numpy (no Spark), so the oracle
subprocess and the benchmark's own tests import it without a JVM.

A workload is a zipf-1.2 seed frontier (``fixtures.frontier_gen``) over
``hosts`` hosts, crawled with ``max_depth=0`` (frontier processing) by
``SparkCrawler.run_frontier`` against ``SyntheticWeb(hosts, payload)``.
``spec.json`` holds the sizes; this module turns them into the policy,
the web and the digests both sides are compared on.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(HERE, "spec.json")
GOLDEN_PATH = os.path.join(HERE, "golden.json")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def load_golden() -> dict:
    try:
        with open(GOLDEN_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def gen_seed(seed: int) -> int:
    """Map the CLI seed onto the generator's non-negative uint64 seed."""
    return seed % (1 << 32)


def policy_of(wl: dict):
    from spider_1_spark.reference_model.spider1_ref import Policy

    return Policy(
        max_depth=0,
        per_host_wave_budget=int(wl["per_host_wave_budget"]),
        per_host_total_cap=1 << 40,
        global_page_budget=1 << 40,
    )


def web_of(wl: dict):
    from spider_1_spark.fixtures.webgen import SyntheticWeb

    return SyntheticWeb(n_hosts=int(wl["hosts"]), payload=wl["payload"])


def bloom_bits_of(wl: dict, bloom: dict) -> int:
    """Per-shard bits, sized like bench.py: ~bits_per_url bits per
    frontier URL per shard, rounded up to a power of two, floored."""
    want = int(bloom["bits_per_url"]) * int(wl["rows"]) // int(bloom["shards"])
    return max(int(bloom["min_bits"]), 1 << want.bit_length())


# ---------------------------------------------------------------- inputs

def expected_frontier(n_rows: int, n_hosts: int, seed: int) -> list[str]:
    """Independent re-derivation of ``frontier_gen.frontier_frame``:
    raw URLs in seed_rank order.  The benchmark checks the parquet the
    engine reads against this, so a change to the generator that alters
    (e.g. lightens) the load fails the input fingerprint instead of
    reading as a speed-up."""
    w = np.arange(1, n_hosts + 1, dtype=np.float64) ** -1.2
    cdf = np.cumsum(w) / w.sum()
    ids = np.arange(n_rows, dtype=np.uint64)
    z = (ids + np.uint64(seed)) * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    u = (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    hosts = np.searchsorted(cdf, u, side="right")
    return [f"http://h{h}.example.test/p/{i}" for i, h in enumerate(hosts)]


def _sha(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def frontier_digest(raw_urls: list[str]) -> str:
    return _sha(f"{i}\t{u}" for i, u in enumerate(raw_urls))


def policy_digest(policy) -> str:
    return _sha([repr(policy)])


def web_sample_digest(web) -> str:
    """Digest of a fixed sample of pages, images and robots bodies.

    The sample URLs do not depend on the seed, so this one value is
    checked against ``golden.json`` on every run."""
    parts: list = []
    for k in range(20):
        for i in range(5):
            parts.append(web.html(f"http://h{k}.example.test/p/{i * 37}") or b"-")
    for k in range(4):
        for m in range(10):
            for fmt in ("ppm", "png", "qlossy"):
                parts.append(
                    web.image(f"http://h{k}.example.test/img/{m}.{fmt}") or b"-"
                )
    for k in range(40):
        parts.append(web.robots(f"h{k}.example.test"))
    return _sha(parts)


def fingerprint(wl: dict, raw_urls: list[str]) -> dict:
    return {
        "frontier": frontier_digest(raw_urls),
        "policy": policy_digest(policy_of(wl)),
        "web_sample": web_sample_digest(web_of(wl)),
    }


# --------------------------------------------------------------- outputs

def output_digests(crawl_log, seen, images, counters: dict, n_waves: int) -> dict:
    """The compared artifacts, as (row count, sha256) per table.

    crawl_log rows are (seq, url, depth, parent_rank, link_pos, wave_id),
    seen rows (url, first_wave, depth, parent_rank, link_pos) and image
    rows (image_id, sha256(bytes), w, h, fmt, caption, phash); each
    table is hashed in sorted order, so row order on disk is irrelevant.
    """
    log = sorted(tuple(int(x) if j != 1 else str(x) for j, x in enumerate(r))
                 for r in crawl_log)
    seen_rows = sorted(
        (str(u), int(a), int(b), int(c), int(d)) for u, a, b, c, d in seen
    )
    img_rows = sorted(
        (str(i), hashlib.sha256(bytes(b)).hexdigest(), int(w), int(h),
         str(f), str(c), int(p))
        for i, b, w, h, f, c, p in images
    )
    return {
        "crawl_log": {"rows": len(log), "sha256": _sha(map(repr, log))},
        "seen": {"rows": len(seen_rows), "sha256": _sha(map(repr, seen_rows))},
        "images": {"rows": len(img_rows), "sha256": _sha(map(repr, img_rows))},
        "counters": {k: int(v) for k, v in sorted(counters.items())},
        "n_waves": int(n_waves),
    }


def oracle_digests(wl: dict, raw_urls: list[str]) -> dict:
    """Run ``spider1_ref.crawl`` on the frontier and digest its output."""
    from spider_1_spark.reference_model import spider1_ref as ref

    res = ref.crawl(raw_urls, policy_of(wl), web_of(wl))
    return output_digests(
        res.crawl_log,
        ((u, *meta) for u, meta in res.seen.items()),
        res.images,
        res.counters,
        res.n_waves,
    )


def compare(expected: dict, got: dict, where: str) -> list[str]:
    """Human-readable mismatches between two digest dicts (empty = equal)."""
    out = []
    for key in sorted(set(expected) | set(got)):
        if expected.get(key) != got.get(key):
            out.append(f"{where}.{key}: expected {expected.get(key)!r}, got {got.get(key)!r}")
    return out
