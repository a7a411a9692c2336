"""Per-call timings of the pure kernels on inputs drawn from the workload.

Each figure is the median over ``reps`` passes of (pass time / calls),
in microseconds.  The ``fixtures.*`` figures time the load generator
itself; they should never move with an engine change.
"""

from __future__ import annotations

import statistics
import time


def _us_per_call(fn, items, reps: int = 5) -> float:
    samples = []
    for _ in range(reps):
        t = time.perf_counter()
        for x in items:
            fn(x)
        samples.append((time.perf_counter() - t) / len(items))
    return statistics.median(samples) * 1e6


def kernel_timings(raw_urls: list[str], n_hosts: int, m_bits: int,
                   sample: int = 400) -> dict[str, float]:
    from spider_1_spark.engine import bloom
    from spider_1_spark.fixtures.webgen import SyntheticWeb
    from spider_1_spark.functions import robots
    from spider_1_spark.functions.codecs import DecodeError, decode
    from spider_1_spark.functions.extract import extract_refs
    from spider_1_spark.functions.phash import dhash64
    from spider_1_spark.functions.urlnorm import canonicalize, host_of

    step = max(1, len(raw_urls) // sample)
    raws = raw_urls[::step][:sample]
    urls = [canonicalize(u) for u in raws]
    # image refs come from the image-payload pages of the same URLs, so
    # the decode/dHash inputs exist for payload-free workloads too
    web = SyntheticWeb(n_hosts, payload="image")
    rules = {}
    for u in urls:
        h = host_of(u)
        if h not in rules:
            rules[h] = robots.parse_robots(web.robots(h))
    pages = [(u, web.html(u)) for u in urls]
    pages = [(u, p) for u, p in pages if p is not None]
    imgs = [
        canonicalize(raw, base=u)
        for u, p in pages
        for _, kind, raw, _ in extract_refs(p)
        if kind == "img"
    ][:sample]
    blobs = [b for b in (web.image(u) for u in imgs) if b is not None]
    decoded = []
    for b in blobs:
        try:
            decoded.append((b, decode(b)[0]))
        except DecodeError:
            pass
    decodable = [b for b, _ in decoded]
    rgbs = [r for _, r in decoded]

    return {
        "functions.canonicalize_us": _us_per_call(canonicalize, raws),
        "functions.robots_allowed_us": _us_per_call(
            lambda u: robots.allowed(rules[host_of(u)], robots.robots_path(u)), urls
        ),
        "functions.extract_refs_us": _us_per_call(extract_refs, [p for _, p in pages]),
        "functions.decode_us": _us_per_call(decode, decodable),
        "functions.dhash64_us": _us_per_call(dhash64, rgbs),
        # one batched call over the sample, reported per URL
        "bloom.bit_positions_us": _us_per_call(
            lambda batch: bloom.bit_positions(batch, m_bits), [urls]
        ) / len(urls),
        "fixtures.html_us": _us_per_call(web.html, urls),
        "fixtures.image_us": _us_per_call(web.image, imgs),
    }
