"""Partitioned Bloom URL-seen prefilter — SURVEY §2 op A6 (SPEC-4).

BASELINE.json:6,14: "partitioned Bloom/cuckoo URL-seen filter
maintained as … state tables at 10^10-URL scale".  Design:

  * the seen set is sharded by ``shard = crc32(utf8(url)) % S``, JVM-side
    in the update (``shard_col``) and with ``zlib.crc32`` in the probe
    (``shard_of``), independent of the blake2b bit positions; each
    shard owns a fixed-size bitmap sidecar, versioned like every other
    state table (``bloom/v=<n>/shard-<k>.zst``) and committed under the
    same manifest (SPEC-12 resume covers it);
  * a shard file is its bitmap compressed with zstd, so its size
    follows the bits set, not ``m_bits``: a filter sized for the end of
    a crawl is nearly empty for most of it (≈0.7% of the raw size at
    0.03% fill, ≈92% at the 33% design fill of 10 bits/URL, k=4);
  * per wave, the NEW seen URLs are hash-partitioned by shard into at
    most ``spark.sql.shuffle.partitions`` tasks; each task owns a
    disjoint set of shards and streams them one at a time, ORing each
    shard's new bits into the previous version's bitmap (incremental;
    write = O(new urls + touched bitmaps), one bitmap in memory per
    task);
  * the probe is fused into the fetch/extract Arrow stage
    (``probe_pandas``): each worker lazily caches the shard bitmaps it
    touches — no extra shuffle;
  * ZERO false negatives by construction (bits only set for real
    URLs — property-tested in tests/test_properties.py); false
    positives are resolved by the exact join on the (small)
    maybe-seen side;
  * every manifest records the layout (``BloomStore.layout``, codec
    included), and ``resume()`` refuses state written under another
    one.

Bits: k=4 positions via Kirsch–Mitzenmacher double hashing
(g_i = h1 + i*h2) over an m-bit bitmap per shard.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from typing import Iterator, Protocol, runtime_checkable

import numpy as np
import pandas as pd
import pyarrow as pa

BLOOM_K = 4
SHARD_CODEC = "zstd"


@runtime_checkable
class ShardIO(Protocol):
    """Byte-level shard-file storage with an ATOMIC publish.

    The bloom commit protocol needs exactly one storage property: a
    shard file at its final key is either absent or a complete payload
    — a reader must never observe a torn write (a partial bitmap would
    produce bloom FALSE NEGATIVES, which the engine's zero-FN contract
    forbids).  ``write_atomic`` is the publish point.

    Backends:
      * ``LocalShardIO`` — tmp-file + fsync + ``os.replace`` (POSIX
        rename atomicity), the single-machine / HDFS-mounted impl;
      * object stores need NO rename: a single full-object PUT is
        already all-or-nothing on S3/GCS/ABFS (the key is absent until
        the PUT completes, then serves the full payload).  Exactly-one
        -writer per shard is guaranteed upstream by the shard-keyed
        repartition in ``update``: every row of a shard lands in one
        task, and that task publishes the shard once, after its last
        row — where that cannot be relied on,
        use a conditional PUT (S3 ``If-None-Match: *`` on versioned
        keys / GCS ``ifGenerationMatch=0``) so a duplicate speculative
        task fails instead of double-publishing.  Shard keys are
        versioned (``v=<n>/shard-<k>.zst``), never rewritten in place,
        so read-after-write consistency of NEW keys (which all three
        major stores guarantee) is sufficient.

    Crash contract: once ``write_atomic`` returns, the payload survives
    a power loss — its bytes, its name in the version directory and,
    when that directory was just created, the directory's own entry in
    its parent.  The manifest commit waits on every shard write, so a
    committed manifest never names a version whose shard files a crash
    can still drop.
    """

    def read(self, path: str) -> bytes | None:
        """Full payload at ``path``, or None if absent."""
        ...

    def write_atomic(self, path: str, payload: bytes) -> None:
        """Publish ``payload`` at ``path`` all-or-nothing."""
        ...

    def list_version_dirs(self, base: str) -> list[tuple[int, str]]:
        """(version, dir-path) pairs under ``base`` (``v=<n>`` layout).
        On an object store this is a prefix listing."""
        ...

    def delete_dir(self, path: str) -> None:
        """Remove a version directory and its shard objects (prefix
        delete on an object store).  Used by crash-residue pruning, so
        it must tolerate a partially-written directory."""
        ...


class LocalShardIO:
    """Local-filesystem ShardIO: tmp + fsync + rename commit."""

    def read(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def write_atomic(self, path: str, payload: bytes) -> None:
        vdir = os.path.dirname(path)
        created = not os.path.isdir(vdir)
        os.makedirs(vdir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        # the rename is atomic but not durable until the DIRECTORY
        # entry is flushed: a power loss after the wave's manifest
        # commits could otherwise revert the shard to its previous
        # version — a bloom false negative on resume.  A version dir
        # made here is itself an entry in its parent, flushed likewise.
        _fsync_dir(vdir)
        if created:
            _fsync_dir(os.path.dirname(vdir))

    def list_version_dirs(self, base: str) -> list[tuple[int, str]]:
        import re

        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            m = re.match(r"^v=(\d+)$", d)
            if m:
                out.append((int(m.group(1)), os.path.join(base, d)))
        return out

    def delete_dir(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def _fsync_dir(path: str) -> None:
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _hashes(urls) -> tuple[np.ndarray, np.ndarray]:
    """Two stable 64-bit hashes per url (blake2b-128 split)."""
    h1 = np.empty(len(urls), dtype=np.uint64)
    h2 = np.empty(len(urls), dtype=np.uint64)
    for i, u in enumerate(urls):
        d = hashlib.blake2b(u.encode("utf-8"), digest_size=16).digest()
        h1[i] = int.from_bytes(d[:8], "big")
        h2[i] = int.from_bytes(d[8:], "big") | 1  # odd -> full cycle
    return h1, h2


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, BLOOM_K) bit indices ``(h1 + i*h2) % m_bits`` — the one
    place the double hashing is computed (uint64 wrap-around)."""
    i = np.arange(BLOOM_K, dtype=np.uint64)
    return (h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)


def _bit_addresses(
    h1: np.ndarray, h2: np.ndarray, m_bits: int
) -> tuple[np.ndarray, np.ndarray]:
    """Byte offset and bit-in-byte of each of the BLOOM_K positions,
    shared by the probe and the update: two (n, BLOOM_K) int arrays."""
    pos = _positions(h1, h2, m_bits)
    return (pos >> np.uint64(3)).astype(np.int64), (pos & np.uint64(7)).astype(
        np.int64
    )


def bit_positions(urls, m_bits: int) -> np.ndarray:
    """(n, BLOOM_K) bit indices in [0, m_bits)."""
    h1, h2 = _hashes(urls)
    return _positions(h1, h2, m_bits)


def shard_of(urls, n_shards: int) -> np.ndarray:
    """Each URL's shard, ``crc32(utf8(url)) % n_shards``."""
    return np.array([zlib.crc32(u.encode("utf-8")) % n_shards for u in urls],
                    dtype=np.int64)


def shard_col(url_col: str, n_shards: int):
    """Spark column: ``shard_of`` as a JVM expression."""
    from pyspark.sql import functions as F

    return F.pmod(F.crc32(F.col(url_col).cast("binary")), F.lit(n_shards))


class BloomStore:
    """Versioned shard-file bloom sidecars under the state root.

    All storage goes through a ``ShardIO`` (default ``LocalShardIO``)
    so the commit point is pluggable per deployment — the store itself
    never opens files (see ShardIO for the object-store mapping)."""

    def __init__(self, root: str, n_shards: int = 32, m_bits: int = 1 << 22,
                 io: ShardIO | None = None):
        self.base = os.path.join(root, "bloom")
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.io: ShardIO = io if io is not None else LocalShardIO()

    @property
    def layout(self) -> dict:
        """What a probe must agree on; recorded in every manifest."""
        return {"shards": self.n_shards, "bits": self.m_bits,
                "shard_hash": "crc32", "codec": SHARD_CODEC}

    def vdir(self, version: int) -> str:
        return os.path.join(self.base, f"v={version}")

    def shard_path(self, version: int, shard: int) -> str:
        return os.path.join(self.vdir(version), f"shard-{shard}.zst")

    def load_shard(self, version: int, shard: int) -> np.ndarray:
        """Bitmap for a shard at a version (latest ≤ version; zeros if
        never written — untouched shards are never copied forward).

        A file that does not decompress to exactly ``m_bits // 8``
        bytes raises ValueError: read as zeros it would be a false
        negative."""
        for v in range(version, -1, -1):
            payload = self.io.read(self.shard_path(v, shard))
            if payload is not None:
                try:
                    bits = pa.decompress(
                        payload, decompressed_size=self.m_bits // 8,
                        codec=SHARD_CODEC,
                    )
                except OSError as e:  # pyarrow's size or frame error
                    raise ValueError(
                        f"bloom shard {shard} at v={v} is not a "
                        f"{self.m_bits}-bit {SHARD_CODEC} bitmap: {e}"
                    ) from e
                return np.frombuffer(bits, dtype=np.uint8)
        return np.zeros(self.m_bits // 8, dtype=np.uint8)

    def write_shard(self, version: int, shard: int, bits: np.ndarray) -> None:
        self.io.write_atomic(
            self.shard_path(version, shard),
            pa.compress(bits, codec=SHARD_CODEC, asbytes=True),
        )

    def prune(self, keep_max: int) -> None:
        """Delete version dirs above the committed manifest (crash
        residue) — through the ShardIO so non-local backends prune
        their stale objects too (a survivor above keep_max would be
        read back as live bits by ``load_shard``'s fallback)."""
        for v, path in self.io.list_version_dirs(self.base):
            if v > keep_max:
                self.io.delete_dir(path)


def probe_pandas(
    urls: pd.Series,
    bloom: BloomStore,
    version: int,
    shard_cache: dict[int, np.ndarray],
) -> np.ndarray:
    """Worker-side probe of one pandas batch (no extra shuffle) —
    fused into the fetch/extract stage by operators.fetch_extract."""
    h1, h2 = _hashes(urls)
    shards = shard_of(urls, bloom.n_shards)
    byte, bit = _bit_addresses(h1, h2, bloom.m_bits)
    hit = np.zeros(len(urls), dtype=bool)
    for shard in np.unique(shards):
        bm = shard_cache.get(int(shard))
        if bm is None:
            bm = bloom.load_shard(version, int(shard))
            shard_cache[int(shard)] = bm
        sel = shards == shard
        hit[sel] = ((bm[byte[sel]] >> bit[sel]) & 1).all(axis=1)
    return hit


def update(new_urls_df, bloom: BloomStore, prev_version: int,
           new_version: int) -> None:
    """OR the new URLs' bits into each touched shard.

    Rows are hash-partitioned on the shard key (``shard_col``, a JVM
    expression equal to the probe's ``shard_of``) into ``min(n_shards,
    spark.sql.shuffle.partitions)`` tasks, so each task owns a disjoint
    set of shards and exactly one task writes each shard file —
    concurrent writers to one shard would lose bits (false negatives).
    Each task sorts its rows by shard and streams the shards one at a
    time: load the previous version's bitmap, OR in the new bits,
    publish, move on — at most one bitmap in memory per task.  Fewer
    tasks than shards saves the per-task Python-worker cost, which
    dwarfs the hashing and shard I/O.  Untouched shards are found at
    older versions by ``load_shard``.  Collecting one row per shard,
    not counting, spares an aggregate stage.
    """
    from spider_1_spark.engine.operators import shuffle_partitions

    n_shards = bloom.n_shards
    n_tasks = min(n_shards, shuffle_partitions(new_urls_df.sparkSession))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shard, bm = None, None
        for pdf in batches:
            for s, grp in pdf.groupby("_shard"):
                if s != shard:
                    if bm is not None:
                        bloom.write_shard(new_version, shard, bm)
                        yield pd.DataFrame({"shard": [shard]})
                    shard = int(s)
                    bm = bloom.load_shard(prev_version, shard).copy()
                byte, bit = _bit_addresses(*_hashes(grp["url"]), bloom.m_bits)
                np.bitwise_or.at(
                    bm, byte.ravel(), (1 << bit.ravel()).astype(np.uint8)
                )
        if bm is not None:
            bloom.write_shard(new_version, shard, bm)
            yield pd.DataFrame({"shard": [shard]})

    (
        new_urls_df.select("url", shard_col("url", n_shards).alias("_shard"))
        .repartition(n_tasks, "_shard")
        .sortWithinPartitions("_shard")
        .mapInPandas(gen, "shard int")
        .collect()
    )
