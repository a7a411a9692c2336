"""ShardIO seam for bloom sidecars (SURVEY §1.4 / VERDICT r2 missing 3).

The one property the bloom commit protocol needs from storage is that a
shard file is either absent or complete — a torn write read back as a
bitmap would clear real bits and produce bloom FALSE NEGATIVES, which
the engine's zero-FN contract forbids.  These tests pin that property
for the local backend and prove the seam is genuinely pluggable (an
in-memory backend passes the same round-trip, standing in for the
object-store impl documented on ShardIO).  They also pin the zstd shard
codec (a payload of the wrong size is an error, never zeros).
"""

from __future__ import annotations

import os
import sys
import uuid
import zlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark import cloudpickle

from spider_1_spark.engine import bloom
from spider_1_spark.engine.bloom import (
    BloomStore,
    LocalShardIO,
    ShardIO,
    bit_positions,
)


def _bitmap(m_bits: int, urls) -> np.ndarray:
    bm = np.zeros(m_bits // 8, dtype=np.uint8)
    for pos in bit_positions(urls, m_bits).ravel().tolist():
        bm[pos >> 3] |= np.uint8(1 << (pos & 7))
    return bm


def test_local_round_trip(tmp_path):
    store = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12)
    bm = _bitmap(store.m_bits, [f"http://h{i}.test/" for i in range(50)])
    store.write_shard(3, 1, bm)
    assert np.array_equal(store.load_shard(3, 1), bm)
    # latest <= version fallback: v=5 resolves to the v=3 file
    assert np.array_equal(store.load_shard(5, 1), bm)
    # untouched shard reads as zeros, never a partial/foreign payload
    assert not store.load_shard(5, 2).any()


class TornShardIO(LocalShardIO):
    """Crashes mid-write: leaves a partial .tmp, never publishes."""

    def write_atomic(self, path: str, payload: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            f.write(payload[: len(payload) // 2])
        raise OSError("simulated crash before rename-commit")


def test_torn_write_is_never_visible(tmp_path):
    """A crash mid-publish leaves the previous version's bitmap as the
    readable truth — the partial payload is unreachable (no false
    negatives after a crashed wave resumes)."""
    good = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12)
    bm_v0 = _bitmap(good.m_bits, ["http://a.test/", "http://b.test/"])
    good.write_shard(0, 0, bm_v0)

    torn = BloomStore(
        str(tmp_path), n_shards=4, m_bits=1 << 12, io=TornShardIO()
    )
    bm_v1 = _bitmap(good.m_bits, [f"http://c{i}.test/" for i in range(99)])
    with pytest.raises(OSError, match="simulated crash"):
        torn.write_shard(1, 0, bm_v1)

    # the final key was never created; the torn .tmp exists but is
    # invisible to readers (load_shard resolves exact shard paths only)
    assert not os.path.exists(good.shard_path(1, 0))
    assert os.path.exists(good.shard_path(1, 0) + ".tmp")
    assert np.array_equal(good.load_shard(1, 0), bm_v0)


def test_local_write_is_all_or_nothing_content(tmp_path):
    """After a successful publish the file content equals the payload
    byte-for-byte (no interleaving with the .tmp residue)."""
    store = BloomStore(str(tmp_path), n_shards=2, m_bits=1 << 12)
    bm = _bitmap(store.m_bits, ["http://x.test/"])
    store.write_shard(0, 0, bm)
    assert not os.path.exists(store.shard_path(0, 0) + ".tmp")
    assert np.array_equal(store.load_shard(0, 0), bm)


class MemShardIO:
    """Dict-backed ShardIO — publish is a single dict assignment, the
    shape of an object-store full-object PUT (all-or-nothing by
    construction); listing/deletion are prefix operations, the shape
    of an object-store LIST/prefix-delete."""

    def __init__(self):
        self.objects: dict[str, bytes] = {}

    def read(self, path: str) -> bytes | None:
        return self.objects.get(path)

    def write_atomic(self, path: str, payload: bytes) -> None:
        self.objects[path] = bytes(payload)

    def list_version_dirs(self, base: str) -> list[tuple[int, str]]:
        import re

        out = set()
        for key in self.objects:
            m = re.match(re.escape(base) + r"/(v=(\d+))/", key)
            if m:
                out.add((int(m.group(2)), f"{base}/{m.group(1)}"))
        return sorted(out)

    def delete_dir(self, path: str) -> None:
        for key in [k for k in self.objects if k.startswith(path + "/")]:
            del self.objects[key]


def test_seam_is_pluggable_in_memory_backend(tmp_path):
    """BloomStore never touches the filesystem when given a non-local
    ShardIO — the whole versioned load/write protocol runs against the
    alternate backend."""
    io = MemShardIO()
    assert isinstance(io, ShardIO)
    store = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12, io=io)
    bm0 = _bitmap(store.m_bits, ["http://p.test/"])
    bm1 = _bitmap(store.m_bits, ["http://q.test/", "http://r.test/"])
    store.write_shard(0, 2, bm0)
    store.write_shard(4, 2, bm1)
    assert np.array_equal(store.load_shard(0, 2), bm0)
    assert np.array_equal(store.load_shard(3, 2), bm0)  # fallback
    assert np.array_equal(store.load_shard(4, 2), bm1)
    assert not store.load_shard(4, 3).any()
    assert not os.path.exists(os.path.join(str(tmp_path), "bloom"))

    # prune goes through the seam too: versions above the committed
    # manifest vanish from the alternate backend, and load_shard's
    # latest-<=version fallback no longer resurrects them
    store.prune(0)
    assert np.array_equal(store.load_shard(4, 2), bm0)
    assert store.io.list_version_dirs(store.base) == [
        (0, f"{store.base}/v=0")
    ]


def test_local_prune_removes_crash_residue(tmp_path):
    store = BloomStore(str(tmp_path), n_shards=2, m_bits=1 << 12)
    bm0 = _bitmap(store.m_bits, ["http://a.test/"])
    bm1 = _bitmap(store.m_bits, ["http://b.test/"])
    store.write_shard(0, 0, bm0)
    store.write_shard(3, 0, bm1)  # uncommitted-wave residue
    store.prune(0)
    assert np.array_equal(store.load_shard(3, 0), bm0)
    assert not os.path.exists(store.vdir(3))


bitmaps = st.integers(1, 64).flatmap(
    lambda n: st.one_of(
        st.just(np.zeros(n, dtype=np.uint8)),
        st.just(np.full(n, 255, dtype=np.uint8)),
        st.binary(min_size=n, max_size=n).map(
            lambda b: np.frombuffer(b, dtype=np.uint8)
        ),
    )
)


@settings(max_examples=100, deadline=None)
@given(bitmaps, st.integers(0, 5), st.integers(0, 7))
def test_codec_round_trip(bm, version, shard):
    """write_shard / load_shard return the bitmap bit for bit, all-zero
    and all-one included; the file is zstd, named shard-<k>.zst."""
    io = MemShardIO()
    store = BloomStore("/state", n_shards=8, m_bits=8 * len(bm), io=io)
    store.write_shard(version, shard, bm)
    assert store.shard_path(version, shard).endswith(f"/shard-{shard}.zst")
    for v in (version, version + 3):
        assert np.array_equal(store.load_shard(v, shard), bm)


def test_wrong_size_payload_raises(tmp_path):
    """A shard written for another bitmap size, or a payload that is
    not zstd, raises ValueError naming the shard and version: read as
    zeros it would be a bloom false negative."""
    small = BloomStore(str(tmp_path), n_shards=4, m_bits=1 << 12)
    small.write_shard(2, 3, _bitmap(small.m_bits, ["http://a.test/"]))
    for m_bits in (1 << 13, 1 << 11):
        other = BloomStore(str(tmp_path), n_shards=4, m_bits=m_bits)
        with pytest.raises(ValueError, match=r"shard 3 at v=2"):
            other.load_shard(4, 3)
    small.io.write_atomic(small.shard_path(1, 0), b"not a zstd frame")
    with pytest.raises(ValueError, match=r"shard 0 at v=1"):
        small.load_shard(1, 0)


def test_new_version_dir_entry_is_flushed(tmp_path, monkeypatch):
    """The first shard published into a version dir also flushes the
    dir's entry in bloom/: without it a power loss after the commit
    could drop the whole version and resume would read an older
    bitmap (a bloom false negative).  Later shards in the same dir
    flush only the dir itself."""
    synced = []
    monkeypatch.setattr(bloom, "_fsync_dir", synced.append)
    store = BloomStore(str(tmp_path), n_shards=2, m_bits=1 << 12)
    bm = _bitmap(store.m_bits, ["http://a.test/"])
    store.write_shard(0, 0, bm)
    assert synced == [store.vdir(0), store.base]
    synced.clear()
    store.write_shard(0, 1, bm)
    assert synced == [store.vdir(0)]


class WriteOnceShardIO(LocalShardIO):
    """Publishes each final key at most once — the shape of an
    object-store conditional PUT (``If-None-Match: *``).  ``os.link``
    fails if the key exists, so a second publish of a shard at one
    version raises instead of silently replacing the first."""

    def write_atomic(self, path: str, payload: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)


# Python workers cannot import this test module, so ship its classes
# (WriteOnceShardIO inside a BloomStore) by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _shard_of(url: str, n_shards: int) -> int:
    return zlib.crc32(url.encode("utf-8")) % n_shards


def test_update_streams_more_shards_than_tasks(spark, tmp_path):
    """``bloom.update`` with 16 shards over the session's 4 shuffle
    partitions: each task owns several shards and streams them.  Tiny
    Arrow batches split one shard's rows across batches.  Over two
    versions every inserted URL probes positive, untouched shards get
    no new file, every file decompresses to a driver-side build bit for
    bit, and the write-once ShardIO proves each shard is published
    once."""
    n_shards = 16
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) < n_shards
    store = BloomStore(
        str(tmp_path), n_shards=n_shards, m_bits=1 << 12,
        io=WriteOnceShardIO(),
    )
    v0 = [f"http://h{i % 23}.test/a{i}" for i in range(300)]
    # v1 reaches only the low half of the shards, and repeats some v0
    # URLs (re-inserting set bits must not change the bitmap)
    fresh = (f"http://h{i % 29}.test/b{i}" for i in range(10**4))
    v1 = [u for u in fresh if _shard_of(u, n_shards) < n_shards // 2][:200]
    v1 += [u for u in v0 if _shard_of(u, n_shards) < n_shards // 2][:20]
    touched = [{_shard_of(u, n_shards) for u in urls} for urls in (v0, v1)]
    assert touched[0] == set(range(n_shards))
    assert touched[1] == set(range(n_shards // 2))

    def df(urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        bloom.update(df(v0), store, -1, 0)
        bloom.update(df(v1), store, 0, 1)
    finally:
        spark.conf.set(key, old)

    # zero false negatives at v1
    every = v0 + v1
    assert bloom.probe_pandas(pd.Series(every), store, 1, {}).all()

    for version in (0, 1):
        inserted = v0 if version == 0 else v0 + v1
        names = sorted(os.listdir(store.vdir(version)))
        assert names == sorted(
            f"shard-{k}.zst" for k in touched[version]
        ), f"v={version}: exactly the touched shards, no tmp residue"
        for k in touched[version]:
            want = _bitmap(
                store.m_bits,
                [u for u in inserted if _shard_of(u, n_shards) == k],
            )
            # the file at this version exists, so load_shard reads it
            got = store.load_shard(version, k)
            assert np.array_equal(got, want), (version, k)
