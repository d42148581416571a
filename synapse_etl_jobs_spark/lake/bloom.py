"""Per-file key bloom filters — point-lookup file skipping.

Merge-on-read keeps each batch's delta files until compaction, so a
point lookup inside one bucket still opens every delta file the bucket
has accumulated, even though a given key typically appears in only a
few of them. Iceberg solves this with per-file bloom indexes (Puffin
blobs); this is the same architecture scaled to the engine's manifest:
an opt-in, fixed-size bloom of the KEY-tuple hashes per data file,
stored base64-packed on the file's manifest entry and consulted
driver-side before any Spark job is scheduled.

Design:

- k = 3 positions per key, each ``pmod(xxhash64('bloom-i', *keys), m)``
  — the string literal decorrelates the three hash functions (same
  trick as the write salt) while staying bit-reproducible OFFLINE via
  the pure-Python xxhash64 port (sources/lake_datasource.py), so probe
  membership is checked on the driver with zero Spark work.
- the filter is built INSIDE the bucketed write, with no job of its
  own: the written frame is wrapped in ``DataFrame.observe`` with one
  ``bitmap_construct_agg`` per (hash function, 32,768-bit chunk) of
  the table-wide index ``_bucket·m + position``, so the write's own
  tasks set the bits and the driver receives k × ⌈num_buckets·m/32768⌉
  bitmaps of 4 KiB when the write ends. The driver ORs them and cuts
  bucket b's bloom out of bits ``[b·m, (b+1)·m)`` by integer shifting
  (m need not be a multiple of 64 or 8). Observed metrics reject
  ``FILTER (WHERE …)`` clauses, so each chunk selects its positions
  with ``CASE WHEN``.
- every file a commit writes into bucket b carries the bloom of ALL the
  rows that commit wrote into b — with one file per bucket (the usual
  small-commit shape) that is exactly the file's bloom; with several it
  is their union, which can only add false positives.
- false positives only ever cost a wasted file read; false negatives
  cannot happen, so pruning is always safe. An over-full file degrades
  to an all-ones bloom that simply never prunes. Files written before
  the index was enabled carry no bloom and are likewise always kept.

Sizing: m bits serve roughly m/10 distinct keys per file at ~1% false
positives; the default (``point_index_bits=8192`` => 1 KiB per file) is
sized for the sandbox's file sizes — at 100 TB scale the knob grows
with the target file size (Iceberg's default NDV sizing reasons the
same way) and the blobs move out of the JSON manifest into sidecar
files, same lifecycle. The observed aggregates grow with
num_buckets·m: 64 buckets at 8192 bits are 48 bitmaps (192 KiB per
write task).
"""

from __future__ import annotations

import base64
import struct
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from synapse_etl_jobs_spark.sources.lake_datasource import spark_xxhash64

BLOOM_K = 3
# positions per bitmap_construct_agg bitmap (Spark's fixed 4 KiB bitmap)
CHUNK_BITS = 32768


def _position_cols(key_cols: list[str], bits: int) -> list:
    return [
        F.pmod(F.xxhash64(F.lit(f"bloom-{i}"), *[F.col(c) for c in key_cols]),
               F.lit(bits))
        for i in range(BLOOM_K)
    ]


def observe_bucket_blooms(
    df: DataFrame, bucket: Column, key_cols: list[str], bits: int,
    num_buckets: int,
) -> tuple[DataFrame, Callable[[], dict[int, dict[str, Any]]]]:
    """Wrap ``df`` so the action that consumes it also builds one key
    bloom per bucket (``bucket`` is the row's bucket id in
    ``[0, num_buckets)``). Returns the observed frame and a function to
    call AFTER that action: ``{bucket: {"bits", "k", "b64"}}`` for every
    bucket that received a row."""
    n_chunks = -(-num_buckets * bits // CHUNK_BITS)
    # the k table-wide indexes are projected once per row: inlined into
    # every chunk's CASE they would hash the keys k × n_chunks times
    idx_cols = [f"_bloom_idx{i}" for i in range(BLOOM_K)]
    df = df.select("*", *[
        (bucket.cast("long") * bits + pos).alias(name)
        for name, pos in zip(idx_cols, _position_cols(key_cols, bits))
    ])
    aggs, chunk_of = [], {}
    for i, name in enumerate(idx_cols):
        idx = F.col(name)
        for c in range(n_chunks):
            lo = c * CHUNK_BITS
            chunk_of[f"c{c}_h{i}"] = c
            aggs.append(F.bitmap_construct_agg(F.bitmap_bit_position(
                F.when((idx >= lo) & (idx < lo + CHUNK_BITS), idx - lo + 1)
            )).alias(f"c{c}_h{i}"))
    obs = Observation()
    observed = df.observe(obs, *aggs).drop(*idx_cols)

    def blooms() -> dict[int, dict[str, Any]]:
        chunks = [0] * n_chunks
        for name, bitmap in obs.get.items():
            chunks[chunk_of[name]] |= int.from_bytes(bitmap, "little")
        n_bytes = (bits + 63) // 64 * 8
        out = {}
        for b in range(num_buckets):
            start = b * bits
            c0, c1 = start // CHUNK_BITS, (start + bits - 1) // CHUNK_BITS
            v = 0
            for c in range(c1, c0 - 1, -1):
                v = (v << CHUNK_BITS) | chunks[c]
            v = (v >> (start - c0 * CHUNK_BITS)) & ((1 << bits) - 1)
            if v:
                out[b] = {
                    "bits": bits,
                    "k": BLOOM_K,
                    "b64": base64.b64encode(v.to_bytes(n_bytes, "little")).decode(),
                }
        return out

    return observed, blooms


def key_positions(
    key_values: tuple, key_types: list[str], bits: int, k: int = BLOOM_K
) -> list[int]:
    """The same k bit positions, computed on the DRIVER via the
    bit-verified pure-Python xxhash64 port — probe-time membership needs
    no Spark job."""
    return [
        spark_xxhash64(
            [(f"bloom-{i}", "string")]
            + [(v, t) for v, t in zip(key_values, key_types)]
        ) % bits
        for i in range(k)
    ]


def bloom_might_contain(bloom: dict[str, Any], positions: list[int]) -> bool:
    words = struct.unpack(
        f"<{(int(bloom['bits']) + 63) // 64}q", base64.b64decode(bloom["b64"])
    )
    return all(words[p // 64] & (1 << (p % 64)) for p in positions)


def prune_entries(
    entries: list[dict[str, Any]],
    probes: list[tuple],
    key_types: list[str],
) -> list[dict[str, Any]]:
    """Keep a file iff ANY probe key might be in it (or it has no bloom).
    Positions are computed once per (probe, bits) — bits can differ per
    file when the knob changed between commits."""
    pos_cache: dict[tuple, list[int]] = {}
    kept = []
    for e in entries:
        bloom = e.get("bloom")
        if not bloom:
            kept.append(e)
            continue
        bits, k = int(bloom["bits"]), int(bloom.get("k", BLOOM_K))
        hit = False
        for kv in probes:
            ck = (kv, bits, k)
            if ck not in pos_cache:
                try:
                    pos_cache[ck] = key_positions(kv, key_types, bits, k)
                except NotImplementedError:
                    # key type the driver-side xxhash64 port can't hash
                    # (double/date/...): write-time JVM blooms exist for
                    # such tables, so degrade to keeping the file rather
                    # than bricking every read (mirrors how
                    # LakeBatchReader.pushFilters swallows this)
                    pos_cache[ck] = None
            if pos_cache[ck] is None or bloom_might_contain(bloom, pos_cache[ck]):
                hit = True
                break
        if hit:
            kept.append(e)
    return kept
