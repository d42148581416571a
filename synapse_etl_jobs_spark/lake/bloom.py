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
- the filter is built by ONE column-pruned Spark job over the freshly
  written files (key columns only — no payload re-read): each row
  explodes to its 3 (word, bit) coordinates and a ``bit_or`` aggregate
  per (file, word) assembles the bitmap; wire volume is at most
  #files x m/64 longs regardless of batch size.
- false positives only ever cost a wasted file read; false negatives
  cannot happen, so pruning is always safe. An over-full file degrades
  to an all-ones bloom that simply never prunes. Files written before
  the index was enabled carry no bloom and are likewise always kept.

Sizing: m bits serve roughly m/10 distinct keys per file at ~1% false
positives; the default (``point_index_bits=8192`` => 1 KiB per file) is
sized for the sandbox's file sizes — at 100 TB scale the knob grows
with the target file size (Iceberg's default NDV sizing reasons the
same way) and the blobs move out of the JSON manifest into sidecar
files, same lifecycle.
"""

from __future__ import annotations

import base64
import struct
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.sources.lake_datasource import spark_xxhash64

BLOOM_K = 3


def _position_cols(key_cols: list[str], bits: int) -> list:
    return [
        F.pmod(F.xxhash64(F.lit(f"bloom-{i}"), *[F.col(c) for c in key_cols]),
               F.lit(bits))
        for i in range(BLOOM_K)
    ]


def compute_file_blooms(
    spark: SparkSession, files: list[str], key_schema: StructType, bits: int
) -> dict[str, dict[str, Any]]:
    """One Spark job: per-file bloom bitmaps over the key columns
    (``key_schema``'s fields, in order) of the given parquet files.
    Returns ``{path: {"bits": m, "k": K, "b64": ...}}``. The read is given
    the key schema, so no schema-inference job over the footers runs."""
    if not files or bits <= 0:
        return {}
    key_cols = key_schema.fieldNames()
    n_words = (bits + 63) // 64
    rows = (
        spark.read.schema(key_schema).parquet(*files)
        .select(F.input_file_name().alias("_f"), *key_cols)
        .select("_f", F.explode(F.array(*_position_cols(key_cols, bits))).alias("_p"))
        .select(
            "_f",
            F.expr("_p div 64").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))").alias("_m"),
        )
        .groupBy("_f", "_w")
        .agg(F.expr("bit_or(_m)").alias("_bits"))
        .collect()
    )
    # key results by the CALLER's path spelling (manifest entries may be
    # URIs — input_file_name normalizes differently per scheme)
    from synapse_etl_jobs_spark.lake.fs import uri_norm as norm

    by_norm = {norm(fp): fp for fp in files}
    words: dict[str, list[int]] = {}
    for r in rows:
        path = by_norm.get(norm(r["_f"]))
        if path is None:
            continue
        words.setdefault(path, [0] * n_words)[int(r["_w"])] = int(r["_bits"])
    return {
        p: {
            "bits": bits,
            "k": BLOOM_K,
            "b64": base64.b64encode(struct.pack(f"<{n_words}q", *w)).decode(),
        }
        for p, w in words.items()
    }


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
