"""Last-writer-wins dedup by key — the CDC reduction (SURVEY.md A2).

The reference relies on upstream uniqueness plus job bookmarks; the north
rule requires true LWW dedup on ``(repo, path, commit)`` keeping the row
with the maximum event sequence. Every reduce here orders a key's rows by
``max(struct(seq, payload))`` and so picks the same winner (equivalence
is asserted in tests).

``dedup_lww``
    ``groupBy(keys).agg(max(struct(seq, payload)))`` — ONE pass, one
    shuffle, map-side partial aggregation. ``max(struct)`` was chosen by
    measurement over alternatives (4M rows, local[32], 1M keys):
    max(struct) 1.3s, window/row_number 1.8s, max_by(struct, seq) 4.0s —
    max_by carries a second ordering buffer and repacks the struct per
    row. Caveat: struct aggregation buffers are not mutable, so Spark
    plans a SortAggregate — the full payload (including wide content
    columns) is sorted map-side. Right choice when the input is already
    key-reduced or payloads are narrow.

``dedup_lww_semijoin``
    Two passes that keep wide payloads OUT of the aggregate:
    (1) ``groupBy(keys).agg(max(seq))`` — a true HashAggregate (the
    buffer is a primitive), with column pruning pushing the scan down to
    keys+seq only (no content decompression);
    (2) left-semi join of the full rows against the (xxhash64(keys),
    max-seq) winner list — broadcast by default, so the full-width pass
    is shuffle-free — then a residual max(struct) over the candidates
    (≤ duplicate-delivery copies per key) to collapse exact re-deliveries
    with identical tie-breaking to ``dedup_lww`` (``semijoin_candidates``
    says why the hashed join is exact). Benched on a 16M-event batch
    (900k winners, skewed keys, full write): 10.7s vs 18.3s
    (``dedup_lww``) at local[32], 14.5s vs 30.4s at local[8]. Hot keys
    need no salting here: pass 1's map-side partial aggregation caps any
    key's reducer input at one row per scan partition.
    Scale bound: the broadcast winner list is ~16 bytes × distinct keys
    per batch — right while batches have ≲ tens of millions of distinct
    keys; beyond that pass ``broadcast=False`` (plain join, AQE picks the
    strategy).

``dedup_lww_salted``
    Two-phase salted variant of ``dedup_lww`` for pathological skew when
    the single-pass shape is required: phase 1 aggregates on
    ``(keys, salt)`` where salt is derived deterministically from
    ``seq``, phase 2 re-aggregates the ≤``salt_buckets`` partial
    winners. Salt ONLY this pre-merge reduction; never salt the merge
    join keys (SURVEY.md §7).

What ``LakeTable.merge`` builds for a merge-on-read batch
(``LakeTable._reduce_mor_batch``), chosen by the batch's planned size:

- a batch whose Catalyst size estimate is within
  ``spark.sql.autoBroadcastJoinThreshold``: ``lww_residual`` alone over
  the bucketed write's (bucket, salt) shuffle — one pass, 2 Spark jobs
  for a small commit. That aggregate runs after the shuffle, so every
  batch row crosses it;
- a larger or unknown-size batch: ``semijoin_candidates`` first, then
  the same fused ``lww_residual`` — the reduced rows are shuffled once,
  not once to reduce and again to write;
- a patch-state or legacy non-key-bucket batch: ``dedup_lww_semijoin``
  unfused, through ``LakeTable._lww_stored``.

The crossover on a 4-CPU box (``local[4]``, 16 buckets, ``write_salt``
4, 500k keys; merge wall of the first/second of two merges, semijoin vs
one pass): a 2.12M-event window (228 MB by Catalyst's estimate)
24.3/11.1 s vs 22.1/11.7 s, about even; a 6.35M-event window (682 MB)
28.4/14.7 s vs 42.3/31.8 s, the semijoin ~2x faster. The 10 MB default
threshold sits far below both.

Why ``merge`` offers neither the salted reduce nor one pass at every
size: on the same box and table, in a fresh JVM per run, merge walls
(first/second merge; one cell per run, and every run of a shape stored
the same rows) were

| batch | size gate (default) | salted, 8 | one pass |
|---|---|---|---|
| 2 × 2.12M, power law (hot key 1.3%) | 10.5/8.0 · 9.2/6.4 s | 9.6/8.3 · 10.3/8.1 s | 10.2/8.1 · 9.4/7.7 s |
| 2 × 2.12M, one key 19% of events | 7.6/4.8 · 9.1/5.2 s | 8.4/6.2 · 12.2/8.0 s | 8.9/5.8 · 9.1/6.5 s |
| 1 × 6.35M, power law | 15.6 · 14.1 s | 24.5 · 25.1 s | see the crossover |

so the salted reduce is even or slower at 2M events and ~1.7x slower at
6M, even with a 19% hot key, which pass 1's map-side partial
aggregation already absorbs. Sizes above 6.35M events were not measured.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _payload_cols(df: DataFrame, keys: Sequence[str]) -> list[str]:
    return [c for c in df.columns if c not in set(keys)]


def _contains_map(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _unorderable_payload(df: DataFrame, payload: Sequence[str]) -> list[str]:
    """Payload columns Spark cannot put in an ordering struct (MapType
    anywhere in the type): ``max(struct(...))`` raises
    DATATYPE_MISMATCH.INVALID_ORDERING_TYPE on them. A CDC payload with
    drifting JSON routinely carries map columns, so the LWW reduction
    serializes such columns with ``to_json`` inside the ordering struct
    and reconstructs them with ``from_json`` after the winner is picked
    (lossless for JSON-representable maps; equal-``seq`` ties on such
    columns break by the JSON rendering — still deterministic given the
    data)."""
    return [c for c in payload if _contains_map(df.schema[c].dataType)]


def _lww_agg(payload, seq_col, unorderable: Sequence[str] = ()):
    """max(struct(seq, payload)) — struct comparison is field-order, so
    ``seq`` decides and payload fields break ties deterministically.
    ``_s`` duplicates the seq column to keep field names unique while
    guaranteeing it sorts first. Columns in ``unorderable`` enter the
    struct as their ``to_json`` rendering (see ``_unorderable_payload``)."""
    uo = set(unorderable)
    return F.max(
        F.struct(
            F.col(seq_col).alias("_s"),
            *[
                (F.to_json(F.col(c)) if c in uo else F.col(c)).alias(c)
                for c in payload
            ],
        )
    ).alias("_top")


def _top_cols(df: DataFrame, payload: Sequence[str], unorderable: Sequence[str]):
    """The winner's payload columns out of ``_top``, decoding any
    ``to_json``-serialized unorderable columns back to their original
    types (``df`` supplies the schema — pass the PRE-aggregate frame)."""
    uo = set(unorderable)
    out = []
    for c in payload:
        v = F.col(f"_top.{c}")
        if c in uo:
            v = F.from_json(v, df.schema[c].dataType)
        out.append(v.alias(c))
    return out


def dedup_lww(df: DataFrame, keys: Sequence[str], seq_col: str) -> DataFrame:
    """Keep, per key, the row with the maximum ``seq_col``.

    Ties on ``seq_col`` (absent in a well-formed CDC stream) break
    deterministically by payload ordering — replay convergence holds
    even for malformed inputs. Single-pass sort-aggregate; see the module
    docstring for ``dedup_lww_semijoin``, its two-pass twin.
    """
    payload = _payload_cols(df, keys)
    uo = _unorderable_payload(df, payload)
    out = df.groupBy(*keys).agg(_lww_agg(payload, seq_col, uo))
    return out.select(*keys, *_top_cols(df, payload, uo))


def dedup_lww_semijoin(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Two-pass LWW dedup: HashAggregate winner list → (broadcast)
    left-semi join → residual candidate aggregate. Identical output to
    ``dedup_lww``; see module docstring."""
    return lww_residual(
        semijoin_candidates(df, keys, seq_col, broadcast=broadcast), keys, seq_col
    )


def semijoin_candidates(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """The rows of ``df`` that ``dedup_lww_semijoin`` hands its residual
    aggregate: pass 1's (keys, max-seq) winner list semi-joined back to
    the full rows. Same columns as ``df``.

    The join is on ``(xxhash64(keys), seq)``, not the raw key columns:
    the broadcast build side shrinks to 16 bytes per winner (vs full key
    strings — ~10x less driver-side build, the per-batch SERIAL cost
    that caps scaling efficiency). Still EXACT, not probabilistic: pass 1
    groups by the REAL keys, so every key's true winner matches its own
    (hash, max-seq) entry and is always pulled; a hash collision can
    only pull EXTRA rows, and any extra row has ``seq`` ≤ its own key's
    max, so it loses the residual per-real-key aggregate."""
    # max(seq) ignores nulls, so a key whose EVERY seq is null gets a
    # null winner entry; join equality on seq must therefore be
    # null-safe (<=>), or such keys would silently vanish — dedup_lww
    # keeps one row for them, and the reduces must stay bit-identical
    # even on malformed input.
    mx = df.groupBy(*keys).agg(F.max(seq_col).alias(seq_col))
    kh = F.xxhash64(*[F.col(k) for k in keys])
    build = mx.select(kh.alias("_kh"), F.col(seq_col).alias("_mseq"))
    if broadcast:
        build = F.broadcast(build)
    probe = df.withColumn("_kh", kh)
    return probe.join(
        build,
        (probe["_kh"] == build["_kh"]) & probe[seq_col].eqNullSafe(build["_mseq"]),
        "leftsemi",
    ).drop("_kh")


def lww_residual(
    cand: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    partition_by: Sequence[Column] = (),
) -> DataFrame:
    """The residual ``max(struct)`` per key over ``semijoin_candidates``.

    ``partition_by`` fuses the reduce into a following
    ``repartition(*partition_by)``: the candidates are repartitioned on
    those expressions and grouped by them next to the keys, so the
    reduce's output is already hash-partitioned on them and the planner
    drops the later repartition (EnsureRequirements removes a
    REPARTITION_BY_COL exchange whose child has the same partitioning) —
    one full-row shuffle instead of two. Exact only when every
    expression is a function of ``keys``: a key's rows then all meet in
    one group."""
    payload = _payload_cols(cand, keys)
    uo = _unorderable_payload(cand, payload)
    if partition_by:
        cand = cand.repartition(*partition_by)
    group = [*keys, *[p.alias(f"_part{i}") for i, p in enumerate(partition_by)]]
    out = cand.groupBy(*group).agg(_lww_agg(payload, seq_col, uo))
    return out.select(*keys, *_top_cols(cand, payload, uo))


def dedup_lww_salted(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase LWW dedup with deterministic salting for skewed keys.

    Phase 1 shuffles on ``(keys, pmod(xxhash64(seq), salt_buckets))`` so a
    hot key fans out over ``salt_buckets`` reducers; each produces one
    partial winner. Phase 2 reduces the ≤``salt_buckets`` partial winners
    per key to the final winner — a tiny shuffle.
    """
    payload = _payload_cols(df, keys)
    uo = _unorderable_payload(df, payload)
    salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(salt_buckets)).alias("_salt")
    agg = _lww_agg(payload, seq_col, uo)

    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(agg)
        .select(*keys, *_top_cols(df, payload, uo))
    )
    final = partial.groupBy(*keys).agg(agg)
    return final.select(*keys, *_top_cols(df, payload, uo))
