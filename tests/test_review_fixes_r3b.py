"""Regression tests for the round-3 self-review findings:

1. z-order boundary sampling must not crash on tables with map-typed
   payload columns — xxhash64 rejects MapType, so the row-uniform
   ordering hash covers only the hashable columns;
2. the access-record backfill read-back must return the year/month/day
   partition columns it just wrote (recursiveFileLookup silently
   dropped them), with the reference's types: int year, zero-padded
   STRING month/day (partition type inference would cast '08' to 8);
3. the capped index probes cut lineage so the batch is signed once —
   pinned behaviorally: probe results under the cap stay identical to
   the uncapped probe on a non-degenerate corpus (the cap-after-semijoin
   helper is shared across the MinHash and RP-LSH paths);
4. (found while driving fix 1 end-to-end) LWW dedup — and therefore
   every LakeTable.merge — used ``max(struct(seq, payload))``, which
   Spark rejects with INVALID_ORDERING_TYPE when any payload column
   contains a MapType. CDC payloads with drifting JSON routinely carry
   maps, so map columns now ride the ordering struct as ``to_json`` and
   are reconstructed after the winner is picked; all three strategies
   stay bit-identical.
"""

import pytest
from pyspark.sql import functions as F


def test_sample_boundaries_tolerates_map_columns(spark):
    from synapse_etl_jobs_spark.lake.zorder import sample_boundaries

    df = spark.createDataFrame(
        [(i, {"k": str(i)}, i % 7) for i in range(200)],
        "id long, attrs map<string,string>, bucket_key long",
    )
    bounds = sample_boundaries(df, ["bucket_key"], bits=2, sample_rows=200)
    assert bounds["bucket_key"], "expected non-empty boundaries"
    assert all(0 <= b <= 6 for b in bounds["bucket_key"])


def test_backfill_access_readback_has_partition_columns(spark, tmp_path):
    from synapse_etl_jobs_spark.jobs.backfill_access import (
        _PAYLOAD_MAPPING, backfill_access_records,
    )

    # August epoch-ms so the zero-padding is actually exercised
    ts_ms = 1597084800000  # 2020-08-10T18:40:00Z
    row = {src: None for src, _, _ in _PAYLOAD_MAPPING}
    row.update(
        session_id="s-1", timestamp=str(ts_ms), user_id="7",
        method="GET", stack="prod", instance="000000123",
    )
    src = spark.createDataFrame(
        [tuple(row[s] for s, _, _ in _PAYLOAD_MAPPING)],
        ", ".join(f"{s} string" for s, _, _ in _PAYLOAD_MAPPING),
    )
    out = backfill_access_records(spark, src, str(tmp_path / "dest"))
    got = out.select("year", "month", "day", "payload.userId").collect()[0]
    assert (got["year"], got["month"], got["day"]) == (2020, "08", "10")
    assert got["userId"] == 7
    types = dict(out.dtypes)
    assert types["year"] == "int" and types["month"] == "string"


def test_capped_probe_matches_uncapped_when_no_degenerate_buckets(spark):
    from synapse_etl_jobs_spark.operators.dedup_text import (
        minhash_index, minhash_index_probe,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} with shared tail words") for i in range(30)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "corpus document number 3 with shared tail words"),
         (101, "an entirely unrelated probe document about spark plans")],
        "doc_id long, text string",
    )
    ix = minhash_index(corpus, shingle_k=4, num_hashes=32, bands=8)
    base = minhash_index_probe(
        batch, ix, shingle_k=4, num_hashes=32, bands=8,
    ).collect()
    capped = minhash_index_probe(
        batch, ix, shingle_k=4, num_hashes=32, bands=8, max_bucket_size=50,
    ).collect()
    key = lambda r: (r["new_id"], r["corpus_id"])  # noqa: E731
    assert sorted(map(key, base)) == sorted(map(key, capped))
    assert any(r["new_id"] == 100 and r["corpus_id"] == 3 for r in base)


def test_lww_dedup_with_map_payload_all_strategies(spark):
    from synapse_etl_jobs_spark.operators.dedup import (
        dedup_lww, dedup_lww_salted, dedup_lww_semijoin,
    )

    df = spark.createDataFrame(
        [("a", 1, {"v": "old"}, ["x"]), ("a", 3, {"v": "new", "n": "2"}, ["y", "z"]),
         ("b", 2, None, None), ("b", 1, {"v": "stale"}, ["q"])],
        "k string, seq long, attrs map<string,string>, tags array<string>",
    )
    want = {
        "a": (3, {"v": "new", "n": "2"}, ["y", "z"]),
        "b": (2, None, None),
    }
    for out in (
        dedup_lww(df, ["k"], "seq"),
        dedup_lww_semijoin(df, ["k"], "seq"),
        dedup_lww_semijoin(df, ["k"], "seq", broadcast=False),
        dedup_lww_salted(df, ["k"], "seq", salt_buckets=4),
    ):
        got = {
            r["k"]: (r["seq"], r["attrs"], r["tags"]) for r in out.collect()
        }
        assert got == want, got


def test_collapse_patches_with_map_payload(spark):
    """Per-column LWW (PATCH collapse) has the same INVALID_ORDERING_TYPE
    hazard as whole-row LWW: a map-typed payload column now rides the
    per-column winner struct as to_json and decodes after the pick."""
    from synapse_etl_jobs_spark.operators.patch import collapse_patches

    ev = spark.createDataFrame(
        [("k1", 1, "UPSERT", {"v": "old"}, 10, None),
         ("k1", 3, "PATCH", {"v": "new", "x": "1"}, None, ["attrs"]),
         ("k1", 2, "PATCH", None, 20, ["n"]),
         ("k2", 1, "UPSERT", {"z": "9"}, 5, None),
         ("k2", 2, "DELETE", None, None, None)],
        "k string, seq long, op string, attrs map<string,string>, "
        "n long, set_cols array<string>",
    )
    got = {
        r["k"]: (r["op"], r["attrs"], r["n"])
        for r in collapse_patches(ev, ["k"], ["attrs", "n"]).collect()
    }
    assert got["k1"] == ("UPSERT", {"v": "new", "x": "1"}, 20)
    assert got["k2"][0] == "DELETE"


def test_asof_join_with_map_payload_on_right(spark):
    """The as-of tiebreak hash rejects map-containing right payloads
    (HASH_MAP_TYPE) — such columns now enter the hash as to_json."""
    from synapse_etl_jobs_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 30)], "id string, t long")
    right = spark.createDataFrame(
        [("k", 5, {"s": "a"}), ("k", 25, {"s": "b"})],
        "id string, rt long, attrs map<string,string>")
    got = {
        r["t"]: r["attrs_r"]
        for r in asof_join(
            left, right, on=["id"], left_ts="t", right_ts="rt"
        ).collect()
    }
    assert got == {10: {"s": "a"}, 30: {"s": "b"}}


def test_lake_merge_and_zorder_compact_with_map_column(spark, tmp_path):
    from pyspark.sql.types import MapType, StringType, StructType

    from synapse_etl_jobs_spark.lake import LakeTable

    schema = (
        StructType().add("k", "long")
        .add("attrs", MapType(StringType(), StringType())).add("v", "long")
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], num_buckets=2)
    up = spark.createDataFrame(
        [("UPSERT", 1, i, {"a": str(i % 3)}, i * 10) for i in range(100)]
        + [("UPSERT", 2, 7, {"b": "7"}, 777)],
        "op string, seq long, k long, attrs map<string,string>, v long",
    )
    t.merge(up, stream_id="s", batch_id=1)
    t.compact(zorder_cols=["k"])  # raised on the map column pre-fix
    rows = {r["k"]: (r["attrs"], r["v"]) for r in t.read().collect()}
    assert len(rows) == 100
    assert rows[7] == ({"b": "7"}, 777)
    assert rows[8] == ({"a": "2"}, 80)
