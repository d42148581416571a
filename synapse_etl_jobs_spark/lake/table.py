"""LakeTable: hash-bucketed parquet + versioned JSON manifests.

Format (public design: Delta Lake VLDB'20 paper / Apache Iceberg spec):

::

    <root>/
      _manifests/v000000000001.json   immutable per-version ROOT metadata
      _manifests/buckets/b<bucket>-v<version>.json   per-bucket file lists
      _manifests/CURRENT              pointer file, atomically replaced
      _lineage/*.parquet              per-partition lineage/metrics rows
      data/c<version>-<uuid>/_bucket=<i>/part-*.parquet   immutable data

Root manifest contents: current schema, key/bucket spec, applied batch
markers (exactly-once; bounded by the ``marker_retention_versions``
prop), a per-epoch rename map so renamed columns are resolved at read
time without rewriting data (Iceberg-style name mapping), and per-bucket
REFERENCES to immutable side files holding each bucket's file list
(each file tagged with the schema epoch it was written under). The side
files are the Iceberg manifest-list analog: a commit rewrites only the
side files of buckets it touched and reuses the rest by reference, so
commit cost is O(touched buckets) and the root stays O(num_buckets) at
any table size. Legacy inline manifests (buckets embedded in the root)
remain readable and re-shard on their next commit.

Concurrency: single-writer (the replay driver); readers are isolated by
the pointer swap. Iceberg gets multi-writer safety from an optimistic
catalog swap — the same hook point as our ``CURRENT`` replace.

The reference's analog: Glue catalog tables written append-only with
``partitionKeys`` + job-bookmark commits (glue_job.py:83-89). This class
replaces that with true upserts + atomic snapshots.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake.fs import LocalFS, filesystem_for
from synapse_etl_jobs_spark.operators.dedup import (
    dedup_lww, dedup_lww_semijoin, lww_residual, semijoin_candidates,
)

class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's load and commit
    (optimistic-concurrency conflict). Reload the table and retry —
    merges are idempotent under batch markers + LWW, so retrying a
    half-raced batch is safe."""


SEQ_COL = "_seq"  # stored event-sequence column (LWW tiebreaker, replay idempotency)
DELETED_COL = "_deleted"  # stored tombstone flag — see merge() docstring
BUCKET_COL = "_bucket"
DELETE_OPS = ("DELETE",)  # ops that remove the key; anything else upserts

# Per-column CRDT state for partial-column (patch) tables — present only
# when the table property ``patch_seqs`` is set (first merge_patches call
# sets it). See merge_patches() for the merge algebra.
CSEQ_COL = "_cseq"    # map<column name, long>: per-column winner seq; the
                      # reserved key below holds the latest DELETE seq.
FOLD_COL = "_fold"    # monotone fold counter: each patch merge writes
                      # max(stored effective fold, new row seq) + 1, so it
                      # STRICTLY increases on every write for ANY seq
                      # values (negative included) — read-time tie-break
                      # so the LATEST written state wins on equal _seq.
DEL_KEY = "__del__"   # reserved _cseq map key: latest DELETE seq
LIVE_KEY = "__live__"  # reserved _cseq map key: latest non-DELETE seq (touch)
PATCH_PROP = "patch_seqs"
# internal columns hidden from user-facing reads
INTERNAL_COLS = (SEQ_COL, DELETED_COL, CSEQ_COL, FOLD_COL)
# default stream ids of delete_where / update_where; the only ids whose
# markers lived under the shared "maintenance" stream before namespacing
DEFAULT_MAINTENANCE_STREAMS = ("maintenance-delete", "maintenance-update")



def _list_parquet_files(root: str, fs=None) -> dict[int, dict[str, int]]:
    """Map bucket id → {parquet file: byte size} under a ``_bucket=<i>``
    hive layout.

    One recursive listing per commit directory through the FS layer
    (POSIX walk locally, ``FileSystem.listFiles(recursive)`` on Hadoop —
    the same O(files) cost Iceberg pays when committing). The sizes come
    with the listing, so no written file is stat'ed again.
    """
    out: dict[int, dict[str, int]] = {}
    for fp, sz in (fs or LocalFS()).list_files(root, ".parquet"):
        base = os.path.basename(os.path.dirname(fp))
        if not base.startswith(f"{BUCKET_COL}="):
            continue
        out.setdefault(int(base.split("=", 1)[1]), {})[fp] = sz
    return out


def _footer_stats(
    listing: dict[int, dict[str, int]], cols: Sequence[str],
    schema: StructType, spark: "SparkSession", fs,
) -> dict[str, dict[str, Any]]:
    """Per-file stats of the files in a ``_list_parquet_files`` listing,
    each file read once: ``rows``, ``bytes`` (the listing's size),
    ``seq_min``/``seq_max`` of ``_seq``, and under ``stats`` the [min,
    max] of each of ``cols`` present — the manifest-level column metrics
    Iceberg keeps per data file, which ``scan_range`` prunes whole files
    against.

    Where ``fs.pyarrow_path`` resolves (local paths, ``file:`` URIs) the
    driver parses the parquet footers: metadata only, no Spark job. On
    remote storage (hdfs:/s3a:) ONE Spark scan grouped by input file
    aggregates the same values from the data pages. Columns are matched
    on the column chunk's full ``path_in_schema``, so a struct field
    sharing a top-level column's name (``meta.lang`` vs ``lang``) never
    lends it its range. ``schema`` is the files' physical schema: the
    scan is given it, so no schema-inference job runs first.
    """
    sizes = {fp: sz for fps in listing.values() for fp, sz in fps.items()}
    want = list(dict.fromkeys([SEQ_COL, *cols]))
    out: dict[str, dict[str, Any]] = {}

    def put(fp: str, rows: int, ranges: dict[str, tuple[Any, Any]]) -> None:
        seq_min, seq_max = ranges.get(SEQ_COL, (None, None))
        out[fp] = {
            "rows": rows, "bytes": sizes[fp], "seq_min": seq_min, "seq_max": seq_max,
            "stats": {c: [_json_stat(v) for v in ranges[c]]
                      for c in cols if c in ranges and ranges[c][0] is not None},
        }

    locs = {fp: fs.pyarrow_path(fp) for fp in sizes}
    if all(loc is not None for loc in locs.values()):
        import pyarrow.parquet as pq

        for fp, loc in locs.items():
            md = pq.ParquetFile(loc).metadata
            # top-level leaves only: a struct field's path is prefixed
            # by its parent, so it never equals its bare name
            top = {
                md.schema.column(i).path: i for i in range(md.num_columns)
                if md.schema.column(i).path == md.schema.column(i).name
            }
            ranges = {}
            for c in want:
                if c not in top:
                    continue
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(top[c]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None  # any stat-less row group → no bound
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                ranges[c] = (lo, hi)
            put(fp, md.num_rows, ranges)
        return out

    from pyspark.sql.types import AtomicType

    from synapse_etl_jobs_spark.lake.fs import uri_norm as norm

    by_norm = {norm(fp): fp for fp in sizes}
    df = spark.read.schema(schema).parquet(*sizes)
    types = {f.name: f.dataType for f in schema.fields}
    present = [c for c in want if isinstance(types.get(c), AtomicType)]
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        a for i, c in enumerate(present)
        for a in (F.min(c).alias(f"mn{i}"), F.max(c).alias(f"mx{i}"))
    ]
    for r in df.groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect():
        fp = by_norm.get(norm(r["_f"]))
        if fp is not None:
            put(fp, r["rows"], {c: (r[f"mn{i}"], r[f"mx{i}"])
                                for i, c in enumerate(present)})
    for fp in sizes:  # empty files produce no group
        if fp not in out:
            put(fp, 0, {})
    return out


def _json_stat(v: Any) -> Any:
    """Fold a parquet-footer statistic to a JSON-stable primitive (numpy
    scalars → python; bytes → utf-8; dates/timestamps → ISO strings,
    which sort identically to their values)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v.isoformat() if hasattr(v, "isoformat") else str(v)


def _sum_stats(stats: "Iterable[dict[str, Any]]") -> dict[str, Any]:
    """Aggregate per-file footer stats (so each footer is parsed once)."""
    out: dict[str, Any] = {"rows": 0, "bytes": 0, "seq_min": None, "seq_max": None}
    for s in stats:
        out["rows"] += s["rows"]
        out["bytes"] += s["bytes"]
        for k, pick in (("seq_min", min), ("seq_max", max)):
            if s[k] is not None:
                out[k] = s[k] if out[k] is None else pick(out[k], s[k])
    return out


@dataclass
class Manifest:
    table_version: int
    key_cols: list[str]
    bucket_cols: list[str]
    num_buckets: int
    current_schema_id: int
    # schema_id -> {"schema": StructType json dict, "rename": {epoch_name: current_name}}
    schemas: dict[str, dict[str, Any]]
    # bucket id (str) -> list of {"path": str, "schema_id": int}
    buckets: dict[str, list[dict[str, Any]]]
    # stream_id -> {batch_id(str): {"table_version": int}}
    applied_batches: dict[str, dict[str, Any]]
    parent_version: int | None = None
    props: dict[str, Any] = field(default_factory=dict)
    # bucket id (str) -> side-file name under _manifests/buckets/ — the
    # Iceberg manifest-LIST analog: the root version file stores only
    # these references; per-bucket file lists live in immutable side
    # files, reused verbatim for buckets a commit does not touch, so
    # commit cost is O(touched buckets) and the root stays O(num_buckets)
    # no matter how many data files the table accumulates. Populated by
    # the loader / committer; {} on legacy inline manifests until their
    # next commit re-shards them.
    bucket_refs: dict[str, str] = field(default_factory=dict)
    # what produced this version. Only "compact" is load-bearing today:
    # compaction is STATE-PRESERVING (same live rows as the parent, only
    # the file layout changes), and incremental consumers
    # (lake/incremental.py advance()) use the stamp to skip those
    # versions instead of falling back to a full refresh — without it a
    # source ingesting under ReplayDriver(compact_every=K) would force a
    # refresh every K batches. None on legacy manifests and on commit
    # paths that don't stamp (merge, evolve, rollback, ...): consumers
    # must treat None as "assume state-changing".
    commit_kind: str | None = None

    def to_json(self) -> str:
        """Legacy INLINE serialization (file lists embedded) — kept for
        tooling/tests; the commit path writes ``root_json`` + side files."""
        d = dict(self.__dict__)
        d.pop("bucket_refs", None)
        return json.dumps(d, indent=1, sort_keys=True)

    def root_json(self) -> str:
        """Sharded root: everything but the per-bucket file lists, which
        are referenced by name via ``bucket_refs``."""
        d = dict(self.__dict__)
        d.pop("buckets", None)
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "Manifest":
        """Parse an INLINE manifest (legacy format). Sharded roots must go
        through ``LakeTable._read_manifest`` (side files need the FS)."""
        d = json.loads(text)
        if "buckets" not in d:
            raise ValueError(
                "sharded manifest root (bucket_refs, no inline buckets): "
                "load it via LakeTable._read_manifest / LakeTable.load"
            )
        return Manifest(**d)

    def current_schema(self) -> StructType:
        return StructType.fromJson(self.schemas[str(self.current_schema_id)]["schema"])


class LakeTable:
    """A key-deduplicated, bucket-partitioned upsert table."""

    def __init__(self, spark: SparkSession, path: str, manifest: Manifest):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        # POSIX for bare paths, org.apache.hadoop.fs for URI locations
        # (file:/hdfs:/s3a: — see lake/fs.py); everything driver-side
        # that touches table storage goes through this handle
        self.fs = filesystem_for(path, spark)

    # ------------------------------------------------------------------ setup

    @staticmethod
    def _manifest_dir(path: str) -> str:
        return os.path.join(path, "_manifests")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        key_cols: Sequence[str],
        bucket_cols: Sequence[str] | None = None,
        num_buckets: int = 16,
        write_mode: str = "cow",
        write_salt: int = 4,
        point_index_bits: int | None = None,
        stats_cols: Sequence[str] | None = None,
        auto_compact_min_deltas: int | None = None,
        marker_retention_versions: int | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is the logical user schema
        (keys + payload; no internal columns). ``bucket_cols`` defaults to
        the first key column — the ``bucket(N, repo)`` spec of the north
        rule: co-locates a repo's rows so point-in-repo merges prune to
        one bucket. ``bucket_cols`` must be key columns: merge, compact
        and reads rely on all versions of a key living in one bucket
        (``ValueError`` otherwise, as in ``rebucket``). ``write_mode``:
        'cow' (read-optimized) or 'mor' (ingest-optimized; see
        ``merge``).

        ``write_salt`` splits each bucket's rows over that many writer
        tasks (salted on the key hash — bucket ASSIGNMENT is untouched,
        only which task writes the row). Bucketing by repo makes a hot
        repo a hot bucket: with a zipf-skewed stream one bucket can hold
        >20% of a batch, so an unsalted ``repartition(bucket)`` write
        serializes that bucket into one straggler task (benched: salt=4
        cut a skewed 4M-event batch write 18-22%). The salt caps the
        files per bucket for large writes (≤``write_salt`` per commit);
        small writes get one file per bucket, because AQE coalesces the
        write shuffle. ``compact()`` folds them.

        ``point_index_bits`` (opt-in) attaches a per-file key bloom
        filter of that many bits to every data file written by merge,
        compact and rebucket — ``lookup_keys`` then skips files that
        cannot contain a probed key (see lake/bloom.py). Built inside
        the write itself (observed metrics over the rows being written),
        so it costs no extra Spark job or re-read; every file a commit
        writes into a bucket carries that bucket's bloom.

        ``stats_cols`` (opt-in) records per-file [min, max] manifest
        stats for those columns on EVERY merge commit (Iceberg
        column-metrics analog), so ``scan_range`` prunes freshly merged
        base files without waiting for a ``compact(sort_cols=...)`` /
        ``compact(zorder_cols=...)`` rewrite. Free-ish: the one footer
        read that gives merge lineage its row counts and seq range also
        yields these ranges (a few more column chunks' metadata, never
        data pages; on remote storage the one grouped stats scan adds a
        min/max per column). ``compact`` and ``rebucket`` read footers
        only for these columns, so without ``stats_cols`` they read none.

        ``marker_retention_versions`` (opt-in): drop applied-batch
        markers recorded more than that many table versions ago at every
        commit, bounding manifest marker history under sustained ingest
        (10^10 events = millions of batches otherwise). Sound because
        merges are idempotent WITHOUT markers — LWW on seq makes a stale
        batch replay a no-op on final state; the marker is a fast-path
        skip. Size retention above the longest possible redelivery
        window (streaming checkpoints redeliver at most the in-flight
        batch, so even small values are safe there).

        ``auto_compact_min_deltas`` (opt-in, merge-on-read tables): after
        a merge commit, any affected bucket holding at least that many
        delta files is selectively compacted in a follow-on commit —
        bounded read amplification under sustained ingest without a
        separate maintenance scheduler. The classic LSM tradeoff made
        explicit: each key's rows are rewritten about once every
        ``threshold`` touching batches; reads never LWW-reduce more than
        ``threshold`` versions per bucket. Tombstones are KEPT by the
        auto path (order-insensitivity for stale redelivery) — GC them
        with an explicit ``compact()``."""
        for k in key_cols:
            if k not in schema.fieldNames():
                raise ValueError(f"key column {k!r} not in schema")
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write mode: {write_mode}")
        bucket_cols = list(bucket_cols or key_cols[:1])
        bad = [c for c in bucket_cols if c not in key_cols]
        if bad:
            raise ValueError(f"bucket columns must be key columns: {bad}")
        fs = filesystem_for(path, spark)
        if fs.exists(cls._manifest_dir(path)):
            raise FileExistsError(cls._manifest_dir(path))
        fs.mkdirs(cls._manifest_dir(path), exist_ok=False)
        m = Manifest(
            table_version=0,
            key_cols=list(key_cols),
            bucket_cols=bucket_cols,
            num_buckets=num_buckets,
            current_schema_id=0,
            schemas={"0": {"schema": schema.jsonValue(), "rename": {}}},
            buckets={},
            applied_batches={},
            parent_version=None,
            props={
                "write_mode": write_mode,
                "write_salt": int(write_salt),
                **({"point_index_bits": int(point_index_bits)}
                   if point_index_bits else {}),
                **({"stats_cols": list(stats_cols)} if stats_cols else {}),
                **({"auto_compact_min_deltas": int(auto_compact_min_deltas)}
                   if auto_compact_min_deltas else {}),
                **({"marker_retention_versions": int(marker_retention_versions)}
                   if marker_retention_versions else {}),
            },
        )
        cls._commit_manifest(path, m, fs)
        return cls(spark, path, m)

    @classmethod
    def load(cls, spark: SparkSession, path: str, version: int | None = None) -> "LakeTable":
        fs = filesystem_for(path, spark)
        if version is None:
            version = cls._resolve_current(path, fs)
        return cls(spark, path, cls._read_manifest(path, version, fs))

    @classmethod
    def _resolve_current(cls, path: str, fs) -> int:
        """Current table version = the highest COMMITTED version file,
        located by probing forward from the CURRENT pointer. The version
        file is the commit arbiter (created atomically, never
        overwritten — see ``_commit_manifest``); CURRENT is a hint that
        normally points at the head but can lag one commit behind when a
        writer crashed between creating its version file and swapping
        the pointer. Probing costs one extra ``exists`` in the common
        case and adopts such an orphaned-but-durable commit instead of
        wedging every later writer on a version file that already
        exists."""
        mdir = cls._manifest_dir(path)
        version = int(fs.read_text(os.path.join(mdir, "CURRENT")).strip())
        while fs.exists(os.path.join(mdir, f"v{version + 1:012d}.json")):
            version += 1
        return version

    @classmethod
    def _read_manifest(cls, path: str, version: int, fs) -> Manifest:
        """Load a manifest version, resolving sharded per-bucket side
        files (and accepting legacy inline manifests unchanged)."""
        mdir = cls._manifest_dir(path)
        mpath = os.path.join(mdir, f"v{version:012d}.json")
        if not fs.exists(mpath):
            raise ValueError(
                f"table version {version} does not exist at {path!r} — "
                "either it was never committed or vacuum() expired it "
                "(time travel only reaches retained versions)"
            )
        d = json.loads(fs.read_text(mpath))
        if "buckets" not in d:
            bdir = os.path.join(mdir, "buckets")
            d["buckets"] = {
                b: json.loads(fs.read_text(os.path.join(bdir, ref)))
                for b, ref in d.get("bucket_refs", {}).items()
            }
        return Manifest(**d)

    @classmethod
    def _commit_manifest(
        cls, path: str, m: Manifest, fs, ref_source: "Manifest | None" = None
    ) -> None:
        """Commit = write the per-bucket side files this commit CHANGED,
        then CREATE the root version file, then swap CURRENT. The
        version-file creation is the commit point and the concurrency
        arbiter: it uses atomic create-no-overwrite semantics
        (``write_text_if_absent`` — POSIX ``link`` locally, Hadoop's
        non-clobbering rename on HDFS), so of two writers racing from
        the same parent exactly ONE creates ``v{N}.json`` and the other
        aborts with ``ConcurrentWriteError`` — no interleaving can lose
        an update. The cheap optimistic check against the resolved
        current version runs first only to fail fast (before side files
        are written) in the common detected-conflict case. This is the
        same shape as an Iceberg catalog CAS, with the version file
        standing in for the catalog row; readers treat CURRENT as a
        hint and probe forward (``_resolve_current``), so a writer crash
        between the two steps leaves a readable, repairable table.

        Sharding (Iceberg manifest-list analog): ``ref_source`` is the
        manifest this commit derived its ``buckets`` dict from; any
        bucket whose entry list is the SAME OBJECT as the source's
        (i.e. untouched by this commit) reuses the source's immutable
        side file by reference — zero reserialization, so commit cost is
        O(touched buckets) + one O(num_buckets) root write, never
        O(table files). Interrupted commits leave only unreferenced side
        files (the root swap is last); vacuum reclaims them.

        Marker compaction: with table prop ``marker_retention_versions``
        set, applied-batch markers recorded more than that many table
        versions ago are dropped from the new manifest. Sound because
        merges are idempotent WITHOUT the marker — LWW on seq makes
        re-applying a stale batch a no-op on final state (tombstones
        carry newer seqs); the marker is a fast-path skip and a
        bounded-size one with retention, instead of growing per batch
        forever across 10^10-event streams."""
        mdir = cls._manifest_dir(path)
        cur_path = os.path.join(mdir, "CURRENT")
        if m.parent_version is not None and fs.exists(cur_path):
            cur = cls._resolve_current(path, fs)
            if cur != m.parent_version:
                raise ConcurrentWriteError(
                    f"commit of version {m.table_version} expected current "
                    f"version {m.parent_version} but found {cur}: another "
                    "writer committed concurrently; reload the table and retry"
                )
        retention = m.props.get("marker_retention_versions")
        if retention:
            low_water = m.table_version - int(retention)
            m.applied_batches = {
                stream: kept
                for stream, markers in m.applied_batches.items()
                if (kept := {
                    bid: info for bid, info in markers.items()
                    if int(info.get("table_version", m.table_version)) > low_water
                })
            }
        src_refs = ref_source.bucket_refs if ref_source is not None else {}
        src_buckets = ref_source.buckets if ref_source is not None else {}
        bdir = os.path.join(mdir, "buckets")
        refs: dict[str, str] = {}
        wrote_side = False
        for b, entries in m.buckets.items():
            prev_ref = src_refs.get(b)
            if prev_ref is not None and entries is src_buckets.get(b):
                refs[b] = prev_ref  # untouched bucket: reuse by reference
                continue
            if not wrote_side:
                fs.mkdirs(bdir, exist_ok=True)
                wrote_side = True
            # the name carries a commit-unique token: two writers racing
            # to the same version number stage DISJOINT side files, so a
            # loser's staging can never clobber the winner's committed
            # file lists (the root references side files by name; the
            # loser's orphans are unreferenced and vacuumed)
            token = uuid.uuid4().hex[:12]
            ref = f"b{int(b):06d}-v{m.table_version:012d}-{token}.json"
            fs.write_text_atomic(os.path.join(bdir, ref), json.dumps(entries))
            refs[b] = ref
        m.bucket_refs = refs
        mpath = os.path.join(mdir, f"v{m.table_version:012d}.json")
        # THE commit point: atomic create-no-overwrite arbitrates racing
        # writers — exactly one v{N}.json creation can succeed
        if not fs.write_text_if_absent(mpath, m.root_json()):
            raise ConcurrentWriteError(
                f"version {m.table_version} was committed by another writer "
                "while this commit was staging; reload the table and retry"
            )
        fs.write_text_atomic(cur_path, str(m.table_version))

    # ------------------------------------------------------------------- read

    def _bucket_expr(self):
        cols = [F.col(c) for c in self.manifest.bucket_cols]
        return F.pmod(F.xxhash64(*cols), F.lit(self.manifest.num_buckets)).cast("int")

    def _write_partitioning(self) -> list[Column]:
        """The expressions the default bucketed write repartitions on:
        ``_bucket`` and, when ``write_salt`` > 1, the salt — both
        functions of the key columns. ``merge`` groups its residual LWW
        reduce by these same expressions, so the write's repartition is
        planned away (see ``operators.dedup.lww_residual``)."""
        salt = max(int(self.manifest.props.get("write_salt", 1)), 1)
        if salt == 1:
            return [F.col(BUCKET_COL)]
        # the salt MUST be decorrelated from the bucket hash: bucket =
        # pmod(xxhash64(bucket_cols), num_buckets), and for single-key
        # tables bucket_cols == key_cols, so pmod(xxhash64(key_cols),
        # salt) would be a pure function of the bucket whenever salt
        # divides num_buckets — every row of a bucket landing on ONE
        # salt value, silently disabling the straggler defusal. A
        # literal seed element makes the two hashes independent.
        return [
            F.col(BUCKET_COL),
            F.pmod(
                F.xxhash64(F.lit("write-salt"),
                           *[F.col(k) for k in self.manifest.key_cols]),
                F.lit(salt),
            ),
        ]

    def _salted_bucket_write(self, df: DataFrame, out_dir: str, min_tasks: int = 1,
                             sort_cols: "Sequence[str] | None" = None,
                             cluster: "tuple[Column, int] | None" = None,
                             parts_by_bucket: "dict[int, int] | None" = None,
                             bloom: bool = False) -> dict[int, dict[str, Any]]:
        """Write ``df`` hive-partitioned by ``_bucket``, shuffled on
        (bucket, salt) with salt = key hash in ``[0, write_salt)`` —
        defuses hot-bucket write stragglers without touching bucket
        assignment or merge keys. The default shape repartitions by
        column WITHOUT a count (``_write_partitioning``), so AQE
        coalesces the shuffle to the session's advisory partition size:
        a large write keeps the salt's split (≤ ``write_salt`` files per
        bucket), a small one collapses to one file per touched bucket
        instead of ``num_buckets × write_salt`` tiny files. A frame that
        is already partitioned that way (``merge``'s fused reduce) is
        not shuffled again.

        ``bloom`` on a table with ``point_index_bits`` builds each
        written bucket's key bloom inside this write (observed metrics,
        no extra job — see lake/bloom.py) and returns ``{bucket:
        bloom}``; otherwise returns ``{}``.

        ``parts_by_bucket`` (binpack rewrites) overrides the uniform
        salt with a PER-BUCKET file-count target: bucket b's rows are
        key-hash-split into exactly parts_by_bucket[b] groups, so big
        buckets emit many target-sized files and small buckets one. The
        repartition slot count carries 2x slack — two (bucket, group)
        tuples hashing to the same slot would merge into one oversized
        file, and slack makes that rare instead of systematic. The
        clustered and binpack shapes keep explicit slot counts: their
        file counts are the point of the rewrite."""
        salt = max(int(self.manifest.props.get("write_salt", 1)), 1)
        bits = int(self.manifest.props.get("point_index_bits") or 0) if bloom else 0
        if bits:
            from synapse_etl_jobs_spark.lake.bloom import observe_bucket_blooms

            df, blooms = observe_bucket_blooms(
                df, F.col(BUCKET_COL), self.manifest.key_cols, bits,
                self.manifest.num_buckets,
            )
        if parts_by_bucket:
            # shared by the clustered and key-hash binpack shapes below:
            # per-bucket target file count as a map literal, and a slot
            # count with 2x slack (two groups hashing to one slot would
            # merge into one oversized file; slack makes that rare)
            binpack_groups = F.create_map(
                *[F.lit(v) for b, p in sorted(parts_by_bucket.items())
                  for v in (int(b), max(int(p), 1))]
            )
            binpack_slots = max(2 * sum(parts_by_bucket.values()), min_tasks, 1)
            # clustered rewrites: two (bucket, range) tuples hashing to
            # one slot MERGE two adjacent ranges into one file, widening
            # its [min,max] — worth more slack than the plain key-hash
            # shape, where a collision only changes file sizes
            cluster_slots = max(4 * sum(parts_by_bucket.values()), min_tasks, 1)
        key_hash = F.xxhash64(
            F.lit("binpack"), *[F.col(k) for k in self.manifest.key_cols]
        )
        if cluster is not None:
            # clustered rewrite (Z-order, or the 1-D leading-sort-column
            # case): instead of a key-hash salt (which spreads a bucket's
            # rows randomly over its files), split each bucket's files by
            # CONTIGUOUS code ranges and sort each file by the code —
            # every file then covers a small hyper-rectangle (interval,
            # for 1-D) of the clustered columns, so per-file min/max
            # stats prune on every clustered column (see lake/zorder.py).
            # ``domain`` is the EXACT code-value count (boundary dedup on
            # low-cardinality columns shrinks it below 2^bits — scaling
            # by the nominal bit width instead would collapse every row
            # into range 0). When the target file count exceeds the code
            # resolution, each range is further split by key hash so file
            # SIZE holds at target: files sharing a range share its
            # [min, max] — stats narrowing degrades to the resolution,
            # never to the full domain. Trailing ``sort_cols`` break code
            # ties inside each file (for the 1-D sort case the code is
            # monotone in the leading column, so (code, cols...) ordering
            # == the full sort order).
            zcol, domain = cluster
            domain = max(int(domain), 1)
            df = df.withColumn("_zcode", zcol)
            if parts_by_bucket:
                ng = F.element_at(binpack_groups, F.col(BUCKET_COL))
                eff = F.least(ng, F.lit(domain))
                range_col = F.least(
                    F.floor(F.col("_zcode") * eff / F.lit(domain)),
                    eff - F.lit(1),
                ).cast("int")
                sub_n = F.greatest(
                    F.ceil(ng / F.lit(domain)).cast("long"), F.lit(1)
                )
                df = df.repartition(
                    cluster_slots, F.col(BUCKET_COL), range_col,
                    F.pmod(key_hash, sub_n),
                )
            else:
                eff = min(salt, domain)
                range_col = F.least(
                    F.floor(F.col("_zcode") * eff / F.lit(domain)),
                    F.lit(eff - 1),
                ).cast("int")
                sub_n = max(1, -(-salt // domain))
                split = [F.col(BUCKET_COL), range_col]
                if sub_n > 1:
                    split.append(F.pmod(key_hash, F.lit(sub_n)))
                df = df.repartition(
                    max(self.manifest.num_buckets, min_tasks) * salt, *split
                )
            # projection after the sort preserves intra-partition order
            df = df.sortWithinPartitions(
                BUCKET_COL, "_zcode", *list(sort_cols or [])
            ).drop("_zcode")
        elif parts_by_bucket:
            group_col = F.pmod(
                key_hash, F.element_at(binpack_groups, F.col(BUCKET_COL))
            )
            df = df.repartition(binpack_slots, F.col(BUCKET_COL), group_col)
            if sort_cols:
                df = df.sortWithinPartitions(BUCKET_COL, *sort_cols)
        else:
            df = df.repartition(*self._write_partitioning())
            if sort_cols:
                # range-cluster each output file: parquet row-group
                # min/max stats on the sort columns become selective, so
                # range predicates skip row groups at scan time (Z-order's
                # 1-D case). The partition column must lead the sort: the
                # partitionBy writer re-sorts any task whose rows aren't
                # already ordered by it (not stably — which would undo the
                # clustering)
                df = df.sortWithinPartitions(BUCKET_COL, *sort_cols)
        df.write.partitionBy(BUCKET_COL).parquet(out_dir)
        return blooms() if bits else {}

    @property
    def _patch_enabled(self) -> bool:
        return bool(self.manifest.props.get(PATCH_PROP))

    def _stored_schema(self, schema_id: int) -> StructType:
        """Physical schema of files written under ``schema_id``: epoch user
        schema + internal ``_seq`` (LWW) and ``_deleted`` (tombstone);
        patch-enabled tables add the per-column CRDT state (``_cseq`` /
        ``_fold`` — files written before enablement read as null, which
        the merge algebra interprets as "all columns set at _seq")."""
        st = StructType.fromJson(self.manifest.schemas[str(schema_id)]["schema"])
        st = st.add(SEQ_COL, "long", True).add(DELETED_COL, "boolean", True)
        if self._patch_enabled:
            from pyspark.sql.types import LongType, MapType, StringType

            st = st.add(CSEQ_COL, MapType(StringType(), LongType()), True)
            st = st.add(FOLD_COL, "long", True)
        return st

    def _read_files(self, entries: list[dict[str, Any]]) -> DataFrame | None:
        """Read manifest file entries, resolving schema epochs: each epoch's
        files are read with the epoch schema, renamed to current names, then
        unioned by name with missing (later-added) columns as null."""
        if not entries:
            return None
        by_schema: dict[int, list[str]] = {}
        for e in entries:
            by_schema.setdefault(int(e["schema_id"]), []).append(e["path"])

        current = self.manifest.current_schema()
        parts: list[DataFrame] = []
        for sid, files in sorted(by_schema.items()):
            rename = self.manifest.schemas[str(sid)].get("rename", {})
            df = self.spark.read.schema(self._stored_schema(sid)).parquet(*files)
            if rename:
                df = df.select(
                    *[F.col(c).alias(rename.get(c, c)) for c in df.columns]
                )
                if CSEQ_COL in df.columns:
                    # the per-column CRDT state keys columns BY NAME:
                    # epoch renames must translate the map keys too, or
                    # a renamed column's stored winner seq is orphaned
                    # and a stale later-batch patch could clobber it
                    km = F.create_map(
                        *[F.lit(x) for kv in rename.items() for x in kv]
                    )
                    df = df.withColumn(
                        CSEQ_COL,
                        F.transform_keys(
                            F.col(CSEQ_COL),
                            lambda k, _v: F.coalesce(km[k], k),
                        ),
                    )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # project to current column order; epoch-missing columns become
        # null. The cast also surfaces epoch-narrower physical types at
        # the current type (type widening, e.g. int files under a bigint
        # schema) — a no-op when types already match.
        internal = {SEQ_COL: "long", DELETED_COL: "boolean"}
        if self._patch_enabled:
            internal[CSEQ_COL] = "map<string,long>"
            internal[FOLD_COL] = "long"
        want = [f.name for f in current.fields] + list(internal)
        have = set(out.columns)

        def typed(c):
            t = internal.get(c) or current[c].dataType
            return (F.col(c) if c in have else F.lit(None)).cast(t).alias(c)

        return out.select(*[typed(c) for c in want])

    def _lww_stored(self, df: DataFrame, reduce=dedup_lww) -> DataFrame:
        """LWW-reduce stored multi-version rows. On patch-enabled tables
        the ordering is lexicographic (``_seq``, ``_fold``, values): two
        versions of a key can legitimately share the max ``_seq`` (a
        later patch-merge folds MORE per-column state without raising the
        max event seq), and the strictly-increasing fold counter makes
        the LATEST written state win deterministically. Implemented by
        moving a coalesced ``_fold`` to the FIRST payload slot of the
        ordering struct — ``dedup_lww`` orders payload in column order.
        ``reduce(df, keys, seq_col)`` is any LWW reduce of that contract
        (``dedup_lww`` by default)."""
        keys = self.manifest.key_cols
        if FOLD_COL not in df.columns:
            return reduce(df, keys, SEQ_COL)
        orig = list(df.columns)
        rest = [c for c in orig if c not in (*keys, FOLD_COL)]
        df = df.select(
            *keys,
            F.coalesce(F.col(FOLD_COL), F.col(SEQ_COL)).alias(FOLD_COL),
            *rest,
        )
        return reduce(df, keys, SEQ_COL).select(*orig)

    def _set_prop(self, key: str, value: Any) -> None:
        """Commit a metadata-only manifest version with one table property
        changed (Iceberg ``ALTER TABLE SET TBLPROPERTIES`` analog — data
        files and batch markers untouched)."""
        m = self.manifest
        new_manifest = Manifest(
            table_version=m.table_version + 1,
            key_cols=m.key_cols,
            bucket_cols=m.bucket_cols,
            num_buckets=m.num_buckets,
            current_schema_id=m.current_schema_id,
            schemas=m.schemas,
            buckets=m.buckets,
            applied_batches=m.applied_batches,
            parent_version=m.table_version,
            props={**m.props, key: value},
        )
        self._commit_manifest(self.path, new_manifest, self.fs, ref_source=m)
        self.manifest = new_manifest

    def _current_view(
        self,
        entries: list[dict[str, Any]],
        project: "Sequence[str] | None" = None,
    ) -> DataFrame | None:
        """Snapshot view over file entries: raw read for pure-base buckets;
        when delta files are present (merge-on-read mode) an LWW reduction
        collapses multi-version keys first — the read-time half of the
        CoW/MoR tradeoff (Iceberg merge-on-read semantics).

        ``project`` prunes the view to keys + the named payload columns
        BEFORE the LWW reduce, so the pruning reaches the parquet scan —
        a wide payload column (document text, blobs) never leaves disk
        when the caller wants two slim columns. Winner-exactness
        contract: the reduce orders by (``_seq``, ``_fold``) with the
        payload struct only as a final determinism tie-break, so the
        pruned view picks the SAME winner as the full read whenever
        stored versions of a key do not tie on both ``_seq`` and
        ``_fold`` — always true on patch tables (strictly-increasing
        fold) and on streams whose per-batch seqs differ (every engine
        streaming path). Two versions written at the SAME seq in
        different batches (malformed CDC input) resolve their tie over
        the projected payload only, so the pruned and full reads may
        then pick different (each deterministic) versions."""
        df = self._read_files(entries)
        if df is None:
            return None
        if project is not None:
            keep = list(dict.fromkeys(
                [*self.manifest.key_cols, *project]
            ))
            internal = [c for c in INTERNAL_COLS if c in df.columns]
            df = df.select(*keep, *internal)
        if any(e.get("kind", "base") == "delta" for e in entries):
            df = self._lww_stored(df)
        return df

    def read(self, include_internal: bool = False) -> DataFrame:
        """Current snapshot as a DataFrame (empty if no data yet).

        ``include_internal=True`` exposes tombstones and the ``_seq`` /
        ``_deleted`` columns (maintenance/debug); the default hides both.
        """
        entries = [e for lst in self.manifest.buckets.values() for e in lst]
        df = self._current_view(entries)
        if df is None:
            schema = self.manifest.current_schema()
            if include_internal:
                schema = self._stored_schema(self.manifest.current_schema_id)
            return self.spark.createDataFrame([], schema)
        if include_internal:
            return df
        return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(*INTERNAL_COLS)

    def read_version(self, version: int) -> DataFrame:
        """Time travel: the snapshot as of ``version`` (manifests are
        immutable; this is a load of the old pointer — Iceberg
        ``VERSION AS OF`` semantics). Data files referenced by old
        manifests survive until ``vacuum`` expires them."""
        return LakeTable.load(self.spark, self.path, version=version).read()

    def changes(
        self, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental CDC-out: the net row changes committed in table
        versions ``(since_version, to_version]``.

        Merge-on-read commits record exactly the delta files each
        version appended, so the changes are READ, not computed — cost
        is O(changed data) regardless of table size (the property that
        lets downstream consumers tail this table like a changelog,
        Iceberg incremental-scan semantics). The result is LWW-reduced
        per key across the selected versions and keeps tombstones as
        ``_deleted = true`` rows plus the winning ``_seq`` — i.e. it IS
        a change-event batch a second LakeTable (or any LWW consumer)
        can apply directly.

        Compaction versions are skipped: they are state-preserving
        (``commit_kind="compact"`` stamp), and the deltas they folded
        were already collected from the merge versions that appended
        them — the folded delta FILES stay on disk until ``vacuum``, so
        the read stays valid; tail ``changes`` before vacuum expires
        ``since_version`` (same contract as the incremental views).
        Versions that rewrite base files WITHOUT the stamp (copy-on-write
        merges, rebucket, legacy compactions) carry no per-row change
        record — selecting across one raises; diff two ``read_version``
        snapshots for those.
        """
        m = self.manifest
        to_version = m.table_version if to_version is None else to_version
        if not 0 <= since_version <= to_version <= m.table_version:
            raise ValueError(
                f"invalid version range ({since_version}, {to_version}] "
                f"for table at version {m.table_version}"
            )

        def entry_paths(man: Manifest) -> set[str]:
            return {
                e["path"] for lst in man.buckets.values() for e in lst
            }

        prev = LakeTable.load(self.spark, self.path, version=since_version).manifest
        new_entries: list[dict[str, Any]] = []
        for v in range(since_version + 1, to_version + 1):
            cur = LakeTable.load(self.spark, self.path, version=v).manifest
            if cur.commit_kind == "compact":
                # state-preserving rewrite: the deltas it folded were
                # already collected from their merge versions above, and
                # those delta files remain on disk (until vacuum) for
                # the read below — nothing to collect, just rebase
                prev = cur
                continue
            if cur.commit_kind == "rollback":
                # state-CHANGING with no per-row record: undoing a merge
                # REMOVES files, which this walk would read as "nothing
                # added" — a silently empty changelog for a version that
                # reverted rows. Consumers must re-sync from a snapshot.
                raise ValueError(
                    f"version {v} is a rollback — it reverts rows without "
                    "a per-row change record; re-sync the consumer from a "
                    "snapshot (diff read_version, or replica re-merge from "
                    "changes(0)) and tail from here"
                )
            added_paths = entry_paths(cur) - entry_paths(prev)
            added = [
                e
                for lst in cur.buckets.values()
                for e in lst
                if e["path"] in added_paths
            ]
            if any(e.get("kind", "base") != "delta" for e in added):
                raise ValueError(
                    f"version {v} rewrote base files (copy-on-write merge or "
                    "compaction) — no per-row change record exists; diff "
                    "read_version snapshots instead"
                )
            new_entries.extend(added)
            prev = cur

        if not new_entries:
            return self.spark.createDataFrame(
                [], self._stored_schema(m.current_schema_id)
            )
        # epoch resolution (renames / added columns) comes from the
        # CURRENT manifest — schemas are append-only across versions
        df = self._read_files(new_entries)
        return self._lww_stored(df)

    def scan_keys(
        self,
        key_values: Sequence[tuple],
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Bucket-pruned point scan: read only the buckets that can contain
        the given ``bucket_cols`` value tuples (the payoff of hash
        bucketing — at 100 TB this touches #distinct-buckets files, not
        the table). ``columns`` additionally prunes the read to keys +
        the named payload columns — pruning applied BEFORE the MoR LWW
        reduce, so a wide unrequested column never leaves parquet; see
        ``_current_view`` for the winner-exactness contract on
        equal-(seq, fold) version ties."""
        import pandas as pd

        current = self.manifest.current_schema()
        probe = self.spark.createDataFrame(
            pd.DataFrame(
                {c: [kv[i] for kv in key_values]
                 for i, c in enumerate(self.manifest.bucket_cols)}
            )
        )
        # cast the probe to the TABLE's column types before hashing —
        # xxhash64 is type-sensitive (hashing 5 as long != as int), so a
        # pandas-inferred type would compute the wrong bucket and
        # silently prune away the rows being looked up
        probe = probe.select(
            *[F.col(c).cast(current[c].dataType).alias(c)
              for c in self.manifest.bucket_cols]
        )
        wanted = {
            r[0]
            for r in probe.select(self._bucket_expr().alias("b")).distinct().collect()
        }
        entries = [
            e
            for b, lst in self.manifest.buckets.items()
            if int(b) in wanted
            for e in lst
        ]
        current_fields = {f.name: f for f in self.manifest.current_schema().fields}
        if columns is not None:
            unknown = [c for c in columns if c not in current_fields]
            if unknown:
                raise ValueError(
                    f"scan_keys columns not in the table schema: {unknown}"
                )
        df = self._current_view(entries, project=columns)
        if df is None:
            if columns is None:
                empty_schema = self.manifest.current_schema()
            else:
                # SAME column order as the non-empty branch: keys first,
                # then the requested columns (deduped) — a caller's
                # positional access must not depend on table content
                keep = list(dict.fromkeys(
                    [*self.manifest.key_cols, *columns]
                ))
                empty_schema = StructType([current_fields[c] for c in keep])
            return self.spark.createDataFrame([], empty_schema)
        return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(*INTERNAL_COLS)

    def _written_entries(
        self, written: dict[int, dict[str, int]], kind: str,
        stat_cols: Sequence[str],
        file_stats: "dict[str, dict[str, Any]] | None" = None,
        blooms: "dict[int, dict[str, Any]] | None" = None,
    ) -> dict[int, list[dict[str, Any]]]:
        """Manifest entries ``{path, schema_id, kind, bloom?, stats?}``
        per bucket for the files a commit just wrote (``written`` is their
        ``_list_parquet_files`` listing). ``file_stats`` are the files'
        ``_footer_stats`` when the caller already read them (merge needs
        their row counts for lineage); otherwise the footers are read
        here, and only when ``stat_cols`` asks for column ranges.
        ``blooms`` are the per-bucket blooms ``_salted_bucket_write``
        built: every file of bucket b carries b's."""
        if file_stats is None:
            file_stats = (
                self._written_stats(written, stat_cols) if stat_cols else {}
            )
        blooms = blooms or {}
        out: dict[int, list[dict[str, Any]]] = {}
        for b, fps in written.items():
            out[b] = []
            for fp in fps:
                entry = {"path": fp, "schema_id": self.manifest.current_schema_id,
                         "kind": kind}
                if b in blooms:
                    entry["bloom"] = blooms[b]
                if file_stats.get(fp, {}).get("stats"):
                    entry["stats"] = file_stats[fp]["stats"]
                out[b].append(entry)
        return out

    def _written_stats(
        self, written: dict[int, dict[str, int]], cols: Sequence[str]
    ) -> dict[str, dict[str, Any]]:
        """``_footer_stats`` of files this table just wrote, which carry
        the current schema plus the internal columns."""
        return _footer_stats(
            written, cols, self._stored_schema(self.manifest.current_schema_id),
            self.spark, self.fs,
        )

    def lookup_keys(self, key_values: Sequence[tuple]) -> DataFrame:
        """Exact point lookup of full key tuples, with THREE pruning
        layers before any data is read — all driver-side, no Spark job
        until the final scan:

        1. bucket pruning via the pure-Python xxhash64 port (only the
           buckets the probed keys hash to);
        2. per-file bloom pruning (files whose bloom proves the key
           absent are skipped — see lake/bloom.py; files without blooms
           are always kept, so pre-index history stays correct);
        3. a key-equality filter pushed into the parquet scan.

        Unlike ``scan_keys`` (bucket-level scan of everything in the
        candidate buckets), the result contains ONLY the probed keys —
        required for correctness under file pruning: dropping a delta
        file is safe for the probed keys (no false negatives) but would
        silently un-supersede OTHER keys' rows, so those keys must not
        appear in the output at all. Tuples align with ``key_cols``.
        """
        m = self.manifest
        current = m.current_schema()
        key_types = [current[c].dataType.simpleString() for c in m.key_cols]
        probes = [tuple(kv) for kv in key_values]
        if any(len(p) != len(m.key_cols) for p in probes):
            raise ValueError(f"each probe must have {len(m.key_cols)} values "
                             f"(key columns {m.key_cols})")

        entries = None
        if set(m.bucket_cols) <= set(m.key_cols):
            from synapse_etl_jobs_spark.sources.lake_datasource import bucket_of

            bidx = [m.key_cols.index(c) for c in m.bucket_cols]
            try:
                wanted = {
                    bucket_of([(kv[i], key_types[i]) for i in bidx], m.num_buckets)
                    for kv in probes
                }
                entries = [
                    e for b, lst in m.buckets.items() if int(b) in wanted for e in lst
                ]
            except NotImplementedError:
                # bucket-col type the driver-side xxhash64 port can't
                # hash (double/date/...): degrade to scanning every
                # candidate bucket instead of bricking point lookups
                entries = None
        if entries is None:  # bucketing not derivable — bloom-prune only
            entries = [e for lst in m.buckets.values() for e in lst]

        from synapse_etl_jobs_spark.lake.bloom import prune_entries

        entries = prune_entries(entries, probes, key_types)
        df = self._current_view(entries)
        if df is None:
            return self.spark.createDataFrame([], current)
        cond = F.lit(False)
        for kv in probes:
            conj = F.lit(True)
            for c, t, v in zip(m.key_cols, key_types, kv):
                conj = conj & (F.col(c).eqNullSafe(F.lit(v).cast(t)))
            cond = cond | conj
        return (
            df.filter(cond)
            .filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            .drop(*INTERNAL_COLS)
        )

    def _range_pruned_entries(
        self, bounds: "dict[str, tuple[Any, Any]]"
    ) -> tuple[list[dict[str, Any]], dict[str, int]]:
        """Manifest entries surviving file-level stats pruning for
        ``bounds`` (col → (lo, hi), either end None = open).

        Exactness rules:

        - PURE-BASE buckets prune on any bounded column (each key has
          exactly one stored version, so dropping a non-intersecting
          file can never change a surviving row);
        - buckets holding DELTA files (merge-on-read) prune on KEY
          columns only. Key values are immutable across a key's
          versions, so a file whose key range misses the bounds holds no
          version of any in-range key — sound. A NON-key bound must not
          prune there: dropping the out-of-range LWW winner of a key
          would resurrect an older in-range version.

        Files without recorded stats for a bounded column are always
        kept — pruning can never produce a false negative."""
        norm = {c: (_json_stat(lo), _json_stat(hi)) for c, (lo, hi) in bounds.items()}
        key_norm = {c: v for c, v in norm.items() if c in self.manifest.key_cols}

        def overlaps(entry: dict[str, Any], use: dict) -> bool:
            stats = entry.get("stats") or {}
            for c, (lo, hi) in use.items():
                if c not in stats:
                    continue  # no bound recorded → cannot prune on c
                fmin, fmax = stats[c]
                if lo is not None and fmax < lo:
                    return False
                if hi is not None and fmin > hi:
                    return False
            return True

        kept: list[dict[str, Any]] = []
        total = 0
        for lst in self.manifest.buckets.values():
            total += len(lst)
            mor = any(e.get("kind", "base") == "delta" for e in lst)
            use = key_norm if mor else norm
            kept.extend(e for e in lst if overlaps(e, use))
        return kept, {"files_total": total, "files_kept": len(kept)}

    def scan_range(
        self, bounds: "dict[str, tuple[Any, Any]]"
    ) -> DataFrame:
        """Range scan served by manifest column stats: skip every data
        file whose recorded [min, max] (written by ``compact(sort_cols=
        ...)`` / ``compact(zorder_cols=...)``) cannot intersect
        ``bounds``, then apply the exact predicate to the surviving
        rows. After a Z-order rewrite this prunes on ANY clustered
        column — the Iceberg plan-time file-skipping path, done here on
        the driver against the manifest (no listing, no Spark job before
        the final scan). Returns the current-state rows (tombstones and
        internal columns hidden), exactly ``read().filter(...)``."""
        entries, _ = self._range_pruned_entries(bounds)
        df = self._current_view(entries)
        if df is None:
            return self.spark.createDataFrame([], self.manifest.current_schema())
        cond = F.lit(True)
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        return (
            df.filter(cond)
            .filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            .drop(*INTERNAL_COLS)
        )

    def _with_conflict_retry(self, op, max_retries: int):
        """Shared reload-and-retry loop for optimistic-concurrency ops:
        run ``op()``; on ConcurrentWriteError adopt the rival's commit
        as the new parent and retry, up to ``max_retries`` times."""
        if max_retries < 0:
            raise ValueError("max_retries must be >= 0")
        for attempt in range(max_retries + 1):
            try:
                return op()
            except ConcurrentWriteError:
                if attempt == max_retries:
                    raise
                self.manifest = LakeTable.load(self.spark, self.path).manifest
        raise AssertionError("unreachable")

    def merge_with_retry(
        self,
        updates: DataFrame,
        *,
        max_retries: int = 3,
        patches: bool = False,
        **merge_kwargs: Any,
    ) -> dict[str, Any]:
        """Optimistic-concurrency wrapper for multi-writer merges: run
        ``merge`` (or ``merge_patches`` with ``patches=True``) and, on a
        ``ConcurrentWriteError`` — another writer committed between this
        handle's load and its commit — reload the manifest and retry, up
        to ``max_retries`` times.

        The retry is always SAFE, not merely convenient: batches are
        order-insensitive (LWW seqs + tombstones + per-column CRDT state
        on patch tables), so applying this batch after the rival's
        commit converges to the same state as any other interleaving,
        and the batch marker dedups a batch whose commit DID land but
        whose response was lost. Each attempt re-stages the batch
        (O(batch) work — the loser's orphaned staging files are
        unreferenced and reclaimed by ``vacuum``); the arbiter
        guarantees no attempt can clobber a rival's committed state.
        Raises the last ``ConcurrentWriteError`` when retries are
        exhausted (sustained contention: callers should coordinate
        writers rather than spin)."""
        op = self.merge_patches if patches else self.merge
        return self._with_conflict_retry(
            lambda: op(updates, **merge_kwargs), max_retries
        )

    def compact_with_retry(
        self, *, max_retries: int = 3, **compact_kwargs: Any
    ) -> dict[str, Any]:
        """``compact`` under multi-writer contention. ``compact`` itself
        already REBASES past rivals that only appended delta entries
        (O(manifest), no recompute — see its commit loop); this wrapper
        covers the non-rebasable conflicts (a CoW merge or rival
        compaction rewrote files this pass read, a rebucket changed the
        spec) by reloading the manifest and recomputing the rewrite over
        the new parent — safe for the same reason as ``merge_with_retry``:
        compaction is content-preserving, so recomputing over ANY newer
        snapshot converges (the loser's orphaned rewrite files are
        unreferenced and reclaimed by ``vacuum``)."""
        return self._with_conflict_retry(
            lambda: self.compact(**compact_kwargs), max_retries
        )

    def rebucket_with_retry(
        self, num_buckets: int, *, max_retries: int = 3, **kwargs: Any
    ) -> dict[str, Any]:
        """``rebucket`` with reload-and-recompute on a lost commit race.
        A rebucket can never rebase (the full rewrite re-hashes every
        row, and a rival's delta files are bucketed under the OLD spec),
        so every conflict recomputes — content-preserving, hence
        convergent, like ``compact_with_retry``."""
        return self._with_conflict_retry(
            lambda: self.rebucket(num_buckets, **kwargs), max_retries
        )

    def read_where(self, predicate: "str") -> DataFrame:
        """``read().filter(predicate)`` with plan-time file skipping: range
        bounds derived from the predicate's AND-conjuncts
        (``_predicate_bounds`` — sound superset) drive the same manifest
        [min, max] pruning as ``scan_range``, so a ranged read over a
        sorted/z-ordered table touches only intersecting files; the exact
        predicate still applies to the surviving rows. Predicates with no
        derivable bounds degrade to a plain filtered read."""
        view, _ = self._matched_view(predicate, None)
        return view.drop(*INTERNAL_COLS)

    # ------------------------------------------------------------------ merge

    def is_batch_applied(self, stream_id: str, batch_id: int | str) -> bool:
        return str(batch_id) in self.manifest.applied_batches.get(stream_id, {})

    def _reduce_mor_batch(self, batch: DataFrame) -> DataFrame:
        """LWW-reduce a normalized merge-on-read batch to one row per key,
        shaped for ``_salted_bucket_write``.

        On a table whose bucket columns are key columns, the reduce is a
        ``max(struct)`` grouped by the write's own (bucket, salt)
        expressions over the write's shuffle (``lww_residual``), so the
        batch crosses one full-row shuffle, not two. Exact: bucket and
        salt are functions of the key, so a key's rows meet in one group.
        What feeds it depends on the batch's planned size:

        - a small batch — Catalyst's size estimate of its optimized plan
          within the session's ``spark.sql.autoBroadcastJoinThreshold``
          (-1 disables) — goes in whole: one shuffle, no winner list, no
          broadcast, 2 Spark jobs for a small commit;
        - a large or unknown-size batch first goes through
          ``semijoin_candidates`` (a HashAggregate winner list,
          broadcast, semi join), which keeps the payload of every
          non-winning row out of the shuffle and caps a hot key's reducer
          input — the shape that wins from a few million events up
          (operators/dedup.py has the crossover).

        The gate sees only Catalyst's estimate: a Python-list
        ``createDataFrame`` is of unknown size (Long.MaxValue), and a
        filter is estimated at its input's size, so each window of a
        multi-window replay over one input stays on the semijoin.
        Patch-state and legacy non-key-bucket batches take the unfused
        ``dedup_lww_semijoin``."""
        m = self.manifest
        if CSEQ_COL not in batch.columns and set(m.bucket_cols) <= set(m.key_cols):
            tagged = batch.withColumn(BUCKET_COL, self._bucket_expr())
            # read as bytes through SQLConf: the string form has a unit.
            # A threshold of -1 is below every size.
            threshold = self.spark._jsparkSession.sessionState().conf() \
                .autoBroadcastJoinThreshold()
            size = batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            if int(size) > threshold:
                tagged = semijoin_candidates(tagged, m.key_cols, SEQ_COL)
            return lww_residual(tagged, [BUCKET_COL, *m.key_cols], SEQ_COL,
                                self._write_partitioning())
        # a patch-state batch (changelog replication of a patch-mode
        # source) can carry two versions of a key at the SAME max
        # ``_seq``: a later patch fold raises ``_fold``, not the max
        # event seq, so it is ordered (``_seq``, ``_fold``) exactly like
        # stored rows. Plain batches keep the payload-order tie-break.
        return self._lww_stored(batch, dedup_lww_semijoin)

    def merge(
        self,
        updates: DataFrame,
        *,
        op_col: str = "op",
        seq_col: str = "seq",
        stream_id: str = "default",
        batch_id: int | str | None = None,
        collect_lineage: bool = True,
        mode: str | None = None,
        auto_evolve: bool = False,
        pre_reduced: bool = False,
    ) -> dict[str, Any]:
        """MERGE the update batch into the table (Iceberg ``MERGE INTO``
        semantics: matched DELETE → delete, matched upsert → update,
        unmatched upsert → insert), last-writer-wins on ``seq``.

        Two write modes (Iceberg's copy-on-write vs merge-on-read):

        - ``mode="cow"``: rewrite affected buckets with the merged result —
          reads stay reduction-free, but each merge re-writes every
          touched bucket (write amplification ∝ table density of the
          batch's keys);
        - ``mode="mor"``: append the reduced batch as DELTA files — merge
          cost is O(batch) regardless of table size (the sustained-ingest
          shape the 10^10-event north rule needs); reads LWW-reduce until
          ``compact()`` folds deltas into base files.

        Default comes from the table property ``write_mode`` (set at
        ``create``), falling back to ``cow``.

        Execution:

        1. idempotency gate — a batch_id already recorded is a no-op;
        2. ``mor``: LWW-reduce the batch and write it bucket-partitioned
           in one pass over the batch (one Spark job per shuffle stage
           under AQE; ≤ ``write_salt`` files per bucket for a large
           batch, one for a small one). The reduce is a ``max(struct)``
           over the write's own (bucket, salt) shuffle; a batch within
           ``spark.sql.autoBroadcastJoinThreshold`` by Catalyst's size
           estimate goes in whole (2 Spark jobs), a larger one first
           through the semijoin's winner list (``_reduce_mor_batch``).
           The key blooms of ``point_index_bits``
           are built by the same write. Affected buckets and byte sizes
           come from the listing of the written files; row counts, the
           batch's seq range and ``stats_cols`` ranges from their parquet
           FOOTERS, each read once on the driver (one grouped Spark scan
           on remote storage) — no second pass, no caching of the batch
           (benched: persist of the deduped batch cost more than the
           whole write). Commit those files as deltas — done;
        3. ``cow``: a keys-only aggregate over the batch yields the
           affected buckets and lineage counts; ONE LWW reduce over those
           buckets' stored files and the raw batch rows then rewrites
           them as base files (``pre_reduced`` shapes only the MoR
           reduce). Replayed stale events lose to stored rows, so
           re-merge of any suffix is idempotent even WITHOUT the batch
           marker (the marker is an optimization, not a correctness
           crutch). A failed fold's
           files stay unreferenced until ``vacuum`` reclaims them;
        4. DELETE winners are kept as TOMBSTONES (``_deleted=true``,
           hidden from reads): without them, a stale pre-delete update
           merged later would resurrect the key — tombstones make merge
           fully order-insensitive. ``compact()`` garbage-collects them.
           Every reduce orders a key's rows by (``_seq``, payload,
           ``_deleted``), so a DELETE tied with an upsert on seq and
           payload wins however the two are batched;
        5. commit the manifest atomically.

        Returns stats for lineage/metrics.
        """
        m = self.manifest
        mode = mode or m.props.get("write_mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown write mode: {mode}")
        if batch_id is not None and self.is_batch_applied(stream_id, batch_id):
            return {"applied": False, "reason": "batch_already_applied",
                    "table_version": m.table_version}

        missing = [c for c in m.key_cols if c not in updates.columns]
        if missing:
            raise ValueError(f"updates missing key columns: {missing}")

        # auto-evolve: batch columns the table has never seen become new
        # nullable columns, and known payload columns arriving at a
        # safely-wider type are widened, BEFORE the merge (adds + widens
        # only — renames stay an explicit evolve_schema call, since
        # rename detection from data is guesswork; mergeSchema-on-write
        # semantics). The evolve commits its own manifest version; the
        # merge then commits on top.
        if auto_evolve:
            known = set(m.current_schema().fieldNames())
            envelope = {op_col, seq_col}
            # retired names (explicitly dropped columns) are NOT
            # re-added: the drop was a deliberate schema decision, and
            # re-adding by name would resurrect old files' values —
            # the batch's values for them are ignored like any other
            # extra column
            retired = set(m.props.get("dropped_cols", ()))
            # pass DataType objects, not simpleString(): Spark's
            # StructType.add rejects some short names ("int")
            # internal engine columns (_seq/_deleted/_cseq/_fold) are
            # never user schema: a changelog-replication batch (the
            # synlake_cdc stream of a patch-mode source) legitimately
            # carries _cseq/_fold, which merge threads explicitly below
            # — evolving them as user columns would duplicate them in
            # the stored schema and durably corrupt the replica
            new_cols = [
                (f.name, f.dataType)
                for f in updates.schema.fields
                if f.name not in known and f.name not in envelope
                and f.name not in retired and f.name not in INTERNAL_COLS
            ]
            # type drift on KNOWN payload columns: a batch carrying a
            # safely-wider type (int→bigint, float→double) widens the
            # table column first — without this the normalization cast
            # below silently narrows, and an out-of-range value wraps
            # (non-ANSI cast), corrupting data. Key/bucket columns stay
            # at their physical type (bucket assignment hashes it); a
            # non-widening mismatch is left to the cast, as before.
            cur_schema = m.current_schema()
            widen = {}
            for f in updates.schema.fields:
                if (f.name in envelope or f.name not in known
                        or f.name in m.key_cols or f.name in m.bucket_cols):
                    continue
                src = cur_schema[f.name].dataType.simpleString()
                if f.dataType.simpleString() in self._WIDENINGS.get(src, ()):
                    widen[f.name] = f.dataType
            if new_cols or widen:
                self.evolve_schema(add_columns=new_cols, widen_types=widen)
                m = self.manifest

        # a batch carrying per-column CRDT state (merge_patches) flips the
        # table to patch mode BEFORE anything reads stored files, so the
        # CoW fold below and all subsequent reads see _cseq/_fold
        carries_patch_state = CSEQ_COL in updates.columns
        if carries_patch_state and not self._patch_enabled:
            self._set_prop(PATCH_PROP, True)
            m = self.manifest

        current_schema = m.current_schema()
        user_cols = [f.name for f in current_schema.fields]

        # normalize the batch to the stored shape (_read_files' column
        # order): user columns, _seq, _deleted from op, and a patch-state
        # batch's _cseq/_fold — so every LWW reduce breaks ties alike
        batch = updates.select(
            *[
                (F.col(c) if c in updates.columns else F.lit(None)).cast(
                    current_schema[c].dataType
                ).alias(c)
                for c in user_cols
            ],
            F.col(seq_col).cast("long").alias(SEQ_COL),
            F.upper(F.col(op_col)).isin(*DELETE_OPS).alias(DELETED_COL),
            *(
                [
                    F.col(CSEQ_COL).cast("map<string,long>").alias(CSEQ_COL),
                    F.col(FOLD_COL).cast("long").alias(FOLD_COL),
                ]
                if carries_patch_state
                else []
            ),
        )

        # (2) mor: reduce the batch to one winner per key (cow skips
        # this: its fold reduces the raw batch). Callers that ALREADY
        # hold one row per key (merge_patches' collapse, a pre-aggregated
        # compaction fold) pass pre_reduced=True to skip the reduction
        # shuffle entirely — the contract is the caller's to uphold; a
        # duplicate key would produce duplicate stored rows.
        if mode == "mor" and not pre_reduced:
            batch = self._reduce_mor_batch(batch)

        new_version = m.table_version + 1
        commit_dir = os.path.join(
            self.path, "data", f"c{new_version:012d}-{uuid.uuid4().hex[:8]}"
        )
        stat_cols = list(m.props.get("stats_cols") or [])
        blooms = {}
        if mode == "cow":
            # (2) keys-only pass over one shuffle: the affected buckets,
            # their winner counts and the winners' seq range (lineage)
            per_bucket = (
                batch.select(*m.key_cols, SEQ_COL)
                .withColumn(BUCKET_COL, self._bucket_expr())
                .repartition(BUCKET_COL)
                .groupBy(BUCKET_COL, *m.key_cols).agg(F.max(SEQ_COL).alias(SEQ_COL))
                .groupBy(BUCKET_COL)
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.min(SEQ_COL).alias("seq_min"), F.max(SEQ_COL).alias("seq_max"))
                .collect()
            )
            affected = sorted(r[BUCKET_COL] for r in per_bucket)
            src_stats = _sum_stats(dict(r.asDict(), bytes=0) for r in per_bucket)
            # (3) one LWW over the affected buckets' stored rows and the
            # raw batch; max(struct) collapses hot keys map-side
            if affected:
                stored = self._read_files(
                    [e for b in affected for e in m.buckets.get(str(b), [])]
                )
                combined = (
                    batch if stored is None
                    else stored.unionByName(batch, allowMissingColumns=True)
                )
                merged = self._lww_stored(combined).withColumn(
                    BUCKET_COL, self._bucket_expr()
                )
                blooms = self._salted_bucket_write(merged, commit_dir, bloom=True)
        else:
            if BUCKET_COL not in batch.columns:
                batch = batch.withColumn(BUCKET_COL, self._bucket_expr())
            blooms = self._salted_bucket_write(batch, commit_dir, bloom=True)
        written = _list_parquet_files(commit_dir, self.fs)
        written_stats = self._written_stats(written, stat_cols)
        if mode == "mor":
            # the deltas are the batch's winners: their listing and
            # footers give the affected buckets and lineage stats
            affected = sorted(written)
            src_stats = _sum_stats(written_stats.values())
        kind = "base" if mode == "cow" else "delta"
        written_entries = self._written_entries(
            written, kind, stat_cols, written_stats, blooms
        )

        new_buckets = dict(m.buckets)
        files_written, bytes_written, rows_written = 0, 0, 0
        lineage_rows = []
        for b in affected:
            entries = [] if mode == "cow" else list(m.buckets.get(str(b), []))
            entries += written_entries.get(b, [])
            for fp in written.get(b, {}):
                fstats = written_stats[fp]
                files_written += 1
                rows_written += fstats["rows"]
                bytes_written += fstats["bytes"]
                if collect_lineage:
                    lineage_rows.append(
                        {
                            "table_version": new_version,
                            "stream_id": stream_id,
                            "batch_id": str(batch_id) if batch_id is not None else None,
                            "bucket": b,
                            "file": fp,
                            "rows": fstats["rows"],
                            "bytes": fstats["bytes"],
                            "seq_min": src_stats["seq_min"],
                            "seq_max": src_stats["seq_max"],
                            "source_events": src_stats["rows"],
                        }
                    )
            new_buckets[str(b)] = entries  # empty list = bucket fully deleted

        applied = {k: dict(v) for k, v in m.applied_batches.items()}
        if batch_id is not None:
            applied.setdefault(stream_id, {})[str(batch_id)] = {
                "table_version": new_version,
                "seq_max": src_stats["seq_max"],
            }

        new_manifest = Manifest(
            table_version=new_version,
            key_cols=m.key_cols,
            bucket_cols=m.bucket_cols,
            num_buckets=m.num_buckets,
            current_schema_id=m.current_schema_id,
            schemas=m.schemas,
            buckets=new_buckets,
            applied_batches=applied,
            parent_version=m.table_version,
            props=m.props,
        )
        if lineage_rows:
            self._append_lineage(lineage_rows)
        self._commit_manifest(self.path, new_manifest, self.fs, ref_source=m)
        self.manifest = new_manifest

        result = {
            "applied": True,
            "table_version": new_version,
            "affected_buckets": affected,
            "files_written": files_written,
            "rows_written": rows_written,
            "bytes_written": bytes_written,
            "source_events": src_stats["rows"],
            "mode": mode,
        }

        # auto-compaction policy (see create()): fold buckets whose delta
        # count crossed the threshold, as a follow-on commit. Tombstones
        # are kept — stale redelivery stays order-insensitive.
        auto_min = int(new_manifest.props.get("auto_compact_min_deltas") or 0)
        if mode == "mor" and auto_min > 0:
            victims = [
                b for b in affected
                if sum(
                    1 for e in new_manifest.buckets.get(str(b), [])
                    if e.get("kind", "base") == "delta"
                ) >= auto_min
            ]
            if victims:
                result["auto_compacted"] = self.compact(
                    buckets=victims, drop_tombstones=False
                )
        return result

    def merge_patches(
        self,
        updates: DataFrame,
        *,
        op_col: str = "op",
        seq_col: str = "seq",
        set_col: str = "set_cols",
        stream_id: str = "default",
        batch_id: int | str | None = None,
        **merge_kwargs: Any,
    ) -> dict[str, Any]:
        """MERGE a batch of PARTIAL-column change events (Paimon-style
        partial-update merge engine; see ``operators/patch.py`` for the
        event contract and collapse semantics).

        Execution — built so no step touches more than O(batch) + the
        stored rows of the batch's own buckets:

        1. collapse the batch to one row per key with per-column
           last-writer-wins (one ``groupBy`` with map-side partial agg);
        2. read the CURRENT stored rows of only the buckets the batch
           touches (bucket ids come from the collapsed key set — at most
           ``num_buckets`` distinct values, collected from the persisted
           collapsed frame);
        3. join collapsed ← stored on the keys (stored side streams, the
           batch-sized collapsed side is the build side under AQE) and
           fill each UNSET column from the stored row — unless the batch
           contains a DELETE for the key (``_wipe_base``), which resets
           it to an empty row first;
        4. feed the now-FULL rows through the normal ``merge`` path
           (same tombstones, batch markers, lineage, CoW/MoR modes) with
           ``pre_reduced=True`` — steps 1+3 already guarantee one row per
           key, so a MoR merge skips its LWW shuffle (a CoW fold reduces
           the rows with the stored ones anyway).

        Ordering: batch application is ORDER-INSENSITIVE. Each stored row
        carries per-column CRDT state — ``_cseq`` (column name → seq of
        its latest write; reserved key ``__del__`` → latest DELETE seq)
        and ``_fold`` (a monotone fold counter for read-time tie-breaks).
        Merging a batch is a pointwise max of that state (join-semilattice
        join), so replaying patch batches in ANY order — including stale
        batches redelivered late with fresh batch ids — converges to the
        identical table state. Rows written by the full-row path read as
        "every column set at ``_seq``" (and tombstones as "deleted at
        ``_seq``"), so the algebra covers pre-existing data. Per column,
        the effective write is the one with the higher seq; it survives
        iff its seq is above the latest DELETE seq; a key with no
        surviving column is a tombstone. Keys to which the batch
        contributes nothing new (every batch write ≤ the stored state)
        are dropped before the write — a redelivered batch under a new
        batch id writes zero rows.
        """
        from synapse_etl_jobs_spark.operators.patch import (
            col_seq_col, collapse_patches,
        )

        m = self.manifest
        if batch_id is not None and self.is_batch_applied(stream_id, batch_id):
            return {"applied": False, "reason": "batch_already_applied",
                    "table_version": m.table_version}
        missing = [c for c in m.key_cols if c not in updates.columns]
        if missing:
            raise ValueError(f"updates missing key columns: {missing}")

        current_schema = m.current_schema()
        user_cols = [f.name for f in current_schema.fields]
        payload_cols = [c for c in user_cols if c not in m.key_cols]
        if not payload_cols:
            raise ValueError("merge_patches needs at least one payload column")

        batch = updates.select(
            *[
                (F.col(c) if c in updates.columns else F.lit(None)).cast(
                    current_schema[c].dataType
                ).alias(c)
                for c in user_cols
            ],
            F.upper(F.col(op_col)).alias(op_col),
            F.col(seq_col).cast("long").alias(seq_col),
            (F.col(set_col) if set_col in updates.columns
             else F.lit(None).cast("array<string>")).alias(set_col),
        )
        collapsed = collapse_patches(
            batch, m.key_cols, payload_cols,
            seq_col=seq_col, op_col=op_col, set_col=set_col,
        ).persist()
        try:
            # bucket-prune the stored side: ≤ num_buckets driver rows
            touched = [
                r[0]
                for r in collapsed.select(
                    self._bucket_expr().alias("_b")
                ).distinct().collect()
            ]
            stored_entries = [
                e for b in sorted(touched) for e in m.buckets.get(str(b), [])
            ]
            stored = self._current_view(stored_entries)

            scseq = F.col("_stored_cseq")
            sseq = F.col("_stored_seq")
            sdel_flag = F.coalesce(F.col("_stored_del"), F.lit(False))
            if stored is None:
                joined = collapsed.select(
                    "*",
                    F.lit(None).cast("long").alias("_stored_seq"),
                    F.lit(None).cast("boolean").alias("_stored_del"),
                    F.lit(None).cast("long").alias("_stored_fold"),
                    F.lit(None).cast("map<string,long>").alias("_stored_cseq"),
                    *[F.lit(None).cast(current_schema[c].dataType)
                      .alias(f"_stored_{c}") for c in payload_cols],
                )
            else:
                # tombstones STAY visible: their delete seq is load-bearing
                # (a stale pre-delete patch must not resurrect the key)
                stored = stored.select(
                    *m.key_cols,
                    F.col(SEQ_COL).alias("_stored_seq"),
                    F.col(DELETED_COL).alias("_stored_del"),
                    (F.col(FOLD_COL) if FOLD_COL in stored.columns
                     else F.lit(None).cast("long")).alias("_stored_fold"),
                    (F.col(CSEQ_COL) if CSEQ_COL in stored.columns
                     else F.lit(None).cast("map<string,long>")
                     ).alias("_stored_cseq"),
                    *[F.col(c).alias(f"_stored_{c}") for c in payload_cols],
                )
                joined = stored.join(collapsed, list(m.key_cols), "right")

            # State algebra (join-semilattice; every piece below is a
            # pointwise max, so batch order cannot matter):
            #   _cseq[c]       = max(latest write seq to c, latest DELETE
            #                    seq) — the col's OBSOLESCENCE bound: any
            #                    write to c at or below it can never become
            #                    visible. Clamping dead cols to the delete
            #                    seq (instead of dropping their entries)
            #                    keeps the map pointwise-monotone.
            #                    _fold (a per-key write counter, see the
            #                    fold comment below) STRICTLY increases
            #                    on every write — the read-time
            #                    tie-break relies on that.
            #   _cseq[__del__] = latest DELETE seq.
            #   value of c     = the winning write's value iff its seq >
            #                    the delete seq (alive), else null.
            # Legacy rows (written by the full-row path, _cseq null) read
            # as: every entry = _seq; tombstone ⇒ delete seq = _seq.
            sdel = F.when(scseq.isNotNull(), scseq[DEL_KEY]).otherwise(
                F.when(sdel_flag, sseq)
            )
            ndel = F.greatest(sdel, F.col("_bdel"))
            # key-existence touch: max non-DELETE event seq ever seen (an
            # empty-set PATCH keeps a key alive without setting a column)
            stouch = F.when(scseq.isNotNull(), scseq[LIVE_KEY]).otherwise(
                F.when(~sdel_flag, sseq)
            )
            ntouch = F.greatest(stouch, F.col("_btouch"))

            ent_cols, val_cols, alive_flags = [], [], []
            contrib = (
                F.col("_bdel").isNotNull() & (sdel.isNull() | (F.col("_bdel") > sdel))
            ) | (
                F.col("_btouch").isNotNull()
                & (stouch.isNull() | (F.col("_btouch") > stouch))
            )
            for c in payload_cols:
                s_ent = F.when(scseq.isNotNull(), scseq[c]).otherwise(sseq)
                bcs = F.col(col_seq_col(c))
                win = F.greatest(s_ent, bcs)
                new_ent = F.when(win.isNotNull(), F.greatest(win, ndel))
                use_batch = bcs.isNotNull() & (s_ent.isNull() | (bcs > s_ent))
                alive = win.isNotNull() & (ndel.isNull() | (win > ndel))
                ent_cols.append(new_ent.alias(col_seq_col(c)))
                val_cols.append(
                    F.when(alive & use_batch, F.col(c))
                    .when(alive, F.col(f"_stored_{c}"))
                    .cast(current_schema[c].dataType).alias(c)
                )
                alive_flags.append(alive)
                # a batch write above the stored entry always grows the
                # state map (new_ent ≥ bcs > s_ent, or a new entry)
                contrib = contrib | use_batch

            is_live = ntouch.isNotNull() & (ndel.isNull() | (ntouch > ndel))
            for a in alive_flags:
                is_live = is_live | a

            # drop keys the batch cannot change (stale/duplicate writes):
            # a redelivered batch under a fresh batch id writes 0 rows
            resolved = joined.filter(contrib).select(
                *m.key_cols, *val_cols, *ent_cols,
                ndel.alias("_ndel"),
                ntouch.alias("_ntouch"),
                is_live.alias("_is_live"),
                # stored effective fold (legacy full-row versions read as
                # fold = _seq, matching _lww_stored's coalesce)
                F.coalesce(F.col("_stored_fold"), sseq).alias("_sfold"),
            )

            ents = [F.col(col_seq_col(c)) for c in payload_cols]
            cseq_entries = []
            for c in payload_cols:
                cseq_entries += [F.lit(c), F.col(col_seq_col(c))]
            cseq_entries += [F.lit(DEL_KEY), F.col("_ndel")]
            cseq_entries += [F.lit(LIVE_KEY), F.col("_ntouch")]
            cseq_map = F.map_filter(
                F.create_map(*cseq_entries), lambda k, v: v.isNotNull()
            )
            # fold = max(stored effective fold, new row seq) + 1:
            # (a) strictly above the stored winner (and every older
            #     physical version — each had strictly smaller
            #     (_seq, fold)), so the read-time (_seq, _fold)
            #     tie-break always picks this write, for ANY seq values
            #     — a sum of seq terms is NOT monotone when a new state
            #     entry carries a negative seq;
            # (b) strictly above the row's own _seq, so it also beats
            #     any equal-seq legacy full-row version (whose effective
            #     fold reads as _seq).
            new_seq = F.greatest(*ents, F.col("_ndel"), F.col("_ntouch"))
            fold = F.greatest(F.col("_sfold"), new_seq) + F.lit(1)

            full = resolved.select(
                *m.key_cols, *payload_cols,
                F.when(F.col("_is_live"), F.lit("UPSERT"))
                .otherwise(F.lit("DELETE")).alias("op"),
                new_seq.alias("seq"),
                cseq_map.alias(CSEQ_COL),
                fold.alias(FOLD_COL),
            )

            # collapse already produced exactly one row per key (and the
            # stored side is itself LWW-reduced), so merge() can skip its
            # own reduction shuffle — measured 1.3-1.5x on patch replays
            merge_kwargs.setdefault("pre_reduced", True)
            return self.merge(
                full, op_col="op", seq_col="seq",
                stream_id=stream_id, batch_id=batch_id, **merge_kwargs,
            )
        finally:
            collapsed.unpersist()

    # -- row-level maintenance: DELETE / UPDATE by predicate ----------------

    def _sql_refs(self, sql_text: Any) -> "list[str] | None":
        """Top-level column names a SQL expression string references, via
        Spark's own expression parser (driver-side, no job, no analysis).
        ``None`` when the input is a Column object, parsing fails, or any
        reference is not a current-schema column (struct-field paths,
        typos) — callers then fall back to a full-width read, which is
        always correct, just unpruned."""
        if not isinstance(sql_text, str):
            return None
        try:
            expr = (
                self.spark._jsparkSession.sessionState().sqlParser()
                .parseExpression(sql_text)
            )
            it = expr.references().iterator()
            refs: set[str] = set()
            while it.hasNext():
                refs.add(it.next().name())
        except Exception:
            return None
        fields = set(self.manifest.current_schema().fieldNames())
        if not refs.issubset(fields):
            return None
        return sorted(refs)

    _CMP_FLIP = {
        "LessThan": "GreaterThan",
        "LessThanOrEqual": "GreaterThanOrEqual",
        "GreaterThan": "LessThan",
        "GreaterThanOrEqual": "LessThanOrEqual",
        "EqualTo": "EqualTo",
    }

    def _predicate_bounds(self, sql_text: Any) -> "dict[str, tuple[Any, Any]]":
        """Best-effort column range bounds from the top-level AND-conjuncts
        of a SQL predicate string (driver-side parse, no job) — the input
        to manifest-level file skipping (``_range_pruned_entries``).

        Soundness: every returned bound is implied by the predicate (a
        conjunct can only narrow the match set), so pruning with them
        keeps a SUPERSET of matching files; the exact predicate is still
        applied to the surviving rows. Conjuncts that aren't a plain
        ``col <cmp> literal`` (ORs, function calls, struct paths,
        non-schema names, literals whose Python type doesn't match the
        column — e.g. a string literal against an int column, which
        would make the stats comparison meaningless) contribute nothing.
        Returns {} when nothing is derivable — callers skip pruning."""
        from pyspark.sql.types import (
            ByteType, DoubleType, FloatType, IntegerType, LongType,
            ShortType, StringType,
        )

        if not isinstance(sql_text, str):
            return {}
        try:
            expr = (
                self.spark._jsparkSession.sessionState().sqlParser()
                .parseExpression(sql_text)
            )
            conjuncts = []
            stack = [expr]
            while stack:
                e = stack.pop()
                if e.getClass().getSimpleName() == "And":
                    stack.append(e.left())
                    stack.append(e.right())
                else:
                    conjuncts.append(e)

            fields = {
                f.name: f.dataType
                for f in self.manifest.current_schema().fields
            }
            int_types = (ByteType, ShortType, IntegerType, LongType)
            float_types = (FloatType, DoubleType)

            def lit_value(lit: Any) -> Any:
                v = lit.value()
                if isinstance(v, (bool, int, float, str)):
                    return v
                if v is None:
                    return None
                jcls = v.getClass().getName()
                if "UTF8String" in jcls:
                    return str(v)
                if "Decimal" in jcls:
                    # plain fractional literals ("0.5") parse as Decimal —
                    # without this the float/double pruning path would
                    # only ever fire on the unusual "0.5D" form
                    return float(str(v))
                return None  # intervals/binary/dates: skip

            def kind(x):
                return x.getClass().getSimpleName()

            def typed_ok(col: str, v: Any) -> bool:
                t = fields[col]
                return (
                    (isinstance(v, int) and isinstance(t, int_types))
                    or (isinstance(v, (int, float))
                        and isinstance(t, float_types))
                    or (isinstance(v, str) and isinstance(t, StringType))
                )

            bounds: dict[str, tuple[Any, Any]] = {}

            def narrow(col: str, lo_v: Any, hi_v: Any) -> None:
                lo, hi = bounds.get(col, (None, None))
                if lo_v is not None:
                    lo = lo_v if lo is None else max(lo, lo_v)
                if hi_v is not None:
                    hi = hi_v if hi is None else min(hi, hi_v)
                bounds[col] = (lo, hi)

            for e in conjuncts:
                op = e.getClass().getSimpleName()
                if (op == "UnresolvedFunction"
                        and str(e.nameParts()) == "List(between)"):
                    # BETWEEN stays an unresolved "between" function call
                    # at parse time (Spark 4 rewrites it during
                    # analysis): children = [col, lo, hi]
                    ch = []
                    it = e.children().iterator()
                    while it.hasNext():
                        ch.append(it.next())
                    if (len(ch) == 3
                            and kind(ch[0]) == "UnresolvedAttribute"
                            and kind(ch[1]) == "Literal"
                            and kind(ch[2]) == "Literal"):
                        col = ch[0].name()
                        lo_v, hi_v = lit_value(ch[1]), lit_value(ch[2])
                        if (col in fields
                                and lo_v is not None and hi_v is not None
                                and not isinstance(lo_v, bool)
                                and not isinstance(hi_v, bool)
                                and typed_ok(col, lo_v)
                                and typed_ok(col, hi_v)):
                            narrow(col, lo_v, hi_v)
                    continue
                if op == "In":
                    # col IN (lit, ...): bound by the list's [min, max] —
                    # a superset of the exact member set, sound
                    if kind(e.value()) != "UnresolvedAttribute":
                        continue
                    col = e.value().name()
                    if col not in fields:
                        continue
                    items = []
                    it = e.list().iterator()
                    while it.hasNext():
                        x = it.next()
                        if kind(x) != "Literal":
                            items = None
                            break
                        v = lit_value(x)
                        if v is None or isinstance(v, bool) \
                                or not typed_ok(col, v):
                            items = None
                            break
                        items.append(v)
                    if items:  # non-empty, all usable literals
                        narrow(col, min(items), max(items))
                    continue
                if op not in self._CMP_FLIP:
                    continue
                left, right = e.left(), e.right()
                if kind(left) == "UnresolvedAttribute" and kind(right) == "Literal":
                    col, lit = left.name(), right
                elif kind(right) == "UnresolvedAttribute" and kind(left) == "Literal":
                    col, lit, op = right.name(), left, self._CMP_FLIP[op]
                else:
                    continue
                if col not in fields:
                    continue
                v = lit_value(lit)
                if v is None or isinstance(v, bool) or not typed_ok(col, v):
                    continue
                if op == "EqualTo":
                    narrow(col, v, v)
                elif op in ("GreaterThan", "GreaterThanOrEqual"):
                    # strictness ignored: an inclusive bound keeps a
                    # superset of files — sound
                    narrow(col, v, None)
                else:  # LessThan / LessThanOrEqual
                    narrow(col, None, v)
            return bounds
        except Exception:
            return {}

    def _matched_view(
        self, predicate: Any, project: "list[str] | None"
    ) -> "tuple[DataFrame, dict[str, int] | None]":
        """Live rows matching ``predicate`` (internal columns kept), over a
        scan pruned two ways: to keys + ``project`` columns when given,
        and to the manifest files whose recorded [min, max] stats can
        intersect the predicate's derivable range bounds (plan-time file
        skipping, same machinery as ``scan_range`` — sound superset; the
        exact predicate still applies). Returns (view, pruning stats or
        None when no bounds were derivable)."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        m = self.manifest
        bounds = self._predicate_bounds(predicate)
        if bounds:
            entries, prune_stats = self._range_pruned_entries(bounds)
        else:
            entries = [e for lst in m.buckets.values() for e in lst]
            prune_stats = None
        view = self._current_view(entries, project=project)
        if view is None:
            view = self.spark.createDataFrame(
                [], self._stored_schema(m.current_schema_id)
            )
        live = view.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return live.filter(cond), prune_stats

    def _next_seq_expr(self, seq: "int | None", have_cseq: bool):
        """Per-key seq for a maintenance write: stored winner seq + 1, so
        the write beats everything stored for that key while upstream
        events with higher seqs still beat it (seq ordering is per-key
        under LWW — no global sequence needed). On patch tables the
        per-column seqs can exceed the row ``_seq``, so take the max over
        the CRDT map too. An explicit ``seq`` pins one global value."""
        if seq is not None:
            return F.lit(int(seq)).cast("long")
        stored = F.coalesce(F.col(SEQ_COL).cast("long"), F.lit(0))
        if have_cseq:
            stored = F.greatest(
                stored,
                F.coalesce(
                    F.array_max(F.map_values(F.col(CSEQ_COL))), F.lit(0)
                ),
            )
        return stored + F.lit(1)

    @staticmethod
    def _reject_fixed_merge_kwargs(merge_kwargs: dict) -> None:
        """The maintenance ops build their own batch, so the envelope
        column names are fixed — forwarding a caller's op_col/seq_col/
        set_col would collide with the explicit arguments at the merge
        call (an opaque TypeError); refuse with an explanation instead."""
        for banned in ("op_col", "seq_col", "set_col"):
            if banned in merge_kwargs:
                raise ValueError(
                    f"{banned} is fixed for maintenance batches "
                    "(delete_where/update_where synthesize the change "
                    "events themselves)"
                )

    def delete_where(
        self,
        predicate: Any,
        *,
        seq: "int | None" = None,
        stream_id: str = "maintenance-delete",
        batch_id: "int | str | None" = None,
        **merge_kwargs: Any,
    ) -> dict[str, Any]:
        """Row-level ``DELETE FROM table WHERE predicate`` (Iceberg
        row-delete analog), issued as a first-class CDC event batch.

        Matched keys get a tombstone at per-key seq = stored winner seq
        + 1 (see ``_next_seq_expr``): the delete wins over everything
        stored, while an upstream change event with a HIGHER seq still
        wins over the delete — a post-delete upsert legitimately
        recreates the key, exactly the CDC stream-order semantics (and a
        GDPR-style purge that must also stop the upstream is the
        caller's pipeline concern, not the table's). Pass ``seq`` to pin
        one explicit global seq instead.

        Because it runs as a normal ``merge`` (a merge version, not a
        rewrite stamp), everything downstream composes for free:
        tombstones keep it order-insensitive against redelivered stale
        events, ``batch_id`` gives exactly-once, lineage/metrics rows are
        emitted, and ``changes()`` / incremental-view consumers see
        ordinary per-row change records. The default ``stream_id`` is
        namespaced PER OP KIND (``maintenance-delete`` here vs
        ``maintenance-update``), so a delete and an update issued with
        the same ``batch_id`` never dedupe against each other. On patch-mode tables the delete
        routes through ``merge_patches`` so the per-column CRDT delete
        seq is recorded (a stale partial patch cannot resurrect the key).

        Scan cost: ONE predicate scan of the live view, O(table) like any
        predicate delete, with the scan pruned to keys + the predicate's
        referenced columns BEFORE the MoR reduce when a string predicate
        parses cleanly (same contract as ``scan_keys(columns=)``) — the
        wide content column never leaves parquet for a delete on
        metadata columns. The tombstone batch itself is O(matched keys).
        A predicate matching nothing still commits the batch marker
        (exactly-once bookkeeping), writing zero files.
        """
        self._reject_fixed_merge_kwargs(merge_kwargs)
        skip = self._legacy_maintenance_skip(stream_id, batch_id)
        if skip is not None:
            return skip
        matched, prune_stats = self._matched_view(
            predicate, self._sql_refs(predicate)
        )
        seq_expr = self._next_seq_expr(seq, CSEQ_COL in matched.columns)
        batch = matched.select(
            *self.manifest.key_cols,
            F.lit("DELETE").alias("op"),
            seq_expr.alias("seq"),
        )
        if self._patch_enabled:
            res = self.merge_patches(
                batch, stream_id=stream_id, batch_id=batch_id, **merge_kwargs
            )
        else:
            # the live view is already LWW-reduced: one row per key
            merge_kwargs.setdefault("pre_reduced", True)
            res = self.merge(
                batch, op_col="op", seq_col="seq",
                stream_id=stream_id, batch_id=batch_id, **merge_kwargs,
            )
        if prune_stats is not None:
            res["scan_pruning"] = prune_stats
        return res

    def _legacy_maintenance_skip(
        self, stream_id: str, batch_id: "int | str | None"
    ) -> "dict[str, Any] | None":
        """Upgrade continuity for the default maintenance streams: markers
        recorded by the pre-namespacing release lived under the shared
        "maintenance" stream — honor them so a redelivered old batch
        cannot double-apply (the cost is the old cross-op-kind false
        dedupe, but only for batch ids that predate the upgrade). Only
        the two default ids ever shared that stream; a custom
        ``maintenance-*`` id is never short-circuited by it. The skip
        names the legacy stream in ``marker_stream``."""
        if (batch_id is None or stream_id not in DEFAULT_MAINTENANCE_STREAMS
                or not self.is_batch_applied("maintenance", batch_id)):
            return None
        return {"applied": False, "reason": "batch_already_applied",
                "marker_stream": "maintenance",
                "table_version": self.manifest.table_version}

    def update_where(
        self,
        predicate: Any,
        set_exprs: "dict[str, Any]",
        *,
        seq: "int | None" = None,
        stream_id: str = "maintenance-update",
        batch_id: "int | str | None" = None,
        **merge_kwargs: Any,
    ) -> dict[str, Any]:
        """Row-level ``UPDATE table SET col = expr, ... WHERE predicate``.

        ``set_exprs`` maps column name → SQL expression string (or
        Column) evaluated over the matched row, e.g. ``{"lang": "'en'",
        "stars": "stars + 1"}``. Key/bucket columns cannot be updated —
        under key-addressed storage that is a delete + insert of two
        different keys, which the caller must express explicitly.

        Same composition story as ``delete_where`` (per-key seq + 1,
        normal merge ⇒ exactly-once / lineage / changelog all work). On
        patch-mode tables only the SET columns are written — a
        partial-column patch, O(matched × set columns) bytes (the Paimon
        partial-update path) — and the scan is pruned to keys + the
        predicate's and set expressions' referenced columns. Plain
        tables write the full updated row (full-row storage needs every
        column), so their predicate scan is full-width by necessity.
        """
        self._reject_fixed_merge_kwargs(merge_kwargs)
        skip = self._legacy_maintenance_skip(stream_id, batch_id)
        if skip is not None:
            return skip
        m = self.manifest
        fields = set(m.current_schema().fieldNames())
        if not set_exprs:
            raise ValueError("update_where needs at least one SET column")
        for c in set_exprs:
            if c not in fields:
                raise ValueError(f"SET target {c!r} not in the table schema")
            if c in m.key_cols or c in m.bucket_cols:
                raise ValueError(
                    f"cannot update key/bucket column {c!r} — that is a "
                    "delete + insert of a different key; do it explicitly"
                )

        def as_expr(v: Any):
            return F.expr(v) if isinstance(v, str) else v

        if self._patch_enabled:
            # prune to what the patch needs: predicate refs + set-expr refs
            need: "set[str] | None" = set()
            for text in (predicate, *set_exprs.values()):
                refs = self._sql_refs(text)
                if refs is None:
                    need = None
                    break
                need.update(refs)
            project = sorted(need | set(set_exprs)) if need is not None else None
            matched, prune_stats = self._matched_view(predicate, project)
            seq_expr = self._next_seq_expr(seq, CSEQ_COL in matched.columns)
            batch = matched.select(
                *m.key_cols,
                *[as_expr(v).alias(c) for c, v in set_exprs.items()],
                F.lit("PATCH").alias("op"),
                seq_expr.alias("seq"),
                F.array(*[F.lit(c) for c in set_exprs]).alias("set_cols"),
            )
            # widen first when a SET expression resolves safely wider
            # than its column — merge_patches' normalization cast is
            # non-ANSI and would silently wrap the value otherwise
            # (same contract as the non-patch path below)
            cur = m.current_schema()
            widen = {
                f.name: f.dataType
                for f in batch.schema.fields
                if f.name in set_exprs
                and f.dataType.simpleString()
                in self._WIDENINGS.get(cur[f.name].dataType.simpleString(), ())
            }
            if widen:
                self.evolve_schema(widen_types=widen)
            res = self.merge_patches(
                batch, stream_id=stream_id, batch_id=batch_id, **merge_kwargs
            )
            if prune_stats is not None:
                res["scan_pruning"] = prune_stats
            return res

        matched, prune_stats = self._matched_view(predicate, None)
        seq_expr = self._next_seq_expr(seq, CSEQ_COL in matched.columns)
        user_cols = [f.name for f in m.current_schema().fields]
        # SET expressions keep their RESOLVED type — no eager cast to the
        # column type. merge's auto-evolve then WIDENS the column when the
        # expression resolves safely wider (int→bigint, float→double, via
        # _WIDENINGS); the old eager non-ANSI cast silently wrapped such
        # values. Non-widenable mismatches (e.g. string→int) still go
        # through merge's normalization cast, as in SQL UPDATE.
        batch = matched.select(
            *[
                (as_expr(set_exprs[c]) if c in set_exprs else F.col(c)).alias(c)
                for c in user_cols
            ],
            F.lit("UPSERT").alias("op"),
            seq_expr.alias("seq"),
        )
        merge_kwargs.setdefault("pre_reduced", True)
        merge_kwargs.setdefault("auto_evolve", True)
        res = self.merge(
            batch, op_col="op", seq_col="seq",
            stream_id=stream_id, batch_id=batch_id, **merge_kwargs,
        )
        if prune_stats is not None:
            res["scan_pruning"] = prune_stats
        return res

    def compact(
        self,
        *,
        drop_tombstones: bool = True,
        buckets: Sequence[int] | None = None,
        min_files: int = 1,
        sort_cols: Sequence[str] | None = None,
        zorder_cols: Sequence[str] | None = None,
        zorder_bits: int = 6,
        target_file_mb: float | None = None,
    ) -> dict:
        """Maintenance rewrite (Iceberg ``rewrite_data_files`` analog):
        coalesce bucket files and optionally GC tombstones. The rewrite
        goes through the salted bucket write, so a large hot bucket is
        rewritten by up to ``write_salt`` tasks (≤ ``write_salt`` output
        files per bucket) instead of one straggler, and a small bucket
        comes out as one file.

        ``sort_cols`` range-clusters the rewrite (Iceberg
        ``rewrite_data_files(strategy => 'sort')`` analog) at BOTH
        granularities: each bucket's files are split by contiguous
        ranges of the LEADING sort column (sampled boundaries — files
        get intervals, not key-hash-random subsets, so the per-file
        [min, max] recorded in the manifest lets ``scan_range`` /
        ``read_where`` / ``delete_where`` skip whole files; a retention
        sweep over a time-sorted table touches only matched files), and
        rows inside each file are fully sorted so parquet row-group
        min/max stats stay selective for every sort column. A constant
        leading column falls back to the key-hash split.

        ``zorder_cols`` instead clusters each bucket's files along a
        Morton curve over SEVERAL columns at once (Delta ``OPTIMIZE
        ZORDER BY`` analog, see ``lake/zorder.py``): every rewritten
        file covers a small hyper-rectangle of the z-column space, so
        the per-file min/max column stats this rewrite records in the
        manifest (Iceberg column-metrics analog) let ``scan_range``
        skip files for predicates on ANY z-column — ~N^(1/k) of each
        column's domain per file instead of the full domain that a
        linear sort leaves on every non-leading column. Mutually
        exclusive with ``sort_cols``. Stats are recorded for
        ``sort_cols`` too (leading-column pruning).

        SELECTIVE by default shape: only buckets with ≥ ``min_files``
        file entries are rewritten (or exactly the explicit ``buckets``
        list); everything else keeps its current entries untouched.
        Keys never cross buckets, so per-bucket compaction is exact. A
        continuously-ingesting table runs ``compact(min_files=K)`` on a
        schedule and pays O(small-file backlog), not O(table) — the
        maintenance loop that keeps read amplification flat at 10^10
        events. ``min_files=1`` (default) rewrites every non-empty
        bucket: full compaction, the round-1 behavior.

        Tombstones are safe to drop once no replay can deliver events older
        than the tombstone's seq — i.e. after the stream's checkpoint has
        passed it (Kafka log-compaction retention semantics). The caller
        owns that retention decision.
        """
        m = self.manifest
        nonempty = sorted(int(b) for b, lst in m.buckets.items() if lst)
        if buckets is not None:
            wanted = set(int(b) for b in buckets)
            victims = [b for b in nonempty if b in wanted]
        else:
            victims = [
                b for b in nonempty
                if len(m.buckets[str(b)]) >= max(int(min_files), 1)
            ]
        if not victims:
            return {"applied": False, "reason": "nothing to compact"}
        if sort_cols and zorder_cols:
            raise ValueError("sort_cols and zorder_cols are mutually exclusive")
        entries = [e for b in victims for e in m.buckets[str(b)]]
        # what this compaction READ, per bucket — the rebase admissibility
        # check below needs to know whether a racing commit preserved it
        read_paths = {b: {e["path"] for e in m.buckets[str(b)]} for b in victims}
        df = self._current_view(entries)  # folds MoR deltas (victims only — exact: keys never cross buckets)
        if drop_tombstones:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        cluster = None
        if zorder_cols:
            from synapse_etl_jobs_spark.lake.zorder import zorder_column

            # keys are unique per row in the folded view, so hashing
            # them gives a row-uniform sample draw while each sampling
            # scan reads only (keys + the sampled column) — never the
            # payload width
            zc, zb = zorder_column(df, list(zorder_cols), bits=int(zorder_bits),
                                   hash_cols=self.manifest.key_cols)
            cluster = (zc, 1 << zb)
        elif sort_cols:
            # file-level range clustering on the LEADING sort column
            # (Iceberg sort-strategy rewrites range-partition by the
            # sort order): files get contiguous value ranges instead of
            # key-hash-random subsets, so the per-file [min, max] stats
            # recorded below make scan_range / read_where / delete_where
            # skip FILES, not just row groups — a retention sweep
            # ("DELETE WHERE ts < cutoff") over a time-sorted table then
            # touches only the matched files. The quantize expression is
            # monotone in the value (1-D case of the Morton machinery),
            # so sorting by (range, value) == sorting by value. A
            # constant leading column yields no boundaries — fall back
            # to the key-hash split (range-clustering a constant is
            # meaningless and would collapse each bucket to one writer).
            from synapse_etl_jobs_spark.lake.zorder import (
                quantize_expr, sample_boundaries,
            )

            lead = list(sort_cols)[0]
            bounds = sample_boundaries(
                df, [lead], bits=int(zorder_bits),
                hash_cols=self.manifest.key_cols,
            )
            if bounds[lead]:
                # domain = EXACT quantize-value count (len(bounds)+1 ≤
                # 2^bits; boundary dedup shrinks it on low-cardinality
                # columns) — the write scales ranges by it
                cluster = (
                    quantize_expr(lead, bounds[lead]),
                    len(bounds[lead]) + 1,
                )
        parts_by_bucket = None
        if target_file_mb:
            if zorder_cols:
                raise ValueError("target_file_mb and zorder_cols are mutually exclusive")
            # binpack (Iceberg rewrite_data_files binpack-strategy analog):
            # size each bucket's output file count from its CURRENT bytes
            # (driver stat calls on the victim entries — metadata, no data
            # read; cluster-side this is the listStatus the rewrite does
            # anyway). Folding deltas/tombstones only shrinks the result,
            # so files come out at or under target.
            tgt = float(target_file_mb) * (1 << 20)
            parts_by_bucket = {}
            for b in victims:
                nbytes = sum(
                    self.fs.size(e["path"]) for e in m.buckets[str(b)]
                    if self.fs.exists(e["path"])
                )
                parts_by_bucket[int(b)] = max(1, round(nbytes / tgt))
        df = df.withColumn(BUCKET_COL, self._bucket_expr())

        new_version = m.table_version + 1
        commit_dir = os.path.join(
            self.path, "data", f"c{new_version:012d}-{uuid.uuid4().hex[:8]}"
        )
        blooms = self._salted_bucket_write(
            df, commit_dir, min_tasks=len(victims), sort_cols=sort_cols,
            cluster=cluster, parts_by_bucket=parts_by_bucket, bloom=True,
        )
        written = _list_parquet_files(commit_dir, self.fs)
        my_entries = self._written_entries(
            written, "base",
            list(zorder_cols or sort_cols or m.props.get("stats_cols") or []),
            blooms=blooms,
        )

        def build(base: Manifest) -> Manifest:
            # my rewritten base files replace EXACTLY the entries this
            # compaction read; entries a rival commit added since (MoR
            # deltas) stay stacked on top — the LWW fold is
            # order-insensitive, so base-then-rival-deltas reads the
            # same state as the serial compact-then-merge history
            nb = dict(base.buckets)
            for b in victims:
                rivals = [
                    e for e in base.buckets.get(str(b), [])
                    if e["path"] not in read_paths[b]
                ]
                nb[str(b)] = my_entries.get(b, []) + rivals
            return Manifest(
                table_version=base.table_version + 1,
                key_cols=base.key_cols,
                bucket_cols=base.bucket_cols,
                num_buckets=base.num_buckets,
                current_schema_id=base.current_schema_id,
                schemas=base.schemas,
                buckets=nb,
                applied_batches=base.applied_batches,
                parent_version=base.table_version,
                props=base.props,
                # state-preserving stamp: lets incremental consumers skip
                # this version instead of refreshing (see Manifest.commit_kind)
                commit_kind="compact",
            )

        # commit with manifest-level REBASE: a rival merge landing
        # mid-compaction only ADDS delta entries, so the rewrite is
        # re-parented without recomputation (O(manifest), no data read).
        # Non-rebasable conflicts — the rival rewrote/removed something
        # this compaction read (CoW merge, another compaction, rollback),
        # changed the bucket spec, or retired the write-epoch schema —
        # raise ConcurrentWriteError; compact_with_retry recomputes then.
        base, rebases = m, 0
        while True:
            new_manifest = build(base)
            try:
                self._commit_manifest(
                    self.path, new_manifest, self.fs, ref_source=base
                )
                break
            except ConcurrentWriteError:
                head = LakeTable.load(self.spark, self.path).manifest
                rebasable = (
                    head.num_buckets == m.num_buckets
                    and list(head.bucket_cols) == list(m.bucket_cols)
                    and str(m.current_schema_id) in head.schemas
                    and all(
                        read_paths[b]
                        <= {e["path"] for e in head.buckets.get(str(b), [])}
                        for b in victims
                    )
                )
                # a TOMBSTONE-DROPPING rewrite is only content-complete
                # under the caller's retention contract; stacking a
                # rival's delta (which may carry a redelivered stale
                # event an erased tombstone guarded) on top would also
                # make a state-CHANGING transition wear the
                # state-preserving "compact" stamp, silently diverging
                # incremental consumers. Refuse the rebase whenever the
                # rival touched a victim bucket and tombstones were
                # dropped — compact_with_retry recomputes over the new
                # parent with the tombstones back in view. Rebase stays
                # unconditional for tombstone-KEEPING rewrites (the
                # auto-compaction path) and for rivals that only touched
                # other buckets.
                if rebasable and drop_tombstones:
                    rebasable = all(
                        {e["path"] for e in head.buckets.get(str(b), [])}
                        <= read_paths[b]
                        for b in victims
                    )
                if not rebasable:
                    raise
                base, rebases = head, rebases + 1
        self.manifest = new_manifest
        return {"applied": True, "table_version": new_manifest.table_version,
                "compacted_buckets": victims, "rebased_commits": rebases,
                "files": sum(len(v) for v in written.values())}

    def rebucket(
        self,
        num_buckets: int,
        bucket_cols: Sequence[str] | None = None,
    ) -> dict:
        """Change the table's bucket spec (count and/or columns) with one
        full rewrite — Iceberg partition-spec-evolution analog for the
        dimension this format partitions on. The operational driver at
        10^10 rows: a bucket count sized for year-one data makes each
        bucket a straggler at year three; rebucketing restores per-bucket
        parallelism for merges, compactions, and pruned reads.

        One Spark job: current snapshot (MoR deltas folded, tombstones
        KEPT so stale redelivery stays order-insensitive) is shuffled
        once on the new bucket hash and written salted; the commit swaps
        in a manifest with the new spec. Readers of older versions are
        untouched (old manifests keep the old spec — every manifest
        carries its own bucket spec, so time travel across the boundary
        works). ``bucket_cols`` must stay a subset of the key columns:
        merge exactness relies on all versions of a key living in one
        bucket.
        """
        m = self.manifest
        bucket_cols = list(bucket_cols or m.bucket_cols)
        bad = [c for c in bucket_cols if c not in m.key_cols]
        if bad:
            raise ValueError(f"bucket columns must be key columns: {bad}")
        num_buckets = int(num_buckets)
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")

        new_version = m.table_version + 1
        new_manifest = Manifest(
            table_version=new_version,
            key_cols=m.key_cols,
            bucket_cols=bucket_cols,
            num_buckets=num_buckets,
            current_schema_id=m.current_schema_id,
            schemas=m.schemas,
            buckets={},
            applied_batches=m.applied_batches,
            parent_version=m.table_version,
            props=m.props,
        )
        # a shadow handle carries the NEW spec so the bucket expression
        # and salted write see it without mutating self until commit
        shadow = LakeTable(self.spark, self.path, new_manifest)

        entries = [e for lst in m.buckets.values() for e in lst]
        df = self._current_view(entries)
        if df is not None:
            df = df.withColumn(BUCKET_COL, shadow._bucket_expr())
            commit_dir = os.path.join(
                self.path, "data", f"c{new_version:012d}-{uuid.uuid4().hex[:8]}"
            )
            blooms = shadow._salted_bucket_write(df, commit_dir, bloom=True)
            written = _list_parquet_files(commit_dir, self.fs)
            new_manifest.buckets = {
                str(b): entries for b, entries in shadow._written_entries(
                    written, "base", list(m.props.get("stats_cols") or []),
                    blooms=blooms,
                ).items()
            }
        self._commit_manifest(self.path, new_manifest, self.fs)
        self.manifest = new_manifest
        return {
            "applied": True,
            "table_version": new_version,
            "num_buckets": num_buckets,
            "bucket_cols": bucket_cols,
        }

    def clone(
        self, dest_path: str, *, version: int | None = None
    ) -> "LakeTable":
        """ZERO-COPY shallow clone (Delta ``CREATE TABLE ... SHALLOW
        CLONE`` / Iceberg snapshot-ref analog): create a NEW table at
        ``dest_path`` whose first manifest references the SOURCE's data
        files — no data is read or copied, the clone is one manifest
        commit regardless of table size. The dev-branch / experiment
        primitive at 10^10 rows: fork the table, merge/compact/evolve
        the fork freely, throw it away — the source never notices.

        Independence after the fork: writes to the clone stage files
        under the CLONE's own path and commit to the clone's manifest
        line (a CoW merge or compact on the clone reads shared source
        files but writes replacements locally — divergence is
        copy-on-write at bucket granularity). ``vacuum`` on the clone is
        naturally safe: its data-file sweep only lists the clone's own
        ``data/`` root, so shared files under the source are never
        candidates. Batch markers are carried over, so an ingest driver
        pointed at the clone resumes exactly-once from the fork point.

        The one caveat is the same one Delta documents for shallow
        clones: ``vacuum`` on the SOURCE does not know about clones and
        can expire files a clone still references (clones are
        unregistered by design — no central catalog). Fork-for-a-while
        workflows should either pin source retention to cover the
        clone's lifetime or ``compact()`` the clone (min_files=1
        rewrites every bucket locally, after which it shares nothing).

        ``version`` clones a historical snapshot (time-travel fork).
        """
        src = self.manifest
        if version is not None:
            src = LakeTable.load(self.spark, self.path, version=version).manifest
        fs = filesystem_for(dest_path, self.spark)
        if fs.exists(self._manifest_dir(dest_path)):
            raise FileExistsError(self._manifest_dir(dest_path))
        fs.mkdirs(self._manifest_dir(dest_path), exist_ok=False)
        m = Manifest(
            table_version=0,
            key_cols=src.key_cols,
            bucket_cols=src.bucket_cols,
            num_buckets=src.num_buckets,
            current_schema_id=src.current_schema_id,
            schemas=src.schemas,
            buckets=src.buckets,
            applied_batches=src.applied_batches,
            parent_version=None,
            props={
                **src.props,
                "cloned_from": self.path,
                "cloned_version": src.table_version,
            },
        )
        self._commit_manifest(dest_path, m, fs)
        return LakeTable.load(self.spark, dest_path)

    def rollback(self, version: int) -> dict:
        """Restore the table to an earlier ``version`` as a NEW commit
        (Iceberg ``rollback_to_snapshot`` semantics: the pointer moves
        forward to a manifest whose content is the old snapshot — history
        is never rewritten, so concurrent readers and time travel keep
        working, and ``vacuum`` retention still decides file lifetime).

        Batch markers are restored to the rolled-back version's set, so
        a replay driver resumed after the rollback re-applies exactly
        the batches the rollback undid — re-merging them reconverges to
        the pre-rollback state (idempotent merges), which is the point:
        rollback + replay is the recovery path for a bad batch.

        No data is read or written — this is a manifest-only commit
        (O(1) Spark-side; the old version's files are still on disk
        unless ``vacuum`` expired them, which ``load`` would refuse).
        """
        m = self.manifest
        if version == m.table_version:
            return {"applied": False, "reason": "already_at_version",
                    "table_version": version}
        old = LakeTable.load(self.spark, self.path, version=version).manifest
        new_manifest = Manifest(
            table_version=m.table_version + 1,
            key_cols=old.key_cols,
            bucket_cols=old.bucket_cols,
            num_buckets=old.num_buckets,
            current_schema_id=old.current_schema_id,
            schemas=old.schemas,
            buckets=old.buckets,
            applied_batches=old.applied_batches,
            parent_version=m.table_version,
            props=old.props,
            # state-CHANGING without a per-row record: a rollback that
            # undoes a merge removes files, which the version-walking
            # consumers (changes(), incremental advance()) would read as
            # "nothing added" — silently missing the reversion. The
            # stamp lets them fail loudly instead.
            commit_kind="rollback",
        )
        self._commit_manifest(self.path, new_manifest, self.fs, ref_source=old)
        self.manifest = new_manifest
        return {"applied": True, "rolled_back_to": version,
                "table_version": new_manifest.table_version}

    def vacuum(
        self, *, retain_versions: int = 1, grace_seconds: float = 3 * 24 * 3600.0
    ) -> dict:
        """Expire old table versions and delete unreferenced data files
        (Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analog).

        Keeps the newest ``retain_versions`` manifests (always including
        CURRENT); any data file referenced by none of them is deleted,
        as are the expired manifest files. Time travel to expired
        versions stops working — that is the point (bounded storage for
        a continuously merging table; CoW rewrites and compactions leave
        superseded files behind by design so readers of older snapshots
        are never broken until the retention decision is made).

        ``grace_seconds`` is the MULTI-WRITER guard (Iceberg
        ``remove_orphan_files(older_than)`` analog): files and staging
        dirs modified within the window are NOT deleted, so a vacuum
        racing an in-flight commit — whose freshly staged parquet is on
        disk but whose manifest has not landed yet — cannot yank the
        files out from under it (data loss: the rival's CAS commit would
        then reference deleted files). The default, 3 days (Iceberg
        ``remove_orphan_files``' default), is safe for any writer that
        commits within that span of writing its files. Only the table's
        single writer may pass 0 to delete everything unreferenced at
        once — ``ReplayDriver`` and ``stream_into_table`` do so for their
        in-loop maintenance, since no commit of theirs can be in flight
        while they vacuum.

        Scope of the guard: age shields NEWLY WRITTEN files only. A
        concurrent commit that RE-REFERENCES historical files —
        ``rollback`` to an old version, ``clone(version=...)``, or any
        reader pinned by time travel — is protected by RETENTION, not
        grace: vacuum deletes exactly what falls outside
        ``retain_versions``, so size retention to cover the oldest
        version such an operation may still re-reference (``rollback``
        of an expired version fails loudly at load; the narrow window
        where it loaded just before expiry remains a single-maintainer
        concern, same as Iceberg's expire-vs-rollback race).
        """
        import time as _time

        retain_versions = max(int(retain_versions), 1)
        cutoff = _time.time() - float(grace_seconds)

        def _aged(p: str) -> bool:
            if grace_seconds <= 0:
                return True
            try:
                return self.fs.mtime(p) <= cutoff
            except Exception:
                return False  # raced a concurrent delete/rename: skip
        current = self.manifest.table_version
        keep_from = current - retain_versions + 1
        mdir = self._manifest_dir(self.path)

        # compare REAL paths: manifests may record the table path under a
        # different spelling (relative vs absolute, symlinked mount) than
        # this process sees — raw string comparison would then classify
        # every live file as orphaned and delete the table. URI paths are
        # written by this engine verbatim, so they compare as strings.
        if self.fs.scheme_local:
            norm = lambda p: os.path.realpath(os.path.abspath(p))  # noqa: E731
        else:
            norm = lambda p: p  # noqa: E731
        kept_files: set[str] = set()
        kept_refs: set[str] = set()
        expired_manifests: list[str] = []
        for mp, _sz in self.fs.list_files(mdir, ".json"):
            base = os.path.basename(mp)
            if not (base.startswith("v") and base.endswith(".json")):
                continue
            v = int(base[1:-5])
            if v >= keep_from:
                m = self._read_manifest(self.path, v, self.fs)
                kept_refs.update(m.bucket_refs.values())
                for entries in m.buckets.values():
                    kept_files.update(norm(e["path"]) for e in entries)
            else:
                expired_manifests.append(mp)

        # safety valve: if the CURRENT manifest references files we cannot
        # resolve on disk, the path spelling is inconsistent — abort
        # rather than treat live data as orphaned
        missing = [p for p in kept_files if not self.fs.exists(p)]
        if missing:
            raise RuntimeError(
                "vacuum aborted: current manifests reference files not "
                f"resolvable from this process (e.g. {missing[0]!r}); "
                "load the table under the path spelling it was written with"
            )

        deleted_data = 0
        data_root = os.path.join(self.path, "data")
        for fp, _sz in self.fs.list_files(data_root, ".parquet"):
            if norm(fp) not in kept_files and _aged(fp):
                self.fs.delete(fp)
                deleted_data += 1
        for mp in expired_manifests:
            self.fs.delete(mp)
        # sharded side files: reclaim any not referenced by a retained
        # root (expired versions' exclusive shards + debris of
        # interrupted commits, whose root swap never happened)
        deleted_side = 0
        for sp, _sz in self.fs.list_files(os.path.join(mdir, "buckets"), ".json"):
            if os.path.basename(sp) not in kept_refs and _aged(sp):
                self.fs.delete(sp)
                deleted_side += 1
        # tables written by earlier versions, whose CoW merges staged
        # the reduced batch under _staging/, may hold orphaned staging
        # dirs; reclaim them (grace_seconds applies as for data files)
        staging_root = os.path.join(self.path, "_staging")
        for d in self.fs.list_dirs(staging_root):
            if _aged(d):
                self.fs.delete(d)
        # prune now-empty commit directories (local only — object stores
        # have no real directories and Hadoop delete(recursive=False)
        # refuses non-empty ones anyway)
        if self.fs.scheme_local:
            for dirpath, _dirs, _files in os.walk(data_root, topdown=False):
                if dirpath != data_root:
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass
        return {
            "retained_from_version": keep_from,
            "expired_manifests": len(expired_manifests),
            "deleted_data_files": deleted_data,
            "deleted_side_manifests": deleted_side,
        }

    # ---------------------------------------------------------------- lineage

    @staticmethod
    def _lineage_schema() -> StructType:
        from pyspark.sql.types import (
            IntegerType, LongType, StringType, StructField,
        )

        return StructType(
            [
                StructField("table_version", LongType()),
                StructField("stream_id", StringType()),
                StructField("batch_id", StringType()),
                StructField("bucket", IntegerType()),
                StructField("file", StringType()),
                StructField("rows", LongType()),
                StructField("bytes", LongType()),
                StructField("seq_min", LongType()),
                StructField("seq_max", LongType()),
                StructField("source_events", LongType()),
            ]
        )

    def _append_lineage(self, rows: list[dict[str, Any]]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = self._lineage_schema()
        # direct driver-side parquet append — lineage rows are a handful
        # per commit, so a Spark job here is pure serial overhead on the
        # ingest path (and with a python-list DataFrame it even spins up
        # Python workers: benched ~5 s per append)
        lineage_dir = os.path.join(self.path, "_lineage")
        self.fs.mkdirs(lineage_dir, exist_ok=True)
        arrow_schema = pa.schema(
            [
                (f.name, pa.int64() if f.dataType.typeName() in ("long", "integer")
                 else pa.string())
                for f in schema.fields
            ]
        )
        tbl = pa.Table.from_pylist(
            [{k: (int(v) if isinstance(v, int) else v) for k, v in r.items()}
             for r in rows],
            schema=arrow_schema,
        )
        dst = os.path.join(lineage_dir, f"l-{uuid.uuid4().hex}.parquet")
        loc = self.fs.pyarrow_path(dst)
        if loc is not None:
            pq.write_table(tbl, loc)
        else:
            # remote storage: stage locally, one FS upload (still no
            # Spark job — lineage stays off the ingest critical path)
            import tempfile

            with tempfile.NamedTemporaryFile(suffix=".parquet") as tf:
                pq.write_table(tbl, tf.name)
                self.fs.upload(tf.name, dst)

    def lineage(self) -> DataFrame:
        p = os.path.join(self.path, "_lineage")
        if not self.fs.exists(p):
            # no merge has written lineage yet (fresh table, or
            # collect_lineage=False) — zero rows, not an error
            return self.spark.createDataFrame([], self._lineage_schema())
        return self.spark.read.parquet(p)

    # --------------------------------------------------------------- evolve

    # type widening allowed by Iceberg's schema-evolution rules: every
    # value of the narrow type is exactly representable in the wide one,
    # so old data files never need rewriting (read-side cast only)
    _WIDENINGS = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    def evolve_schema(
        self,
        add_columns: Sequence[tuple[str, str]] = (),
        renames: dict[str, str] | None = None,
        widen_types: "dict[str, Any] | None" = None,
        drop_columns: Sequence[str] = (),
    ) -> None:
        """Schema evolution without data rewrite (Iceberg semantics):
        ``add_columns`` appends nullable columns; ``renames`` maps existing
        column names to new names, resolved at read time via per-epoch
        rename maps; ``widen_types`` promotes a column to a wider type
        (int→bigint, float→double, ... — only promotions where every old
        value is exactly representable, so old files are read with a
        cast and never rewritten). Key/bucket columns cannot be widened:
        the bucket assignment hashes the PHYSICAL type, so a widened key
        would scatter a key's new versions into a different bucket than
        its history. Commits a new table version.

        ``drop_columns`` removes columns from the current schema (Iceberg
        ``drop column``): no rewrite — old files keep the data but every
        read projects to the current schema, so it never surfaces; time
        travel to pre-drop versions still sees it. A dropped NAME is
        permanently retired (recorded in the ``dropped_cols`` table
        property): columns here are matched across epochs BY NAME (no
        Iceberg field ids), so re-adding or renaming onto a dropped name
        would resurrect the old files' values under the new column —
        both are refused, in this call and forever after. Key/bucket
        columns cannot be dropped."""
        from pyspark.sql.types import (
            DataType, DoubleType, FloatType, IntegerType, LongType, ShortType,
        )

        _BY_NAME = {
            "smallint": ShortType(), "short": ShortType(),
            "int": IntegerType(), "integer": IntegerType(),
            "bigint": LongType(), "long": LongType(),
            "float": FloatType(), "double": DoubleType(),
        }
        m = self.manifest
        current = m.current_schema()
        renames = renames or {}
        widen_types = {
            c: (t if isinstance(t, DataType) else _BY_NAME[str(t).lower()])
            for c, t in (widen_types or {}).items()
        }
        for c, t in widen_types.items():
            if c not in current.fieldNames():
                raise ValueError(f"widen target {c!r} not in schema")
            if c in m.key_cols or c in m.bucket_cols:
                raise ValueError(
                    f"cannot widen key/bucket column {c!r}: bucket hashes "
                    "the physical type"
                )
            src = current[c].dataType.simpleString()
            if t.simpleString() not in self._WIDENINGS.get(src, ()):
                raise ValueError(
                    f"{src} -> {t.simpleString()} is not a safe widening "
                    f"for column {c!r}"
                )
        existing = set(current.fieldNames())
        drops = list(dict.fromkeys(drop_columns))
        retired = set(m.props.get("dropped_cols", ())) | set(drops)
        for c in drops:
            if c not in existing:
                raise ValueError(f"drop target {c!r} not in schema")
            if c in m.key_cols or c in m.bucket_cols:
                raise ValueError(f"cannot drop key/bucket column {c!r}")
            if c in renames or c in widen_types:
                raise ValueError(
                    f"column {c!r} both dropped and renamed/widened in one call"
                )
        for src, dst in renames.items():
            if src not in existing:
                raise ValueError(f"rename source {src!r} not in schema")
            if dst in existing - {src}:
                raise ValueError(
                    f"rename target {dst!r} collides with an existing column"
                )
            if dst in retired:
                raise ValueError(
                    f"rename target {dst!r} is a dropped column name — "
                    "epochs match columns by name, so reusing it would "
                    "resurrect old files' values; pick a new name"
                )
        if len(set(renames.values())) != len(renames):
            raise ValueError("two columns renamed to the same target name")

        new_schema = StructType()
        for f in current.fields:
            if f.name in drops:
                continue
            new_schema.add(
                renames.get(f.name, f.name),
                widen_types.get(f.name, f.dataType),
                True,
            )
        for name, typ in add_columns:
            if name in new_schema.fieldNames():
                raise ValueError(f"column {name} already exists")
            if name in retired:
                raise ValueError(
                    f"column name {name!r} was dropped — epochs match "
                    "columns by name, so re-adding it would resurrect old "
                    "files' values; pick a new name"
                )
            if isinstance(typ, str):
                # accept DDL type strings ("int", "array<string>", ...) —
                # StructType.add parses only JSON-style names ("integer")
                from pyspark.sql.types import _parse_datatype_string

                typ = _parse_datatype_string(typ)
            new_schema.add(name, typ, True)

        schemas = {k: dict(v) for k, v in m.schemas.items()}
        for sid, info in schemas.items():
            rename = dict(info.get("rename", {}))
            epoch_cols = [f["name"] for f in info["schema"]["fields"]]
            for c in epoch_cols:
                cur = rename.get(c, c)
                if cur in renames:
                    rename[c] = renames[cur]
            info["rename"] = rename
        new_sid = max(int(k) for k in schemas) + 1
        schemas[str(new_sid)] = {"schema": new_schema.jsonValue(), "rename": {}}

        key_cols = [renames.get(k, k) for k in m.key_cols]
        bucket_cols = [renames.get(b, b) for b in m.bucket_cols]
        props = dict(m.props)
        if drops:
            props["dropped_cols"] = sorted(retired)
            if props.get("stats_cols"):
                # write-time stats for a gone column would fail the next
                # write (and serve no read)
                props["stats_cols"] = [
                    c for c in props["stats_cols"] if c not in drops
                ]
        new_manifest = Manifest(
            table_version=m.table_version + 1,
            key_cols=key_cols,
            bucket_cols=bucket_cols,
            num_buckets=m.num_buckets,
            current_schema_id=new_sid,
            schemas=schemas,
            buckets=m.buckets,
            applied_batches=m.applied_batches,
            parent_version=m.table_version,
            props=props,
        )
        self._commit_manifest(self.path, new_manifest, self.fs, ref_source=m)
        self.manifest = new_manifest
