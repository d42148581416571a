"""Seeded change-event generator for the benchmark (numpy + pyarrow, one process).

Mirrors the shape of the engine's own synthesizer (``sources/synth.py``):
flat envelope ``op, seq, ts_ms, source_partition, offset`` plus the
payload ``repo, path, commit, lang, content`` keyed by
``(repo, path, commit)``; power-law or uniform keys; ~5% deletes; every
17th event redelivered verbatim; 10-60-word content. It is independent of
the engine so that the engine's inputs and the reference's inputs are
one set of parquet files the benchmark wrote itself.

Every array comes from one ``numpy.random.Generator`` seeded by the
workload seed, so the same seed gives byte-identical windows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_EXTS = ["py", "java", "rs", "go", "js", "ts", "c", "cpp", "rb", "md"]
_LANGS = ["python", "java", "rust", "go", "javascript", "typescript", "c",
          "cpp", "ruby", None]
_WORDS = (
    "spark merge table scan filter join window stream batch commit schema "
    "bucket shuffle salt event replay upsert delete insert update lineage "
    "checkpoint manifest parquet arrow pandas vector column row partition"
).split()
_BASE_TS_MS = 1_700_000_000_000
_N_SHARDS = 8
_POOL = 4096

SCHEMA = pa.schema([
    ("op", pa.string()), ("seq", pa.int64()), ("ts_ms", pa.int64()),
    ("source_partition", pa.int32()), ("offset", pa.int64()),
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()),
])


class EventGen:
    """Key space plus event windows, all drawn from one seeded stream.

    Keys are integers ``0..n_keys-1``; ``repo_of`` maps them to
    ``n_repos`` repos in contiguous ranges, so under the power law the
    hottest keys (small ids) all land in repo 0 — the hot-repo case.
    """

    def __init__(self, seed: int, n_keys: int, n_repos: int):
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.n_keys = n_keys
        self.n_repos = n_repos
        self.next_seq = 0
        keys = np.arange(n_keys, dtype=np.int64)
        repo = keys * n_repos // n_keys
        ext = (keys * 2654435761 + seed) % len(_EXTS)
        self.repo_of = repo
        self._repo = pa.array([f"org{r % 10}/repo{r}" for r in range(n_repos)]).take(
            pa.array(repo))
        self._path = pa.array(
            [f"src/m{k % 97}/f{k}.{_EXTS[e]}" for k, e in zip(keys.tolist(), ext.tolist())])
        self._commit = pa.array(
            [hashlib.sha1(f"c{k}:{seed}".encode()).hexdigest() for k in range(n_keys)])
        self._lang = pa.array(_LANGS).take(pa.array(ext))
        n_words = self.rng.integers(10, 61, size=_POOL)
        self._pool = pa.array(
            [" ".join(self.rng.choice(_WORDS, size=n)) for n in n_words])

    def power_keys(self, n: int, exponent: float = 3.0) -> np.ndarray:
        """Power-law key ids: ``floor(n_keys * u**exponent)``."""
        u = self.rng.random(n)
        return np.minimum((self.n_keys * u ** exponent).astype(np.int64), self.n_keys - 1)

    def repo_keys(self, n: int, repos: np.ndarray) -> np.ndarray:
        """Key ids uniform over the keys of the given repos."""
        pools = [np.flatnonzero(self.repo_of == r) for r in repos]
        allk = np.concatenate(pools)
        return allk[self.rng.integers(0, len(allk), size=n)]

    def window(self, keys: np.ndarray, delete_pct: int = 5, insert_pct: int = 35,
               dup_every: int | None = 17) -> pa.Table:
        """One window of events for ``keys``, in seq order, with every
        ``dup_every``-th event re-emitted verbatim at the end (same seq:
        an at-least-once redelivery inside the same window)."""
        n = len(keys)
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        opsel = self.rng.integers(0, 100, size=n)
        op = np.where(opsel < delete_pct, 0,
                      np.where(opsel < delete_pct + insert_pct, 1, 2))
        kidx = pa.array(keys)
        seq_a = pa.array(seq)
        content = pc.binary_join_element_wise(
            self._pool.take(pa.array(self.rng.integers(0, _POOL, size=n))),
            pc.cast(seq_a, pa.string()), " ")
        t = pa.Table.from_arrays([
            pa.array(["DELETE", "INSERT", "UPDATE"]).take(pa.array(op)),
            seq_a,
            pa.array(_BASE_TS_MS + seq * 1000),
            pa.array(self.rng.integers(0, _N_SHARDS, size=n).astype(np.int32)),
            seq_a,
            self._repo.take(kidx), self._path.take(kidx), self._commit.take(kidx),
            self._lang.take(kidx), content,
        ], schema=SCHEMA)
        if dup_every:
            t = pa.concat_tables([t, t.take(pa.array(np.flatnonzero(seq % dup_every == 0)))])
        return t

    def key_tuples(self, keys: np.ndarray) -> list[tuple[str, str, str]]:
        kidx = pa.array(keys)
        return list(zip(self._repo.take(kidx).to_pylist(),
                        self._path.take(kidx).to_pylist(),
                        self._commit.take(kidx).to_pylist()))


def write_window(t: pa.Table, dirpath: str, n_files: int) -> None:
    """Write one window as ``n_files`` parquet files (one scan task each)."""
    os.makedirs(dirpath, exist_ok=True)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        part = t.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(dirpath, f"part-{i:03d}.parquet"))
