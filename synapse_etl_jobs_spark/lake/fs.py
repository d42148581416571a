"""Filesystem layer for the lake table.

The manifest/commit protocol needs seven primitives: atomic text swap,
atomic create-if-absent, text read, existence check, mkdirs, recursive
delete, and a recursive parquet listing. ``LocalFS`` implements them
with POSIX calls (the sandbox default). ``HadoopFS`` implements the
SAME contract through the JVM's ``org.apache.hadoop.fs.FileSystem`` via
the active SparkSession — the code path a real cluster uses for
``hdfs://`` / ``s3a://`` / ``file:`` table locations, testable
in-sandbox with ``file:`` URIs (the JVM resolves them through the exact
Hadoop API a cluster would).

Atomicity note: commit arbitration is ``write_text_if_absent`` on the
version file — atomic create-no-overwrite (POSIX ``link``; Hadoop's
non-clobbering ``rename``), so two writers racing the same parent
version cannot both commit. The CURRENT pointer swap is ``rename``,
atomic on POSIX and HDFS, and the pointer is only a HINT (readers
probe forward for committed versions — see ``LakeTable`` commit
protocol). Object stores (S3) rename non-atomically; production
deployments put BOTH primitives behind a catalog CAS (Iceberg's
metastore swap), so these two methods are the single override point.
"""

from __future__ import annotations

import contextlib
import os
import uuid


def uri_norm(p: str) -> str:
    """Scheme-less absolute path for matching Spark's
    ``input_file_name()`` output against manifest/caller path spellings
    (Spark may render ``file:///x`` where the manifest says ``file:/x``
    or a bare ``/x``). Percent-encoding is unquoted; the authority is
    dropped (hosted ``file://host/x`` URIs are not produced by this
    engine). Used by the remote footer-stats scan, which groups by
    ``input_file_name()``; blooms are built inside the write and never
    match paths."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(p).path)


def filesystem_for(path: str, spark=None):
    """Pick the FS implementation from the path scheme: URIs go through
    Hadoop (requires ``spark``), bare paths through POSIX."""
    if "://" in path or path.startswith("file:/"):
        if spark is None:
            raise ValueError(f"URI table path {path!r} requires a SparkSession")
        return HadoopFS(spark)
    return LocalFS()


class LocalFS:
    """POSIX filesystem (sandbox default)."""

    scheme_local = True

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # POSIX-atomic; production: catalog CAS here

    def write_text_if_absent(self, path: str, text: str) -> bool:
        """Atomically create ``path`` with ``text`` iff it does not
        exist; return False (without writing) when it does. ``link`` is
        the POSIX create-no-overwrite primitive that also publishes the
        FULL contents atomically (the target appears only after the tmp
        file is complete and fsynced) — ``O_EXCL`` + write would expose
        a partially-written file to concurrent readers."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def mkdirs(self, path: str, exist_ok: bool = True) -> None:
        os.makedirs(path, exist_ok=exist_ok)

    def delete(self, path: str) -> None:
        """Remove a file, or a directory tree recursively."""
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def list_files(self, root: str, suffix: str = "") -> list[tuple[str, int]]:
        """Recursive (path, size) listing under ``root`` (missing → [])."""
        out: list[tuple[str, int]] = []
        for dirpath, _dirs, files in os.walk(root):
            for fn in sorted(files):
                if fn.endswith(suffix):
                    fp = os.path.join(dirpath, fn)
                    out.append((fp, os.path.getsize(fp)))
        return out

    def list_dirs(self, root: str) -> list[str]:
        if not os.path.isdir(root):
            return []
        return sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        )

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime(self, path: str) -> float:
        """Last-modification time, seconds since epoch."""
        return os.path.getmtime(path)

    def pyarrow_path(self, path: str) -> str | None:
        """Path usable by driver-side pyarrow, or None if not local."""
        return path


class HadoopFS:
    """``org.apache.hadoop.fs.FileSystem`` via the SparkSession's JVM.

    Every method resolves the FileSystem for the specific path, so mixed
    schemes (e.g. manifest on ``hdfs://``, reading ``file:`` fixtures)
    work. Not thread-safe across Python threads sharing one gateway —
    the manifest protocol only calls it from the driver's commit path.
    """

    scheme_local = False

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    @contextlib.contextmanager
    def _missing_as_fnf(self, path: str):
        """Re-raise a JVM ``java.io.FileNotFoundException`` (or subclass;
        HDFS unwraps its RemoteException to one) as Python's
        ``FileNotFoundError`` — the error ``LocalFS`` raises, so callers'
        retry-on-missing logic works on every scheme."""
        try:
            yield
        except Exception as e:
            je = getattr(e, "java_exception", None)
            if je is not None and self._jvm.java.lang.Class.forName(
                "java.io.FileNotFoundException"
            ).isInstance(je):
                raise FileNotFoundError(path) from e
            raise

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        fs = self._fs(path)
        out = fs.create(self._path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            out.hflush()
        finally:
            out.close()
        # clobbering rename must be ATOMIC (the CURRENT pointer swap is
        # the commit): FileContext.rename(OVERWRITE) is the atomic HDFS
        # primitive — FileSystem.rename refuses to clobber there, and a
        # delete-then-rename fallback would open a crash window with NO
        # pointer file at all. S3 deployments still override with a
        # catalog CAS (rename is never atomic on object stores).
        try:
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(Rename, 1)  # java varargs
            opts[0] = Rename.OVERWRITE
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._path(path).toUri(), self._conf
            )
        except Exception as e:
            # ONLY "this FS has no FileContext support" (rare third-party
            # impls / missing AbstractFileSystem binding) downgrades to
            # delete+rename — NOT crash-atomic, but the optimistic-
            # concurrency check upstream still prevents concurrent-writer
            # clobbering. Anything else (transient IO, permissions) must
            # propagate: falling through here on a REAL error could leave
            # the table with no CURRENT pointer at all.
            name = type(e).__name__
            jmsg = str(e)
            supported = not (
                "UnsupportedFileSystemException" in jmsg
                or "UnsupportedOperationException" in jmsg
                or "ClassNotFoundException" in jmsg
                or name in ("AttributeError", "TypeError")  # no such JVM class
            )
            if supported:
                raise
            fs.delete(self._path(path), False)
            if not fs.rename(self._path(tmp), self._path(path)):
                raise IOError(f"rename {tmp} -> {path} failed")
            return
        # the rename itself gets NO fallback: with FileContext present, a
        # rename failure is a real IO error and must surface as one
        fc.rename(self._path(tmp), self._path(path), opts)

    def write_text_if_absent(self, path: str, text: str) -> bool:
        """Atomic create-no-overwrite. On HDFS this is the NON-clobbering
        ``FileSystem.rename`` (atomic at the namenode, refuses an
        existing destination): the contents are complete before the
        target name appears, and two racers cannot both succeed. On the
        ``file:`` scheme that contract does NOT hold — RawLocalFileSystem
        implements rename with ``java.io.File.renameTo`` → POSIX
        ``rename(2)``, which silently REPLACES an existing destination,
        so both racers would "succeed" — there we arbitrate with a hard
        link instead (``java.nio.file.Files.createLink``, kernel-atomic
        O_EXCL semantics, same primitive as the local PosixFS layer).
        Object stores override this with a catalog CAS (rename is a
        copy there)."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        fs = self._fs(path)
        out = fs.create(self._path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            out.hflush()
        finally:
            out.close()
        if fs.getScheme() == "file":
            File = self._jvm.java.io.File
            dst = File(self._path(path).toUri().getPath()).toPath()
            src = File(self._path(tmp).toUri().getPath()).toPath()
            try:
                self._jvm.java.nio.file.Files.createLink(dst, src)
            except Exception as e:
                fs.delete(self._path(tmp), False)
                if "FileAlreadyExistsException" in str(e):
                    return False  # lost the race: another writer created it
                raise
            fs.delete(self._path(tmp), False)
            return True
        if fs.rename(self._path(tmp), self._path(path)):
            return True
        fs.delete(self._path(tmp), False)
        if fs.exists(self._path(path)):
            return False  # lost the race: another writer created it
        raise IOError(f"create-if-absent rename {tmp} -> {path} failed")

    def read_text(self, path: str) -> str:
        fs = self._fs(path)
        with self._missing_as_fnf(path):
            stream = fs.open(self._path(path))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            chunks = []
            line = reader.readLine()
            while line is not None:
                chunks.append(line)
                line = reader.readLine()
            return "\n".join(chunks)
        finally:
            stream.close()

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._path(path))

    def mkdirs(self, path: str, exist_ok: bool = True) -> None:
        fs = self._fs(path)
        if not exist_ok and fs.exists(self._path(path)):
            raise FileExistsError(path)
        fs.mkdirs(self._path(path))

    def delete(self, path: str) -> None:
        self._fs(path).delete(self._path(path), True)

    def list_files(self, root: str, suffix: str = "") -> list[tuple[str, int]]:
        fs = self._fs(root)
        if not fs.exists(self._path(root)):
            return []
        it = fs.listFiles(self._path(root), True)  # recursive, files only
        out: list[tuple[str, int]] = []
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            if p.endswith(suffix):
                out.append((p, st.getLen()))
        out.sort()
        return out

    def list_dirs(self, root: str) -> list[str]:
        fs = self._fs(root)
        if not fs.exists(self._path(root)):
            return []
        return sorted(
            st.getPath().toString()
            for st in fs.listStatus(self._path(root))
            if st.isDirectory()
        )

    def size(self, path: str) -> int:
        with self._missing_as_fnf(path):
            return self._fs(path).getFileStatus(self._path(path)).getLen()

    def mtime(self, path: str) -> float:
        """Last-modification time, seconds since epoch."""
        with self._missing_as_fnf(path):
            st = self._fs(path).getFileStatus(self._path(path))
        return st.getModificationTime() / 1000.0

    def upload(self, local_path: str, dst: str) -> None:
        """Copy a driver-local file to table storage (lineage append on
        remote schemes; never on the row path)."""
        self._fs(dst).copyFromLocalFile(
            False, True, self._path(os.path.abspath(local_path)), self._path(dst)
        )

    def pyarrow_path(self, path: str) -> str | None:
        """file: URIs are readable locally after stripping the scheme;
        other schemes have no driver-side pyarrow path (footer stats
        then run as a Spark job over the data — see table.py)."""
        if path.startswith("file://"):
            return path[len("file://"):]
        if path.startswith("file:/"):
            return path[len("file:"):]
        return None if "://" in path else path
