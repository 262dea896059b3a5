"""Scheme-safe driver-side filesystem toolkit for persisted artifacts.

Every driver-side filesystem touch in the engine routes through one of
two contracts defined here, so a maintenance call pointed at an
object-store path either WORKS (the scheme is reachable through the
session's Hadoop FileSystem) or fails with one named error — never a
silent no-op (a layout guard that "sees no directory" on ``s3a://``
would wave through exactly the corruption it exists to prevent):

- ``DriverFS`` — a thin Hadoop FileSystem wrapper (``spark._jvm``) for
  existence probes, listings, deletes, renames, small committed text
  writes, and byte streams. Works on any scheme the session can reach
  (``file:``, ``hdfs://``, ``s3a://`` with the connector on the
  classpath); raises ``RemotePathError`` at construction when the
  scheme is unreachable, so the failure names the operation instead of
  surfacing as a py4j stack three calls later.
- ``local_path_or_raise`` — for the pyarrow FAST-PATH readers (parquet
  footer stats, centroid/codebook loads) that genuinely read through
  the local OS filesystem. Plain paths and ``file:`` URIs pass
  (normalized); any other scheme raises ``RemotePathError`` naming the
  operation. Since r14 the artifact loaders are two-branched: local
  fast path, else ``driver_read_parquet`` (list the part files, stream
  each through ``DriverFS.read_bytes``, parse from buffers) — so
  KB–MB index state serves from wherever the corpus lives.
  Correct-by-fallback callers (e.g. ``watermark_of``) use
  ``is_local_path`` and take their scheme-safe Spark path.

The writers here are small and driver-side: ``write_text_committed``
(temp -> hsync -> atomic rename) for side files such as
``CurationState``'s manifest, and ``rename``/``delete`` for its staged
frame swap. Corpora and index cells are written by Spark, not here.
"""

from __future__ import annotations

import re

__all__ = [
    "RemotePathError",
    "local_path_or_raise",
    "is_local_path",
    "DriverFS",
    "driver_read_parquet",
    "driver_parquet_row_count",
    "FOOTER_WHOLE_FILE_MAX_BYTES",
    "require_session",
]


class RemotePathError(ValueError):
    """A driver-side maintenance call touched a filesystem scheme this
    process cannot reach. Named (instead of a silent no-op or a raw
    py4j/OS error) so the operator learns WHICH call needs either a
    local path or the scheme's Hadoop connector on the classpath."""


# RFC 3986 scheme grammar, minus single-char heads: a lone letter before
# a colon is far more plausibly a local name fragment (or a drive
# letter) than a scheme, and no filesystem scheme this engine could meet
# is one character
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]+$")


def _scheme(path: str) -> str | None:
    """URI scheme of ``path``, or None for plain OS paths. ``file:`` is
    a scheme. The head must match the URI scheme grammar
    (``[A-Za-z][A-Za-z0-9+.-]+``): a first segment that merely CONTAINS
    a colon after a non-grammar head (``1:weird/x``, ``c:tmp``) is a
    local name, not a scheme — rejecting it with RemotePathError would
    refuse a perfectly local path. A relative path whose first segment
    IS grammar-valid (``data:v2/x``) still parses as a scheme, exactly
    as Hadoop's Path and urllib read it — disambiguate with ``./``."""
    head, sep, _rest = path.partition(":")
    if not sep or "/" in head or not _SCHEME_RE.match(head):
        return None
    return head


def local_path_or_raise(path: str, op: str) -> str:
    """Return ``path`` as a plain OS path, or raise ``RemotePathError``.

    Accepts plain paths and ``file:`` / ``file://`` URIs (prefix
    stripped); any other scheme raises, naming ``op``. Use for pyarrow
    footer/centroid fast paths that must read through the local OS
    filesystem — the loud alternative to an ``os.path.isdir`` that is
    silently False on ``s3a://``."""
    sch = _scheme(path)
    if sch is None:
        return path
    if sch == "file":
        rest = path[len("file:") :]
        if rest.startswith("///"):
            return rest[2:]
        if rest.startswith("//"):
            # file://host/...: only an empty (localhost) authority maps
            # to an OS path
            raise RemotePathError(
                f"{op}: {path} has a non-local file:// authority — "
                "this driver-side reader needs a local path"
            )
        return rest
    raise RemotePathError(
        f"{op}: {path} is on scheme '{sch}', but this driver-side "
        "reader works through the local OS filesystem only — pass a "
        "local (or file:) path, or route this index through a "
        "locally-mounted staging copy"
    )


def is_local_path(path: str) -> bool:
    """True when ``path`` is reachable through the local OS filesystem
    (plain path or local ``file:`` URI). For correct-by-fallback fast
    paths that should SKIP (not fail) on remote schemes."""
    try:
        local_path_or_raise(path, "is_local_path")
        return True
    except RemotePathError:
        return False


class DriverFS:
    """Driver-side Hadoop FileSystem handle for persisted artifacts.

    One instance per (session, root) — construction resolves the root's
    FileSystem once (Hadoop caches instances per scheme+authority) and
    raises ``RemotePathError`` if the scheme has no reachable
    implementation, so every caller fails loudly up front instead of
    probing a filesystem that isn't there."""

    def __init__(self, spark, root: str, op: str):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        try:
            self._fs = self._path(root).getFileSystem(self._conf)
        except Exception as exc:  # py4j surfaces Java errors broadly
            raise RemotePathError(
                f"{op}: no reachable FileSystem for {root} — driver-side "
                "maintenance needs the path's scheme on this session's "
                "classpath (or a local path); underlying error: "
                f"{str(exc).splitlines()[0][:200]}"
            ) from None

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._path(p)))

    def isdir(self, p: str) -> bool:
        return bool(self._fs.isDirectory(self._path(p)))

    def listnames(self, p: str) -> list[str]:
        """Child names of directory ``p`` ([] when absent). Unlike
        ``os.listdir`` on a remote path this either LISTS or the
        constructor already raised — never a silent empty answer for a
        directory that exists."""
        if not self.isdir(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(self._path(p))]

    def delete(self, p: str) -> None:
        """Recursive delete; absent paths are a no-op (GC semantics).
        A ``false`` return with the path STILL PRESENT raises — Hadoop
        signals refusal through the boolean, and a staged swap that
        proceeds past a surviving directory (e.g. ``CurationState.save``
        about to rename its staged frame into place) would silently nest
        or duplicate data."""
        ok = bool(self._fs.delete(self._path(p), True))
        if not ok and self.exists(p):
            raise IOError(
                f"delete failed: {p} still exists — the filesystem "
                "refused the recursive delete"
            )

    def rename(self, src: str, dst: str) -> None:
        """Rename with a loud occupied-destination check: Hadoop's
        ``rename(src, existingDir)`` moves src INTO the directory
        instead of failing (POSIX-rename semantics differ), which would
        silently nest a staged partition inside the surviving old one.
        The os.rename this wrapper replaced failed loudly on an
        existing destination; so does this."""
        if self.exists(dst):
            raise IOError(
                f"rename failed: destination {dst} already exists — "
                "refusing (Hadoop would move the source INSIDE an "
                "existing directory instead of replacing it)"
            )
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def list_parquet_files_with_size(self, p: str) -> list[tuple[str, int]]:
        """All ``.parquet`` file paths under ``p`` (recursive) with each
        file's byte length from the SAME ``listStatus`` round-trip — so
        size-aware walkers (the footer counter's whole-file-vs-positional
        split) don't pay a second ``getFileStatus`` per file. Hidden
        (dot/underscore) segments are pruned BEFORE descending — the
        same names Spark's readers ignore, so a staged frame or a
        ``_SUCCESS`` marker never counts. [] when absent."""
        if not self.isdir(p):
            return []
        out: list[tuple[str, int]] = []
        for st in self._fs.listStatus(self._path(p)):
            name = st.getPath().getName()
            if name.startswith((".", "_")):
                continue
            full = st.getPath().toString()
            if st.isDirectory():
                out.extend(self.list_parquet_files_with_size(full))
            elif name.endswith(".parquet"):
                out.append((full, int(st.getLen())))
        return out

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def read_bytes(self, p: str) -> bytes:
        """Whole small file as bytes through the Hadoop stream — the
        object-store route for KB–MB index artifacts (centroids, meta,
        codebooks); corpora stay Spark-side."""
        stream = self._fs.open(self._path(p))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_text_committed(self, p: str, text: str) -> None:
        """Write a small text file ATOMICALLY: temp name -> hsync (where
        the filesystem supports it) -> rename into place. A reader that
        sees ``p`` therefore sees its full content — never a torn write
        after power loss (the frame manifest's requirement). On
        stores whose rename is copy+delete (S3A), the copy's object PUT
        is still all-or-nothing, so the full-content guarantee holds; a
        crash mid-rename can at worst leave the temp file behind, which
        the next committed write of ``p`` overwrites. An EXISTING ``p``
        is replaced with an ATOMIC overwrite rename (FileContext's POSIX Rename.OVERWRITE), so a
        concurrent reader always sees either the old or the new full
        content — never an absent file that would read as
        never-written. On stores with no FileContext binding the
        fallback is delete-then-rename, whose absent-file window is
        documented rather than silent."""
        tmp = f"{p}.inprogress"
        out = self._fs.create(self._path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            try:
                out.hsync()
            except Exception:
                pass  # e.g. checksummed local FS without Syncable
        finally:
            out.close()
        if not self.exists(p):
            self.rename(tmp, p)
            return
        dst = self._path(p)
        # Only FileContext ACQUISITION may fall back (it has no side
        # effects and fails exactly when the scheme has no
        # AbstractFileSystem binding — UnsupportedFileSystemException);
        # the rename itself must PROPAGATE errors: swallowing a
        # transient rename failure into the delete+rename branch would
        # silently downgrade the atomic replace, and if that fallback
        # rename then also failed, the committed file would already be
        # deleted with only the temp holding the content.
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dst.toUri(), self._conf
            )
        except Exception as exc:
            # downgrade ONLY for the no-AbstractFileSystem-binding case
            # the fallback exists for; a transient acquisition failure
            # on a scheme that HAS a binding must propagate, or the
            # delete+rename below silently loses the atomic replace
            if "UnsupportedFileSystemException" not in str(exc):
                raise
            fc = None
        if fc is not None:
            opts = self._gateway.new_array(
                self._jvm.org.apache.hadoop.fs.Options.Rename, 1
            )
            opts[0] = self._jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc.rename(self._path(tmp), dst, opts)
            return
        # fallback: delete+rename (narrow absent-file window, stated above)
        self.delete(p)
        self.rename(tmp, p)


def driver_read_parquet(spark, directory: str, op: str):
    """A SMALL parquet directory as one pyarrow Table, read driver-side
    through the session's Hadoop FileSystem — the object-store route for
    index ARTIFACTS (centroids, meta, PQ codebooks: KB–MB each), so
    an index whose root lives on ``s3a://``/``hdfs://`` serves without a
    locally-mounted staging copy. Lists the part files, streams each
    through ``read_bytes``, parses from buffers; raises the named
    ``RemotePathError`` when the scheme is unreachable and a plain
    ValueError when the directory holds no parquet files (an absent or
    partial artifact must fail loudly, not serve empty state). NOT for
    corpora — those are Spark-side reads by contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs = DriverFS(spark, directory, op)
    names = sorted(n for n in fs.listnames(directory) if n.endswith(".parquet"))
    if not names:
        raise ValueError(
            f"{op}: no parquet files under {directory} — absent or "
            "partially-written artifact"
        )
    return pa.concat_tables(
        pq.read_table(pa.BufferReader(fs.read_bytes(f"{directory}/{n}")))
        for n in names
    )


class _HadoopSeekableFile:
    """Minimal seekable read-only file object over a Hadoop
    FSDataInputStream — exactly the surface pyarrow's PythonFile needs
    (read/seek/tell/close) so ``ParquetFile`` can read FOOTER metadata
    positionally. Each ``read`` is one py4j round-trip; fine for the
    handful of bounded footer reads per file, NOT a data-scan path."""

    def __init__(self, fs: DriverFS, path: str):
        self._jvm = fs._jvm
        self._stream = fs._fs.open(fs._path(path))
        self._len = int(fs._fs.getFileStatus(fs._path(path)).getLen())
        self.closed = False

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._len - self.tell()
        n = int(min(n, self._len - self.tell()))
        if n <= 0:
            return b""
        return bytes(
            self._jvm.org.apache.commons.io.IOUtils.toByteArray(self._stream, n)
        )

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 1:
            offset += self.tell()
        elif whence == 2:
            offset += self._len
        self._stream.seek(int(offset))
        return int(offset)

    def tell(self) -> int:
        return int(self._stream.getPos())

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            self.closed = True

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def flush(self) -> None:
        pass


# Files at or below this size are fetched with ONE whole-file
# ``read_bytes`` round-trip instead of the 4+ positional footer reads
# a seekable stream costs (open, magic/length seek+read, footer read,
# close — each a py4j round trip, ~6 ms/file measured). Small cell
# files sit far below it; genuinely large data files keep the
# positional route so the walk never pulls row-group DATA over the wire
# just to read a footer.
FOOTER_WHOLE_FILE_MAX_BYTES = 1 << 20


def driver_parquet_row_count(spark, directory: str, op: str) -> int:
    """Total stored rows under a parquet directory tree, driver-side
    through the session's Hadoop FileSystem, FOOTER METADATA ONLY —
    zero Spark jobs: the object-store sibling of the local pyarrow
    ``count_rows`` fast path. For row-count checks over corpora (the
    refined search's pq/flat pair check), where a corpus-wide Spark
    ``count()`` would scan TB to answer a question the footers already
    hold. Hidden (dot/underscore) segments are pruned like Spark's
    readers do. Raises the named ``RemotePathError`` when the scheme is
    unreachable and a plain ValueError naming ``op`` when the directory
    is ABSENT — a missing corpus must read as an error, not a 0 that a
    row-count check would misreport as diverged corpora. An existing
    but empty tree counts 0.

    Honest cost: driver-side round-trips PER FILE, so the walk's wall
    time scales with file count, not data size. Small files (≤
    ``FOOTER_WHOLE_FILE_MAX_BYTES``) are fetched whole in ONE
    ``read_bytes`` call and parsed from a buffer; only larger files pay
    the positional-seek route (open + footer seeks + close). Sizes ride
    the listing's own ``listStatus``, so no extra status round-trip.
    Measured on the local FS (254-file fragmented fixture, warm):
    r15 all-positional walk 6.0 ms/file; whole-file route 4.0 ms/file —
    the per-file py4j calls drop from ~6 (open, status, footer
    seek/read pairs, close) to 3 (open, one toByteArray, close)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs = DriverFS(spark, directory, op)
    if not fs.isdir(directory):
        raise ValueError(
            f"{op}: {directory} does not exist — refusing to report 0 "
            "rows for an absent corpus (a row-count check would "
            "misread it as data loss; check the index path/layout)"
        )
    total = 0
    for fpath, size in fs.list_parquet_files_with_size(directory):
        if size <= FOOTER_WHOLE_FILE_MAX_BYTES:
            buf = fs.read_bytes(fpath)
            total += pq.ParquetFile(pa.BufferReader(buf)).metadata.num_rows
            continue
        f = _HadoopSeekableFile(fs, fpath)
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        finally:
            f.close()
    return total


def require_session(spark, path: str, op: str):
    """The active SparkSession for a driver-side remote read, or the
    named error. Loaders that historically took only a path fall back to
    the active session when serving a remote-scheme index."""
    if spark is not None:
        return spark
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RemotePathError(
            f"{op}: {path} is on a remote scheme and no SparkSession is "
            "active — remote index artifacts read through the session's "
            "Hadoop FileSystem; pass spark= or start a session first"
        )
    return spark
