"""Scheme-aware driver-side filesystem helpers (Hadoop FileSystem).

Every persistence layer in the package — the Harvester/Sampler result
stores and Crop dirs (:mod:`~xyzpy_spark.farming`,
:mod:`~xyzpy_spark.cropping`), table maintenance
(:mod:`~xyzpy_spark.manage`), the dedup/winnow index layouts
(:mod:`~xyzpy_spark.pipeline.dedup`) and the streaming ingest markers
(:mod:`~xyzpy_spark.streaming.ops`) — routes its driver-side metadata
IO (exists / list / rename / delete / mkdirs, tiny JSON and pickle
sidecars) through these helpers instead of ``os.path`` / ``shutil`` /
``glob`` / ``open``.

Why this module exists (r12 verdict finding #1): on a local path the
``os`` module and the Hadoop ``LocalFileSystem`` agree, but on the
``hdfs://`` / ``s3a://`` paths a 100-TB store actually lives on,
``os.path.exists`` silently answers ``False`` — a ``missing_only``
harvest would silently recompute the full grid and the publish rename
would then crash.  The Hadoop ``FileSystem`` resolves whatever scheme
a path carries (local included) with the session's Hadoop
configuration, so one code path serves both.  The same class of fix
landed for the index layouts in r11 (``dedup.py`` ADVICE); this module
is that fix promoted to a shared home and swept across the package.

All helpers are DRIVER-side metadata ops (a handful per publish), so
the py4j round-trip cost is irrelevant; bulk data always moves through
Spark jobs, never through these.

Semantics notes
---------------
- :func:`replace` implements ``os.replace``-style clobbering by
  deleting an existing destination first: Hadoop's raw ``rename``
  either refuses or moves the source INTO an existing directory
  (posix ``mv`` semantics) depending on the filesystem, and neither is
  what a publish swap wants.  The delete+rename pair is NOT atomic —
  single-writer discipline per store applies, exactly as the
  reference's file-based stores assume (xyzpy gen/farming.py:520-580).
- On object stores (S3A) ``rename`` is a copy+delete under the hood;
  the swap protocol stays correct (crash recovery re-runs the same
  idempotent publish) but is not instantaneous.  HDFS renames are
  atomic metadata ops.
"""

from __future__ import annotations

import posixpath
import re

__all__ = [
    "hadoop_fs",
    "jpath",
    "exists",
    "is_dir",
    "listdir",
    "glob_paths",
    "mkdirs",
    "delete",
    "rename",
    "replace",
    "read_bytes",
    "write_bytes",
    "read_text",
    "read_text_or_none",
    "write_text",
    "content_size",
    "create_new",
]


_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*")


def jpath(spark, path: str):
    """A JVM ``org.apache.hadoop.fs.Path`` for ``path``."""
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs_cache_key(path: str) -> tuple[str, str]:
    """(scheme, authority) parsed PYTHON-side — no JVM round trip.
    Scheme-less paths all resolve through the session's default
    filesystem, so they share one cache slot; every ``scheme:`` prefix
    (``hdfs:/x`` and ``s3a:/x`` included, not only ``scheme://``) gets
    its own.  The scheme is parsed as ``java.net.URI`` does: a letter,
    then letters, digits, ``+``, ``-`` or ``.``, before the first
    ``:`` that precedes any ``/``."""
    scheme, sep, rest = path.partition(":")
    if not sep or not _SCHEME.fullmatch(scheme):
        return "", ""
    if rest.startswith("//"):
        return scheme, rest[2:].split("/", 1)[0]
    return scheme, ""


def hadoop_fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` via the JVM Hadoop API —
    the scheme-aware replacement for driver-local ``glob``/``os.path``
    (see module docstring).  The filesystem is resolved from the
    path's own scheme with the session's Hadoop configuration, so
    ``file:``, ``hdfs://`` and ``s3a://`` paths all work.

    The resolved ``FileSystem`` handle is cached PER SESSION per
    (scheme, authority) (r14, guide §5 driver round-trips): Hadoop
    already caches the object JVM-side, but every helper call paid
    two extra py4j round trips (``hadoopConfiguration`` +
    ``getFileSystem``) just to reach that cache.  A driver-side
    publish makes dozens of metadata calls; at two round trips each
    the overhead is measurable locally and grows with driver-cluster
    latency.  The cache lives on the session object so it dies with
    the session (a restarted JVM cannot leak stale handles)."""
    p = jpath(spark, path)
    key = _fs_cache_key(path)
    cache = getattr(spark, "_xyzpy_fs_cache", None)
    if cache is None:
        cache = {}
        try:
            spark._xyzpy_fs_cache = cache
        except Exception:
            pass
    fs = cache.get(key)
    if fs is None:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        cache[key] = fs
    return fs, p


def exists(spark, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def is_dir(spark, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def listdir(spark, path: str, dirs_only: bool = False) -> list[str]:
    """Child NAMES of a directory (like ``os.listdir``), empty if the
    path does not exist.  Names only — callers keep building child
    paths against their own base string, so downstream relpath logic
    is unchanged by the listing going through Hadoop.  ``dirs_only``
    filters to subdirectories in the same single ``listStatus`` pass
    (one round-trip, not one per child)."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if not dirs_only or st.isDirectory()
    ]


def glob_paths(spark, pattern: str) -> list[str]:
    """Paths matching a Hadoop glob pattern (like ``glob.glob``),
    sorted; empty when nothing matches.  Results come back in the
    caller's form: a scheme-qualified pattern yields qualified URIs,
    a plain path yields plain paths — so round-trips through existing
    path-string logic (canonical-path comparisons, relpath slicing)
    are unchanged."""
    fs, p = hadoop_fs(spark, pattern)
    qualified = "://" in pattern or pattern.startswith("file:")
    out = []
    for st in fs.globStatus(p) or []:
        jp = st.getPath()
        out.append(str(jp) if qualified else jp.toUri().getPath())
    return sorted(out)


def mkdirs(spark, path: str) -> None:
    fs, p = hadoop_fs(spark, path)
    fs.mkdirs(p)


def create_new(spark, path: str) -> bool:
    """Atomically create an empty file, returning whether THIS call
    created it (``FileSystem.createNewFile`` semantics — the durable
    intent-marker primitive: exactly one of any set of concurrent
    callers sees ``True``, and a marker that exists proves some prior
    attempt got at least this far).  Parent directories are created
    as needed."""
    fs, p = hadoop_fs(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    return bool(fs.createNewFile(p))


def delete(spark, path: str, recursive: bool = True) -> bool:
    """Delete if present (``shutil.rmtree``/``os.remove`` analog);
    returns whether anything was deleted."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def rename(spark, src: str, dst: str) -> None:
    """Rename ``src`` to a NOT-YET-EXISTING ``dst`` (raises
    ``OSError`` on failure — Hadoop's ``rename`` signals by returning
    ``False``, which ``os.rename`` callers would silently miss)."""
    fs, ps = hadoop_fs(spark, src)
    pd = jpath(spark, dst)
    if not fs.rename(ps, pd):
        raise OSError(f"rename failed: {src!r} -> {dst!r}")


def replace(spark, src: str, dst: str) -> None:
    """``os.replace`` analog: move ``src`` to ``dst``, clobbering any
    existing ``dst`` (delete-then-rename; see module docstring for the
    atomicity note)."""
    fs, ps = hadoop_fs(spark, src)
    pd = jpath(spark, dst)
    if fs.exists(pd):
        fs.delete(pd, True)
    if not fs.rename(ps, pd):
        raise OSError(f"replace failed: {src!r} -> {dst!r}")


def read_bytes(spark, path: str) -> bytes:
    """Read a (small, driver-sized) file fully — sidecar JSON,
    pickled kernels; bulk data never comes through here."""
    fs, p = hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        baos = spark._jvm.java.io.ByteArrayOutputStream()
        # copyBytes(in, out, bufsize, close=False): we close both
        # explicitly so a copy failure still releases the stream
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, 65536, False
        )
        return bytes(baos.toByteArray())
    finally:
        stream.close()


def write_bytes(spark, path: str, data: bytes) -> None:
    """Write a (small, driver-sized) file, overwriting; parent dirs
    are created as needed (Hadoop ``create`` semantics)."""
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_text(spark, path: str, encoding: str = "utf-8") -> str:
    return read_bytes(spark, path).decode(encoding)


def _is_file_not_found(jexc) -> bool:
    """Whether a Java exception, or one in its ``getCause()`` chain, IS
    a ``java.io.FileNotFoundException`` — by class, never by searching
    the message text: an IO failure whose message merely mentions a
    missing file must propagate."""
    for _ in range(16):  # cause chains can be cyclic; bound the walk
        if jexc is None:
            return False
        if jexc.getClass().getName() == "java.io.FileNotFoundException":
            return True
        jexc = jexc.getCause()
    return False


def read_text_or_none(spark, path: str, encoding: str = "utf-8"):
    """``read_text`` that returns ``None`` for a missing file in ONE
    filesystem operation (r14): the sidecar-read idiom was
    ``exists(p) and read_text(p)`` — two metadata round trips where
    opening and handling not-found needs one.  Open races (the file
    vanishing between exists and open) collapse into the same
    ``None`` answer instead of an error."""
    fs, p = hadoop_fs(spark, path)
    try:
        stream = fs.open(p)
    except Exception as exc:  # py4j wraps java.io.FileNotFoundException
        if _is_file_not_found(getattr(exc, "java_exception", None)):
            return None
        raise
    try:
        baos = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, 65536, False
        )
        return bytes(baos.toByteArray()).decode(encoding)
    finally:
        stream.close()


def write_text(spark, path: str, text: str, encoding: str = "utf-8") -> None:
    write_bytes(spark, path, text.encode(encoding))


def content_size(spark, path: str, suffix: str | None = None) -> int:
    """Total bytes under ``path`` (``os.walk`` + ``getsize`` analog).
    ``suffix`` restricts to files whose name ends with it (e.g.
    ``'.parquet'`` for a compaction sizing pass that must not count
    sidecars)."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    if suffix is None:
        return int(fs.getContentSummary(p).getLength())
    total = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(suffix):
            total += int(st.getLen())
    return total


def join(*parts: str) -> str:
    """Join path components with forward slashes — URI-safe (all the
    package's store paths are POSIX-style or scheme-qualified URIs;
    ``os.path.join`` would break only on Windows separators, but
    keeping joins here makes the contract explicit)."""
    return posixpath.join(*parts)
