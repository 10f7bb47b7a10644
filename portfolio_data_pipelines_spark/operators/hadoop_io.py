"""Driver-side Hadoop FS helpers shared by the Delta modules.

Small-file I/O (log and checkpoint reads, existence probes, exclusive
creates, renames into place) goes through the session's Hadoop
FileSystem, with a direct Python fast path when the path is provably on
the local filesystem.
"""

from __future__ import annotations

import os


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


#: Memo for :func:`_default_fs_is_local` — fs.defaultFS is fixed for the
#: JVM's lifetime, so one py4j probe answers for every later call.
_DEFAULT_FS_LOCAL: bool | None = None


def _default_fs_is_local() -> bool:
    """True iff the Hadoop ``fs.defaultFS`` this session resolves
    scheme-less paths against is the LOCAL filesystem. On a cluster
    (defaultFS hdfs://...) a bare ``/warehouse/tbl`` names an HDFS
    path, so the direct-Python fast paths must stand down (taking them
    would read an existing table as empty and commit to the driver's
    local disk). With no session yet there is no Hadoop conf to consult
    — no Hadoop I/O can be in flight either, so local is the right
    (uncached) answer."""
    global _DEFAULT_FS_LOCAL
    if _DEFAULT_FS_LOCAL is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return True
        try:
            scheme = str(
                spark._jsc.hadoopConfiguration().get(
                    "fs.defaultFS", "file:///"
                )
            )
        except Exception:
            return True
        _DEFAULT_FS_LOCAL = scheme.startswith("file:")
    return _DEFAULT_FS_LOCAL


def _local_path(path_str: str) -> str | None:
    """POSIX path when ``path_str`` is local (bare absolute path under a
    file-scheme ``fs.defaultFS``, or a ``file:`` URI with no foreign
    authority), else None.

    Gate for the direct-Python fast paths on driver METADATA I/O (log
    reads, existence probes, staging renames): each Hadoop-FS call from
    Python is a py4j round trip — a replay of a
    20-commit log through ``fs.open`` + per-line ``readLine`` costs
    hundreds of round trips (~0.5 ms each) where one ``open().read()``
    costs none (measured ~0.3-0.5 s per Delta lifecycle query at
    sf0.1). On any non-local scheme (s3a/hdfs/abfs), on bare paths when
    ``fs.defaultFS`` is remote (cluster deployments), and
    on ``file://host/...`` URIs naming a foreign authority, callers
    fall through to the Hadoop FS exactly as before — semantics, not
    just results, are unchanged: local ``open(..., 'x')`` is atomic
    create-if-absent (stronger than RawLocalFileSystem's
    check-then-act)."""
    if path_str.startswith("/"):
        return path_str if _default_fs_is_local() else None
    if path_str.startswith("file:"):
        rest = path_str[5:]
        if rest.startswith("//"):
            # file://AUTHORITY/path — only the local authorities map to
            # this host's filesystem; anything else is a remote mount
            authority, _, tail = rest[2:].partition("/")
            if authority not in ("", "localhost"):
                return None
            return "/" + tail
        return rest if rest.startswith("/") else None
    return None


def _read_bytes(fs, jvm, path_str: str) -> bytes:
    """Raw bytes of a small file (commits, checkpoints, deletion-vector
    blobs): one local read, else one buffered Hadoop transfer."""
    lp = _local_path(path_str)
    if lp is not None:
        with open(lp, "rb") as f:
            return f.read()
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path_str))
    try:
        out = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(out)


def _write_small_file(
    fs, jvm, path_str: str, data: bytes | str, overwrite: bool
) -> None:
    """Create a small file holding ``data`` (str is UTF-8 encoded);
    ``overwrite=False`` is the exclusive create the commit protocol
    relies on."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    lp = _local_path(path_str)
    if lp is not None:
        # Hadoop's create() makes parent dirs; 'x' is the atomic
        # create-if-absent the exclusive-commit callers rely on.
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        with open(lp, "wb" if overwrite else "xb") as f:
            f.write(data)
        return
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path_str), overwrite)
    out.write(bytearray(data))
    out.close()


def _rename(fs, jvm, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``, replacing an existing ``dst``. A Hadoop
    rename never overwrites, so a refused one deletes ``dst`` and tries
    once more."""
    lsrc, ldst = _local_path(src), _local_path(dst)
    if lsrc is not None and ldst is not None:
        os.replace(lsrc, ldst)
        return
    s = jvm.org.apache.hadoop.fs.Path(src)
    d = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(s, d):
        fs.delete(d, False)
        if not fs.rename(s, d):
            raise IOError(f"rename {src} -> {dst} failed")
