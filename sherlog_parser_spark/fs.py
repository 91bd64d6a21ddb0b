"""Small files on the Hadoop FileSystem of their path (plain, ``file://``,
``hdfs://``): the checkpoint manifest, the side files and the streaming
route's publish of a staged micro-batch.  ``write_atomic`` writes a
hidden temp file and renames it into place, so readers see the old file
or the new one, never a torn one.  That needs an atomic rename (local
filesystems, HDFS); object stores without one (S3A) need an output
committer and are not supported.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from pyspark import SparkContext


def _path(sc: SparkContext, *parts):
    """A Hadoop ``Path(str)`` or ``Path(parent, child)``.  The class is
    named directly: looking it up through ``sc._jvm.org.apache...`` costs
    one Py4J round trip per package level."""
    return JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(*parts)


def handle(path: str):
    """``(FileSystem, Path)`` of ``path``, from the active SparkContext,
    which pool threads see too (``SparkSession.getActiveSession()`` is
    ``None`` in the commit-group threads)."""
    sc = SparkContext._active_spark_context
    p = _path(sc, path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def exists(path: str) -> bool:
    fs, p = handle(path)
    return fs.exists(p)


def delete(path: str) -> None:
    """Delete a file or a directory tree; a missing path is a no-op."""
    fs, p = handle(path)
    fs.delete(p, True)


def read_text(path: str) -> str:
    fs, p = handle(path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def temp_path(path: str) -> str:
    """Where ``write_atomic`` stages ``path``; nothing ever reads it."""
    return os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")


def write_atomic(path: str, text: str) -> None:
    fs, dst = handle(path)
    tmp = _path(SparkContext._active_spark_context, temp_path(path))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    rename_replacing(fs, tmp, dst)


def rename_replacing(fs, src, dst) -> None:
    """Rename ``src`` over ``dst``.  Hadoop reports a failed rename by
    returning false, not by raising; where rename does not replace a
    file (HDFS), the target is deleted and the rename retried, and a
    second false raises with ``src`` left in place."""
    if not fs.rename(src, dst):
        fs.delete(dst, False)
        if not fs.rename(src, dst):
            raise IOError(f"rename {src} -> {dst} failed; {src} left in place")


def publish(src: str, dst: str) -> None:
    """Move every file under ``src`` but ``_*``/``.*`` ones to the same
    relative path under ``dst``, then delete ``src``.  A directory whose
    target does not exist yet moves in one rename, with all it holds.
    Resumable: a moved file is gone from ``src``, so a rerun moves only
    the rest, and a file still in ``src`` is the authoritative copy,
    which replaces any file at its target.  A missing ``src`` is a
    no-op."""
    sc = SparkContext._active_spark_context
    fs, root = handle(src)
    if not fs.exists(root):
        return

    def move(src_dir, dst_dir) -> None:
        for st in fs.listStatus(src_dir):
            p = st.getPath()
            name = p.getName()
            if name.startswith(("_", ".")):
                continue
            target = _path(sc, dst_dir, name)
            if st.isDirectory() and fs.exists(target):
                move(p, target)
            else:
                rename_replacing(fs, p, target)

    fs.mkdirs(_path(sc, dst))
    move(root, _path(sc, dst))
    fs.delete(root, True)
