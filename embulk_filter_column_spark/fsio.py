"""Filesystem seam: the one place that maps a path to a filesystem.

Every driver-side file the CDC engine and the persistent indexes read
or commit goes through ``io_for(spark, path)``: the lake's manifests and
HEAD pointer (``cdc/lake.py``), the dedup indexes' params and journal
markers (``operators/incremental.py``), the offset checkpoint
(``cdc/checkpoint.py``), the WAL chunk listing (``cdc/wal.py``,
``sources.write_wal``) and the lineage/metrics journal rows
(``cdc/metrics.py``). Data files always go through Spark, which resolves
the same filesystem for the same path, so metadata and data land on one
store and exactly-once resume holds on every scheme.

``io_for`` picks the implementation by path shape:

* plain local paths keep the ``os``-level fast path (no JVM chatter on
  the per-batch commit hot loop);
* any ``scheme:/...`` path routes through the Hadoop FileSystem API of
  the Spark session's Hadoop configuration. The atomic-rename commit
  contract is kept with ``FileContext.rename(..., Options.Rename.
  OVERWRITE)`` — atomic on HDFS; on eventually-atomic stores (S3A) it
  degrades exactly like any Hadoop-committer rename, which is the
  documented trade of running a rename-committed format there.

``file:/...`` deliberately routes through the HADOOP branch: it is the
one scheme testable without a cluster, so the remote code path is
exercised end-to-end by ordinary pytest (the ``file://`` cases in
test_cdc / test_operators).

``write_atomic(path, data)`` is the single commit primitive: the bytes
go to ``<dir>/.<name>.tmp`` on the same filesystem, are flushed, and the
temp file is renamed over ``path``. The leading dot keeps a crash
leftover out of ``spark.read.parquet`` and pyarrow dataset listings,
which skip hidden files.
"""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/")


def io_for(spark, path: str):
    """Pick the metadata-IO implementation for ``path`` (see module
    docstring). Hadoop for any ``scheme:/`` path, os-level otherwise."""
    if _SCHEME_RE.match(path):
        return HadoopIO(spark, path)
    return LocalIO()


class LocalIO:
    """os-level metadata IO — byte-for-byte the behavior the lake and
    indexes always had on plain local paths."""

    is_remote = False

    @staticmethod
    def join(base: str, *parts: str) -> str:
        return os.path.join(base, *parts)

    @staticmethod
    def basename(path: str) -> str:
        return os.path.basename(path.rstrip("/"))

    @staticmethod
    def relpath(full: str, root: str) -> str:
        return os.path.relpath(full, root)

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(path)

    @staticmethod
    def isdir(path: str) -> bool:
        return os.path.isdir(path)

    @staticmethod
    def mkdirs(path: str) -> None:
        os.makedirs(path, exist_ok=True)

    @staticmethod
    def read_text(path: str) -> str:
        with open(path) as fh:
            return fh.read()

    @staticmethod
    def write_atomic(path: str, data: bytes) -> None:
        """hidden tmp + fsync + atomic rename — the commit primitive."""
        parent, name = os.path.split(path)
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent, "." + name + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    @staticmethod
    def touch(path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w"):
            pass

    @staticmethod
    def listnames(path: str) -> list:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    @staticmethod
    def glob(pattern: str) -> list:
        return _glob.glob(pattern)

    @staticmethod
    def getmtime(path: str) -> float:
        return os.path.getmtime(path)

    @staticmethod
    def delete(path: str, recursive: bool = False) -> None:
        if recursive:
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.isdir(path):
            os.rmdir(path)
        elif os.path.exists(path):
            os.remove(path)

    @staticmethod
    def walk_files(root: str) -> list:
        out = []
        for dirpath, _, files in os.walk(root):
            for f in files:
                out.append(os.path.join(dirpath, f))
        return out

    @staticmethod
    def remove_empty_dirs(root: str) -> None:
        for dirpath, _, _ in os.walk(root, topdown=False):
            if dirpath != root and not os.listdir(dirpath):
                os.rmdir(dirpath)


class HadoopIO:
    """Metadata IO through the Hadoop FileSystem API (hdfs://, s3a://,
    file:/, ...) of the session's Hadoop configuration — the filesystem
    ``spark.read.parquet`` itself resolves for the same path."""

    is_remote = True

    def __init__(self, spark, path: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        root = self._Path(path)
        self._fs = root.getFileSystem(conf)
        # FileContext.rename(OVERWRITE) is the atomic commit rename
        # (FileSystem.rename refuses existing destinations)
        self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            root.toUri(), conf)
        ren = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
        gw = spark.sparkContext._gateway
        self._ren_overwrite = gw.new_array(ren, 1)
        self._ren_overwrite[0] = ren.OVERWRITE
        self._utf8 = jvm.java.nio.charset.StandardCharsets.UTF_8

    # -- path algebra (URI strings, canonicalized by Hadoop Path) ------

    @staticmethod
    def join(base: str, *parts: str) -> str:
        out = base
        for p in parts:
            out = out.rstrip("/") + "/" + p.lstrip("/")
        return out

    @staticmethod
    def basename(path: str) -> str:
        return path.rstrip("/").rsplit("/", 1)[-1]

    def _canon(self, path: str) -> str:
        return self._Path(path).toString()

    def relpath(self, full: str, root: str) -> str:
        c_full, c_root = self._canon(full), self._canon(root)
        if not c_full.startswith(c_root.rstrip("/") + "/"):
            raise ValueError("%s is not under %s" % (full, root))
        return c_full[len(c_root.rstrip("/")) + 1:]

    # -- predicates / listing -------------------------------------------

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def isdir(self, path: str) -> bool:
        p = self._Path(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isDirectory())

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def listnames(self, path: str) -> list:
        p = self._Path(path)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def glob(self, pattern: str) -> list:
        sts = self._fs.globStatus(self._Path(pattern))
        if sts is None:
            return []
        return [s.getPath().toString() for s in sts]

    def getmtime(self, path: str) -> float:
        return (self._fs.getFileStatus(self._Path(path))
                .getModificationTime() / 1000.0)

    def walk_files(self, root: str) -> list:
        p = self._Path(root)
        if not self._fs.exists(p):
            return []
        out = []
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return out

    # -- content ----------------------------------------------------------

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, self._utf8)
        finally:
            stream.close()

    def write_atomic(self, path: str, data: bytes) -> None:
        """hidden tmp file on the SAME filesystem + FileContext atomic
        rename-overwrite — the commit primitive (write-audit-publish:
        content is fully written and closed before the name moves)."""
        parent, name = path.rstrip("/").rsplit("/", 1)
        tmp = self._Path(parent + "/." + name + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(data))
            out.hflush()
        finally:
            out.close()
        self._fc.rename(tmp, self._Path(path), self._ren_overwrite)

    def touch(self, path: str) -> None:
        out = self._fs.create(self._Path(path), True)
        out.close()

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._Path(path), bool(recursive))

    def remove_empty_dirs(self, root: str) -> None:
        self._prune_dir(self._Path(root), is_root=True)

    def _prune_dir(self, p, is_root: bool = False) -> bool:
        """Depth-first prune; returns True when ``p`` ends up empty and
        (unless it is the root) deleted."""
        if not self._fs.exists(p):
            return True
        empty = True
        for st in self._fs.listStatus(p):
            if st.isDirectory():
                if not self._prune_dir(st.getPath()):
                    empty = False
            else:
                empty = False
        if empty and not is_root:
            self._fs.delete(p, False)
        return empty
