"""Filesystem-portable state maintenance (Hadoop FileSystem API).

Every stored-state family — :class:`~pydin_spark.operators.buckets.
StoredBuckets`, the incremental dedupers, :class:`~pydin_spark.
operators.similarity.IVFIndex`, the line-dedup state, and
:func:`~pydin_spark.functions.maintenance.compact` — performs small
metadata operations (rename / delete / list / size) against its state
directory as part of ``maintain()`` / ``checkpoint_state()``.  On a
laptop that directory is a local path; on the cluster where 100 TB
actually lives it is ``hdfs://`` or ``s3a://``.  Driver-side ``os`` /
``shutil`` calls only work for the laptop case.

This module routes those operations through the Hadoop FileSystem API
— the exact abstraction Spark's own readers and writers use — so the
same code works identically for ``file://``, ``hdfs://``, ``s3a://``,
``abfs://``, …  Zero new dependencies: the JVM classes ship inside
Spark.  This mirrors the reference's own discipline of
endpoint-abstracted file operations (``FileManager``'s
local/SSH/SFTP/FTP transport matrix, reference ``models.py:1664-2392``)
applied to the engine's state layer.

Semantics are pinned to the ``os`` functions they replace:

- :func:`rename` refuses to clobber (Hadoop's local-FS ``rename`` onto
  an existing directory would *move into* it, silently nesting state —
  we raise instead, exactly like ``os.rename`` onto a non-empty dir).
- :func:`listdir` returns child *names* and raises
  ``FileNotFoundError`` on a missing path, like ``os.listdir``.
- :func:`delete` is ``shutil.rmtree`` (recursive, optional
  ``ignore_errors``-style missing-ok).

Scheme-less paths resolve against ``fs.defaultFS`` — local ``file://``
in tests, the cluster FS in production — which is the Hadoop
convention, so callers never branch on path style.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) pair for ``path`` under the session's Hadoop
    configuration.  ``Path.getFileSystem`` resolves the scheme
    (``file://``/``hdfs://``/``s3a://``/none → defaultFS) and returns
    the matching — possibly cached — FileSystem instance."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    """``os.makedirs(exist_ok=True)``: create the directory and any
    missing parents; raises only on a real failure (e.g. a FILE
    already occupying the path)."""
    fs, p = _fs_path(spark, path)
    if not fs.mkdirs(p):
        raise OSError(f"mkdirs failed for {path}")


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory (``os.listdir`` contract: names not
    paths, ``FileNotFoundError`` when the directory is absent)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic-on-HDFS metadata rename with ``os.rename`` semantics:
    the destination must not exist (Hadoop's local rename onto an
    existing directory nests ``src`` *inside* ``dst`` — never what a
    state swap wants), and failure raises instead of returning False.
    On object stores (S3) rename is copy+delete under the hood; the
    state families' overwrite sequencing (commit log first, data
    sweep second) is what keeps crashes safe there, not rename
    atomicity."""
    fs, s = _fs_path(spark, src)
    d = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(d):
        raise OSError(f"rename target already exists: {dst}")
    if not fs.rename(s, d):
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(spark: SparkSession, path: str, recursive: bool = True,
           ignore_errors: bool = False) -> bool:
    """``shutil.rmtree``-shaped delete.  Returns True when something
    was removed; a missing path is an error only when
    ``ignore_errors`` is False (matching ``rmtree`` defaults)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        if ignore_errors:
            return False
        raise FileNotFoundError(path)
    ok = bool(fs.delete(p, recursive))
    if not ok and not ignore_errors:
        raise OSError(f"delete failed: {path}")
    return ok


def replace_dir(spark: SparkSession, staging: str, live: str,
                keep_backup: bool = False) -> None:
    """Swap ``staging`` into place as ``live`` via the rename dance
    every state family shares: live → ``.__old__``, staging → live,
    sweep the backup.  Readers resolve either the complete old tree or
    the complete new one, never a mix — rename is a metadata operation
    on hierarchical filesystems.  A crash between the two renames
    leaves the ``.__old__`` backup recoverable on disk (and the next
    maintenance sweep removes it)."""
    backup = live.rstrip("/") + ".__old__"
    if exists(spark, backup):
        if exists(spark, live):
            # prior swap completed, only its sweep crashed: clear it
            delete(spark, backup)
        else:
            # crashed BETWEEN the two renames: the backup is the only
            # copy — restore it, never destroy it (ADVICE r8: a swap
            # crash must leave the old or new tree resolvable)
            rename(spark, backup, live)
    had_live = exists(spark, live)
    if had_live:
        rename(spark, live, backup)
    rename(spark, staging, live)
    if had_live and not keep_backup:
        delete(spark, backup, ignore_errors=True)


def heal_replaced_dir(spark: SparkSession, live: str) -> bool:
    """Reader-side recovery for a :func:`replace_dir` that crashed
    between its two renames: if ``live`` is missing but its
    ``.__old__`` backup exists, restore the backup and return True.
    Cheap on the happy path (callers invoke it only after observing
    ``live`` missing), and it is what keeps a commit log readable
    through a crashed maintenance swap instead of silently resetting
    the family's state."""
    backup = live.rstrip("/") + ".__old__"
    if not exists(spark, live) and exists(spark, backup):
        rename(spark, backup, live)
        return True
    return False


def qualify(spark: SparkSession, path: str) -> str:
    """``path`` fully qualified against its filesystem — the form Spark
    reports input files in (``file:/data/t`` for a scheme-less local
    path under a local ``fs.defaultFS``, ``hdfs://nn:8020/data/t`` on
    a cluster). Characters are not percent-encoded."""
    fs, p = _fs_path(spark, path)
    return fs.makeQualified(p).toString()


def delete_files(spark: SparkSession, paths: list[str],
                 stop_at: str | None = None) -> None:
    """Delete each file of ``paths`` (all on one filesystem; Hadoop's
    local filesystem removes the ``.crc`` checksum sibling with the
    file), then every parent directory the deletes left empty, up to
    but excluding ``stop_at`` — a recycled partition leaves no empty
    ``k=v`` directory behind. ``paths`` and ``stop_at`` must be
    :func:`qualify`-ed for the parent walk to find ``stop_at``."""
    if not paths:
        return
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs, _ = _fs_path(spark, paths[0])
    parents = set()
    for path in paths:
        p = Path(path)
        if not fs.delete(p, False) and fs.exists(p):
            raise OSError(f"delete failed: {path}")
        parents.add(path.rsplit("/", 1)[0])
    stop = stop_at.rstrip("/") + "/" if stop_at else None
    for parent in parents:
        while stop and parent.startswith(stop):
            p = Path(parent)
            if not fs.exists(p) or len(fs.listStatus(p)):
                break
            fs.delete(p, True)
            parent = parent.rsplit("/", 1)[0]


def list_files(spark: SparkSession, path: str,
               suffix: str = ".parquet") -> list[str]:
    """Full paths of every ``suffix`` file under ``path`` (recursive,
    Hadoop-FS walk — works on any scheme). Paths come back in the
    filesystem's own (unencoded) form."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(suffix):
            out.append(st.getPath().toString())
    return out


def list_file_sizes(spark: SparkSession, path: str,
                    suffix: str = ".parquet") -> dict:
    """``{full path: bytes}`` for every ``suffix`` file under ``path``
    — the :func:`list_files` walk with sizes, still ONE listing."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    out = {}
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(suffix):
            out[st.getPath().toString()] = int(st.getLen())
    return out


def tree_stats(spark: SparkSession, path: str,
               suffix: str = ".parquet") -> dict:
    """File count + byte size of every ``suffix`` file under ``path``
    (recursive).  One NameNode/liststore walk, no data read — the
    fragmentation probe ``compact_if_fragmented`` gates on."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    n_files = 0
    n_bytes = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(suffix):
            n_files += 1
            n_bytes += int(st.getLen())
    return {"files": n_files, "bytes": n_bytes}
