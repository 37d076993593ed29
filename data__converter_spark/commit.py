"""The engine's one crash-safe commit protocol, on the Hadoop FileSystem
API (local, HDFS, s3a, ... — whatever the table lives on).

A table — or a directory of tables that must change as one unit, such
as an ANN index generation — at ``live`` is replaced in five steps:

1. write the new version to ``{live}__staged``;
2. mark it committed with ``{live}__staged/_SUCCESS``;
3. demote live to ``{live}__bak``;
4. promote the staged copy to live;
5. drop the backup.

A bare parquet directory has no transaction log, so the renames are the
commit: a staged copy counts as committed iff its ``_SUCCESS`` exists.
Every crash state this leaves is repaired by :func:`recover`, which
callers run on entry, before they read ``live``. After it a crash at
any step leaves either the old or the new version at ``live``.

Every rename and delete goes through :func:`rename` and :func:`delete`,
so a test can inject a crash at any step by replacing one of them.
"""

from __future__ import annotations

from collections.abc import Callable

_STAGED, _BAK = "__staged", "__bak"
# py4j gateway -> org.apache.hadoop.fs.Path. Each step of the walk
# ``spark._jvm.org.apache.hadoop.fs.Path`` is a py4j round trip, so the
# class resolves once per gateway; a relaunched gateway resolves anew.
_PATH_CLASS: dict = {}


def filesystem(spark, path: str):
    """(fs, Path class) for ``path``'s Hadoop filesystem."""
    gateway = spark.sparkContext._gateway
    P = _PATH_CLASS.get(gateway)
    if P is None:
        P = _PATH_CLASS[gateway] = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def exists(spark, path: str) -> bool:
    """Existence probe through the Hadoop FS API — no read-and-catch,
    which logs an analyzer stack for a normal missing table."""
    fs, P = filesystem(spark, path)
    return fs.exists(P(path))


def rename(spark, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``; a file's checksum file moves with it.
    Hadoop reports a failed rename by returning False, so raise then."""
    fs, P = filesystem(spark, src)
    if not fs.rename(P(src), P(dst)):
        raise OSError(f"rename {src} -> {dst} failed")


def delete(spark, path: str) -> None:
    """Delete ``path`` recursively; a file's checksum file goes with it.
    A missing path is a no-op."""
    fs, P = filesystem(spark, path)
    p = P(path)
    if not fs.delete(p, True) and fs.exists(p):
        raise OSError(f"delete {path} failed")


def recover(spark, live: str) -> None:
    """Repair whatever a crash inside :func:`swap` left at ``live``:

    - staged committed, live missing: the crash fell between demote and
      promote, so promote the staged copy (it is the new version);
    - backup present, live missing, staged not committed: restore the
      backup;
    - backup present, live present: the crash fell before the backup
      was dropped, so drop it;
    - staged present in any other case: the write died mid-flight, or
      committed before live was demoted; drop it, so a path glob never
      reads it and the old version stands.
    """
    fs, P = filesystem(spark, live)
    staged, bak = live + _STAGED, live + _BAK
    has_live = fs.exists(P(live))
    if not has_live and fs.exists(P(f"{staged}/_SUCCESS")):
        rename(spark, staged, live)
        has_live = True
    if fs.exists(P(bak)):
        if has_live:
            delete(spark, bak)
        else:
            rename(spark, bak, live)
    if fs.exists(P(staged)):
        delete(spark, staged)


def swap(spark, live: str, write: Callable[[str], None]) -> None:
    """Replace ``live`` with what ``write(staged_path)`` writes. The new
    version may read from ``live`` (parquet cannot overwrite a table it
    is scanning), and costs one data write. The ``_SUCCESS`` marker is
    written here, after ``write`` returns, so a single table and a
    multi-table directory commit the same way. Run :func:`recover` on
    entry, before ``live`` is read."""
    staged, bak = live + _STAGED, live + _BAK
    write(staged)
    fs, P = filesystem(spark, staged)
    fs.create(P(f"{staged}/_SUCCESS"), True).close()
    had_live = fs.exists(P(live))
    if had_live:
        rename(spark, live, bak)
    rename(spark, staged, live)
    if had_live:
        delete(spark, bak)


def publish_file(spark, staged_dir: str, dest: str) -> None:
    """Move the one data file of a Spark output directory to the file
    ``dest``, then drop the directory. Names starting with ``_`` or
    ``.`` (``_SUCCESS``, checksum files) are not data. Raises
    ``ValueError`` unless the directory holds exactly one data file."""
    fs, P = filesystem(spark, staged_dir)
    data = [
        s
        for s in fs.listStatus(P(staged_dir))
        if not s.getPath().getName().startswith(("_", "."))
    ]
    if len(data) != 1 or not data[0].isFile():
        raise ValueError(
            f"expected one data file in {staged_dir}, got "
            f"{[s.getPath().getName() for s in data]}"
        )
    rename(spark, data[0].getPath().toString(), dest)
    delete(spark, staged_dir)
