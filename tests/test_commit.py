"""The crash-safe commit protocol (data__converter_spark/commit.py):
a crash injected after every step of ``swap`` leaves a state that
``recover`` turns into exactly the old or the new table, with no
staging or backup residue."""

from __future__ import annotations

import os

import pytest

from data__converter_spark import commit

OLD, NEW = [(1,), (2,)], [(3,)]


class Crash(RuntimeError):
    pass


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _residue(live):
    parent, name = os.path.split(live)
    return sorted(n for n in os.listdir(parent) if n != name)


def _crash_before(monkeypatch, n):
    """Let the first ``n - 1`` renames/deletes run; crash instead of
    the n-th."""
    calls = {"n": 0}

    def wrap(real):
        def step(*args):
            calls["n"] += 1
            if calls["n"] == n:
                raise Crash(f"crash before step {n}")
            real(*args)

        return step

    monkeypatch.setattr(commit, "rename", wrap(commit.rename))
    monkeypatch.setattr(commit, "delete", wrap(commit.delete))


# crash point (a write that dies, or the n-th rename/delete of the
# swap never running) -> the version recover must leave at live
@pytest.mark.parametrize(
    "point, want",
    [
        ("write", OLD),  # staged has no _SUCCESS
        (1, OLD),  # staged committed, live not yet demoted
        (2, NEW),  # live demoted to the backup, staged not promoted
        (3, NEW),  # staged promoted, backup not yet dropped
    ],
)
def test_swap_crash_at_each_step_recovers_old_or_new(
    spark, tmp_path, monkeypatch, point, want
):
    live = str(tmp_path / "t")
    spark.createDataFrame(OLD, "x int").write.parquet(live)
    new = spark.createDataFrame(NEW, "x int")

    def write(staged):
        new.write.parquet(f"{staged}/part_a")
        if point == "write":
            raise Crash("crash inside write")
        new.write.parquet(f"{staged}/part_b")

    if point != "write":
        _crash_before(monkeypatch, point)
    with pytest.raises(Crash):
        commit.swap(spark, live, write)
    monkeypatch.undo()
    assert _residue(live) != []

    commit.recover(spark, live)
    assert _residue(live) == []
    if want is OLD:
        assert _rows(spark, live) == OLD
    else:
        assert _rows(spark, f"{live}/part_a") == NEW
        assert _rows(spark, f"{live}/part_b") == NEW
    # the repaired table takes the next swap, which runs to the end
    commit.swap(spark, live, new.write.mode("overwrite").parquet)
    assert _rows(spark, live) == NEW and _residue(live) == []


def test_swap_creates_a_missing_table(spark, tmp_path):
    live = str(tmp_path / "t")
    commit.recover(spark, live)
    commit.swap(
        spark, live, spark.createDataFrame(NEW, "x int").write.parquet
    )
    assert _rows(spark, live) == NEW and _residue(live) == []


def test_failed_rename_raises(spark, monkeypatch):
    """Hadoop stores report some failed renames by returning False, not
    by throwing; the swap must stop there instead of going on to drop
    the backup."""

    class RefusingFS:
        def rename(self, src, dst):
            return False

    monkeypatch.setattr(commit, "filesystem", lambda s, p: (RefusingFS(), str))
    with pytest.raises(OSError, match="rename a -> b failed"):
        commit.rename(spark, "a", "b")


def test_publish_file_needs_exactly_one_data_file(spark, tmp_path):
    df = spark.createDataFrame(OLD, "x int")
    staged, dest = str(tmp_path / "st"), str(tmp_path / "one.parquet")
    df.repartition(2).write.parquet(staged)
    with pytest.raises(ValueError, match="one data file"):
        commit.publish_file(spark, staged, dest)
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    commit.publish_file(spark, staged, dest)
    assert not os.path.exists(staged)
    assert _rows(spark, dest) == OLD
    # the file's checksum moved with it
    assert os.path.exists(str(tmp_path / ".one.parquet.crc"))
