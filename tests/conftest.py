import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from json_ld_spark.session import get_spark

    spark = get_spark(
        app_name="json_ld_spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)``: the Spark jobs ``fn`` launches, counted
    through a fresh job group. Jobs started from other threads do not
    inherit the group and are not counted."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobcount-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def crash_commit():
    """``with crash_commit(name, after=k):`` crashes the pipeline inside its
    one commit step, ``snapshots.atomic_write``: ``k`` renames onto files
    whose name starts with ``name`` go through, and the next one raises
    ``RuntimeError("crash committing <file>")`` instead of renaming. The
    ``.tmp`` file is then written and fsynced but never renamed — the
    window between the write and the commit point."""

    @contextlib.contextmanager
    def crash(name: str, after: int = 0):
        real_replace = os.replace
        renamed = 0

        def replace(src, dst):
            nonlocal renamed
            target = os.path.basename(dst)
            if target.startswith(name):
                if renamed == after:
                    raise RuntimeError(f"crash committing {target}")
                renamed += 1
            real_replace(src, dst)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(os, "replace", replace)
            yield

    return crash
