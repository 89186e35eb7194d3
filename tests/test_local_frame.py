"""``local_frame``: driver-built frames through Arrow.

Parity with the list path ``spark.createDataFrame(<list>, ddl)`` for every
column shape the package builds, plus guards that no driver-built frame
reads through a Python-worker RDD and that no list-path call creeps back
into the package.
"""

import os
import re
from collections import Counter

import pytest

from datacube_core_spark.frames import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHAPES = [
    ("INT", [1, -(2**31), 2**31 - 1, None]),
    ("LONG", [2**40, -(2**63), 0, None]),
    ("BIGINT", [7, None]),
    ("DOUBLE", [1.5, -0.0, float("inf"), None]),
    ("STRING", ["a", "", "é€", None]),
    ("BINARY", [bytearray(b"\x00\x01"), bytearray(), None]),
    ("ARRAY<DOUBLE>", [[1.0, None, 2.5], [], None]),
    ("ARRAY<STRING>", [["x", None], [], None]),
]


def _multiset(df):
    def norm(v):
        return tuple(v) if isinstance(v, list) else v

    return Counter(tuple(norm(v) for v in row) for row in df.collect())


@pytest.mark.parametrize("ddl_type,values", SHAPES, ids=[s[0] for s in SHAPES])
def test_local_frame_matches_list_path_per_type(spark, ddl_type, values):
    ddl = f"k INT, v {ddl_type}"
    rows = [(i, v) for i, v in enumerate(values)]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert _multiset(got) == _multiset(want)


def test_local_frame_matches_list_path_wide_with_null_rows(spark):
    ddl = ", ".join(f"c{i} {t}" for i, (t, _) in enumerate(SHAPES))
    full = tuple(vals[0] for _, vals in SHAPES)
    rows = [full, tuple(None for _ in SHAPES), full]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert _multiset(got) == _multiset(want)


def test_local_frame_zero_rows(spark):
    ddl = ", ".join(f"c{i} {t}" for i, (t, _) in enumerate(SHAPES)) + ", ts TIMESTAMP"
    got = local_frame(spark, [], ddl)
    assert got.schema == spark.createDataFrame([], ddl).schema
    assert got.count() == 0


def test_local_frame_rejects_values_outside_the_column_type(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(2**31,)], "a INT")
    with pytest.raises(TypeError):
        local_frame(spark, [(1.5,)], "a LONG")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a INT")


def _reads_python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_frames_start_no_python_worker(spark, tmp_path):
    from datacube_core_spark.geom import GRID_PAGES
    from datacube_core_spark.operators.checkpoint import CHECKPOINT_SCHEMA, CheckpointedJob
    from datacube_core_spark.operators.pip import PipIndex
    from datacube_core_spark.sources.regions import regions

    assert _reads_python_rdd(spark.createDataFrame([(1,)], "a INT"))  # the probe sees the list path
    regs = regions(spark)
    assert not _reads_python_rdd(regs)
    index = PipIndex(spark, regs, GRID_PAGES)
    assert not _reads_python_rdd(index.rect_candidates)
    empty = CheckpointedJob(spark, str(tmp_path / "missing"))._read(str(tmp_path / "missing"), CHECKPOINT_SCHEMA)
    assert not _reads_python_rdd(empty)


def test_no_list_path_create_dataframe_outside_the_helper():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(os.path.join(REPO, "datacube_core_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    helper = os.path.join(REPO, "datacube_core_spark", "frames.py")
    offenders = []
    for path in paths:
        if path == helper:
            continue
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                if re.search(r"\bcreateDataFrame\(", line):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{n}")
    assert offenders == []
