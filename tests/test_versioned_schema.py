"""The commit manifest records the versioned table's schema.

Every commit writes a ``schema`` field — the union, under Spark's
``mergeSchema`` rules, of the tip's recorded schema and the schema of
the data it wrote — and the versioned reads scan only the live job
directories under it instead of merging parquet footers. These tests
pin the commit-time type-conflict check, the field on every commit
kind, the union's agreement with Spark's own merge, the migration of
manifests written without the field, and the Spark jobs the layer no
longer runs. Read-side parity with footer merging (an added column
reads as NULL in latest and time-travel reads) is
``tests/test_pipeline.py::test_read_version_merges_schema``.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from nyc_tlc_trip_data_pipelines_spark import io as eio


def _jobs(spark, fn, group):
    """(fn(), Spark jobs ``fn`` ran) — counted through a job group, as
    bench.py counts them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_conflicting_column_type_raises_at_commit(spark, tmp_path):
    t = str(tmp_path / "conflict")
    eio.append_versioned(spark.createDataFrame([(1,)], "id long"), t, "b1")
    with pytest.raises(ValueError, match="'id'.*bigint.*string"):
        eio.append_versioned(spark.createDataFrame([("x",)], "id string"), t, "b2")
    # nothing committed and nothing written
    assert eio.list_versions(t) == [(0, ["b1"])]
    assert not os.path.exists(os.path.join(t, "__job_id=b2"))
    with pytest.raises(ValueError, match="'id'"):
        eio.merge_versioned(
            spark, t, spark.createDataFrame([("x",)], "id string"), ["id"], "m1"
        )
    assert not os.path.exists(os.path.join(t, "__job_id=m1"))


def test_every_commit_kind_records_the_cumulative_schema(spark, tmp_path):
    t = str(tmp_path / "kinds")
    mio = eio._manifest_io(t)
    eio.append_versioned(spark.createDataFrame([(1, "a")], "k long, s string"), t, "a0")
    eio.append_versioned(
        spark.createDataFrame([(2, "b", 1.5)], "k long, s string, x double"), t, "a1"
    )
    v = eio.merge_versioned(
        spark, t, spark.createDataFrame([(2, "B", 7)], "k long, s string, n int"), ["k"], "m"
    )
    v = eio.delete_where(spark, t, F.col("k") == 1)
    v = eio.optimize_versioned(spark, t)
    want = ["k", "s", "x", "n"]
    for n in range(v + 1):
        recorded = StructType.fromJson(mio.read_meta(n)["schema"])
        assert recorded.names == want[: len(recorded.names)]
        assert all(f.nullable for f in recorded.fields)
    assert recorded.names == want
    assert eio.read_version(spark, t).columns == want
    assert _rows(eio.read_version(spark, t)) == [(2, "B", None, 7)]
    # vacuum carries the field forward; reads after it are unchanged
    eio.vacuum_versioned(t)
    assert _rows(eio.read_version(spark, t)) == [(2, "B", None, 7)]


_MERGE_CASES = [
    (StructType([StructField("id", LongType(), False)]),
     StructType([StructField("ID", LongType()), StructField("x", DoubleType())])),
    (StructType([StructField("id", LongType())]),
     StructType([StructField("id", IntegerType())])),
    (StructType([StructField("d", DecimalType(10, 2))]),
     StructType([StructField("d", DecimalType(12, 2))])),
    (StructType([StructField("d", DecimalType(10, 2))]),
     StructType([StructField("d", DecimalType(12, 3))])),
    (StructType([StructField("t", TimestampNTZType())]),
     StructType([StructField("t", TimestampType())])),
    (StructType([StructField("s", StructType([StructField("a", IntegerType())]))]),
     StructType([StructField("s", StructType([StructField("b", StringType())]))])),
    (StructType([StructField("a", ArrayType(StructType([StructField("p", LongType())]), False))]),
     StructType([StructField("a", ArrayType(StructType([StructField("q", LongType())])))])),
    (StructType([StructField("m", MapType(StringType(), LongType(), False))]),
     StructType([StructField("m", MapType(StringType(), DoubleType()))])),
]  # fmt: skip


@pytest.mark.parametrize("left,right", _MERGE_CASES)
def test_schema_union_follows_spark_merge_rules(spark, left, right):
    """The manifest's union is Spark's own ``StructType.merge`` (the
    rules parquet ``mergeSchema`` applies, case-insensitive by default):
    same merged schema, and a conflict exactly where Spark has one."""
    jt = spark._jvm.org.apache.spark.sql.types.DataType
    try:
        want = json.loads(jt.fromJson(left.json()).merge(jt.fromJson(right.json()), False).json())
    except Exception:
        want = None
    if want is None:
        with pytest.raises(ValueError):
            eio._merge_types(left, right, False)
    else:
        assert eio._merge_types(left, right, False).jsonValue() == want


def test_manifests_without_schema_migrate(spark, tmp_path):
    """Manifests written before the field existed: reads derive the
    schema once by the old footer merge and return what they returned
    before; the next commit records the field again."""
    t = str(tmp_path / "legacy")
    eio.append_versioned(spark.createDataFrame([(1, "a")], "id long, s string"), t, "b1")
    eio.append_versioned(
        spark.createDataFrame([(2, "b", 9.5)], "id long, s string, extra double"), t, "b2"
    )
    before = {v: eio.read_version(spark, t, v) for v in (None, 0)}
    before = {v: (df.columns, _rows(df)) for v, df in before.items()}
    mdir = os.path.join(t, "_manifests")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        with open(p) as fh:
            m = json.load(fh)
        m.pop("schema")
        with open(p, "w") as fh:
            json.dump(m, fh)
    for v, (cols, rows) in before.items():
        df = eio.read_version(spark, t, v)
        assert (df.columns, _rows(df)) == (cols, rows)
    assert eio.append_versioned(
        spark.createDataFrame([(3, "c")], "id long, s string"), t, "b3"
    ) == 2
    with open(os.path.join(mdir, "v2.json")) as fh:
        assert StructType.fromJson(json.load(fh)["schema"]).names == ["id", "s", "extra"]
    assert _rows(eio.read_version(spark, t)) == [(1, "a", None), (2, "b", 9.5), (3, "c", None)]


def test_versioned_reads_run_no_schema_jobs(spark, tmp_path):
    """Building a versioned read runs no Spark job; a zone-pruned point
    read runs its scan and nothing else; a MERGE into a zone_stats table
    no longer pays footer-inference jobs for its probe, its rewrite
    reads and its zone-stat scans."""
    t = str(tmp_path / "jobs")
    df = spark.range(4_000).select(
        F.col("id").alias("trip_id"), (F.col("id") % 7).cast("double").alias("fare")
    )
    for i in range(3):
        eio.append_versioned(
            df.filter(F.col("trip_id") % 3 == i).repartition(2), t, f"s{i}", zone_stats=["trip_id"]
        )
    _, n = _jobs(spark, lambda: eio.read_version(spark, t), "rv_build")
    assert n == 0
    _, n = _jobs(spark, lambda: eio.read_version(spark, t, 0), "rv_asof_build")
    assert n == 0
    rows, n = _jobs(
        spark,
        lambda: eio.read_version_where(spark, t, [("trip_id", "=", 42)]).collect(),
        "rvw",
    )
    assert [r.trip_id for r in rows] == [42]
    assert n == 1  # the scan itself; the footer merge used to add a second job
    updates = spark.createDataFrame([(42, 1.0), (9_999, 2.0)], "trip_id long, fare double")
    _, n = _jobs(
        spark, lambda: eio.merge_versioned(spark, t, updates, ["trip_id"], "u1"), "merge"
    )
    # 13 jobs before the manifest recorded the schema: the probe's
    # footer merge, the rewrite read's and the zone scan's inference
    assert n == 10
