"""Table-access abstraction: ref dispatch, catalog routing, and the
parquet schema read from a footer."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from drivel_spark.io import is_table_ref, read_table


def test_ref_dispatch():
    assert is_table_ref("iceberg:db.clips")
    assert is_table_ref("catalog.db.clips")
    assert not is_table_ref("/data/clips")
    assert not is_table_ref("s3://bucket/clips.parquet")
    assert not is_table_ref("clips")


def test_read_parquet_path(spark, sf_small_dir):
    df = read_table(spark, os.path.join(sf_small_dir, "nation.parquet"))
    assert df.count() == 25


def test_read_table_catalog_routing(monkeypatch):
    """Ref-routing into the Spark catalog (the Iceberg path when the
    runtime jar + catalog conf are present) — exercised with a fake
    session so the branch runs without an Iceberg deployment (and with
    no footer to read for the path)."""
    import drivel_spark.io as dio

    monkeypatch.setattr(dio, "footer_schema", lambda spark, ref: None)
    log = []

    class FakeReader:
        def table(self, name):
            log.append(("table", name))
            return "DF"

        def parquet(self, path):
            log.append(("parquet", path))
            return "DF"

    class FakeSpark:
        @property
        def read(self):
            return FakeReader()

    read_table(FakeSpark(), "iceberg:db.clips")
    read_table(FakeSpark(), "cat.db.clips")
    read_table(FakeSpark(), "/data/clips")
    assert log == [
        ("table", "db.clips"),
        ("table", "cat.db.clips"),
        ("parquet", "/data/clips"),
    ]


def test_write_table_iceberg_mode_dispatch():
    """append must APPEND (DataFrameWriterV2.append), overwrite must
    createOrReplace, anything else must raise (ADVICE r01: mode was
    silently ignored → data loss on the intended-append path)."""
    import pytest

    from drivel_spark.io import write_table

    calls = []

    class FakeWriter:
        def using(self, fmt):
            calls.append(("using", fmt))
            return self

        def append(self):
            calls.append(("append",))

        def createOrReplace(self):
            calls.append(("createOrReplace",))

    class FakeDF:
        def writeTo(self, name):
            calls.append(("writeTo", name))
            return FakeWriter()

    write_table(FakeDF(), "iceberg:db.clips", mode="append")
    assert calls[-1] == ("append",)
    write_table(FakeDF(), "iceberg:db.clips", mode="overwrite")
    assert calls[-1] == ("createOrReplace",)
    with pytest.raises(ValueError):
        write_table(FakeDF(), "iceberg:db.clips", mode="ignore")


def test_catalog_table_round_trip(spark, sf_small_dir):
    """End-to-end catalog branch with the session's built-in catalog:
    write_table → saveAsTable, read_table → spark.read.table.  Same
    code path an Iceberg catalog takes (conf swap, not code swap)."""
    from drivel_spark.io import write_table

    df = read_table(spark, os.path.join(sf_small_dir, "region.parquet"))
    spark.sql("DROP TABLE IF EXISTS default.drivel_smoke")
    write_table(df, "default.drivel_smoke", mode="overwrite")
    back = read_table(spark, "default.drivel_smoke")
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)
    spark.sql("DROP TABLE IF EXISTS default.drivel_smoke")


def test_bucketed_join_has_no_shuffle(spark, sf_small_dir):
    """Both sides bucketed by the join key into the same bucket count ⇒
    the sort-merge join plans WITHOUT an Exchange on either side — the
    pay-shuffle-once-at-write contract that makes repeated joins on a
    100TB fact table affordable."""
    import io as _io
    from contextlib import redirect_stdout

    from drivel_spark.io import write_bucketed

    li = read_table(spark, os.path.join(sf_small_dir, "lineitem.parquet"))
    o = read_table(spark, os.path.join(sf_small_dir, "orders.parquet"))
    for t in ("drivel_li_b", "drivel_o_b"):
        spark.sql(f"DROP TABLE IF EXISTS default.{t}")
    write_bucketed(
        li.select("l_orderkey", "l_quantity"), "default.drivel_li_b",
        ["l_orderkey"], 4, sort_cols=["l_orderkey"],
    )
    write_bucketed(
        o.select("o_orderkey", "o_totalprice"), "default.drivel_o_b",
        ["o_orderkey"], 4, sort_cols=["o_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("default.drivel_li_b").join(
            spark.table("default.drivel_o_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        buf = _io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and the result is still correct
        n = joined.count()
        want = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("drivel_li_b", "drivel_o_b"):
            spark.sql(f"DROP TABLE IF EXISTS default.{t}")


def test_write_partitioned_prunes_directories(spark, tmp_path):
    """A filter on the partition column appears as a PartitionFilter in
    the scan (directory-level pruning — the other codecs' files never
    get listed into the scan), values round-trip, and an iceberg: ref
    dispatches to DataFrameWriterV2.partitionedBy."""
    import io as _io
    from contextlib import redirect_stdout
    from unittest.mock import MagicMock

    from drivel_spark.fixtures import ClipFixtureSpec, build_clips
    from drivel_spark.io import write_partitioned

    out = str(tmp_path / "clips_by_codec")
    clips = build_clips(spark, 400, 4, ClipFixtureSpec(with_audio=False))
    write_partitioned(clips, out, ["codec"])

    back = spark.read.parquet(out)
    flac = back.filter(F.col("codec") == "flac")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        flac.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "codec" in plan.split("PartitionFilters")[1].split("]")[0]
    want = clips.filter(F.col("codec") == "flac").count()
    assert flac.count() == want and want > 0

    # iceberg ref → DataFrameWriterV2 partitionedBy + mode dispatch
    mock_df = MagicMock()
    write_partitioned(mock_df, "iceberg:db.clips", ["codec"], mode="append")
    mock_df.writeTo.assert_called_once_with("db.clips")
    chain = mock_df.writeTo.return_value.using.return_value.partitionedBy.return_value
    chain.append.assert_called_once()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_partitioned(mock_df, "iceberg:db.clips", ["codec"], mode="replace")


def test_local_df_rejects_wrong_arity_rows(spark):
    """A malformed row raises instead of being silently truncated or
    re-tried on the classic path; well-formed rows (None, a 2^62 long,
    an array) round-trip exactly."""
    import pytest as _pytest

    from drivel_spark.io import local_df

    schema = "a long, b string, c array<double>"
    ok = local_df(spark, [(1 << 62, None, [1.0, 2.0]), (None, "x", [])], schema)
    assert [tuple(r) for r in ok.collect()] == [
        (1 << 62, None, [1.0, 2.0]),
        (None, "x", []),
    ]
    for bad in ([(1, "x")], [(1, "x", [], 4)]):
        with _pytest.raises(ValueError, match="values for columns"):
            local_df(spark, [(2, "y", [0.5]), *bad], schema)


def _parquet_layouts(spark, root):
    """``{name: path}`` of the layouts whose read schema must match
    Spark's inference."""
    out = {}
    pa_dir = os.path.join(root, "pyarrow")
    os.makedirs(pa_dir)
    ts = datetime.datetime(2024, 5, 1, 12, 30)
    pq.write_table(pa.table({
        "ts_us": pa.array([ts], pa.timestamp("us")),
        "ts_ms_utc": pa.array([ts], pa.timestamp("ms", tz="UTC")),
        "u32": pa.array([7], pa.uint32()),
    }), os.path.join(pa_dir, "part-0.parquet"))
    out["pyarrow"] = pa_dir
    typed = spark.sql(
        "SELECT CAST(1.25 AS DECIMAL(12, 3)) AS d, array(1, 2) AS a,"
        " named_struct('x', 1, 'y', 'b') AS st, map('k', 1.5D) AS m,"
        " TIMESTAMP'2024-05-01 12:30:00' AS ltz,"
        " TIMESTAMP_NTZ'2024-05-01 12:30:00' AS ntz, id AS k"
        " FROM range(4)"
    )
    out["spark"] = os.path.join(root, "spark")
    typed.write.parquet(out["spark"])
    out["int96"] = os.path.join(root, "int96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        typed.write.parquet(out["int96"])
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    out["hive"] = os.path.join(root, "hive")
    typed.write.partitionBy("k").parquet(out["hive"])
    # the partition column also stored in the files (as a string)
    stored = os.path.join(root, "stored")
    for k in (1, 2):
        os.makedirs(os.path.join(stored, f"k={k}"))
        pq.write_table(pa.table({"k": [str(k)], "x": [k]}),
                       os.path.join(stored, f"k={k}", "part-0.parquet"))
    out["hive_stored"] = stored
    out["single_file"] = sorted(
        os.path.join(out["spark"], f) for f in os.listdir(out["spark"]) if f.endswith(".parquet")
    )[0]
    out["glob"] = os.path.join(out["spark"], "part-*.parquet")
    # a skipped directory and a skipped file whose footers sort first,
    # and files in name order: the first data file is a.parquet
    skips = os.path.join(root, "skips")
    os.makedirs(os.path.join(skips, "_temporary"))
    pq.write_table(pa.table({"tmp": [1]}), os.path.join(skips, "_temporary", "0.parquet"))
    pq.write_table(pa.table({"dot": [1]}), os.path.join(skips, ".0.parquet"))
    pq.write_table(pa.table({"b": [1]}), os.path.join(skips, "b.parquet"))
    pq.write_table(pa.table({"a": [1.0]}), os.path.join(skips, "a.parquet"))
    out["skips"] = skips
    # a summary file is read before any data file
    summary = os.path.join(root, "summary")
    os.makedirs(summary)
    pq.write_table(pa.table({"x": [1]}), os.path.join(summary, "part-0.parquet"))
    pq.write_metadata(pa.schema([("x", pa.int64()), ("y", pa.string())]),
                      os.path.join(summary, "_common_metadata"))
    out["summary"] = summary
    return out


def test_read_table_schema_equals_inference(spark, tmp_path):
    """``read_table`` gives the schema ``spark.read.parquet`` infers, on
    every layout, and the same rows."""
    from drivel_spark.io import footer_schema

    layouts = _parquet_layouts(spark, str(tmp_path))
    for name, path in layouts.items():
        want = spark.read.parquet(path)
        got = read_table(spark, path)
        assert got.schema == want.schema, name
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect())), name
    # the layouts that keep Spark's inference
    assert footer_schema(spark, layouts["glob"]) is None
    assert footer_schema(spark, layouts["hive_stored"]) is None
    assert footer_schema(spark, layouts["hive"]) is not None
    assert [f.name for f in footer_schema(spark, layouts["summary"]).fields] == ["x", "y"]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert footer_schema(spark, layouts["spark"]) is None
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_table_empty_dir_raises_sparks_error(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    errors = []
    for read in (lambda: read_table(spark, empty), lambda: spark.read.parquet(empty)):
        with pytest.raises(AnalysisException) as err:
            read()
        errors.append((err.value.getCondition(), str(err.value)))
    assert errors[0] == errors[1]
    assert errors[0][0] == "UNABLE_TO_INFER_SCHEMA"


def test_read_table_of_a_parquet_dir_runs_no_job(spark, tmp_path, n_jobs):
    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "cast(id AS string) AS s").repartition(4).write.parquet(path)
    assert n_jobs(lambda: read_table(spark, path)) == 0
    assert n_jobs(lambda: spark.read.parquet(path)) == 1  # the inference job
