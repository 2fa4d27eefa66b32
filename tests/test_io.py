"""Table-access abstraction: ref dispatch and catalog routing."""

import os

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


def test_read_table_catalog_routing():
    """Ref-routing into the Spark catalog (the Iceberg path when the
    runtime jar + catalog conf are present) — exercised with a fake
    session so the branch runs without an Iceberg deployment."""
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
