"""Distributed profiler vs pandas oracle on the driver testdata, plus
partitioning-invariance (the merge-monoid property at the Spark level)."""

import json

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from drivel_spark.core import EnumInference
from drivel_spark.profiling import ProfilerOptions, profile, profile_json_column


@pytest.fixture(scope="module")
def lineitem(spark, sf_small_dir):
    return spark.read.parquet(f"{sf_small_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def lineitem_pd(sf_small_dir):
    return pd.read_parquet(f"{sf_small_dir}/lineitem.parquet")


def test_numeric_profile_matches_pandas(lineitem, lineitem_pd):
    prof = profile(lineitem)
    assert prof.n_rows == len(lineitem_pd)
    for col in ["l_quantity", "l_extendedprice", "l_discount"]:
        acc = prof.column(col)
        assert acc.n == len(lineitem_pd)
        assert acc.n_null == int(lineitem_pd[col].isna().sum())
        assert acc.min_v == pytest.approx(lineitem_pd[col].min())
        assert acc.max_v == pytest.approx(lineitem_pd[col].max())
        assert acc.sum_v == pytest.approx(lineitem_pd[col].sum(), rel=1e-9)
        # HLL within 5% of exact distinct
        exact = lineitem_pd[col].nunique()
        assert abs(acc.hll.estimate() - exact) / max(exact, 1) < 0.05
        # KLL median within ~2.5% rank error; discrete columns put mass
        # on single values, so test against the [P(X<m), P(X<=m)] interval
        med = acc.kll.quantile(0.5)
        rank_lo = (lineitem_pd[col] < med).mean()
        rank_hi = (lineitem_pd[col] <= med).mean()
        assert rank_lo - 0.025 <= 0.5 <= rank_hi + 0.025


def test_string_profile_matches_pandas(lineitem, lineitem_pd):
    prof = profile(lineitem)
    acc = prof.column("l_returnflag")
    lens = lineitem_pd["l_returnflag"].str.len()
    assert acc.min_len == lens.min() and acc.max_len == lens.max()
    # small-cardinality column: frequency map is exact
    assert acc.freq.is_exact
    assert acc.freq.counts == lineitem_pd["l_returnflag"].value_counts().to_dict()


def _keyed_profile(df, key):
    """Profile through the keyed path: per-key partials, the executor
    merger, then the driver fold over the per-key accumulators."""
    from drivel_spark.profiling import (
        TableProfile,
        fold_accumulators,
        keyed_accumulators,
        merge_keyed,
    )

    rows = merge_keyed(keyed_accumulators(df, key)).collect()
    return TableProfile(fold_accumulators(r["acc"] for r in rows), ProfilerOptions())


def test_partitioning_invariance(lineitem):
    from pyspark.sql import functions as F

    p1 = profile(lineitem.coalesce(1))
    p8 = profile(lineitem.repartition(8))
    p17 = profile(lineitem.repartition(17, "l_partkey"))
    # the keyed paths (grouped_profile's group key, resumable_profile's
    # file key) fold to the same exact fields
    by_group = _keyed_profile(lineitem.repartition(5), F.col("l_returnflag"))
    by_file = _keyed_profile(lineitem, F.input_file_name())
    assert by_group.n_rows == by_file.n_rows == p1.n_rows
    for prof in (p8, p17, by_group, by_file):
        for col in prof.columns():
            a, b = p1.column(col), prof.column(col)
            assert a.n == b.n and a.n_null == b.n_null
            if a.kind == "numeric":
                assert a.min_v == b.min_v and a.max_v == b.max_v
                assert a.sum_v == pytest.approx(b.sum_v, rel=1e-9)
                # HLL registers are merge-exact: identical regardless of split
                assert np.array_equal(a.hll.registers, b.hll.registers)
            if a.kind == "string":
                assert a.min_len == b.min_len and a.max_len == b.max_len
                assert a.freq.counts == b.freq.counts
                assert sorted(map(str, a.sample.sample())) == sorted(map(str, b.sample.sample()))


def test_profile_plans_its_pass_once(spark, tmp_path, n_jobs):
    """A plain parquet read profiles in one job; a shuffled input runs
    its shuffle once (planning the pass a second time for its
    partition count ran it again); 300 partitions go through the
    executor-side combine levels and fold the same partials."""
    path = str(tmp_path / "t")
    spark.range(2000).selectExpr("id", "cast(id % 7 AS string) AS s").repartition(4).write.parquet(path)
    table = spark.read.parquet(path)
    assert table.rdd.getNumPartitions() == 4
    assert n_jobs(lambda: profile(table)) == 1
    assert n_jobs(lambda: profile(spark.range(200000).repartition(8))) == 2
    prof = profile(spark.range(600).repartition(300))
    assert (prof.n_rows, prof.n_partitions, prof.column("id").max_v) == (600, 300, 599)


def test_tree_combine_levels_match_flat_fold(lineitem):
    """9 partitions, fan-in 2, collect threshold 2: three executor-side
    combine levels (9 → 5 → 3 → 2 rows) give the same exact fields
    as folding the 9 partition partials on the driver."""
    from drivel_spark.profiling import fold_accumulators, keyed_accumulators, tree_combine

    partials = keyed_accumulators(lineitem.repartition(9))
    flat_rows = partials.collect()
    tree_rows = tree_combine(partials, fanin=2, collect_threshold=2).collect()
    assert len(flat_rows) == 9 and len(tree_rows) == 2
    flat = fold_accumulators(r["acc"] for r in flat_rows)
    tree = fold_accumulators(r["acc"] for r in tree_rows)
    assert tree.n_rows == flat.n_rows > 0
    assert tree.n_partitions == flat.n_partitions == 9
    for name, a in flat.cols.items():
        b = tree.cols[name]
        assert (a.n, a.n_null) == (b.n, b.n_null)
        if a.kind == "numeric":
            assert (a.min_v, a.max_v) == (b.min_v, b.max_v)
            # float sums differ only by addition order
            assert a.sum_v == pytest.approx(b.sum_v, rel=1e-12)
            assert np.array_equal(a.hll.registers, b.hll.registers)
        if a.kind == "string":
            assert (a.min_len, a.max_len) == (b.min_len, b.max_len)
            assert np.array_equal(a.hll.registers, b.hll.registers)
            assert a.freq.counts == b.freq.counts


def test_enum_detection_on_low_cardinality(lineitem):
    prof = profile(lineitem, opts=ProfilerOptions(enum_max_unique_ratio=0.01))
    node = prof.to_schema_node()
    rf = node.required["l_returnflag"]
    assert rf.str_type == "enum"
    assert rf.variants == frozenset({"A", "N", "R"})


def test_describe_and_json_schema_render(lineitem):
    prof = profile(lineitem)
    text = prof.describe()
    assert '"l_orderkey"' in text and "int (" in text
    js = prof.to_json_schema(extended=True)
    assert js["type"] == "object"
    assert js["properties"]["l_quantity"]["type"] == "number"
    assert "minimum" in js["properties"]["l_quantity"]


def test_profile_binary_and_array(spark):
    pdf = pd.DataFrame(
        {
            "b": [b"abc", b"defgh", None, b""],
            "arr": [[1.0, 2.0], [], [3.0], None],
        }
    )
    df = spark.createDataFrame(pdf)
    prof = profile(df)
    b = prof.column("b")
    assert (b.min_size, b.max_size, b.n_null, b.total_bytes) == (0, 5, 1, 8)
    a = prof.column("arr")
    assert (a.min_items, a.max_items, a.n_null) == (0, 2, 1)


def test_profile_uuid_format_column(spark):
    import uuid

    rng = np.random.default_rng(5)
    ids = [str(uuid.UUID(bytes=rng.bytes(16))) for _ in range(500)]
    df = spark.createDataFrame(pd.DataFrame({"id": ids})).repartition(4)
    prof = profile(df)
    assert prof.column("id").resolved_format == "uuid"
    node = prof.to_schema_node()
    assert node.required["id"].str_type == "uuid"


def test_profile_json_column(spark, sf_small_dir):
    events = spark.read.parquet(f"{sf_small_dir}/events.parquet")
    node = profile_json_column(events, "props", enum=EnumInference(0.5, 1))
    assert node.kind == "object"
    # cross-check against a driver-side fold over the same documents
    props = pd.read_parquet(f"{sf_small_dir}/events.parquet")["props"].dropna()
    from drivel_spark.core import InferenceOptions, infer_many

    oracle = infer_many(
        [json.loads(p) for p in props],
        InferenceOptions(max_strings_seen=64, max_chars_seen=1024),
    )
    assert set(node.required) == set(oracle.required)
    assert set(node.optional) == set(oracle.optional)
    for k in node.required:
        assert node.required[k].kind == oracle.required[k].kind


def test_profile_json_column_tolerates_corrupt_docs(spark):
    """A malformed document must be counted, never a task failure —
    the reference hard-exits on a bad JSONL line (main.rs:104-109);
    SURVEY S3 mandates corrupt-record tolerance at scale."""
    import pandas as pd

    from drivel_spark.profiling import profile_json_column

    pdf = pd.DataFrame(
        {
            "j": [
                '{"a": 1}',
                '{"a": 2, "b": "x"}',
                "{not json",          # corrupt
                None,                 # null row (not corrupt)
                '{"a": null}',
                "[1,",                # corrupt
            ]
        }
    )
    df = spark.createDataFrame(pdf).repartition(3)
    node, stats = profile_json_column(df, "j", with_stats=True)
    assert stats == {"n_docs": 3, "n_null": 1, "n_corrupt": 2}
    fields = {**node.required, **node.optional}
    assert set(fields) == {"a", "b"}
    assert fields["a"].kind == "number" and fields["a"].nullable
    # bare-node call keeps the old signature
    node2 = profile_json_column(df, "j")
    assert {**node2.required, **node2.optional}.keys() == fields.keys()


def test_diff_profiles_change_kinds(spark):
    """Every structural change kind fires exactly when constructed:
    add/remove, type change, nulls appearing, numeric range escape,
    string length growth, enum variant growth, format change."""
    from pyspark.sql import functions as F

    from drivel_spark.profiling import diff_profiles, profile

    base_df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"),
        F.when(F.col("id") % 2 == 0, "red").otherwise("blue").alias("e"),
        F.lit("2024-01-02").alias("d"),
        F.col("id").alias("gone"),
    )
    cur_df = spark.range(0, 200).select(
        F.col("id").cast("string").alias("k"),                   # type change
        F.when(F.col("id") % 4 == 0, (F.col("id") % 100) * 3.0 - 50.0)
        .otherwise((F.col("id") % 100).cast("double")).alias("v"),  # range escape
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("user"), F.col("id").cast("string")))
        .alias("s"),                                             # nulls + longer
        F.when(F.col("id") % 3 == 0, "green")
        .when(F.col("id") % 2 == 0, "red").otherwise("blue").alias("e"),
        F.lit("not a date at all").alias("d"),                   # format change
        F.lit("web").alias("added"),
    )
    d = diff_profiles(profile(cur_df), profile(base_df))
    by = {(r["column"], r["change"]): r for r in d}

    assert ("added", "column_added") in by and by[("added", "column_added")]["after"] == 200.0
    assert ("gone", "column_removed") in by and by[("gone", "column_removed")]["before"] == 200.0
    assert by[("k", "type_changed")]["detail"] == "numeric->string"
    assert by[("v", "range_widened_hi")]["before"] == 99.0
    assert by[("v", "range_widened_hi")]["after"] == 238.0  # 96*3-50
    assert by[("v", "range_widened_lo")]["after"] == -50.0
    assert by[("s", "nulls_appeared")]["after"] == round(20 / 200, 6)
    assert ("s", "length_widened_hi") in by  # "userNNN" > "uNNN"
    got_e = by[("e", "enum_variants_added")]
    assert got_e["after"] == 1.0 and got_e["detail"] == "green"
    assert by[("d", "format_changed")]["detail"].startswith("iso-date->")
    # untouched columns emit nothing; identical profiles diff to []
    assert not any(r["column"] == "v" and r["change"] == "nulls_appeared" for r in d)
    assert diff_profiles(profile(base_df), profile(base_df)) == []


def test_compat_report_and_verdict(spark):
    """Compat gate over the same change construction: every diff row
    gets its documented BACKWARD severity, the verdict is the worst
    severity present, overrides re-pin kinds, and bad overrides fail
    loudly (profiling/compat.py)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from drivel_spark.profiling import (
        SEVERITY_BACKWARD,
        compat_report,
        compat_verdict,
        diff_profiles,
        profile,
    )

    base_df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"),
        F.when(F.col("id") % 2 == 0, "red").otherwise("blue").alias("e"),
        F.col("id").alias("gone"),
    )
    cur_df = spark.range(0, 200).select(
        F.col("id").cast("string").alias("k"),                    # block
        F.when(F.col("id") % 4 == 0, (F.col("id") % 100) * 3.0 - 50.0)
        .otherwise((F.col("id") % 100).cast("double")).alias("v"),  # warn
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("user"), F.col("id").cast("string")))
        .alias("s"),                                              # block+warn
        F.when(F.col("id") % 3 == 0, "green")
        .when(F.col("id") % 2 == 0, "red").otherwise("blue").alias("e"),  # warn
        F.lit("web").alias("added"),                              # ok
    )
    cur_p, base_p = profile(cur_df), profile(base_df)
    rep = compat_report(cur_p, base_p)

    # report = diff rows + severity, nothing else reordered or dropped
    plain = diff_profiles(cur_p, base_p)
    assert [{k: v for k, v in r.items() if k != "severity"} for r in rep] == plain
    for r in rep:
        assert r["severity"] == SEVERITY_BACKWARD[r["change"]]
    by = {(r["column"], r["change"]): r["severity"] for r in rep}
    assert by[("k", "type_changed")] == "block"
    assert by[("s", "nulls_appeared")] == "block"
    assert by[("gone", "column_removed")] == "block"
    assert by[("added", "column_added")] == "ok"
    assert by[("v", "range_widened_hi")] == "warn"
    assert by[("e", "enum_variants_added")] == "warn"

    v = compat_verdict(rep)
    assert v["verdict"] == "block" and v["gate_passed"] is False
    assert v["n_ok"] + v["n_warn"] + v["n_block"] == len(rep)
    assert v["n_block"] >= 3 and v["n_ok"] >= 1

    # overrides re-pin a kind; the verdict follows the worst present
    only_warn = [r for r in rep if r["column"] in ("v", "e")]
    assert compat_verdict(only_warn)["verdict"] == "warn"
    repinned = compat_report(
        cur_p, base_p, severity_overrides={"enum_variants_added": "block"}
    )
    assert {r["severity"] for r in repinned if r["change"] == "enum_variants_added"} == {"block"}

    # identical profiles: empty report, ok verdict, gate passes
    empty = compat_report(base_p, base_p)
    assert empty == []
    v0 = compat_verdict(empty)
    assert v0 == {
        "n_ok": 0, "n_warn": 0, "n_block": 0,
        "verdict": "ok", "gate_passed": True,
    }

    # typos cannot silently weaken the gate
    with _pytest.raises(ValueError, match="unknown change kind"):
        compat_report(cur_p, base_p, severity_overrides={"nope": "ok"})
    with _pytest.raises(ValueError, match="severity must be one of"):
        compat_report(cur_p, base_p, severity_overrides={"type_changed": "meh"})


def test_table_profile_merge_equals_union_profile(spark):
    """profile(A).merge(profile(B)) ≡ profile(A ∪ B) on every scalar
    stat and within sketch tolerance on quantiles/distincts — the
    monoid property that makes incremental corpus profiling exact."""
    import pytest

    from drivel_spark.fixtures import ClipFixtureSpec, build_clips
    from drivel_spark.profiling import profile

    a = build_clips(spark, 1500, 4, ClipFixtureSpec(with_audio=False))
    b = build_clips(spark, 1500, 4, ClipFixtureSpec(seed=43, with_audio=False))
    cols = ["sr_hz", "dur_ms", "codec", "transcript"]
    merged = profile(a, columns=cols).merge(profile(b, columns=cols))
    union = profile(a.unionByName(b), columns=cols)
    assert merged.n_rows == union.n_rows == 3000
    for c in ("sr_hz", "dur_ms"):
        ma, ua = merged.column(c), union.column(c)
        assert (ma.n, ma.n_null, ma.min_v, ma.max_v) == (ua.n, ua.n_null, ua.min_v, ua.max_v)
        assert ma.sum_v == pytest.approx(ua.sum_v)
        assert ma.kll.quantile(0.5) == pytest.approx(ua.kll.quantile(0.5), rel=0.05)
    mc, uc = merged.column("codec"), union.column("codec")
    assert mc.freq.counts == uc.freq.counts
    # mismatched column sets refuse to merge
    with pytest.raises(ValueError, match="different columns"):
        profile(a, columns=["sr_hz"]).merge(profile(b, columns=["dur_ms"]))


def test_grouped_profile_and_drift(spark):
    """Per-group pass-1 fold: group row counts and exact stats match a
    plain groupBy; merging all group accs reproduces the global
    profile (monoid invariant); NULL keys profile under None; drift
    report flags the drifted group column and added/removed groups."""
    import numpy as np
    import pandas as pd

    from drivel_spark.profiling import grouped_drift, grouped_profile, profile

    pdf = pd.DataFrame(
        {
            "codec": (["wav"] * 60 + ["flac"] * 30 + [None] * 10),
            "dur": np.concatenate(
                [np.arange(60) * 10.0, np.arange(30) * 100.0, np.full(10, 7.0)]
            ),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)
    gp = grouped_profile(df, "codec", columns=["dur"])
    assert set(gp) == {"wav", "flac", None}
    assert gp["wav"].n_rows == 60 and gp["flac"].n_rows == 30
    assert gp[None].n_rows == 10
    wav = gp["wav"].column("dur")
    assert wav.min_v == 0.0 and wav.max_v == 590.0
    assert gp[None].column("dur").min_v == 7.0
    # monoid invariant: merged group accs == global profile
    from drivel_spark.profiling import fold_accumulators

    merged = fold_accumulators(p.acc.to_bytes() for p in gp.values())
    full = profile(df, columns=["dur"])
    assert merged.n_rows == full.n_rows == 100
    assert merged.cols["dur"].min_v == full.column("dur").min_v
    assert merged.cols["dur"].max_v == full.column("dur").max_v
    assert merged.cols["dur"].sum_v == full.column("dur").sum_v
    assert np.array_equal(
        merged.cols["dur"].hll.registers, full.column("dur").hll.registers
    )

    # drift: shift only the flac group; wav must stay calm
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.codec == "flac", "dur"] += 5000.0
    gp2 = grouped_profile(
        spark.createDataFrame(pdf2).repartition(6), "codec", columns=["dur"]
    )
    rep = grouped_drift(gp, gp2)
    by_g = {(r.group, r.column): r for r in rep.itertuples()}
    assert by_g[("flac", "dur")].ks > 0.9
    assert by_g[("wav", "dur")].ks < 0.05
    # added / removed groups
    del gp2["flac"]
    gp2["opus"] = gp["wav"]
    rep2 = grouped_drift(gp, gp2)
    status = {r.group: r.status for r in rep2.itertuples() if r.status != "both"}
    assert status == {"flac": "removed", "opus": "added"}


class _RowLevelStrings:
    """Reference string accumulator: every sketch is fed every row of a
    batch, and formats come from scalar ``detect`` on every value."""

    def __init__(self, opts):
        from collections import Counter

        from drivel_spark.sketches import BottomK, HyperLogLog, SpaceSaving

        self.opts = opts
        self.n = self.n_null = 0
        self.lens: list[int] = []
        self.hll = HyperLogLog(p=opts.hll_p)
        self.freq = SpaceSaving(capacity=opts.freq_capacity)
        self.sample = BottomK(k=opts.sample_k)
        self.char_hist = Counter()
        self.formats: set[str] = set()

    def _cap_chars(self):
        from collections import Counter

        if len(self.char_hist) > self.opts.max_chars:
            self.char_hist = Counter(dict(self.char_hist.most_common(self.opts.max_chars)))

    def update(self, s: pd.Series):
        from drivel_spark.core import detect
        from drivel_spark.profiling.accumulator import CHAR_SAMPLE_PER_BATCH

        self.n += len(s)
        self.n_null += int(s.isna().sum())
        v = s.dropna().astype(str)
        if len(v) == 0:
            return
        self.lens += [len(x) for x in v]
        self.hll.update(v.to_numpy())
        self.freq.update_counts(v.value_counts().to_dict())
        self.sample.update(pa.array(v.tolist()))
        self.char_hist.update("".join(v.iloc[:CHAR_SAMPLE_PER_BATCH]))
        self._cap_chars()
        self.formats |= {detect(x) for x in v}

    def merge(self, other):
        self.n += other.n
        self.n_null += other.n_null
        self.lens += other.lens
        self.hll = self.hll.merge(other.hll)
        self.freq = self.freq.merge(other.freq)
        self.sample = self.sample.merge(other.sample)
        self.char_hist.update(other.char_hist)
        self._cap_chars()
        self.formats |= other.formats
        return self


def _string_batches(n_batches=4, rows=8192):
    import uuid

    rng = np.random.default_rng(11)
    n = n_batches * rows
    emails = np.array([f"user{i % 977}@host{i % 13}.com" for i in range(n)], dtype=object)
    # free text arrives in the third batch only; the fourth is emails again
    third = slice(2 * rows, 3 * rows)
    emails[third] = np.where(rng.random(rows) < 0.05, "free text value", emails[third])
    hosts = np.array([f"host{i % 301}.org" for i in range(n)], dtype=object)
    hosts[rng.random(n) < 0.3] = None
    days = rng.integers(0, 20_000, n).astype("timedelta64[D]") + np.datetime64("1970-01-01")
    cols = {
        "enum": rng.choice(np.array(["N", "R", "A"], dtype=object), n),
        "uuid": np.array([str(uuid.UUID(bytes=rng.bytes(16))) for _ in range(n)], dtype=object),
        "iso_date": np.datetime_as_string(days, unit="D").astype(object),
        "email_then_text": emails,
        "with_nulls": hosts,
        "all_null": np.full(n, None, dtype=object),
    }
    pdf = pd.DataFrame(cols)
    return [pdf.iloc[i: i + rows] for i in range(0, n, rows)]


def test_string_accumulator_is_exact():
    """Distinct-value batch updates give exactly the row-level sketches,
    folded as one pass and as two merged halves; the resolved format is
    scalar ``detect`` on every value under the first-match/demote rule."""
    from drivel_spark.core.node import STR_UNKNOWN
    from drivel_spark.profiling.accumulator import TableAccumulator

    opts = ProfilerOptions()
    batches = _string_batches()
    names = list(batches[0].columns)

    schema = pa.schema([(c, pa.string()) for c in names])

    def fold(part):
        acc = TableAccumulator([(c, "string") for c in names], opts)
        refs = {c: _RowLevelStrings(opts) for c in names}
        for b in part:
            acc.update(pa.RecordBatch.from_pandas(b, schema=schema, preserve_index=False))
            for c in names:
                refs[c].update(b[c])
        return acc, refs

    one, refs = fold(batches)
    lo, lo_refs = fold(batches[:2])
    hi, hi_refs = fold(batches[2:])
    halves = lo.merge(hi)
    for c in names:
        lo_refs[c].merge(hi_refs[c])
    for acc, ref in ((one, refs), (halves, lo_refs)):
        for c in names:
            a, r = acc.cols[c], ref[c]
            assert (a.n, a.n_null) == (r.n, r.n_null), c
            assert (a.min_len, a.max_len) == (
                (min(r.lens), max(r.lens)) if r.lens else (None, None)
            ), c
            assert np.array_equal(a.hll.registers, r.hll.registers), c
            assert a.freq.counts == r.freq.counts, c
            assert a.freq.errors == r.freq.errors, c
            assert a.sample.values == r.sample.values, c
            assert np.array_equal(a.sample.hashes, r.sample.hashes), c
            assert a.char_hist == r.char_hist, c
            expected = next(iter(r.formats)) if len(r.formats) == 1 else STR_UNKNOWN
            assert a.resolved_format == expected, c
            assert a.formats_seen <= r.formats, c
    fmt = {c: one.cols[c].resolved_format for c in names}
    assert fmt == {"enum": STR_UNKNOWN, "uuid": "uuid", "iso_date": "iso-date",
                   "email_then_text": STR_UNKNOWN, "with_nulls": "hostname",
                   "all_null": STR_UNKNOWN}
    # demoted in the third batch: the fourth batch's emails were never detected
    assert one.cols["email_then_text"].formats_seen == {"email", STR_UNKNOWN}


# --- TimestampAcc: datetimes that print as the pandas Timestamps did --------


def _pandas_ts_minmax(arr):
    """The min/max strings an earlier release's ``TimestampAcc`` gave:
    ``pd.Timestamp(ticks, unit=...)`` of the session-local wall time."""
    import pyarrow.compute as pc

    if arr.type.tz is not None:
        arr = pc.local_timestamp(arr)
    mm = pc.min_max(pc.cast(arr, pa.int64()))
    return tuple(str(pd.Timestamp(mm[k].as_py(), unit=arr.type.unit)) for k in ("min", "max"))


@pytest.mark.parametrize("tz", [None, "America/Los_Angeles"])
@pytest.mark.parametrize("unit", ["s", "ms", "us"])
def test_timestamp_acc_summary_matches_pandas_timestamp(unit, tz):
    """Values before 1970, after 2262 (pandas' nanosecond limit) and
    with sub-second parts, in two batches and as two merged halves."""
    from drivel_spark.profiling.accumulator import TimestampAcc

    per_s = {"s": 1, "ms": 10**3, "us": 10**6}[unit]
    ticks = [[-2 * 10**9 * per_s - 3, None, 1_234_567], [10**11 * per_s + 7, -1, None]]
    batches = [pa.array(t, pa.timestamp(unit, tz=tz)) for t in ticks]
    whole = pa.concat_arrays(batches)
    one, halves = (TimestampAcc("t", "timestamp", ProfilerOptions()) for _ in range(2))
    for b in batches:
        one.update(b)
    halves.update(batches[0])
    other = TimestampAcc("t", "timestamp", ProfilerOptions())
    other.update(batches[1])
    halves.merge(other)
    want = _pandas_ts_minmax(whole)
    assert (want[0][:5], want[1][:11]) == ("1906-", "5138-11-16 ")
    for acc in (one, halves):
        s = acc.summary()
        assert (s["min"], s["max"]) == want
        assert (s["n"], s["n_null"]) == (6, 2)


def test_timestamp_profile_under_session_time_zone(spark):
    """A tz-aware column under a non-UTC session time zone profiles to
    the session's wall times, as the literals read."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        df = spark.sql(
            "select timestamp'1969-07-20 20:17:40' as t union all "
            "select timestamp'5138-11-16 09:46:40.123456' union all "
            "select cast(null as timestamp) union all "
            "select timestamp'2001-09-09 01:46:40.5'"
        )
        s = profile(df).column("t").summary()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert (s["min"], s["max"]) == ("1969-07-20 20:17:40", "5138-11-16 09:46:40.123456")
    assert s["n_null"] == 1


# TimestampAcc("ts", "timestamp", ProfilerOptions()) after one update with
# [86_400_000_001, None, -10**12, 10**15] us in America/Los_Angeles,
# pickled by the release that kept pd.Timestamp state
_OLD_TIMESTAMP_ACC_PICKLE = bytes.fromhex(
    "800495b3010000000000008c2264726976656c5f737061726b2e70726f66696c"
    "696e672e616363756d756c61746f72948c0c54696d657374616d704163639493"
    "942981947d94288c046e616d65948c027473948c056474797065948c0974696d"
    "657374616d70948c046f7074739468008c0f50726f66696c65724f7074696f6e"
    "739493942981947d94288c05686c6c5f70944b0c8c056b6c6c5f6b944bc88c0d"
    "667265715f6361706163697479944b408c0873616d706c655f6b944b408c096d"
    "61785f6368617273944d00048c0e6465746563745f666f726d61747394888c0a"
    "696e6665725f656e756d94888c15656e756d5f6d61785f756e697175655f7261"
    "74696f94473fb999999999999a8c14656e756d5f6d696e5f73616d706c655f73"
    "697a65944b018c0d746469676573745f64656c7461944b0075628c016e944b04"
    "8c066e5f6e756c6c944b018c066d696e5f7473948c1e70616e6461732e5f6c69"
    "62732e74736c6962732e74696d657374616d7073948c135f756e7069636b6c65"
    "5f74696d657374616d70949394288a0600d0bd7610ff4e4e4b09749452948c06"
    "6d61785f747394681d288a070004bdc6788d034e4e4b097494529475622e"
)


def test_timestamp_acc_pickles_load_and_merge_across_versions():
    import pickle

    from drivel_spark.profiling.accumulator import TimestampAcc

    arr = pa.array([86_400_000_001, None, -10**12, 10**15],
                   pa.timestamp("us", tz="America/Los_Angeles"))
    fresh = TimestampAcc("ts", "timestamp", ProfilerOptions())
    fresh.update(arr)
    old = pickle.loads(_OLD_TIMESTAMP_ACC_PICKLE)
    assert isinstance(old.min_ts, pd.Timestamp)
    assert old.summary() == fresh.summary()
    assert (fresh.summary()["min"], fresh.summary()["max"]) == (
        "1969-12-20 02:13:20", "2001-09-08 18:46:40")
    # both ways round, and with an update that moves the max
    assert old.merge(fresh).summary() == {**fresh.summary(), "n": 8, "n_null": 2, "null_ratio": 0.25}
    later = pa.array([2 * 10**15], pa.timestamp("us", tz="America/Los_Angeles"))
    old.update(later)
    fresh.update(later)
    assert old.summary()["max"] == fresh.summary()["max"] == "2033-05-17 20:33:20"
    fresh.merge(pickle.loads(_OLD_TIMESTAMP_ACC_PICKLE))
    assert (fresh.summary()["min"], fresh.summary()["max"]) == (
        "1969-12-20 02:13:20", "2033-05-17 20:33:20")
