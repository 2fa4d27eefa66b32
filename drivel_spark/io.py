"""Table access: Iceberg-first, parquet fallback.

The north_rule targets Iceberg tables of audio clips.  This sandbox
ships no iceberg-spark-runtime jar, so the engine keeps all table
access behind :func:`read_table` / :func:`write_table`: catalog table
references (``iceberg:db.clips`` or any dotted ``catalog.db.tbl``) use
the Spark catalog — which is Iceberg when the runtime jar + catalog
conf are present — and plain paths read parquet with an identical
schema.  Engine code (profiler, constraints, checkpoint) never touches
the format directly, so an Iceberg deployment is a conf change, not a
code change.

Iceberg-specific scale features the engine relies on when present:

* partition pruning + column pruning via DSv2 pushdown (identical to
  the parquet path — Catalyst handles both);
* time travel (``VERSION AS OF``) for drift baselines pinned to a
  snapshot.

Resumable runs (drivel_spark/checkpoint/runner.py) take parquet paths
only.  They key each input file's commit on that file's own
``(path, size, mtime)``, not on a catalog snapshot id.
"""

from __future__ import annotations

import json
from typing import Optional
from urllib.parse import unquote

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Hadoop's glob metacharacters (Spark's SparkHadoopUtil.isGlobPath)
GLOB_CHARS = "{}[]*?\\"
# parquet summary files, whose footer Spark's inference reads first
_SUMMARIES = ("_common_metadata", "_metadata")


def is_table_ref(ref: str) -> bool:
    """Catalog table reference (vs filesystem path)."""
    if ref.startswith("iceberg:"):
        return True
    return "/" not in ref and "." in ref and not ref.endswith(".parquet")


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """``iceberg:db.tbl`` / ``catalog.db.tbl`` → catalog read (Iceberg
    when configured); anything else → parquet path.

    A parquet path is read with the schema Spark's own inference would
    give it, taken from one footer on the driver (:func:`footer_schema`)
    instead of the 1-task job inference submits.  Three cases keep
    Spark's inference: a glob, ``spark.sql.parquet.mergeSchema=true``,
    and a path with no footer to read (so the error stays Spark's);
    so does a table whose files also store a partition column, whose
    position only inference keeps."""
    if ref.startswith("iceberg:"):
        return spark.read.table(ref[len("iceberg:"):])
    if is_table_ref(ref):
        return spark.read.table(ref)
    schema = footer_schema(spark, ref)
    if schema is None:
        return spark.read.parquet(ref)
    return spark.read.schema(schema).parquet(ref)


def _skipped(name: str) -> bool:
    """The file and directory names a parquet read skips (Spark's
    ``HadoopFSUtils.shouldFilterOutPathName``)."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(_SUMMARIES)


def footer_schema(spark: SparkSession, path: str) -> Optional[StructType]:
    """The schema ``spark.read.parquet(path)`` infers, from driver-side
    Hadoop and parquet calls: no Spark job.

    Spark's inference reads one footer: the first ``_common_metadata``
    in the sort order of the full leaf paths, else the first
    ``_metadata``, else the first data file; names :func:`_skipped`
    are not leaves.  This reads the same footer and converts it with
    Spark's own ``ParquetFileFormat.readSchema``, which builds the
    converter inference uses, so Spark's row metadata, INT96, the
    NTZ/LTZ split and unsigned ints come out as inference gives them.
    The listing is one ``listLeafStatuses`` call, and the leaf paths
    cross py4j as one string, so the py4j round trips do not grow with
    the file count.

    None for a glob, under ``spark.sql.parquet.mergeSchema=true``, when
    there is no footer to read, and when a footer field is also a
    partition column (a ``name=value`` directory below ``path``): its
    type and position come from the paths, which a given schema would
    override."""
    if any(c in GLOB_CHARS for c in path):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    client = spark.sparkContext._gateway._gateway_client

    def cls(name: str) -> JavaClass:  # no lookup round trip per package
        return JavaClass(name, client)

    jspark = spark._jsparkSession
    conf = jspark.sessionState().newHadoopConf()
    try:
        root = cls("org.apache.hadoop.fs.Path")(path)
        fs = root.getFileSystem(conf)
        prefix = fs.makeQualified(root).toString()
        leaves = cls("org.apache.spark.deploy.SparkHadoopUtil").get().listLeafStatuses(fs, root)
        status = cls("org.apache.hadoop.fs.FileStatus")._java_lang_class
        statuses = leaves.toArray(cls("scala.reflect.ClassTag").apply(status))
        n = len(statuses)
        paths = (
            cls("scala.collection.immutable.ArraySeq")
            .unsafeWrapArray(cls("org.apache.hadoop.fs.FileUtil").stat2Paths(statuses))
            .mkString("\n")
            .split("\n")
        )
    except Py4JJavaError:  # no such path, say: inference raises Spark's own error
        return None
    if n == 0 or len(paths) != n:  # no files, or a newline in a name
        return None
    rel = []  # each leaf's components below ``path``
    for p in paths:
        if p == prefix:  # ``path`` is the file itself
            rel.append([p.rsplit("/", 1)[-1]])
        elif p.startswith(prefix.rstrip("/") + "/"):
            rel.append(p[len(prefix):].strip("/").split("/"))
        else:
            return None
    # the first leaf of each kind in Spark's order, String's (UTF-16's)
    first: dict[str, int] = {}
    for i in sorted(range(n), key=lambda i: paths[i].encode("utf-16-be")):
        if not any(map(_skipped, rel[i])):
            name = rel[i][-1]
            first.setdefault(name if name in _SUMMARIES else "data", i)
    pick = first.get("_common_metadata", first.get("_metadata", first.get("data")))
    if pick is None:
        return None
    try:
        st = statuses[pick]
        footer = cls("org.apache.parquet.hadoop.Footer")(
            st.getPath(),
            cls("org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader").readFooter(
                cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(st, conf),
                cls("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
            ),
        )
        fmt = getattr(cls("org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$"), "MODULE$")
        jschema = fmt.readSchema(cls("scala.Option").apply(footer).toList(), jspark).get()
        schema = StructType.fromJson(json.loads(jschema.json()))
    except Py4JJavaError:  # a corrupt footer: let inference raise its error
        return None
    part_cols = {
        unquote(c.split("=", 1)[0]).lower()
        for parts in rel for c in parts[:-1] if "=" in c
    }
    if any(f.name.lower() in part_cols for f in schema.fields):
        return None
    return schema


def write_table(df: DataFrame, ref: str, mode: str = "overwrite") -> None:
    if ref.startswith("iceberg:"):
        writer = df.writeTo(ref[len("iceberg:"):]).using("iceberg")
        # honor the mode — silently replacing on an append call is data
        # loss; DataFrameWriterV2 has distinct verbs per mode
        if mode == "append":
            writer.append()
        elif mode == "overwrite":
            writer.createOrReplace()
        else:
            raise ValueError(f"unsupported write mode for iceberg ref: {mode!r}")
        return
    if is_table_ref(ref):
        df.write.mode(mode).saveAsTable(ref)
        return
    df.write.mode(mode).parquet(ref)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog write: pay the shuffle ONCE at write time so
    every later equi-join / aggregation on the bucket key is co-located
    and runs with NO exchange on the bucketed side — the standard
    layout for a 100TB fact table that is repeatedly joined on the same
    key (e.g. clips ⋈ transcripts on clip_id, lineitem ⋈ orders on
    orderkey).  ``sort_cols`` additionally pre-sorts within buckets so
    sort-merge joins skip their sort.

    Two tables bucketed by the same key into the SAME ``n_buckets``
    join shuffle-free end to end.  The Iceberg analog is the
    ``bucket(n, col)`` partition transform plus storage-partitioned
    joins; this helper uses the builtin catalog's bucketBy, which is
    the same physical contract (hash(key) % n file groups)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported write mode for bucketed table: {mode!r}")
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    ref: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style directory partitioning: THE layout lever for
    low-cardinality filter columns (codec, language, ingest date) — a
    filter on the partition column prunes whole directories at the file
    index (plan shows it under ``PartitionFilters``), so a one-codec
    scan of a 100TB table never lists, opens, or reads any other
    codec's files.  Complements :func:`write_bucketed` (join
    co-location): partition on what you FILTER, bucket on what you
    JOIN.

    Iceberg refs use the identity partition transform via
    DataFrameWriterV2.partitionedBy — the same pruning contract,
    plus hidden-partitioning metadata."""
    if ref.startswith("iceberg:"):
        from pyspark.sql import functions as F

        writer = df.writeTo(ref[len("iceberg:"):]).using("iceberg").partitionedBy(
            *[F.col(c) for c in partition_cols]
        )
        if mode == "append":
            writer.append()
        elif mode == "overwrite":
            writer.createOrReplace()
        else:
            raise ValueError(f"unsupported write mode for iceberg ref: {mode!r}")
        return
    if is_table_ref(ref):
        df.write.mode(mode).partitionBy(*partition_cols).saveAsTable(ref)
        return
    df.write.mode(mode).partitionBy(*partition_cols).parquet(ref)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny driver-side row list → DataFrame as an ARROW LOCAL RELATION
    (via pandas), instead of ``createDataFrame(list)``'s parallelized
    pickle slices.

    Why it matters (measured r06, local[32]): a plain
    ``createDataFrame([one_row])`` becomes defaultParallelism
    pickled RDD slices, so every action pays ~32 tiny Python-worker
    tasks — and a downstream ``coalesce(1)`` evaluates those slices
    SEQUENTIALLY through one Python runner each: ~3.2s to write ONE
    report row.  The pandas/Arrow path converts on the driver into an
    Arrow-backed local relation: collect costs ~0.01s, a single-file
    write ~0.13s, zero Python-worker jobs.

    Values are staged in dtype=object pandas columns so large ints /
    None never round-trip through float64.  Falls back to the classic
    path when the Arrow conversion cannot represent the rows; a row
    whose arity does not match the schema raises ``ValueError``.
    """
    import pandas as pd
    from pyarrow import ArrowException
    from pyspark.errors import PySparkTypeError, PySparkValueError
    from pyspark.sql.types import StructType

    if isinstance(schema, StructType):
        names = [f.name for f in schema.fields]
    else:
        from pyspark.sql.types import _parse_datatype_string

        names = [f.name for f in _parse_datatype_string(schema).fields]
    rows = list(rows)
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"local_df: row {r!r} has {len(r)} values for columns {names}"
            )
    try:
        pdf = pd.DataFrame(
            {
                name: pd.Series([r[i] for r in rows], dtype=object)
                for i, name in enumerate(names)
            },
            columns=names,
        )
        return spark.createDataFrame(pdf, schema)
    except (ArrowException, PySparkTypeError, PySparkValueError):
        return spark.createDataFrame(rows, schema)


def ensure_map_parallelism(df: DataFrame, min_rows: int = 0) -> DataFrame:
    """Round-robin repartition a NARROW frame up to the session's core
    count when its physical partitioning is below it — the guide-§2.5
    fix for unsplittable inputs (a single-row-group parquet file scans
    as ONE task no matter how many byte-splits Spark makes, so any
    heavy per-row work downstream runs single-core).  Call AFTER
    column pruning, immediately before an expensive Arrow-map /
    expression stage.  No-op whenever the input already has enough
    partitions (a table at cluster scale always does), so the added
    exchange exists exactly when it buys parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
