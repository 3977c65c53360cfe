"""Sources & sinks beyond parquet (SURVEY §2B "Scans / sources / sinks").

The reference reads newline-text directories and writes ``part-*`` text
files (A1/A9, reference manager/__main__.py:371-374, worker/__main__.py:
172-185). We keep that surface (text in/out, including exact ``part-*``
naming via the MR layer) and add the typed formats a real pipeline needs:
CSV/JSON with explicit schemas, partitioned parquet layouts, and bucketed
tables for shuffle-free co-located joins.

Scale notes:
- ``write_partitioned``: directory partitioning on low-cardinality columns
  is the 100 TB table layout — partition pruning turns predicates on the
  partition column into directory listings.
- ``write_bucketed``: pre-shuffling both sides of a recurring join into the
  same bucket count × key removes the per-query exchange entirely (verified
  by a plan assertion in tests/test_plan_shapes.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from map_reduce_group_spark.scope import scoped_conf


def read_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """Reference-parity text scan: one string column ``value``/line."""
    return spark.read.text(path)


def read_csv(spark: SparkSession, path: str, schema: str, header: bool = True) -> DataFrame:
    """CSV with an explicit schema — never inferSchema at scale (it's an
    extra full pass over the data)."""
    return spark.read.schema(schema).option("header", header).csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (native Spark reader — same predicate-pushdown/column-
    pruning machinery as parquet, for corpora landed by Hive-era
    pipelines)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def write_text(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """Overwrite-semantics text sink (the reference's A9)."""
    out = df if num_files is None else df.repartition(num_files)
    out.write.mode("overwrite").text(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Directory-partitioned parquet: the standard big-table layout.
    Predicates on ``partition_cols`` prune at planning time (no file I/O)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving sibling partitions untouched — the idempotent daily-load
    primitive (re-running a day's job rewrites that day's directory, never
    truncating the table the way static overwrite mode does). The conf is
    scoped to this write (scope.scoped_conf)."""
    with scoped_conf(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
    bits: int = 10,
) -> None:
    """Z-order (Morton) clustered parquet write: interleave the bit-codes
    of ``cols`` and range-partition + sort the rows by that curve before
    writing. Each output file then covers a small HYPER-RECTANGLE of the
    column space instead of a thin slice of one column, so parquet min/max
    footer stats prune files for predicates on ANY of the clustered columns
    — the data-skipping layout for tables queried along several axes (a
    plain sort prunes only its leading column). Entirely expression-level:
    per-column range bucketing from one tiny min/max aggregate, bit
    interleaving via shift/and — codegen end to end, one range shuffle.

    The min/max bucketing is value-uniform (quantile bucketing would need a
    global sort of its own); heavy value skew degrades bucket balance, not
    correctness — at 100 TB compute buckets from approxQuantile cutpoints
    instead if the axes are skewed.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    levels = (1 << bits) - 1
    bucketed = []
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        rng = (mx - mn) or 1.0
        b = F.least(
            F.lit(levels),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(rng) * levels),
        ).cast("long")
        bucketed.append(b)
    morton = F.lit(0)
    for bit in range(bits):
        for i, b in enumerate(bucketed):
            morton = morton.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * len(cols) + i,
                )
            )
    (
        df.withColumn("__z", morton)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_json_permissive(
    spark: SparkSession, path: str, schema: str, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """JSON scan that SURVIVES malformed rows instead of failing the job:
    well-formed rows parse into the typed schema, malformed lines land
    whole in ``corrupt_col`` for quarantine/audit. At 100 TB a single bad
    line must never kill a multi-hour job — route ``corrupt_col IS NOT
    NULL`` rows to a quarantine sink and keep going."""
    full = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) %
    num_buckets at WRITE time, so joins/aggregations on those keys plan
    without an Exchange. Both sides of a co-located join must share bucket
    count and keys."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def compact_parquet(
    spark: SparkSession, path: str, out_path: str, target_file_bytes: int = 256 * 1024 * 1024
) -> int:
    """Compact a small-file parquet directory into ~target-sized files.

    The chronic 100 TB operational problem: streaming/incremental writers
    leave thousands of KB-sized files whose open/footer costs dominate
    scans. Sizing uses the actual on-disk bytes (not row counts), and the
    rewrite is a single repartition — no shuffle key, so it's a round-robin
    exchange only. Returns the number of output files.

    Sizing goes through the Hadoop FileSystem API, so it is correct for ANY
    scheme (file://, hdfs://, s3a://) — a local os.walk would find nothing
    on remote paths and silently compact 100 TB into one file. Finding zero
    parquet bytes is an error, never a size-1 default."""
    import math

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    total = 0
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            total += status.getLen()
    if total == 0:
        raise ValueError(
            f"compact_parquet: no parquet bytes found under {path!r} — "
            "refusing to guess an output file count"
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files
