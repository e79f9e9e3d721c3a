"""Small shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: "list[tuple]", schema: "StructType | str"
) -> DataFrame:
    """A driver-built relation (``rows`` are tuples in ``schema`` order;
    ``schema`` is a ``StructType`` or a DDL string), shipped to the JVM as
    Arrow record batches.

    ``spark.createDataFrame`` decodes a ``pyarrow.Table`` inside the JVM
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says, so the
    relation never starts a Python worker. A Python list would instead be
    pickled into a Python RDD, and every job that scans it — each CDC
    micro-batch's manifest ranges, an empty table read — would pay a
    Python-worker stage for a few rows.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def spread_small_input(
    df: DataFrame,
    is_small: "bool | None" = None,
    by: "list | None" = None,
) -> DataFrame:
    """Round-robin a few-file input across the cluster's cores.

    Map-heavy per-document operators (gram hashing, signature computation,
    feature explosion) are embarrassingly parallel, but a small table often
    arrives as one or two parquet files — one task would do all the work.
    At real scale inputs already have many files/partitions and this is a
    no-op.

    The probe is ``df.inputFiles()`` — a driver-side metadata walk of the
    plan's file-scan leaves — NOT ``df.rdd.getNumPartitions()``, which
    forces a full logical→RDD plan translation per call (measurable when
    every micro-batch of a streaming composition passes through here).
    Non-file relations (in-memory test data, post-shuffle inputs) probe as
    "no files" and are left alone: ``spark.sql.leafNodeDefaultParallelism``
    already spreads local relations, and anything downstream of an exchange
    is already spread. Callers that know better can force the decision with
    ``is_small``.

    ``by``: optional hash-partition keys (column names) to use instead of
    round-robin. An operator whose downstream groupBy/window/join is keyed
    by the same columns then plans ZERO further exchanges for those stages
    (HashPartitioning(k) satisfies any clustering whose key set contains
    k) — the guide-§2.4 share-one-exchange move. Only worth it when every
    hot consumer is keyed by ``by``; round-robin spreads more evenly.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if is_small is None:
        try:
            files = df.inputFiles()
        except Exception:  # non-file source / unsupported plan
            files = []
        is_small = bool(files) and len(files) < target
    if not is_small:
        return df
    if by:
        from pyspark.sql import functions as F

        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)
