"""Table IO: Iceberg when the runtime is present, parquet otherwise.

The north rule targets Iceberg tables of documents; this sandbox ships
no Iceberg runtime jar, so the layer detects availability and falls
back to parquet with an identical DataFrame surface (the table layout,
schema and every downstream operator are format-agnostic).

Production configuration (documented here, applied automatically when
the runtime jar is on the classpath)::

    spark.sql.catalog.lake                 org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type            rest | hive | hadoop
    spark.sql.extensions  org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

Source strings accepted by :func:`read_documents` /
:func:`write_documents`:

* ``table:lake.db.documents`` — catalog table (Iceberg when available);
* anything else — a parquet path.

At 100 TB the Iceberg path additionally buys: snapshot isolation for
the resume anti-join (read the same snapshot across attempts), hidden
partitioning on ``bucket(doc_id)``, and metadata-only planning for the
checkpoint table's pushdown filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLE_PREFIX = "table:"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Read the documents table from a catalog table or a parquet path."""
    if source.startswith(TABLE_PREFIX):
        name = source[len(TABLE_PREFIX):]
        if not iceberg_available(spark) and "." in name:
            raise RuntimeError(
                f"catalog table {name!r} requested but no Iceberg runtime "
                "is on the classpath; add the iceberg-spark-runtime jar "
                "and the spark.sql.catalog.* config (see dragnet_spark/io.py)"
                " or pass a parquet path")
        return spark.read.table(name)
    return spark.read.parquet(source)


def write_timeseries_partitioned(rows: DataFrame, sink: str,
                                 mode: str = "overwrite",
                                 dedupe: bool = False) -> None:
    """S9's file-scale mapping (SURVEY.md §2.1): the per-DM ``.dat``
    sink re-expressed as a DM-partitioned table write — one partition
    directory per DM trial (``dm=<%.3f>``), so a downstream single-DM
    read (the common access pattern: fold/search one trial) scans one
    directory via partition pruning instead of the full output.  The
    partition value is the ``%.3f`` DM string from the media_ref
    (``prefix_DM%.3f`` naming, ``dragnet.cu:311``) — a stable
    directory name, no float-formatting drift.  On Iceberg
    (``table:`` sink) the same column becomes the identity partition
    of the table."""
    ts = (rows.where(F.col("kind") == "timeseries")
          .select("doc_id", "seq",
                  F.regexp_extract("media_ref", "^dm://(.*)$", 1)
                   .alias("dm"),
                  "text"))
    if dedupe:
        # A resumed spans partition can hold a doc's series twice (a
        # full re-append over a partially-committed earlier attempt);
        # within one run's partition duplicates are bit-identical by
        # determinism — collapse by identity.
        # Opt-in because it adds the ONLY exchange of this sink (a
        # hash shuffle of every series byte): pass True when feeding
        # from a resumed run_job output, leave False for a fresh
        # single-pass pipeline result, which cannot contain
        # duplicates.
        ts = ts.dropDuplicates(["doc_id", "seq", "dm"])
    if sink.startswith(TABLE_PREFIX):
        _write_table(ts, sink[len(TABLE_PREFIX):], mode,
                     partition_col="dm")
        return
    ts.write.mode(mode).partitionBy("dm").parquet(sink)


def _write_table(df: DataFrame, name: str, mode: str,
                 partition_col: str | None = None) -> None:
    """DataFrameWriterV2 with the same mode semantics the parquet
    branch gets from DataFrameWriter: previously every non-overwrite
    mode silently collapsed to append, so ``mode='error'`` — the guard
    a caller uses against double-writing — appended duplicates on a
    table sink while raising on a parquet path."""
    w = df.writeTo(name)
    if partition_col is not None:
        w = w.partitionedBy(F.col(partition_col))
    if mode == "overwrite":
        w.createOrReplace()
    elif mode == "append":
        df.writeTo(name).append()       # partitioning fixed at create
    elif mode in ("error", "errorifexists"):
        w.create()                      # raises TableAlreadyExists
    elif mode == "ignore":
        try:
            w.create()
        except Exception as exc:
            # Ignore ONLY already-exists: a bare "exist" substring
            # would also swallow NoSuchNamespaceException ("Namespace
            # does not exist"), silently dropping the write.
            if ("TableAlreadyExists" not in type(exc).__name__
                    and "already exist" not in str(exc).lower()):
                raise
    else:
        raise ValueError(f"unsupported table write mode {mode!r}")


def write_documents(df: DataFrame, sink: str, mode: str = "append") -> None:
    """Write span rows to a catalog table (Iceberg v2 append) or
    parquet path."""
    if sink.startswith(TABLE_PREFIX):
        name = sink[len(TABLE_PREFIX):]
        if not iceberg_available(df.sparkSession) and "." in name:
            raise RuntimeError(
                f"catalog table {name!r} requested but no Iceberg runtime "
                "is on the classpath; add the iceberg-spark-runtime jar "
                "and the spark.sql.catalog.* config (see dragnet_spark/io.py)"
                " or pass a parquet path")
        _write_table(df, name, mode)
        return
    df.write.mode(mode).parquet(sink)
