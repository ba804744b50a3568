#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Package + run (the north-rule deployment shape)::

    python scripts/make_pyfiles.py                  # -> dist/dragnet_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/dragnet_spark.zip job.py \\
        --input /path/to/documents.parquet --out /tmp/dragnet_out \\
        --config s0 --chunked --run-id run1

On a real cluster only ``--master``/deploy-mode change; the job itself
is cluster-agnostic (all parallelism comes from the input partitioning
and the explicit repartitions inside the pipeline).

``--corpus NAME`` generates the deterministic synthetic corpus on the
executors instead of reading ``--input`` (sandbox convenience).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def session() -> SparkSession:
    """The job's session: master and driver memory come from
    spark-submit (``local[*]`` under plain ``python job.py``), the
    engine's fixed SQL settings from ``session.SQL_CONF``, the ones
    ``get_spark`` applies."""
    from dragnet_spark.session import SQL_CONF
    return (SparkSession.builder.appName("dragnet-job")
            .config(map=SQL_CONF).getOrCreate())


def main() -> None:
    p = argparse.ArgumentParser()
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="documents source: parquet path or "
                                     "'table:<catalog.db.table>' (Iceberg)")
    src.add_argument("--corpus", help="synthetic corpus name (tiny/small/"
                                      "bench/skew)")
    src.add_argument("--ingest-fil",
                     help="SIGPROC .fil path/glob: ingest to the documents "
                          "table shape, then run the pipeline on it")
    p.add_argument("--out", required=True)
    p.add_argument("--mask-file",
                   help="PRESTO rfifind .mask binary (padvals from the "
                        "sibling .stats when present)")
    p.add_argument("--export-presto", metavar="DIR",
                   help="also write per-(doc, DM) .dat/.inf files to DIR")
    p.add_argument("--export-perdm", metavar="SINK",
                   help="also write the timeseries rows DM-partitioned "
                        "(partitionBy(dm)) to a parquet path or "
                        "'table:' sink")
    p.add_argument("--config", default="s0",
                   help="scenario id from generate.scenario_configs")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--chunked", action="store_true",
                   help="halo-chunked skew path (requires clip off)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--with-mask", action="store_true",
                   help="apply the corpus rfifind-mask fixture")
    args = p.parse_args()

    spark = session()

    from dragnet_spark.generate import (make_corpus, make_mask,
                                        scenario_configs,
                                        write_corpus_parquet_spark)
    from dragnet_spark.pipeline import docs_to_df, run_job, spans_partition

    corpus_for_cfg = args.corpus or "small"
    cfg = scenario_configs(corpus_for_cfg)[args.config]
    if args.mask_file:
        from dragnet_spark.presto_io import load_mask
        mask = load_mask(args.mask_file)
    else:
        mask = make_mask(corpus_for_cfg) if args.with_mask else None

    if args.corpus:
        if args.corpus == "bench":
            path = f"{args.out}/_input"
            # The bench corpus is deterministic (seeded by name), so a
            # resume rerun reuses the materialized input instead of
            # paying the full generation again just to anti-join the
            # docs away.  Reuse requires the _SUCCESS marker — a
            # schema-readability probe would accept a PARTIAL dir
            # left by a crashed generation and silently process a
            # truncated corpus.
            jvm = spark._jvm
            hp = jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
            fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(hp):
                write_corpus_parquet_spark(spark, args.corpus, path)
            docs = spark.read.parquet(path)
        else:
            docs = docs_to_df(spark, make_corpus(args.corpus))
    elif args.ingest_fil:
        from dragnet_spark.sigproc import ingest_filterbank
        docs = ingest_filterbank(spark, args.ingest_fil)
    else:
        from dragnet_spark.io import read_documents
        docs = read_documents(spark, args.input)

    stats = run_job(spark, docs, cfg, mask, args.out, run_id=args.run_id,
                    resume=not args.no_resume, chunked=args.chunked)
    # The exports read only this run's partition, never other configs'.
    spans = spans_partition(args.out, args.run_id, cfg.config_id)
    if args.export_presto:
        from dragnet_spark.presto_io import export_presto_files
        # export_presto_files filters kinds and dedupes internally.
        stats["n_presto_files"] = export_presto_files(
            spark.read.parquet(spans), args.export_presto, prefix=cfg.prefix)
    if args.export_perdm:
        from dragnet_spark.io import write_timeseries_partitioned
        # dedupe=True: this feeds from a RESUMED run_job output, which
        # can legitimately hold a doc's series twice (io.py contract).
        write_timeseries_partitioned(spark.read.parquet(spans),
                                     args.export_perdm, dedupe=True)
        stats["perdm_sink"] = args.export_perdm
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
