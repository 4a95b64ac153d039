"""Flagship end-to-end extraction job (the reference's
``extract_pptx_content`` path, `pptx_extract.py:165-308`, as one lazy
Spark plan): snapshot-table scan -> resume anti-join -> narrow
projection -> hash(url) spread -> Arrow-batched kernel -> snapshot
commit -> per-partition lineage commit.

Run via ``spark-submit --py-files pcx.zip -m`` or the module main below.
"""

from __future__ import annotations

import argparse
import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..sources.pagegen import PAGES_SCHEMA
from ..sources.table_io import SnapshotTable

LINEAGE_COLS = ("run_id", "partition_id", "input_split", "row_count",
                "ok_count", "fail_count", "bytes", "wall_ms", "committed_at")


def run_extraction(spark: SparkSession, pages: DataFrame, out_root: str,
                   run_id: str | None = None,
                   num_partitions: int | None = None,
                   resume: bool = True) -> dict:
    """Execute one extraction batch; returns commit info.

    Resume semantics (U3, replacing the reference's "rerun everything"):
    urls already in a committed snapshot are anti-joined away, so a
    rerun after a partial failure produces exactly-once per-url output.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    extracted_tbl = SnapshotTable(os.path.join(out_root, "extracted"))
    lineage_tbl = SnapshotTable(os.path.join(out_root, "lineage"))

    if resume:
        done = extracted_tbl.committed_keys(spark, "url")
        if done is not None:
            pages = pages.join(done, "url", "left_anti")

    t0 = time.monotonic()
    extracted = extract_pages(pages, num_partitions=num_partitions)
    # r8: url/text/spans are unique per row — parquet dictionary pages
    # always overflow and fall back, costing ~11% of the write wall for
    # zero size win (A/B in OPTIMIZATION_r08.md); low-cardinality tables
    # (lineage below) keep the default dictionary encoding.
    snap = extracted_tbl.append(
        extracted, run_id,
        write_options={"parquet.enable.dictionary": "false"})
    wall_ms = int((time.monotonic() - t0) * 1000)

    # Lineage (U4): column-pruned read-back of the just-committed files —
    # at 100 TB this scans 3 small columns of the output, not the input.
    lineage_entry = None
    if snap["files"]:
        ext = spark.read.parquet(*snap["files"]).select(
            "partition_id", "error", "in_bytes")
        lineage = (
            ext.groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("row_count"),
                 F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("ok_count"),
                 F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("fail_count"),
                 F.sum("in_bytes").alias("bytes"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("input_split", F.lit(f"snap-{snap['snapshot_id']}"))
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("committed_at",
                        F.lit(datetime.now(timezone.utc).isoformat()).cast("timestamp"))
            .select(*LINEAGE_COLS)
        )
        lineage_entry = lineage_tbl.append(lineage, run_id)
    return {"run_id": run_id, "snapshot": snap, "lineage": lineage_entry,
            "wall_ms": wall_ms}


def write_pages_table(spark: SparkSession, rows_iter, out_dir: str,
                      num_partitions: int = 8) -> int:
    """Materialize a pages parquet dataset from corpus rows (driver-side
    generator -> distributed parquet). Used by tests/bench only; real
    deployments read an existing Iceberg/WARC-derived table."""
    rows = list(rows_iter)
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA) \
        .repartition(num_partitions)
    df.write.mode("overwrite").parquet(out_dir)
    return len(rows)


def main() -> None:
    ap = argparse.ArgumentParser(description="flagship extraction job")
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--out", required=True, help="output table root")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from ..session import get_spark
    spark = get_spark("pcx-flagship", master=args.master)
    pages = spark.read.parquet(args.pages)
    info = run_extraction(spark, pages, args.out,
                          num_partitions=args.partitions,
                          resume=not args.no_resume)
    print(info)


if __name__ == "__main__":
    main()
