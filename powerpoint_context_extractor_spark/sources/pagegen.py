"""Distributed deterministic pages-table generator.

``spark.range(n)`` -> the per-row ``map_rows`` seam -> one page row per
index via ``corpus.page_row`` (a pure function of (i, seed)), so the
corpus materializes in parallel across all cores and — unlike a
driver-side loop — would scale to any size on a real cluster. Output is
the BASELINE.json ``input_hint`` schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.extract import map_rows

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def generate_pages_df(spark: SparkSession, n: int, seed: int = 42,
                      min_paras: int = 2, max_paras: int = 8,
                      num_partitions: int | None = None) -> DataFrame:
    from ..corpus import page_row

    def gen(i):
        r = page_row(i, seed=seed, min_paras=min_paras, max_paras=max_paras)
        yield r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]

    parts = num_partitions or spark.sparkContext.defaultParallelism
    return map_rows(spark.range(0, n, numPartitions=parts), gen,
                    PAGES_SCHEMA)


def ensure_pages_dataset(spark: SparkSession, out_dir: str, n: int,
                         seed: int = 42, min_paras: int = 2,
                         max_paras: int = 8,
                         num_files: int | None = None,
                         compression: str = "snappy") -> str:
    """Materialize (once) a pages parquet dataset; cached by _COMPLETE
    marker so bench reruns reuse the identical input. ``num_files``
    controls scan-split granularity downstream (more, smaller files =
    full parallelism without repartitioning payloads). Snappy by
    default: zstd decode costs ~40% of extraction throughput at full
    core count (JVM decode competes with Python kernels)."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    df = generate_pages_df(spark, n, seed=seed, min_paras=min_paras,
                           max_paras=max_paras, num_partitions=num_files)
    df.write.mode("overwrite").option("compression", compression).parquet(out_dir)
    with open(marker, "w", encoding="utf-8") as f:
        f.write(f"n={n} seed={seed} paras={min_paras}-{max_paras} "
                f"codec={compression}\n")
    return out_dir
