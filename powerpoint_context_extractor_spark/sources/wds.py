"""WebDataset-style sharded tar sink + source.

WebDataset (public format: plain POSIX tar shards whose members are
``<key>.<ext>`` files, consumed sequentially by training loaders) is
the de-facto container for large multimodal training corpora — shard
files stream at wire speed, members need no index, and a shard is the
unit of shuffling/resume. This module writes a corpus as ``N`` tar
shards executor-side and reads them back file-per-task, both with
stdlib ``tarfile`` only.

Determinism contract: shard assignment is ``H(key) % n_shards`` (the
md5 seam — reproducible, resume-stable, and mirrored in the contract
oracle's projection), members are written in key order within a shard
with zeroed mtime/uid/gid, so every shard is byte-reproducible.

Scale shape: one ``repartition(n_shards, shard)`` shuffle co-locates
each shard's members, then ``foreachPartition`` streams members into
tars with O(1) memory per member; the read side parallelizes the
shard FILE list (one task per shard — the same layout WARC/WET
readers use), so a 100 TB corpus reads with shard-count parallelism
and zero driver funneling.

Reference analog: the per-artifact output files the reference writes
(`pptx_extractor/slides/extractor.py:258-279`), lifted to the sharded
container a training loader actually mounts.
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import portable_hash
from ..operators.extract import map_rows


def write_wds_shards(df: DataFrame, out_dir: str, n_shards: int = 4,
                     key_col: str = "doc_id",
                     text_col: str = "text") -> int:
    """Write (key, text) rows as ``shard-%05d.tar`` with one
    ``<key:012d>.txt`` member per row. Returns n_shards."""
    if n_shards <= 0:
        raise ValueError("write_wds_shards: n_shards must be > 0")
    os.makedirs(out_dir, exist_ok=True)
    shard = portable_hash(
        F.format_string("wds%d", F.col(key_col))) % n_shards
    rows = (df.select(F.col(key_col).alias("k"),
                      F.col(text_col).alias("t"),
                      shard.alias("s"))
            .repartition(n_shards, "s")
            .sortWithinPartitions("s", "k"))

    def _write_partition(it):
        cur_id, tf, tmp = None, None, None

        def _close():
            nonlocal tf, tmp
            if tf is not None:
                tf.close()
                final = os.path.join(out_dir, f"shard-{cur_id:05d}.tar")
                os.replace(tmp, final)
                tf = tmp = None

        for r in it:
            if r["s"] != cur_id:
                _close()
                cur_id = r["s"]
                tmp = os.path.join(out_dir, f".shard-{cur_id:05d}.tmp")
                tf = tarfile.open(tmp, "w")
            data = (r["t"] or "").encode("utf-8")
            info = tarfile.TarInfo(name=f"{r['k']:012d}.txt")
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            tf.addfile(info, io.BytesIO(data))
        _close()

    rows.foreachPartition(_write_partition)
    return n_shards


def read_wds_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read shards back as (doc_id, text, shard) — one task per shard
    file, members parsed with stdlib tarfile through ``map_rows``."""
    shards = sorted(f for f in os.listdir(path) if f.endswith(".tar"))
    if not shards:
        raise ValueError(f"read_wds_shards: no .tar shards in {path}")
    files = spark.createDataFrame(
        [(os.path.join(path, f),) for f in shards], "file string") \
        .repartition(len(shards), "file")

    def _row(file):
        sid = int(os.path.basename(file)[6:11])
        with tarfile.open(file, "r") as tf:
            for m in tf:
                if m.isfile() and m.name.endswith(".txt"):
                    yield (int(m.name[:-4]),
                           tf.extractfile(m).read().decode("utf-8"), sid)

    return map_rows(files, _row, "doc_id long, text string, shard long")
