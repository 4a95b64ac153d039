"""The two crawl workloads: a fresh commit and a resume over a recrawl.

Both run ``plans.flagship.run_extraction`` over a generated
Common-Crawl-shaped pages table with the ``bench.py`` mix (about 5% WDOC,
3% PDF, 2% malformed and 3% legacy-charset pages, 10-60 paragraphs each).
The table is written as ``FILES`` parquet files; file ``k`` belongs to url
bucket ``k % RESUME_SPLITS``, which is how the resume workload splits the
crawl into already-committed and new rows.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from powerpoint_context_extractor_spark.corpus import generate_pages_rows
from powerpoint_context_extractor_spark.kernel import extract_document
from powerpoint_context_extractor_spark.operators import extract
from powerpoint_context_extractor_spark.plans import flagship
from powerpoint_context_extractor_spark.sources.table_io import SnapshotTable

from .harness import fresh_dir, snapshot_bytes
from .tracer import prefix_self_times
from .workload import Workload

CRAWL_PAGES = 10_000
MIN_PARAS, MAX_PARAS = 10, 60
FILES = 64                # input files; file k holds url bucket k % 4
RESUME_SPLITS = 4         # bucket 0 is new, buckets 1..3 are committed
SHA_SAMPLE = 32           # rows whose text is re-extracted in-process
KERNEL_SAMPLE = 1_500     # rows for the in-process kernel rate

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def sha(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(
        text.encode("utf-8")).hexdigest()


def crawl_failures(stats: dict, sample_want: dict, sample_got: dict,
                   n_in: int) -> int:
    """Failed rows of one crawl run.

    ``stats`` holds counts over the committed table joined to the input
    urls: ``missing`` input urls, ``extra`` output urls not in the input,
    ``dup`` surplus copies of a url and ``errors`` rows with an error.
    ``sample_want`` maps a sample of urls to the sha of the text the
    in-process kernel extracts; ``sample_got`` is what the table holds. Any
    sample mismatch fails the whole output.
    """
    if any(sample_got.get(u, "missing") != s for u, s in sample_want.items()):
        return n_in
    bad = sum(int(stats[k] or 0) for k in ("missing", "extra", "dup",
                                           "errors"))
    return min(bad, n_in)


def _boundary_batches(batches):
    """Each Arrow batch crosses to the Python worker; an empty batch with
    the same schema comes back."""
    for rb in batches:
        yield rb.slice(0, 0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Crawl(Workload):
    resume = False

    def build(self) -> None:
        rows = list(generate_pages_rows(CRAWL_PAGES, seed=self.seed,
                                        min_paras=MIN_PARAS,
                                        max_paras=MAX_PARAS))
        rng = random.Random(self.seed)
        order = list(range(len(rows)))
        rng.shuffle(order)
        self.pages_dir = fresh_dir(os.path.join(self.work, "pages"))
        self.bucket_bytes = [0] * RESUME_SPLITS
        for k in range(FILES):
            part = [rows[i] for i in order[k::FILES]]
            self.bucket_bytes[k % RESUME_SPLITS] += sum(
                len(r["html"]) for r in part)
            pq.write_table(pa.Table.from_pylist(part, schema=PAGES_SCHEMA),
                           os.path.join(self.pages_dir,
                                        f"part-{k:03d}.parquet"))
        self.n_in = len(rows)
        self.urls = {r["url"] for r in rows}
        self.sample_want = {
            r["url"]: sha(extract_document(r["url"], r["html"]).text)
            for r in (rows[i] for i in rng.sample(order, SHA_SAMPLE))}
        self.kernel_rows = [(rows[i]["url"], rows[i]["html"])
                            for i in order[:KERNEL_SAMPLE]]

    def use_input_of(self, other: "_Crawl") -> None:
        """Share another crawl workload's input instead of building one."""
        for k in ("pages_dir", "bucket_bytes", "n_in", "urls", "sample_want",
                  "kernel_rows"):
            setattr(self, k, getattr(other, k))

    def _read(self, bucket: int | None = None):
        files = sorted(os.listdir(self.pages_dir))
        return self.spark.read.parquet(*[
            os.path.join(self.pages_dir, f) for k, f in enumerate(files)
            if bucket is None or k % RESUME_SPLITS == bucket])

    def run(self) -> None:
        self.info = flagship.run_extraction(self.spark, self.pages, self.sink,
                                            resume=self.resume)

    def check(self) -> int:
        """Reads the committed files with pyarrow, not Spark."""
        files = SnapshotTable(os.path.join(self.sink, "extracted")) \
            .data_files()
        out = pq.read_table(files, columns=["url", "error", "text"])
        counts = Counter(out.column("url").to_pylist())
        stats = {"missing": len(self.urls - counts.keys()),
                 "extra": len(counts.keys() - self.urls),
                 "dup": sum(n - 1 for n in counts.values()),
                 "errors": len(out) - out.column("error").null_count}
        sample = out.filter(pc.is_in(out.column("url"), pa.array(
            list(self.sample_want), pa.string())))
        sample_got = dict(zip(sample.column("url").to_pylist(),
                              map(sha, sample.column("text").to_pylist())))
        return crawl_failures(stats, self.sample_want, sample_got, self.n_in)

    def out_bytes(self) -> int:
        return snapshot_bytes(self.info["snapshot"])


class CrawlCommit(_Crawl):
    name = "crawl_commit"

    def prepare(self, spark) -> None:
        self.spark = spark
        self.pages = self._read()
        self.in_bytes = sum(self.bucket_bytes)
        self.reset()
        self.run()                 # warm-up: one full pass

    def reset(self) -> None:
        self.sink = fresh_dir(os.path.join(self.work, "sink"))

    def trace(self, tr) -> None:
        """Cumulative prefixes of the extract path, each its own action:
        scan; + boundary; + kernel; + append; + lineage."""
        spark = self.spark
        narrow = self.pages.select("url", "html", "text")
        prefixes = []
        for name, df in (
                ("extract.scan", narrow),
                ("extract.boundary", narrow.mapInArrow(
                    _boundary_batches, schema=narrow.schema)),
                ("extract.map", extract.extract_pages(self.pages))):
            with tr.span(name) as span:
                _noop(df)
            prefixes.append((f"{name}_s", span.duration))
        map_s = prefixes[-1][1]
        root = fresh_dir(os.path.join(self.work, "trace_sink"))
        with tr.span("table_io.append") as span:
            entry = SnapshotTable(os.path.join(root, "append")).append(
                extract.extract_pages(self.pages), uuid.uuid4().hex[:12],
                write_options={"parquet.enable.dictionary": "false"})
        prefixes.append(("table_io.append_s", span.duration))
        sc = spark.sparkContext
        group = f"pcxperf-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "run_extraction")
        with tr.span("flagship.run_extraction") as span:
            info = flagship.run_extraction(spark, self.pages,
                                           os.path.join(root, "full"),
                                           resume=False)
        sc.setJobGroup("pcxperf", "benchmark")
        lineage_s = span.duration - info["wall_ms"] / 1000
        for name, v in prefix_self_times(prefixes).items():
            tr.count(name, v)
        tr.count("flagship.lineage_s", lineage_s)
        tr.count("trace.layer_sum_s", prefixes[-1][1] + lineage_s)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        failed = 0
        for j in jobs:
            job = st.getJobInfo(j)
            for s in (job.stageIds if job else ()):
                stage = st.getStageInfo(s)
                failed += stage.numFailedTasks if stage else 0
        tr.count("flagship.spark_jobs", len(jobs))
        tr.count("flagship.tasks_failed", failed)
        tr.count("table_io.files_written", len(entry["files"]))
        tr.count("table_io.bytes_written", snapshot_bytes(entry))
        tr.count("kernel.error_rows", spark.read.parquet(*entry["files"])
                 .filter(F.col("error").isNotNull()).count())
        # in-process kernel rate over a sample of the same input, no Spark
        with tr.span("kernel.extract_document"):
            t = time.process_time()
            for url, html in self.kernel_rows:
                extract_document(url, html)
            rate = len(self.kernel_rows) / (time.process_time() - t)
        tr.count("kernel.docs_per_s_core", rate)
        tr.count("extract.share_of_ceiling",
                 (self.n_in / map_s) / (rate * self.cpus))
        shutil.rmtree(root)


class CrawlResume(_Crawl):
    name = "crawl_resume"
    resume = True

    def prepare(self, spark) -> None:
        """Commit buckets 1..3 as three snapshots, the way the extraction
        commits of earlier runs leave them, keep a copy of that state, then
        warm up with one resume pass."""
        self.spark = spark
        self.pages = self._read()
        self.in_bytes = self.bucket_bytes[0]
        state = fresh_dir(os.path.join(self.work, "state"))
        table = SnapshotTable(os.path.join(state, "extracted"))
        for b in range(1, RESUME_SPLITS):
            table.append(extract.extract_pages(self._read(b)), f"state-{b}",
                         write_options={"parquet.enable.dictionary": "false"})
        self.state = os.path.join(self.work, "state_backup")
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(state, self.state)
        self.reset()
        self.run()                 # warm-up: one resume pass

    def reset(self) -> None:
        """Restore the committed state set-up built."""
        self.sink = os.path.join(self.work, "state")
        shutil.rmtree(self.sink, ignore_errors=True)
        shutil.copytree(self.state, self.sink)

    def trace(self, tr) -> None:
        self.reset()
        table = SnapshotTable(os.path.join(self.sink, "extracted"))
        with tr.span("table_io.committed_keys") as span:
            _noop(table.committed_keys(self.spark, "url"))
        tr.count("table_io.committed_keys_s", span.duration)
        self.run()
        tr.count("table_io.snapshots", len(table.snapshots()))
