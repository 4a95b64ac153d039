"""The curation workload: quality signals and three dedup passes over an
extracted-text table with planted duplicates, committed to snapshot tables.

Set-up extracts a generated crawl once with the in-process kernel, then
plants exact copies and
near-duplicates (the original text plus one appended word) of
disjoint sets of documents. Which near-duplicates LSH finds depends on minhash
values, so set-up derives them with a pure-Python minhash that mirrors
``operators.dedup``; the check compares the job's pairs and kept rows with
what the planting implies.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from powerpoint_context_extractor_spark.corpus import generate_pages_rows
from powerpoint_context_extractor_spark.kernel import extract_document
from powerpoint_context_extractor_spark.operators import dedup, textstats
from powerpoint_context_extractor_spark.sources.table_io import SnapshotTable

from .harness import fresh_dir, snapshot_bytes
from .workload import Workload

CURATE_DOCS = 800          # extracted originals
EXACT_SHARE = 0.10         # originals that get an exact copy
NEAR_SHARE = 0.10          # originals that get a near-duplicate
MIN_PARAS, MAX_PARAS = 2, 8
SHINGLE_K = 3
JACCARD_BP = 8000          # minhash_lsh_dedup's default threshold
EXTRA_WORDS = ("spark", "arrow", "parquet", "kernel", "lineage", "shuffle")
FILES = 8

DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.int64(), nullable=False),
                         ("text", pa.string())])


def shingles(text: str) -> set:
    toks = text.split(" ")
    if len(toks) < SHINGLE_K:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE_K])
            for i in range(len(toks) - SHINGLE_K + 1)}


def portable_hash(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % dedup.P


def signature(sh: set) -> list:
    hs = [portable_hash(s) for s in sh]
    return [min((a * x + b) % dedup.P for x in hs)
            for a, b in dedup.MINHASH_PERMS]


def lsh_verified(a: str, b: str) -> bool:
    """Whether ``minhash_lsh_dedup`` reports the pair (a, b): some LSH band
    of the two signatures agrees and the exact Jaccard passes."""
    sa, sb = shingles(a), shingles(b)
    siga, sigb = signature(sa), signature(sb)
    r = dedup.LSH_ROWS
    candidate = any(siga[k * r:(k + 1) * r] == sigb[k * r:(k + 1) * r]
                    for k in range(dedup.LSH_BANDS))
    return candidate and len(sa & sb) * 10000 // len(sa | sb) >= JACCARD_BP


def plant(texts: dict, n_orig: int, seed: int) -> tuple:
    """Exact copies and near-duplicates of disjoint originals.

    ``texts`` maps every original doc id to its text. Returns the new rows,
    the pairs the dedup job should verify and the doc ids it should keep.
    """
    rng = random.Random(seed)
    ids = sorted(i for i, t in texts.items() if t is not None)
    picked = rng.sample(ids, int(n_orig * (EXACT_SHARE + NEAR_SHARE)))
    n_exact = int(n_orig * EXACT_SHARE)
    rows, pairs, dropped = [], set(), set()
    next_id = max(texts) + 1
    for k, orig in enumerate(picked):
        new_id = next_id + k
        if k < n_exact:
            text = texts[orig]
        else:
            text = f"{texts[orig]} {rng.choice(EXTRA_WORDS)}"
        rows.append((new_id, text))
        if k < n_exact or lsh_verified(texts[orig], text):
            pairs.add((orig, new_id))
            dropped.add(new_id)
    kept = (set(texts) | {r[0] for r in rows}) - dropped
    return rows, pairs, kept


def curate_failures(got_pairs: set, want_pairs: set, kept_ids: list,
                    want_kept: set, n_in: int) -> int:
    """Pairs and kept rows that differ from what the planting implies,
    plus kept rows committed more than once."""
    got_kept = set(kept_ids)
    bad = (len(got_pairs ^ want_pairs) + len(got_kept ^ want_kept)
           + len(kept_ids) - len(got_kept))
    return min(bad, n_in)


class Curate(Workload):
    name = "curate"

    def build(self) -> None:
        texts = {}
        for i, page in enumerate(generate_pages_rows(
                CURATE_DOCS, seed=self.seed, min_paras=MIN_PARAS,
                max_paras=MAX_PARAS)):
            texts[i] = extract_document(page["url"], page["html"]).text
        rows, self.want_pairs, self.want_kept = plant(texts, CURATE_DOCS,
                                                      self.seed)
        rows = sorted(texts.items()) + rows
        self.docs_dir = fresh_dir(os.path.join(self.work, "docs"))
        for k in range(FILES):
            part = rows[k::FILES]
            pq.write_table(pa.Table.from_pydict(
                {"doc_id": [r[0] for r in part],
                 "text": [r[1] for r in part]}, schema=DOCS_SCHEMA),
                os.path.join(self.docs_dir, f"part-{k:03d}.parquet"))
        self.n_in = len(rows)
        self.in_bytes = sum(len((t or "").encode("utf-8")) for _, t in rows)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_dir)
        self.reset()
        self.run()                 # warm-up: one full pass

    def reset(self) -> None:
        self.sink = fresh_dir(os.path.join(self.work, "sink"))

    def run(self) -> None:
        docs, run_id = self.docs, uuid.uuid4().hex[:12]
        pairs_tbl = SnapshotTable(os.path.join(self.sink, "pairs"))
        docs_tbl = SnapshotTable(os.path.join(self.sink, "docs"))
        self.pairs_entry = pairs_tbl.append(dedup.minhash_lsh_dedup(docs),
                                            run_id)
        pairs = pairs_tbl.read(self.spark)
        canon = dedup.exact_dedup(docs).select(
            F.col("canonical_id").alias("doc_id"))
        near = pairs.select(F.col("id_b").alias("doc_id"))
        kept = (canon.join(near, "doc_id", "left_anti")
                .join(textstats.quality_score_v2(docs), "doc_id")
                .join(textstats.compression_ratio(docs), "doc_id")
                .join(dedup.paragraph_dedup(docs), "doc_id"))
        self.docs_entry = docs_tbl.append(kept, run_id)

    def check(self) -> int:
        """Reads the committed files with pyarrow, not Spark."""
        pairs = pq.read_table(self.pairs_entry["files"],
                              columns=["id_a", "id_b"])
        kept = pq.read_table(self.docs_entry["files"], columns=["doc_id"])
        return curate_failures(
            set(zip(pairs.column("id_a").to_pylist(),
                    pairs.column("id_b").to_pylist())),
            self.want_pairs, kept.column("doc_id").to_pylist(),
            self.want_kept, self.n_in)

    def out_bytes(self) -> int:
        return snapshot_bytes(self.pairs_entry) + snapshot_bytes(
            self.docs_entry)

    def trace(self, tr) -> None:
        docs = self.docs

        def timed(span, metric, df):
            with tr.span(span):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                tr.count(metric, time.perf_counter() - t)

        timed("textstats.quality_score_v2", "textstats.quality_v2_s",
              textstats.quality_score_v2(docs))
        timed("textstats.compression_ratio", "textstats.compression_ratio_s",
              textstats.compression_ratio(docs))
        timed("dedup.exact_dedup", "dedup.exact_s", dedup.exact_dedup(docs))
        timed("dedup.paragraph_dedup", "dedup.paragraph_s",
              dedup.paragraph_dedup(docs))
        with tr.span("dedup.minhash_lsh_dedup"):
            t = time.perf_counter()
            verified = dedup.minhash_lsh_dedup(docs).count()
            tr.count("dedup.minhash_s", time.perf_counter() - t)
        with tr.span("dedup.lsh_candidate_pairs"):
            cands = dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(docs)).count()
        tr.count("dedup.candidate_pairs", cands)
        tr.count("dedup.verified_pairs", verified)
        tr.count("dedup.verify_yield", verified / cands if cands else 0.0)
