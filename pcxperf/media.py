"""The media workload: per-codec feature decode through
``operators.multimodal`` (baseline and progressive JPEG, PNG, WAV, GIF),
each result committed to its own snapshot table.

Each operator renders a deterministic payload per ``doc_id`` and decodes
it. Set-up computes, per document and codec, the payload size and the
features the analytic helpers predict; the check compares every committed
feature row with them.
"""

from __future__ import annotations

import os
import random
import time
import uuid
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq

from powerpoint_context_extractor_spark.operators import multimodal as mm
from powerpoint_context_extractor_spark.sources.table_io import SnapshotTable

from .harness import fresh_dir, snapshot_bytes
from .workload import Workload

MEDIA_DOCS = 4_000        # documents; every codec decodes one payload each

# codec -> (operator, payload helper), looked up by name at call time
CODECS = {
    "jpeg": ("extract_jpeg_features", "jpeg_payload_for_doc"),
    "jpeg_prog": ("extract_jpeg_prog_features", "jpeg_prog_payload_for_doc"),
    "png": ("extract_png_features", "png_payload_for_doc"),
    "wav": ("extract_wav_features", "wav_payload_for_doc"),
    "gif": ("extract_gif_features", "gif_payload_for_doc"),
}

FILES = 8


def _palette_px(doc_id: int, n: int) -> list:
    px = []
    for i in range(n):
        px.extend(mm.PNG_PALETTE[(doc_id * 31 + i) % 16])
    return px


def expected_features(codec: str, doc_id: int) -> list:
    """Feature row (operator column order, ``doc_id`` left out) that the
    analytic helpers predict for one document."""
    if codec in ("jpeg", "jpeg_prog"):
        rec = [mm.jpeg_reconstructed_value(mm.jpeg_block_value(doc_id, b))
               for b in range(2)]
        return [mm.JPEG_W, mm.JPEG_H, 64 * sum(rec), min(rec), max(rec)]
    if codec == "png":
        ch = mm.png_channels_for_doc(doc_id)
        n = mm.PNG_W * mm.PNG_H
        px = (_palette_px(doc_id, n) if doc_id % 4 == 2 else
              [(doc_id * 31 + i) % 256 for i in range(n * ch)])
        return [mm.PNG_W, mm.PNG_H, ch, sum(px), min(px), max(px)]
    if codec == "wav":
        s = mm.wav_samples_for_doc(doc_id)
        return [mm.WAV_RATE, len(s), len(s) * 1000 // mm.WAV_RATE,
                sum(abs(v) for v in s), min(s), max(s)]
    if codec == "gif":
        px = _palette_px(doc_id, mm.GIF_W * mm.GIF_H)
        return [mm.GIF_W, mm.GIF_H, 3, sum(px), min(px), max(px),
                sum(i * v for i, v in enumerate(px))]
    raise ValueError(codec)


def media_failures(got: dict, want: dict) -> int:
    """Keys missing, surplus, duplicated or whose features differ.

    ``got`` maps (codec, doc_id) to every committed feature row for it;
    ``want`` maps it to the one expected row."""
    bad = len(want.keys() - got.keys())
    for key, rows in got.items():
        bad += len(rows) - (rows[0] == want.get(key))
    return bad


class Media(Workload):
    name = "media"

    def build(self) -> None:
        """Document ids from a seeded offset, plus per document and codec
        the payload size and the features the analytic helpers predict."""
        base = random.Random(self.seed).randrange(1, 10 ** 6)
        ids = list(range(base, base + MEDIA_DOCS))
        self.docs_dir = fresh_dir(os.path.join(self.work, "docs"))
        self.expected = {}
        self.in_bytes = 0
        for doc_id in ids:
            for codec, (_, payload) in CODECS.items():
                self.expected[codec, doc_id] = expected_features(codec,
                                                                 doc_id)
                self.in_bytes += len(getattr(mm, payload)(doc_id))
        for k in range(FILES):
            pq.write_table(pa.table({"doc_id": pa.array(ids[k::FILES],
                                                        pa.int64())}),
                           os.path.join(self.docs_dir, f"part-{k:03d}.parquet"))
        self.n_in = len(self.expected)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_dir)
        self.reset()
        self.run()                 # warm-up: one full pass

    def reset(self) -> None:
        self.sink = fresh_dir(os.path.join(self.work, "sink"))

    def run(self, tr=None) -> None:
        run_id = uuid.uuid4().hex[:12]
        self.entries = {}
        for codec, (op, _) in CODECS.items():
            table = SnapshotTable(os.path.join(self.sink, codec))
            with tr.span(f"multimodal.{op}") if tr else nullcontext():
                t = time.perf_counter()
                self.entries[codec] = table.append(
                    getattr(mm, op)(self.docs), run_id)
            if tr is not None:
                tr.count(f"multimodal.{codec}_s", time.perf_counter() - t)

    def check(self) -> int:
        """Reads the committed files with pyarrow, not Spark."""
        got = {}
        for codec, entry in self.entries.items():
            for row in pq.read_table(entry["files"]).to_pylist():
                doc_id = row.pop("doc_id")
                got.setdefault((codec, doc_id), []).append(list(row.values()))
        return min(media_failures(got, self.expected), self.n_in)

    def out_bytes(self) -> int:
        return sum(snapshot_bytes(e) for e in self.entries.values())

    def trace(self, tr) -> None:
        self.reset()
        self.run(tr)
        tr.count("multimodal.error_rows", self.check())
