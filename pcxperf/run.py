"""pcx benchmark: four workloads run end to end through the package's
public functions, every output checked.

    python3 pcxperf/run.py --workload crawl_commit --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of the named workload. ``--trace
1`` is the separate traced run: it sets up every workload, records spans and
counters around calls into each layer, and prints the per-layer metrics;
spans and counters are also written to ``.pcxperf_work/traces/``. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pcxperf.harness import (  # noqa: E402
    RssSampler, host_info, log, prepare_process,
    start_session_during, stop_session,
)

MIN_RUNS = 5          # timed runs per invocation, whatever --seconds says

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("docs_per_s", "1/s", "higher"),
    ("ok_share", "ratio", "higher"),
    ("out_bytes_per_in_byte", "ratio", "lower"),
]

PER_LAYER = [
    ("kernel.docs_per_s_core", "1/s", "higher"),
    ("kernel.error_rows", "count", "lower"),
    ("extract.scan_s", "s", "lower"),
    ("extract.boundary_s", "s", "lower"),
    ("extract.map_s", "s", "lower"),
    ("extract.share_of_ceiling", "ratio", "higher"),
    ("table_io.append_s", "s", "lower"),
    ("table_io.committed_keys_s", "s", "lower"),
    ("table_io.files_written", "count", "lower"),
    ("table_io.bytes_written", "bytes", "lower"),
    ("table_io.snapshots", "count", "lower"),
    ("flagship.lineage_s", "s", "lower"),
    ("flagship.spark_jobs", "count", "lower"),
    ("flagship.tasks_failed", "count", "lower"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.minhash_s", "s", "lower"),
    ("dedup.paragraph_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("textstats.quality_v2_s", "s", "lower"),
    ("textstats.compression_ratio_s", "s", "lower"),
    ("multimodal.jpeg_s", "s", "lower"),
    ("multimodal.jpeg_prog_s", "s", "lower"),
    ("multimodal.png_s", "s", "lower"),
    ("multimodal.wav_s", "s", "lower"),
    ("multimodal.gif_s", "s", "lower"),
    ("multimodal.error_rows", "count", "lower"),
    ("trace.run_s", "s", "lower"),
    ("trace.untraced_run_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.layer_sum_s", "s", "lower"),
    ("trace.crawl_commit_run_s", "s", "lower"),
    ("failed_share", "ratio", "lower"),
    ("peak_rss_mib", "MiB", "lower"),
]


def workloads() -> dict:
    from pcxperf.crawl import CrawlCommit, CrawlResume
    from pcxperf.curate import Curate
    from pcxperf.media import Media
    return {w.name: w for w in (CrawlCommit, CrawlResume, Curate, Media)}


def measured(wl, seconds: float, setup_s: float, rss: RssSampler) -> tuple:
    """Time runs of the job until ``seconds`` are measured."""
    runs, ratios, attempted, failed = [], [], 0, 0
    while sum(runs) < seconds or len(runs) < MIN_RUNS:
        wl.reset()
        rss.active.set()
        t = time.perf_counter()
        wl.run()
        runs.append(time.perf_counter() - t)
        rss.active.clear()
        bad = wl.check()
        attempted += wl.n_in
        failed += bad
        ratios.append(wl.out_bytes() / wl.in_bytes)
        log(f"{wl.name}: run {len(runs)} {runs[-1]:.3f}s, failed rows {bad}")
    run_s = statistics.median(runs)
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        "docs_per_s": wl.n_in / run_s,
        "ok_share": 1 - failed / attempted,
        "out_bytes_per_in_byte": statistics.median(ratios),
    }
    log(f"{wl.name}: peak RSS {rss.peak / 2 ** 20:.0f} MiB")
    return attempted, failed, metrics


@contextmanager
def layer_spans(tr):
    """Wrap each layer's public functions so every call records a span."""
    from powerpoint_context_extractor_spark.operators import (
        dedup, multimodal, textstats,
    )
    from powerpoint_context_extractor_spark.plans import flagship
    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    from pcxperf.media import CODECS
    sites = [(SnapshotTable, "append", "table_io.append"),
             (SnapshotTable, "read", "table_io.read"),
             (SnapshotTable, "committed_keys", "table_io.committed_keys"),
             (flagship, "extract_pages", "extract.extract_pages"),
             (flagship, "run_extraction", "flagship.run_extraction"),
             (textstats, "quality_score_v2", "textstats.quality_score_v2"),
             (textstats, "compression_ratio", "textstats.compression_ratio")]
    sites += [(dedup, f, f"dedup.{f}") for f in
              ("exact_dedup", "minhash_lsh_dedup", "paragraph_dedup")]
    sites += [(multimodal, op, f"multimodal.{op}") for op, _ in
              CODECS.values()]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in sites]

    def wrap(name, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tr.span(name):
                return fn(*args, **kwargs)
        return inner

    try:
        for (owner, attr, name), (_, _, fn) in zip(sites, saved):
            setattr(owner, attr, wrap(name, fn))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def traced(wls: dict, name: str, rss: RssSampler) -> tuple:
    """Time the named workload untraced and traced, then record every
    workload's per-layer spans and counters."""
    from pcxperf.tracer import Tracer
    tr = Tracer(run_id=f"{name}-{wls[name].seed}-{os.getpid()}")
    wl = wls[name]
    wl.reset()
    rss.active.set()
    t = time.perf_counter()
    wl.run()
    untraced = time.perf_counter() - t
    failed = wl.check()
    wl.reset()
    with tr.span(f"workload.{name}"), layer_spans(tr):
        t = time.perf_counter()
        wl.run()
        run_s = time.perf_counter() - t
    rss.active.clear()
    failed += wl.check()
    attempted = 2 * wl.n_in
    tr.count("trace.run_s", run_s)
    tr.count("trace.untraced_run_s", untraced)
    tr.count("trace.overhead_s", run_s - untraced)
    tr.count("failed_share", failed / attempted)
    tr.count("peak_rss_mib", rss.peak / 2 ** 20)
    for w in wls.values():
        with tr.span(f"layers.{w.name}"):
            w.trace(tr)
        log(f"trace: {w.name} layers recorded")
    crawl = wls["crawl_commit"]
    crawl.reset()
    t = time.perf_counter()
    crawl.run()
    tr.count("trace.crawl_commit_run_s", time.perf_counter() - t)
    metrics = {n: tr.counters[n] for n, _, _ in PER_LAYER}
    out_dir = os.path.join(ROOT, ".pcxperf_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tr.write(os.path.join(out_dir, f"{tr.run_id}.json"),
             {"host": host_info()})
    return attempted, failed, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    work = os.path.join(ROOT, ".pcxperf_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_process(ROOT, work)
    try:
        import powerpoint_context_extractor_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program: {exc}")
        return 2
    classes = workloads()
    if args.workload not in classes:
        ap.error(f"--workload must be one of {sorted(classes)}")
    host = host_info()
    log(f"host: {host}")
    names = list(classes) if args.trace else [args.workload]
    wls = {n: classes[n](work, args.seed, host["cpus"]) for n in names}

    def build() -> None:
        # the traced run sets up every workload; both crawls share pages
        for w in wls.values():
            if w.name == "crawl_resume" and "crawl_commit" in wls:
                w.use_input_of(wls["crawl_commit"])
            else:
                w.build()

    box: dict = {}
    try:
        t = time.perf_counter()
        start_session_during(build, work, host["cpus"], box)
        for w in wls.values():
            w.prepare(box["spark"])
        setup_s = time.perf_counter() - t
        log(f"set-up {setup_s:.2f}s")
        with RssSampler() as rss:
            if args.trace:
                attempted, failed, metrics = traced(wls, args.workload, rss)
            else:
                attempted, failed, metrics = measured(
                    wls[args.workload], args.seconds, setup_s, rss)
    finally:
        if "spark" in box:
            stop_session(box["spark"])
        shutil.rmtree(work, ignore_errors=True)
    units = dict((n, u) for n, u, _ in END_TO_END + PER_LAYER)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": v, "unit": units[n]}
                          for n, v in metrics.items()}}
    with open(os.path.join(ROOT, ".pcxperf_work", "results.jsonl"), "a",
              encoding="utf-8") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "host": host,
                            **result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
