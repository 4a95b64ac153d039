"""The output checks and the reference values they compare against."""

import json
import os
import re

import pytest

from pcxperf import crawl, curate, media, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, _, _ in run.END_TO_END + run.PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.workloads())
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}


def test_crawl_check_passes_a_clean_output():
    stats = {"missing": 0, "extra": 0, "dup": None, "errors": 0}
    want = {"u1": "a", "u2": "b"}
    assert crawl.crawl_failures(stats, want, dict(want), 100) == 0


def test_crawl_check_counts_missing_duplicated_and_error_rows():
    stats = {"missing": 1, "extra": 2, "dup": 3, "errors": 4}
    assert crawl.crawl_failures(stats, {}, {}, 100) == 10


def test_a_corrupted_sample_row_fails_the_whole_crawl_output():
    stats = {"missing": 0, "extra": 0, "dup": 0, "errors": 0}
    want = {"u1": crawl.sha("kept text"), "u2": crawl.sha("other")}
    got = dict(want, u1=crawl.sha("kept text, corrupted"))
    assert crawl.crawl_failures(stats, want, got, 100) == 100
    del got["u1"]
    assert crawl.crawl_failures(stats, want, got, 100) == 100


LONG = " ".join(f"w{i % 37} x{i}" for i in range(60))


def test_exact_copies_and_long_near_duplicates_verify():
    assert curate.lsh_verified(LONG, LONG)
    # one appended word adds one shingle to ~119: Jaccard stays above 0.8
    near = f"{LONG} spark"
    sa, sb = curate.shingles(LONG), curate.shingles(near)
    assert len(sb - sa) == 1
    assert len(sa & sb) * 10000 // len(sa | sb) >= curate.JACCARD_BP


def test_short_near_duplicates_fail_the_jaccard_threshold():
    assert not curate.lsh_verified("a b c", "a b c d")


def test_planting_derives_pairs_and_kept_rows():
    texts = {i: f"doc {i} " + LONG for i in range(50)}
    rows, pairs, kept = curate.plant(texts, 50, seed=3)
    assert len(rows) == 10
    new_ids = {r[0] for r in rows}
    assert min(new_ids) == 50
    exact = [r for r in rows if r[1] in texts.values()]
    assert len(exact) == 5
    assert {b for _, b in pairs} <= new_ids
    assert {r[0] for r in exact} <= {b for _, b in pairs}
    assert kept == (set(texts) | new_ids) - {b for _, b in pairs}
    assert curate.plant(texts, 50, seed=3) == (rows, pairs, kept)


@pytest.mark.parametrize("doc_id", range(100, 108))
def test_expected_media_features_match_the_decoders(doc_id):
    from powerpoint_context_extractor_spark.gif import decode_gif
    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, decode_jpeg_gray,
    )
    from powerpoint_context_extractor_spark.png import decode_png
    from powerpoint_context_extractor_spark.wav import decode_wav
    mm = media.mm

    def stats(px):
        return [sum(px), min(px), max(px)]

    w, h, px = decode_jpeg_gray(mm.jpeg_payload_for_doc(doc_id))
    assert media.expected_features("jpeg", doc_id) == [w, h, *stats(px)]
    w, h, _, px = decode_jpeg(mm.jpeg_prog_payload_for_doc(doc_id))
    assert media.expected_features("jpeg_prog", doc_id) == [w, h, *stats(px)]
    w, h, ch, px = decode_png(mm.png_payload_for_doc(doc_id))
    assert media.expected_features("png", doc_id) == [w, h, ch, *stats(px)]
    rate, _, s = decode_wav(mm.wav_payload_for_doc(doc_id))
    assert media.expected_features("wav", doc_id) == [
        rate, len(s), len(s) * 1000 // rate, sum(abs(v) for v in s),
        min(s), max(s)]
    w, h, ch, px = decode_gif(mm.gif_payload_for_doc(doc_id))
    assert media.expected_features("gif", doc_id) == [
        w, h, ch, *stats(px), sum(i * v for i, v in enumerate(px))]


def test_curate_check_counts_wrong_pairs_and_kept_rows():
    want_pairs, want_kept = {(1, 5), (2, 6)}, {1, 2, 3, 4}
    assert curate.curate_failures(set(want_pairs), want_pairs, [1, 2, 3, 4],
                                  want_kept, 10) == 0
    # a missed pair leaves its duplicate among the kept rows
    assert curate.curate_failures({(1, 5)}, want_pairs, [1, 2, 3, 4, 6],
                                  want_kept, 10) == 2
    # a kept row committed twice
    assert curate.curate_failures(set(want_pairs), want_pairs,
                                  [1, 2, 3, 4, 4], want_kept, 10) == 1


def test_media_check_counts_missing_duplicated_and_wrong_rows():
    want = {("png", 1): [1, 2], ("png", 2): [3, 4], ("wav", 1): [5]}
    got = {k: [list(v)] for k, v in want.items()}
    assert media.media_failures(got, want) == 0
    got[("png", 2)] = [[3, 5]]               # one wrong feature
    got[("wav", 1)].append([5])              # committed twice
    del got[("png", 1)]                      # missing
    got[("gif", 9)] = [[0]]                  # not an input
    assert media.media_failures(got, want) == 4
