"""The workloads' output checks against real committed tables: clean
output passes, and one corrupted committed row trips the check.

Starts one small local Spark session for the module (about 10 s).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pcxperf import crawl, media

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

pytestmark = pytest.mark.filterwarnings("ignore::DeprecationWarning")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pcxperf.harness import prepare_process, start_session, stop_session
    work = str(tmp_path_factory.mktemp("spark"))
    prepare_process(ROOT, work)
    session = start_session(work, cpus=2, driver_memory="1g")
    yield session
    stop_session(session)


def _rewrite(path: str, column: str, fn) -> None:
    """Replace one column of a committed parquet file in place."""
    table = pq.read_table(path)
    i = table.schema.get_field_index(column)
    values = fn(table.column(column).to_pylist(),
                table.column("url" if "url" in table.schema.names
                             else "doc_id").to_pylist())
    table = table.set_column(i, table.schema.field(i),
                             pa.array(values, table.schema.field(i).type))
    pq.write_table(table, path)


def test_crawl_check_catches_a_corrupted_and_a_duplicated_row(
        spark, tmp_path, monkeypatch):
    monkeypatch.setattr(crawl, "CRAWL_PAGES", 64)
    monkeypatch.setattr(crawl, "KERNEL_SAMPLE", 8)
    wl = crawl.CrawlCommit(str(tmp_path), seed=5, cpus=2)
    wl.build()
    wl.prepare(spark)
    wl.reset()
    wl.run()
    assert wl.check() == 0
    assert wl.sample_want
    # corrupt the text of one sampled row in the committed files
    target = next(iter(wl.sample_want))
    for path in wl.info["snapshot"]["files"]:
        if target in pq.read_table(path, columns=["url"]).column(
                "url").to_pylist():
            _rewrite(path, "text", lambda texts, urls: [
                t + " corrupted" if u == target else t
                for t, u in zip(texts, urls)])
    assert wl.check() == wl.n_in
    # a clean run again, then one url committed twice
    wl.reset()
    wl.run()
    assert wl.check() == 0
    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    table = SnapshotTable(os.path.join(wl.sink, "extracted"))
    table.append(table.read(spark).limit(1), "duplicate")
    assert wl.check() == 1


def test_media_check_catches_one_wrong_feature(spark, tmp_path,
                                               monkeypatch):
    monkeypatch.setattr(media, "MEDIA_DOCS", 40)
    wl = media.Media(str(tmp_path), seed=7, cpus=2)
    wl.build()
    wl.prepare(spark)
    wl.reset()
    wl.run()
    assert wl.check() == 0
    path = wl.entries["png"]["files"][0]
    _rewrite(path, "px_sum", lambda sums, ids: [sums[0] + 1] + sums[1:])
    assert wl.check() == 1
