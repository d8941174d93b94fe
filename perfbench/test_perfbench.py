"""Self-tests for the benchmark's pure-Python parts (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os
import sys
import time

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    FileWatcher,
    Tracer,
    file_batches,
    parquet_files,
    parse_offsets_log,
    parse_source_log,
    tail_percentile,
    written_files,
)
from gen import (  # noqa: E402
    CatalogSize,
    CorpusSize,
    DailyFeed,
    TickFeed,
    corpus_docs,
    write_catalog,
    write_corpus,
)
from w_api import KINDS, arrivals, request_block  # noqa: E402
from corpus_pass import QUERIES, query_order  # noqa: E402


# -- tail percentile ----------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    vals = list(range(1, 1001))  # 1000 samples
    pct, v, n = tail_percentile(vals)
    assert (pct, v, n) == (99.0, 990, 1000)  # p99.9 would leave only 1 beyond
    assert sum(x > v for x in vals) >= 10


@pytest.mark.parametrize("n, want", [(20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (2000, 99.0), (10_000, 99.9)])
def test_tail_picks_highest_supported_percentile(n, want):
    vals = [float(i) for i in range(n)]
    pct, v, count = tail_percentile(vals)
    assert pct == want and count == n
    assert sum(x > v for x in vals) >= 10


def test_tail_below_twenty_samples_falls_back_to_median():
    pct, v, n = tail_percentile([5.0, 1.0, 3.0])
    assert (pct, v, n) == (50.0, 3.0, 3)


def test_tail_is_order_independent():
    vals = [0.3, 1.2, 0.9, 4.0, 0.1] * 10
    assert tail_percentile(vals) == tail_percentile(sorted(vals))


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail_percentile([])


# -- streaming checkpoint logs ----------------------------------------------


def _write_log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as fh:
        fh.write("v1")
        for name, batch in entries:
            fh.write("\n" + json.dumps({"path": name, "timestamp": 0, "batchId": batch}))


def test_source_log_reads_plain_and_compacted_files(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    # log ids 0..9 compacted into 9.compact; 10 and 11 plain; a stale plain
    # file repeats what the compaction holds; temp and crc files are skipped
    compact = [(f"f{i}", i) for i in range(10)] + [("f9b", 9)]
    _write_log(str(d / "9.compact"), compact)
    _write_log(str(d / "5"), [("f5", 5)])
    _write_log(str(d / "10"), [("f10", 10), ("f10b", 10)])
    _write_log(str(d / "11"), [("f11", 11)])
    (d / ".12.tmp").write_text("v1\n{not json")
    (d / ".11.crc").write_bytes(b"\x00")
    log = parse_source_log(str(d))
    assert log == {**dict(compact), "f10": 10, "f10b": 10, "f11": 11}
    assert parse_source_log(str(tmp_path / "missing")) == {}


def test_file_batches_maps_source_ids_through_offsets(tmp_path):
    ckpt = tmp_path
    src = ckpt / "sources" / "0"
    src.mkdir(parents=True)
    _write_log(str(src / "0"), [("a", 0)])
    _write_log(str(src / "1"), [("b", 1), ("c", 1)])
    _write_log(str(src / "2"), [("d", 2)])
    off = ckpt / "offsets"
    off.mkdir()
    # query batch 1 found no new files: the source offset did not advance
    for batch, log_offset in [(0, 0), (1, 0), (2, 1), (3, 2)]:
        (off / str(batch)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{log_offset}}}')
    (off / ".4.tmp").write_text("v1")
    assert parse_offsets_log(str(off)) == {0: 0, 1: 0, 2: 1, 3: 2}
    assert file_batches(str(ckpt)) == {"a": 0, "b": 2, "c": 2, "d": 3}


# -- seeded generators ---------------------------------------------------------


def _catalog_bytes(seed: int, root: str) -> dict[str, bytes]:
    size = CatalogSize(teams=20, players=300, matches=200, odds_matches=10)
    paths = write_catalog(seed, root, size)
    return {name: open(p, "rb").read() for name, p in paths.items()}


def test_catalog_is_byte_identical_per_seed(tmp_path):
    a = _catalog_bytes(7, str(tmp_path / "a"))
    b = _catalog_bytes(7, str(tmp_path / "b"))
    c = _catalog_bytes(8, str(tmp_path / "c"))
    assert a == b
    assert a["players"] != c["players"]


def test_daily_feed_is_identical_per_seed():
    def days(seed):
        feed = DailyFeed(seed)
        return [feed.day(d, 400) for d in range(3)], feed.model

    (a, ma), (b, mb) = days(3), days(3)
    assert a == b and ma == mb
    assert days(4)[0] != a


def test_daily_feed_model_is_latest_wins():
    feed = DailyFeed(5, rescrape=0.5)
    day0 = feed.day(0, 400)
    day1 = feed.day(1, 400)
    players0 = {json.loads(j)["player_id"] for n, j in day0 if n == "squad_scraper"}
    players1 = [json.loads(j) for n, j in day1 if n == "squad_scraper"]
    rescraped = [p for p in players1 if p["player_id"] in players0]
    assert len(rescraped) == 50  # half of the day's 100 player records
    assert len({p["player_id"] for p in players1}) == len(players1)  # one per key per day
    for p in rescraped:
        assert feed.model["players"][(p["player_id"],)]["market_value"] == p["market_value"]
        assert feed.model["players"][(p["player_id"],)]["position"] == DailyFeed.TERM[p["position"]]


def test_tick_files_are_byte_identical_per_seed_and_latest_wins():
    a, b = TickFeed(9, 50, 200), TickFeed(9, 50, 200)
    assert [a.file_bytes(k) for k in range(3)] == [b.file_bytes(k) for k in range(3)]
    assert a.latest == b.latest
    ticks = [row for k in range(3) for row in pq.read_table(io.BytesIO(TickFeed(9, 50, 200).file_bytes(k))).to_pylist()]
    latest = {}
    for t in sorted(ticks, key=lambda r: r["scraped_at"]):
        latest[t["match_id"]] = t
    assert {k: (v["minute"], v["status"]) for k, v in latest.items()} == {
        k: (v[1], v[4]) for k, v in a.latest.items()
    }
    assert len({(t["match_id"], t["scraped_at"]) for t in ticks}) == len(ticks)


def test_corpus_is_byte_identical_per_seed(tmp_path):
    size = CorpusSize(docs=200, vectors=50)

    def corpus(seed, d):
        return {t: open(p, "rb").read() for t, p in write_corpus(seed, str(tmp_path / d), size).items()}

    a, b, c = corpus(1, "a"), corpus(1, "b"), corpus(2, "c")
    assert a == b
    assert a["documents"] != c["documents"] and a["embeddings"] != c["embeddings"]


def _trigrams(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_corpus_pairs_stay_clear_of_the_dedup_thresholds():
    docs = corpus_docs(3, CorpusSize(docs=300))
    sets = [_trigrams(t) for t, _, _ in docs]
    near = same_block = 0
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
            assert jac >= 0.75 or jac < 0.2, (i, j, jac)
            near += jac >= 0.75
            same_block += jac >= 0.75 and docs[i][1:] == docs[j][1:]
    assert same_block > 0  # near-duplicates the blocked queries can find
    assert near > same_block  # and some across blocks, which they must not pair
    assert all(10 <= len(t.split()) <= 101 for t, _, _ in docs)


def test_query_order_is_a_seeded_permutation():
    assert sorted(query_order(1)) == sorted(QUERIES)
    assert query_order(1) == query_order(1)
    assert len({tuple(query_order(s)) for s in range(10)}) > 1


# -- written files ------------------------------------------------------------------


def test_written_files_are_new_or_changed(tmp_path):
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "_temporary").mkdir()
    (tmp_path / "t" / "a.parquet").write_bytes(b"1")
    (tmp_path / "t" / "b.parquet").write_bytes(b"22")
    (tmp_path / "t" / "_temporary" / "c.parquet").write_bytes(b"3")
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"")
    before = parquet_files(str(tmp_path))
    assert sorted(os.path.basename(p) for p in before) == ["a.parquet", "b.parquet"]
    (tmp_path / "t" / "b.parquet").write_bytes(b"333")  # rewritten in place
    (tmp_path / "t" / "d.parquet").write_bytes(b"4444")  # new
    (tmp_path / "t" / "a.parquet").unlink()  # removed: not a write
    after = parquet_files(str(tmp_path))
    assert [os.path.basename(p) for p in written_files(before, after)] == ["b.parquet", "d.parquet"]


def test_file_watcher_keeps_files_that_are_replaced(tmp_path):
    import pyarrow as pa

    w = FileWatcher(str(tmp_path))
    for k, rows in enumerate((3, 5)):
        for old in tmp_path.glob("*.parquet"):
            old.unlink()  # an overwrite replaces the previous batch's files
        pq.write_table(pa.table({"x": list(range(rows))}), str(tmp_path / f"part-{k}.parquet"))
        w.poll()
    w.stop()
    assert sorted(r for _, r in w.seen.values()) == [3, 5]
    assert all(b > 0 for b, _ in w.seen.values())


# -- request schedule -----------------------------------------------------------


def test_request_block_seed_draws_limits_not_mix_or_order():
    a, b = request_block(1, 0, 30), request_block(2, 0, 30)
    assert a != b
    assert [k for k, _ in a] == [k for k, _ in b]
    assert len(a) == 30 and {k for k, _ in a} <= set(range(len(KINDS)))
    assert request_block(1, 0, 30) == a
    counts = [sum(k == i for k, _ in a) for i in range(len(KINDS))]
    assert counts == sorted(counts, reverse=True) and counts[0] > counts[-1]  # Zipf-skewed


def test_arrivals_fixed_count_within_horizon():
    due = arrivals(2.0, 8.0)
    assert len(due) == 16 and due == sorted(due) and 0 <= due[0] and due[-1] < 8.0


# -- spans ------------------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("request", "op1"):
        time.sleep(0.01)
        with tr.span("engine.x", "op1"):
            time.sleep(0.02)
        with tr.span("reports.api_envelope", "op1"):
            time.sleep(0.02)
    spans = {s.name: s for s in tr.spans}
    assert spans["engine.x"].parent == spans["request"].sid
    self_t = tr.self_times()
    total = spans["request"].end - spans["request"].start
    assert self_t["request"][0] == pytest.approx(
        total - self_t["engine.x"][0] - self_t["reports.api_envelope"][0], abs=1e-9
    )
    assert 0.005 < self_t["request"][0] < 0.02


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("request", "op"):
        pass
    assert tr.add("x", 0.0, 1.0, "op") == -1
    assert tr.spans == [] and tr.bookkeeping_s == 0.0
