"""Generator profile and determinism.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


@pytest.fixture(scope="module")
def log() -> gen.Events:
    return gen.generate(7)


def test_size_and_order(log):
    assert len(log) == gen.N_EVENTS == 2_756_101
    assert np.all(np.diff(log.timestamp) >= 0)
    assert log.timestamp.min() >= gen.T0_MS
    assert log.timestamp.max() <= gen.T0_MS + gen.SPAN_MS


def test_visitors_heavy_tailed_and_bounded(log):
    _, counts = np.unique(log.visitorid, return_counts=True)
    assert 1_200_000 <= len(counts) <= 1_400_000
    # bounded: a naive Zipf over visitors put 254k events on one visitor
    assert counts.max() <= gen.MAX_EVENTS_PER_VISITOR
    assert counts.max() >= 1_000  # still heavy-tailed
    assert (counts == 1).mean() > 0.5


def test_items_skewed(log):
    _, counts = np.unique(log.itemid, return_counts=True)
    assert 220_000 <= len(counts) <= 250_000
    top = np.sort(counts)[::-1]
    assert top[: len(top) // 100].sum() / top.sum() > 0.1  # top 1% of items


def test_event_mix_and_transaction_ids(log):
    share = np.bincount(log.event, minlength=3) / len(log)
    assert share == pytest.approx(gen.EVENT_MIX, abs=0.002)
    is_tx = log.event == gen.EVENT_TYPES.index("transaction")
    assert np.all(log.transactionid[is_tx] >= 0)
    assert np.all(log.transactionid[~is_tx] == -1)


def test_sessions_clustered(log):
    order = np.lexsort((log.timestamp, log.visitorid))
    vis, sec = log.visitorid[order], log.timestamp[order] // 1000
    same = vis[1:] == vis[:-1]
    gaps = (sec[1:] - sec[:-1])[same]
    assert 0.13 <= (gaps > gen.SESSION_GAP_S).mean() <= 0.17
    assert np.median(gaps) < 300


def test_same_seed_same_bytes(tmp_path):
    a, b = gen.generate(3, 5_000), gen.generate(3, 5_000)
    gen.write_csv(a, str(tmp_path / "a.csv"))
    gen.write_csv(b, str(tmp_path / "b.csv"))
    assert filecmp.cmp(tmp_path / "a.csv", tmp_path / "b.csv", shallow=False)
    gen.write_chunks(a, str(tmp_path / "ca"), 5_000, 2_000)
    gen.write_chunks(b, str(tmp_path / "cb"), 5_000, 2_000)
    names = sorted(os.listdir(tmp_path / "ca"))
    assert names == sorted(os.listdir(tmp_path / "cb"))
    assert len(names) == 4  # 3 chunks + sentinel
    for n in names:
        assert filecmp.cmp(tmp_path / "ca" / n, tmp_path / "cb" / n, shallow=False)
    gen.write_csv(gen.generate(4, 5_000), str(tmp_path / "c.csv"))
    assert not filecmp.cmp(tmp_path / "a.csv", tmp_path / "c.csv", shallow=False)


def test_csv_layout(tmp_path):
    ev = gen.generate(5, 1_000)
    path = tmp_path / "events.csv"
    gen.write_csv(ev, str(path))
    lines = path.read_text().splitlines()
    assert lines[0] == "timestamp,visitorid,event,itemid,transactionid"
    assert len(lines) == 1_001
    for line in lines[1:]:
        ts, vid, event, item, tx = line.split(",")
        assert event in gen.EVENT_TYPES
        assert (tx != "") == (event == "transaction")


def test_sentinel_is_last_and_far_ahead(tmp_path):
    import pyarrow.parquet as pq

    ev = gen.generate(5, 3_000)
    gen.write_chunks(ev, str(tmp_path), 3_000, 1_000)
    names = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    last = pq.read_table(tmp_path / names[-1]).to_pylist()
    assert len(last) == 1 and last[0]["visitorid"] == gen.SENTINEL_VISITOR
    body = pq.read_table(tmp_path / names[-2]).column("event_time").to_pylist()
    assert (last[0]["event_time"] - max(body)).days >= 30

