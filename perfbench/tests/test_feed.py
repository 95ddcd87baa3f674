"""The seeded feed generator and the pure-Python oracle fold."""

import json
import os

import pytest

import feed
from feed import SEQ_BASE, FeedGenerator, expected_state, released_rows


def _images(n_orders=50):
    orders = [{"o_orderkey": k, "o_totalprice": 10.0 * k, "o_orderstatus": "O",
               "o_orderdate": "1998-01-01 00:00:00"} for k in range(n_orders)]
    lines = [{"l_orderkey": k, "l_linenumber": 1, "l_id": feed.lineitem_id(k, 1),
              "l_quantity": 1.0} for k in range(n_orders)]
    return feed.snapshot_images(orders, lines)


def _feed_bytes(seed, locality="zipf"):
    gen = FeedGenerator(seed, _images(), locality=locality)
    return [gen.next_file(gen.take(40)).payload() for _ in range(5)]


@pytest.mark.parametrize("locality", ["zipf", "recent"])
def test_same_seed_same_bytes(locality):
    assert _feed_bytes(7, locality) == _feed_bytes(7, locality)
    assert _feed_bytes(7, locality) != _feed_bytes(8, locality)


def test_binlog_seq_above_every_snapshot_seq():
    gen = FeedGenerator(3, _images())
    events = gen.take(200)
    seqs = [e["seq"] for e in events]
    assert min(seqs) > SEQ_BASE > (1 << 53) + (1 << 53) - 1
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_take_counts_row_events_and_interleaves_sources():
    gen = FeedGenerator(5, _images())
    events = gen.take(300)
    assert sum(e["event_type"] in feed.ROW_EVENTS for e in events) >= 300
    assert len({e["source"] for e in events}) == feed.N_SOURCES
    kinds = {e["event_type"] for e in events}
    assert {"tx-begin", "tx-commit", "write", "update"} <= kinds


def test_publish_renames_into_watched_dir_with_stamped_mtime(tmp_path):
    staging, watched = tmp_path / "staging", tmp_path / "feed"
    staging.mkdir()
    watched.mkdir()
    f = feed.FeedFile("part-000000.json", [{"source": "s0", "event_type": "write",
                                            "tbl": "orders", "payload": "{}", "seq": 1}])
    feed.publish(f, str(staging), str(watched), 1_700_000_000_123_456_789)
    assert os.listdir(staging) == []
    path = watched / f.name
    assert path.read_bytes() == f.payload() and f.nbytes == len(f.payload())
    assert os.stat(path).st_mtime_ns == f.created_ns == 1_700_000_000_123_456_789


def _ev(seq, et, source="s0", key=None, price=None):
    payload = None if key is None else json.dumps({"o_orderkey": key, "o_totalprice": price})
    return {"source": source, "event_type": et, "tbl": "orders" if key is not None else None,
            "payload": payload, "seq": seq}


def test_rollback_drops_and_commit_releases():
    events = [_ev(1, "tx-begin"), _ev(2, "write", key=1, price=1.0), _ev(3, "tx-rollback"),
              _ev(4, "tx-begin"), _ev(5, "write", key=2, price=2.0), _ev(6, "tx-commit")]
    assert [e["seq"] for e in released_rows(events)] == [5]


def test_interleaved_sources_fold_independently():
    events = [_ev(1, "tx-begin", "a"), _ev(2, "tx-begin", "b"),
              _ev(3, "write", "a", 1, 1.0), _ev(4, "write", "b", 2, 2.0),
              _ev(5, "tx-rollback", "b"), _ev(6, "tx-commit", "a")]
    assert [e["seq"] for e in released_rows(events)] == [3]


def test_open_tail_withheld_and_untransacted_rows_pass():
    events = [_ev(1, "write", key=1, price=1.0), _ev(2, "tx-begin"),
              _ev(3, "write", key=2, price=2.0)]
    assert [e["seq"] for e in released_rows(events)] == [1]


def test_nested_begin_keeps_buffer_and_order_is_by_seq():
    events = [_ev(4, "tx-commit"), _ev(2, "write", key=1, price=1.0), _ev(1, "tx-begin"),
              _ev(3, "tx-begin")]
    assert [e["seq"] for e in released_rows(events)] == [2]


def test_expected_state_last_write_wins_over_snapshot():
    snapshot = {("orders", "1"): {"o_orderkey": 1, "o_totalprice": 1.0},
                ("orders", "2"): {"o_orderkey": 2, "o_totalprice": 2.0}}
    events = [_ev(SEQ_BASE + 1, "update", key=1, price=9.0),
              _ev(SEQ_BASE + 2, "delete", key=2, price=2.0),
              _ev(SEQ_BASE + 3, "tx-begin"),
              _ev(SEQ_BASE + 4, "write", key=3, price=3.0)]
    state = expected_state(snapshot, events)
    assert state == {("orders", "1"): feed.canon_row({"o_orderkey": 1, "o_totalprice": 9.0})}


def test_canon_row_matches_spark_and_python_spellings():
    spark = '{"o_orderkey":1,"o_orderdate":"1998-10-03T00:00:00.000","o_totalprice":1000.0}'
    python = {"o_orderkey": 1, "o_orderdate": "1998-10-03 00:00:00", "o_totalprice": 1000.0}
    assert feed.canon_row(spark) == feed.canon_row(python)


def test_compare_state_counts_missing_extra_and_different():
    exp = {("t", "1"): (("a", 1),), ("t", "2"): (("a", 2),)}
    act = {("t", "1"): (("a", 1),), ("t", "2"): (("a", 3),), ("t", "3"): (("a", 4),)}
    assert feed.compare_state(exp, act) == (3, 2)
