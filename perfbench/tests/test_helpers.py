"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import refs  # noqa: E402
from common import Tracer, covered, tail  # noqa: E402
from workloads import Op, op_p50  # noqa: E402


def _tick_files(root, seed, n=3):
    os.makedirs(root)
    return [gen.write_tick_file(str(root), seed, i) for i in range(n)]


def test_tick_files_are_byte_identical_for_a_seed(tmp_path):
    a = _tick_files(tmp_path / "a", 7)
    b = _tick_files(tmp_path / "b", 7)
    c = _tick_files(tmp_path / "c", 8)
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert gen.input_hash(a) == gen.input_hash(b)
    assert gen.input_hash(a) != gen.input_hash(c)
    assert [os.path.getmtime(p) for p in a] == [os.path.getmtime(p) for p in b]


def test_late_ticks_restate_only_recent_hours():
    t = gen.ticks(3, 5)
    hour = (t["ts_us"] // 1_000_000 - gen.TICK_START_S) // gen.HOUR_S
    late = hour < 5
    assert 0.05 < late.mean() < 0.15
    assert hour.min() >= 5 - gen.LATE_HOURS


def test_corpus_vectors_and_query_mix_are_deterministic(tmp_path):
    a = gen.write_shard(str(tmp_path / "a.json"), gen.corpus(5)[1])
    b = gen.write_shard(str(tmp_path / "b.json"), gen.corpus(5)[1])
    assert filecmp.cmp(a, b, shallow=False)
    assert gen.corpus(5) != gen.corpus(6)
    assert (gen.vectors(5, 50, 8) == gen.vectors(5, 50, 8)).all()
    assert [gen.query_request(9, j, 8) for j in range(20)] == [
        gen.query_request(9, j, 8) for j in range(20)
    ]


def test_planted_near_duplicates_clear_the_threshold():
    seed_docs, shard = gen.corpus(1)
    texts = [d["text"] for d in seed_docs + shard]
    for d in shard:
        if d["kind"] != "dup":
            continue
        mine = set(refs.text_tokens(d["text"]))
        best = max(
            len(mine & set(refs.text_tokens(t))) / len(mine | set(refs.text_tokens(t)))
            for t in texts if t != d["text"]
        )
        assert best > 0.95
    assert {d["kind"] for d in shard} == {"fresh", "dup", "short"}


def test_topk_reference_ranks_by_cosine_and_skips_the_queries():
    vecs = refs.np.array([[1.0, 0.0], [2.0, 0.1], [0.0, 1.0], [1.0, 1.0], [-1.0, 0.0]])
    assert refs.topk_reference(vecs, [0], 3) == {0: [1, 3, 2]}
    assert refs.topk_reference(vecs, [0, 2], 3) == {0: [1, 3, 4], 2: [3, 1, 4]}


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, (50, 9.0, 10)), (100, (90, 89.0, 10)), (1000, (99, 989.0, 10))],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert tail([float(x) for x in range(n)]) == expected


def test_tail_counts_only_samples_strictly_beyond():
    xs = [1.0] * 30 + [2.0] * 5  # p50..p85 all read 1.0; only 5 lie above it
    assert tail(xs) is None
    assert tail(xs + [3.0] * 5) == (75, 1.0, 10)


def test_op_p50_weights_each_kinds_median():
    ops = [Op(x, False, kind=k) for x, k in
           [(1.0, "range"), (3.0, "range"), (5.0, "resample"), (2.0, "sma"), (9.0, "asof")]]
    weights = {k: gen.QUERY_CYCLE.count(k) / 5 for k in gen.QUERY_CYCLE}
    assert op_p50(ops, weights) == pytest.approx(0.4 * 2.0 + 0.2 * (5.0 + 2.0 + 9.0))
    assert op_p50(ops[:2], {"range": 1.0}) == 2.0


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_child_coverage_once():
    tr = Tracer()
    root = tr.add("root", 0.0, 10.0)
    a = tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 6.0, root)  # overlaps a: together they cover [1, 6]
    tr.add("a.child", 2.0, 3.0, a)
    tr.add("late", 9.0, 12.0, root)  # runs past its parent: clipped to [9, 10]
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(10 - 5 - 1)
    assert selfs[a] == pytest.approx(2.0)
    by_name = {name: self_s for name, _, _, self_s in tr.summary()}
    assert by_name["a.child"] == pytest.approx(1.0)


def test_inactive_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x"):
        pass
    tr.active = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]


def test_ingest_checker_rejects_a_duplicate_candle_key(tmp_path):
    paths = _tick_files(tmp_path / "t", 4)
    ref = refs.candles_from_ticks(paths)
    assert refs.bad_candle_keys(ref.copy(), ref) == set()
    dup = ref.iloc[[17]]
    got = refs.pd.concat([ref, dup], ignore_index=True)
    key = (dup.iloc[0]["code"], int(dup.iloc[0]["ts_us"]))
    assert refs.bad_candle_keys(got, ref) == {key}


def test_ingest_checker_rejects_wrong_and_missing_candles(tmp_path):
    paths = _tick_files(tmp_path / "t", 3)
    ref = refs.candles_from_ticks(paths)
    got = ref.copy()
    got.loc[3, "close"] += 0.01
    got = got.drop(index=8)
    keys = {(ref.loc[i, "code"], int(ref.loc[i, "ts_us"])) for i in (3, 8)}
    assert refs.bad_candle_keys(got, ref) == keys


def test_late_tick_restates_the_reference_close(tmp_path):
    paths = _tick_files(tmp_path / "t", 4)
    ref = refs.candles_from_ticks(paths)
    t = gen.ticks(4, 2)
    late = (t["ts_us"] // 1_000_000 - gen.TICK_START_S) // gen.HOUR_S < 2
    i = int(late.argmax())
    minute = (t["ts_us"][i] // 60_000_000) * 60_000_000
    same = (t["code"] == t["code"][i]) & ((t["ts_us"] // 60_000_000) * 60_000_000 == minute)
    last = t["value"][same][-1]  # file 2 holds the minute's highest event ids
    row = ref[(ref.code == t["code"][i]) & (ref.ts_us == minute)]
    assert row["close"].item() == last


def test_query_digest_ignores_row_order_but_not_values():
    df = refs.pd.DataFrame({"ts_us": [1, 2, 3], "close": [1.5, None, 2.5]})
    assert refs.same_digest(refs.digest(df), refs.digest(df.iloc[::-1]))
    other = df.copy()
    other.loc[0, "close"] = 1.6
    assert not refs.same_digest(refs.digest(df), refs.digest(other))
    assert not refs.same_digest(refs.digest(df), refs.digest(df.iloc[:2]))
