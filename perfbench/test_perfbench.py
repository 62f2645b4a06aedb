"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import gen
from perfbench.check import mismatch, value_hash
from perfbench.lake_model import LakeModel
from perfbench.stats import Tally, percentile, samples_beyond, tail_quantile, union_length
from perfbench.trace import metric_value, plan_metrics, rest_time


# -- percentile selection ------------------------------------------------

def test_percentile_interpolates_like_numpy():
    assert percentile([1, 2, 3, 4], 0.5) == 2.5
    assert percentile([5], 0.99) == 5
    assert percentile([1, 2, 3, 4, 5], 1.0) == 5


@pytest.mark.parametrize("n, p", [
    (10, 0.5), (19, 0.5), (21, 0.5), (24, 0.6), (34, 0.7),
    (41, 0.75), (51, 0.8), (101, 0.9), (201, 0.95), (1001, 0.99), (10001, 0.999),
])
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n, p):
    assert tail_quantile(n) == p
    if n >= 21:
        assert samples_beyond(n, p) >= 10


def test_samples_beyond_counts_strictly_above_the_position():
    assert samples_beyond(21, 0.5) == 10
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(0, 0.5) == 0


# -- interval union behind sched.driver_gap_s ------------------------------

def test_union_merges_overlaps_and_clips_to_the_op():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([(2, 3), (2, 3), (2.5, 2.6)], 0, 10) == 1
    assert union_length([], 0, 10) == 0
    assert union_length([(11, 12)], 0, 10) == 0


def test_touching_intervals_do_not_double_count():
    assert union_length([(0, 1), (1, 2)], 0, 5) == 2


# -- failure accounting --------------------------------------------------

def test_tally_counts_raises_and_mismatches_and_drops_their_latency():
    t = Tally()
    t.record("a", 0.5, None)
    t.record("b", 9.0, "raised ValueError()")
    t.record("c", 0.7, "rows 3 != 4")
    assert (t.attempted, len(t.failures)) == (3, 2)
    assert t.seconds() == [0.5]
    assert [n for n, _ in t.failures] == ["b", "c"]


# -- output check --------------------------------------------------------

def test_value_hash_ignores_row_and_column_order_and_number_width():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["p", "q", None]})
    b = pd.DataFrame({"y": [None, "p", "q"], "x": [3.0, 1.0, 2.0]})
    assert value_hash(a) == value_hash(b)
    assert mismatch(a, b) is None


def test_mismatch_names_the_difference():
    a = pd.DataFrame({"x": [1, 2]})
    assert mismatch(a, pd.DataFrame({"z": [1, 2]})).startswith("columns")
    assert mismatch(a, pd.DataFrame({"x": [1]})) == "rows 2 != 1"
    assert mismatch(a, pd.DataFrame({"x": [1, 3]})) == "values differ"
    assert mismatch(a, pd.DataFrame({"x": [1, 1, 2]})) is not None


# -- corpus table model --------------------------------------------------

def _row(k, chars=10):
    return (k, "some text", "en", "src0", chars)


def test_lake_model_append_merge_delete_and_reads():
    m = LakeModel([_row(0), _row(1), _row(2)], value=4)
    m.append([_row(3, 25)])
    with pytest.raises(ValueError):
        m.append([_row(3)])
    m.merge([_row(1, 5), _row(4)])
    assert m.point(1) == [_row(1, 5)]
    assert m.point(9) == []
    assert m.range_agg(0, 4) == (4, 10 + 5 + 10 + 25)
    assert m.delete_range(1, 3) == 2
    assert sorted(m.rows) == [0, 3, 4]
    assert m.range_agg(0, 10) == (3, 10 + 25 + 10)


def test_lake_model_delete_of_missing_range_is_zero():
    m = LakeModel([_row(5)], value=4)
    assert m.delete_range(0, 5) == 0
    assert m.range_agg(5, 6) == (1, 10)


# -- seeded inputs -------------------------------------------------------

def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen.star_schema(s, 0.0005) for s in (1, 1, 2))
    for t in gen.STAR_TABLES:
        pd.testing.assert_frame_equal(a[t], b[t])
    assert not a["orders"].equals(c["orders"])
    d1, e1 = gen.base_corpus(3, 40, 20)
    d2, e2 = gen.base_corpus(3, 40, 20)
    pd.testing.assert_frame_equal(d1, d2)
    assert all((x == y).all() for x, y in zip(e1["embedding"], e2["embedding"]))


def test_salted_shards_differ_and_shift_ids():
    docs, emb = gen.base_corpus(3, 40, 20)
    d1, e1 = gen.salt_corpus(docs, emb, 1)
    d2, e2 = gen.salt_corpus(docs, emb, 2, id_offset=1000)
    assert (d1["doc_id"] == docs["doc_id"]).all()
    assert (d2["doc_id"] == docs["doc_id"] + 1000).all()
    assert (e2["vec_id"] == emb["vec_id"] + 1000).all()
    assert not (d1["text"] == d2["text"]).any()
    assert d1["text"][0].split()[0] == "r1"
    assert (d1["n_chars"] == d1["text"].str.len()).all()
    assert e1["embedding"][0].dtype == emb["embedding"][0].dtype


# -- REST parsing --------------------------------------------------------

def test_metric_value_reads_counts_times_and_sizes():
    assert metric_value("26,136") == 26136
    assert metric_value("0 ms") == 0
    assert metric_value("1.5 KiB") == 1536
    assert metric_value("total (min, med, max (stageId: taskId))\n8.3 s (2.0 s, 2.1 s, 2.1 s (stage 6.0: task 8))") == 8300
    assert metric_value("n/a") == 0


def test_rest_time_is_utc_epoch_seconds():
    assert rest_time("1970-01-01T00:00:01.500GMT") == 1.5
    assert rest_time(None) is None


def test_plan_metrics_sum_nodes_and_measure_join_fanout():
    ex = {
        "nodes": [
            {"nodeId": 1, "nodeName": "SortMergeJoin", "metrics": [{"name": "number of output rows", "value": "300"}]},
            {"nodeId": 2, "nodeName": "Sort", "metrics": [{"name": "sort time", "value": "4 ms"}]},
            {"nodeId": 3, "nodeName": "Exchange", "metrics": [{"name": "records read", "value": "10"}, {"name": "number of partitions", "value": "8"}]},
            {"nodeId": 4, "nodeName": "Scan parquet ", "metrics": [
                {"name": "number of output rows", "value": "20"}, {"name": "number of files read", "value": "2"},
                {"name": "size of files read", "value": "1.0 MiB"}, {"name": "scan time", "value": "7 ms"}]},
            {"nodeId": 5, "nodeName": "AQEShuffleRead", "metrics": [{"name": "number of partitions", "value": "3"}]},
            {"nodeId": 6, "nodeName": "MapInPandas", "metrics": [
                {"name": "data sent to Python workers", "value": "2.0 MiB"},
                {"name": "data returned from Python workers", "value": "1.0 MiB"}]},
        ],
        "edges": [{"fromId": 2, "toId": 1}, {"fromId": 3, "toId": 2}, {"fromId": 4, "toId": 1}],
    }
    m = plan_metrics([ex])
    assert m["join.out_rows"] == 300
    assert m["join.fanout"] == 300 / (10 + 20)
    assert m["sort.ms"] == 4
    assert m["exchange.partitions"] == 3  # after AQE
    assert (m["scan.files"], m["scan.mb"], m["scan.rows"], m["scan.ms"]) == (2, 1.0, 20, 7)
    assert (m["python.sent_mb"], m["python.returned_mb"]) == (2.0, 1.0)
