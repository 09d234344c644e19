"""The bench's pinned-row-count canary (round-3 lesson: a silent timestamp
corruption shrank stream_tumbling_window's output 21,388 → 25 rows and the
bench reported it as a speedup). These tests need no SparkSession."""

import bench


def test_matching_counts_no_drift():
    rows = dict(bench.EXPECTED_ROWS_BY_SF["0.1"])
    assert bench.check_row_drift(rows, "0.1") == {}


def test_corrupted_input_turns_bench_red():
    # Simulate the round-3 failure mode: a query quietly emits far fewer
    # rows. The drift check must name the query and both counts.
    rows = dict(bench.EXPECTED_ROWS_BY_SF["0.1"])
    rows["stream_tumbling_window"] = 25
    drift = bench.check_row_drift(rows, "0.1")
    assert drift == {
        "stream_tumbling_window": {"expected": 21388, "actual": 25}
    }


def test_unpinned_sf_never_blocks():
    assert bench.check_row_drift({"anything": 1}, "0.001") == {}


def test_extra_unpinned_queries_ignored():
    rows = dict(bench.EXPECTED_ROWS_BY_SF["0.1"])
    rows["brand_new_query"] = 12345
    assert bench.check_row_drift(rows, "0.1") == {}
