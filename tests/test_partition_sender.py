"""The shared executor-side delivery loop in both report shapes
(net.partition_sender summed, net.row_sender per row), fed pandas
batches directly — no Spark, no sockets."""

from __future__ import annotations

import pandas as pd
import pytest

from rsyslog_spark.net import partition_sender, row_sender


class FakeConn:
    def __init__(self, log: list[str]) -> None:
        self.log = log
        log.append("open")

    def close(self) -> None:
        self.log.append("close")


def _batch(*vals: str) -> pd.DataFrame:
    return pd.DataFrame({"value": list(vals)})


def test_empty_partition_opens_no_connection():
    log: list[str] = []
    run = partition_sender(
        lambda: FakeConn(log), lambda c, pdf: (len(pdf),), "n_sent long"
    )
    for batches in ([], [_batch(), _batch()]):
        (report,) = list(run(iter(batches)))
        assert report.to_dict("list") == {"n_sent": [0]}
    assert log == []


def test_send_error_closes_connection_and_propagates():
    log: list[str] = []

    def send(conn, pdf):
        if "boom" in pdf["value"].tolist():
            raise ConnectionError("peer reset")
        return (len(pdf),)

    run = partition_sender(lambda: FakeConn(log), send, "n_sent long")
    with pytest.raises(ConnectionError, match="peer reset"):
        list(run(iter([_batch("a"), _batch("boom")])))
    assert log == ["open", "close"]


def test_counts_summed_per_partition_with_finish():
    log: list[str] = []

    def send(conn, pdf):
        return len(pdf), 10 * len(pdf)

    def finish(conn):
        log.append("finish")
        return 1, 0

    run = partition_sender(
        lambda: FakeConn(log), send, "n_messages long, n_lines long", finish
    )
    (report,) = list(run(iter([_batch("a", "b"), _batch(), _batch("c")])))
    assert report.to_dict("list") == {"n_messages": [4], "n_lines": [30]}
    # one connection for the whole partition, finish before close
    assert log == ["open", "finish", "close"]


def test_boolean_report_column_stays_boolean():
    def send(conn, pdf):
        return len(pdf), "b" in pdf["value"].tolist()

    run = partition_sender(lambda: FakeConn([]), send, "n long, seen boolean")
    (report,) = list(run(iter([_batch("a"), _batch("b"), _batch("b")])))
    assert report.to_dict("list") == {"n": [3], "seen": [True]}
    assert report["seen"].dtype == bool


def _lengths(conn, pdf):
    conn.log.append(f"send {len(pdf)}")
    return {"n": [len(v) for v in pdf["value"]]}


def test_row_shape_empty_partition_opens_no_connection():
    log: list[str] = []
    run = row_sender(lambda: FakeConn(log), _lengths)
    for batches in ([], [_batch(), _batch()]):
        assert list(run(iter(batches))) == []
    assert log == []


def test_row_shape_send_error_closes_connection_and_propagates():
    log: list[str] = []

    def send(conn, pdf):
        if "boom" in pdf["value"].tolist():
            raise ConnectionError("peer reset")
        return _lengths(conn, pdf)

    run = row_sender(lambda: FakeConn(log), send)
    with pytest.raises(ConnectionError, match="peer reset"):
        list(run(iter([_batch("a"), _batch("boom")])))
    assert log == ["open", "send 1", "close"]


def test_row_shape_columns_align_to_rows_across_batches():
    log: list[str] = []
    run = row_sender(lambda: FakeConn(log), _lengths)
    out = list(run(iter([_batch("a", "bbb"), _batch(), _batch("cc")])))
    assert [o.to_dict("list") for o in out] == [
        {"value": ["a", "bbb"], "n": [1, 3]},
        {"value": ["cc"], "n": [2]},
    ]
    # one connection for the whole partition
    assert log == ["open", "send 2", "send 1", "close"]
