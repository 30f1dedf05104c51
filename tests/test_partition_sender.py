"""The shared executor-side delivery loop (net.partition_sender), fed
pandas batches directly — no Spark, no sockets."""

from __future__ import annotations

import pandas as pd
import pytest

from rsyslog_spark.net import partition_sender


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
