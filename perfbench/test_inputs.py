"""Pins the benchmark's seeded inputs: a seed always gives the same
bytes, and every seed keeps the properties the workloads are chosen
for. Run with ``python3 -m pytest perfbench -q`` from the repo root."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from perfbench import inputs
from rsyslog_spark.corpus import ORACLE

N_EVENTS = 7_000
N_DOCS = 500


def _sha(path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_same_seed_same_bytes(tmp_path):
    for run in ("a", "b"):
        inputs.write_table(inputs.events(N_EVENTS, 11),
                           str(tmp_path / f"ev-{run}.parquet"), 1_000)
        inputs.write_table(inputs.documents(N_DOCS, 11)[0],
                           str(tmp_path / f"doc-{run}.parquet"), 100)
    assert _sha(tmp_path / "ev-a.parquet") == _sha(tmp_path / "ev-b.parquet")
    assert _sha(tmp_path / "doc-a.parquet") == _sha(tmp_path / "doc-b.parquet")
    inputs.write_table(inputs.events(N_EVENTS, 12),
                       str(tmp_path / "ev-c.parquet"), 1_000)
    assert _sha(tmp_path / "ev-a.parquet") != _sha(tmp_path / "ev-c.parquet")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_event_properties_hold_for_every_seed(tmp_path, seed):
    """RFC5424 share and source skew, computed with the engine's own
    line-grammar fragments over the written file."""
    path = tmp_path / "events.parquet"
    inputs.write_table(inputs.events(N_EVENTS, seed), str(path), 1_000)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    n, ids, n5424, n_src0 = con.sql(
        f"SELECT count(*), count(DISTINCT event_id) FILTER "
        f"(WHERE event_id BETWEEN 0 AND {N_EVENTS - 1}), "
        f"count(*) FILTER (WHERE {ORACLE['is5424']}), "
        f"count(*) FILTER (WHERE {ORACLE['source']} = 'src0') FROM events"
    ).fetchone()
    assert n == ids == N_EVENTS
    assert n5424 == -(-N_EVENTS // 7)
    assert n_src0 == N_EVENTS // 2


def _grams(text: str) -> set[tuple[str, ...]]:
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_duplicate_share_holds_for_every_seed(seed):
    table, kind = inputs.documents(N_DOCS, seed)
    texts = table.column("text").to_pylist()
    n_exact, n_near = inputs.planted_counts(N_DOCS)
    assert (kind == 1).sum() == n_exact and (kind == 2).sum() == n_near
    for i, k in enumerate(kind):
        earlier = texts[:i]
        if k == 0:
            assert texts[i] not in earlier
        elif k == 1:
            assert texts[i] in earlier
        else:
            g = _grams(texts[i])
            best = max(len(g & _grams(t)) / len(g | _grams(t))
                       for t in earlier)
            assert texts[i] not in earlier and best >= 0.3
