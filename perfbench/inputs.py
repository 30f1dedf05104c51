"""Seeded input generators for the benchmark's workloads.

Both generators are pure numpy + pyarrow, so the same seed gives the
same table and, written with :func:`write_table`, the same parquet
bytes. The program under test receives only these files.

``events`` follows the schema of the repo's ``events`` table
(event_id, ts, user_id, event_type, value, props). The syslog line the
engine renders from a row is a function of event_id (see
``rsyslog_spark.corpus``), so the event ids are always exactly
0..n-1, written in a seeded order. That pins the properties the
route_write workload depends on for every seed:

- RFC5424 share: ids with id % 7 == 0, i.e. ceil(n / 7) rows;
- source skew: src0 for even ids (50 %), src1 25 %, src2 12.5 %, and
  the rest spread over src3..src15.

The seed moves timestamps, users, event types, values and the ``k``
payload, and with them the per-sink route counts.

``documents`` follows the schema of the repo's ``documents`` table
(doc_id, text, lang, source, n_chars): bag-of-words text over a fixed
vocabulary, plus a fixed planted share of exact duplicates
(byte-identical copies of an earlier original) and near duplicates
(an original with a tenth of its words replaced). Those shares are
the "how much work inputs share" property of the curate workload.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
N_USERS = 1500
TS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_SPAN_US = 30 * 86_400 * 1_000_000

VOCAB = (
    "spark window merge table column vector stream value data small "
    "batch part line order sort fast scan slow hash group filter query "
    "key agg join big row customer index cache shard page block frame "
    "token parse route sink queue trace span metric lock flush retry "
    "buffer offset commit epoch schema tuple range bucket cursor field "
    "record source target stage plan node edge graph"
).split()
# per-language stop words (the languages __spark_entry__'s oracles know)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
}
LANGS = ["en", "es", "fr", "de"]
LANG_P = [0.4, 0.2, 0.2, 0.2]
N_DOC_SOURCES = 5
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.04
NEAR_DUP_REPLACE = 0.1
DOC_WORDS = (15, 45)  # words per original document, inclusive


def events(n: int, seed: int) -> pa.Table:
    """The seeded events table: event ids 0..n-1 in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    event_id = rng.permutation(n).astype(np.int64)
    ts = TS_START_US + rng.integers(0, TS_SPAN_US, n)
    user_id = rng.integers(0, N_USERS, n)
    etype = np.array(EVENT_TYPES, dtype=object)[
        rng.integers(0, len(EVENT_TYPES), n)
    ]
    value = np.round(rng.exponential(50.0, n), 2)
    k = pa.array(rng.integers(0, 100, n)).cast(pa.string())
    props = pc.binary_join_element_wise('{"k": ', k, "}", "")
    return pa.table({
        "event_id": event_id,
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": user_id.astype(np.int64),
        "event_type": pa.array(etype, type=pa.string()),
        "value": value,
        "props": props,
    })


def planted_counts(n: int) -> tuple[int, int]:
    """(exact, near) planted duplicate counts for an n-document table."""
    return round(n * EXACT_DUP_SHARE), round(n * NEAR_DUP_SHARE)


def documents(n: int, seed: int) -> tuple[pa.Table, np.ndarray]:
    """The seeded documents table with planted exact and near dups, and
    the per-doc kind (0 original, 1 exact dup, 2 near dup), which stays
    with the benchmark and is not written out.

    Duplicates copy an *original* (never another duplicate) with a
    smaller doc_id, so every planted doc has a well-defined source."""
    rng = np.random.default_rng([seed, 2])
    n_exact, n_near = planted_counts(n)
    # the first fifth of ids are always originals; duplicates are drawn
    # from the rest and copy an original with a smaller id
    dup_ids = rng.choice(np.arange(n // 5, n), n_exact + n_near, replace=False)
    kind = np.zeros(n, dtype=np.int8)
    kind[dup_ids[:n_exact]] = 1
    kind[dup_ids[n_exact:]] = 2
    originals = np.flatnonzero(kind == 0)

    vocab = np.array(VOCAB, dtype=object)
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    texts: list[str] = [""] * n
    words_of: dict[int, np.ndarray] = {}
    for i in range(n):
        if kind[i] == 0:
            nw = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)
            w = vocab[rng.integers(0, len(vocab), nw)]
            stop = np.array(STOPWORDS[lang[i]], dtype=object)
            is_stop = rng.random(nw) < 0.1
            w[is_stop] = stop[rng.integers(0, len(stop), int(is_stop.sum()))]
            words_of[i] = w
        else:
            src = int(rng.choice(originals[originals < i]))
            w = words_of[src].copy()
            lang[i] = lang[src]
            if kind[i] == 2:
                # replace a tenth of the words (at least one), each by a
                # different word, so a near dup never equals its source
                k = max(1, round(len(w) * NEAR_DUP_REPLACE))
                pos = rng.choice(len(w), k, replace=False)
                new = vocab[rng.integers(0, len(vocab) - 1, k)]
                new[new == w[pos]] = vocab[-1]
                w[pos] = new
            words_of[i] = w
        texts[i] = " ".join(words_of[i])
    text = pa.array(texts, type=pa.string())
    source = pa.array(
        [f"src{j}" for j in rng.integers(0, N_DOC_SOURCES, n)], type=pa.string()
    )
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": pa.array(lang, type=pa.string()),
        "source": source,
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    }), kind


def write_table(table: pa.Table, path: str, row_group_size: int) -> None:
    """Write one parquet file, deterministic for a given table. Several
    row groups let Spark split the file across cores."""
    pq.write_table(
        table, path, compression="snappy", row_group_size=row_group_size
    )
