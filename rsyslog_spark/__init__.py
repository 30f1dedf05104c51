"""rsyslog_spark — a PySpark-native log analytics engine.

A from-scratch reimplementation of the query / data-processing
capabilities of rsyslog (reference: rgerhards/rsyslog, surveyed in
/root/repo/SURVEY.md) expressed as idiomatic PySpark: DataFrame plans,
Catalyst-optimizable Column expressions, broadcast-join enrichment,
partial-aggregated group-bys, and Arrow-vectorized pandas UDFs only
where SQL cannot express the semantics.

Input data model (BASELINE.json input_hint): an Iceberg/parquet table of
pre-tokenized training sequences

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

where ``decode(tokens)`` is one raw syslog line. The engine never
mutates ``tokens`` (per-row invariant: byte-identical pass-through).

Layout:
    session     SparkSession factory with scale-oriented defaults
    corpus      deterministic synthetic logtokens corpus (seed-free,
                derived arithmetically from the driver's events table)
    parsing     tokens->line decode, PRI, RFC3164/RFC5424 header parse
    rules       RainerScript-semantics rule compiler -> Column predicates
    functions   RainerScript built-in function library -> Columns
    templates   template compiler (projection operator) -> Columns
    lookup      4 lookup-table flavors as broadcast joins
    aggregates  dynstats / percentile windows / ratelimit / counters
    datapipe    training-data ops: dedup, simsearch, text quality
    streaming   Structured Streaming equivalents
    lineage     per-partition metrics via observe()
    sinks       single-pass multi-sink writers
    net/tls     imtcp/imudp/omfwd framing + TLS stream-driver auth
    beats       imbeats — Lumberjack v2 wire protocol
    relp        RELP client/listener from the public spec
    kafka_wire  Kafka record-batch v2 + Produce framing
    amqp_wire   AMQP 0-9-1 (omrabbitmq)
    amqp1_wire  AMQP 1.0 (omamqp1 / omazureeventhubs transport)
    mongo_wire  BSON + OP_MSG (ommongodb)
    redis_wire  RESP2 (omhiredis / imhiredis)
    zmtp_wire   ZMTP 3.0 (omczmq / imczmq)
    snmp_wire   SNMPv1/v2c trap BER (omsnmp)
    mmdb        MaxMind DB binary format (mmdblookup feed)
    k8s_source  imkubernetes pod-log records (CRI/docker + merge)
    sources_os  imkmsg/imjournal/imklog/imfifo/imtuxedoulog/...
"""

__version__ = "0.1.0"
