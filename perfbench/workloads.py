"""The benchmark's workloads: route_write and curate.

Each workload has the same shape:

- ``generate(seed, data)``: write the seeded input parquet into a fresh
  directory (benchmark code);
- ``prepare()``: the program's own set-up over that input (encode the
  token table) — timed as part of ``setup_s``;
- ``iterate(tracer)``: one timed iteration through the program's public
  API; returns its outputs as canonical row lists, so later iterations
  can be checked against the first and the first against the oracle;
- ``read_back()``: after the timer stops, outputs read back from what
  the iteration wrote, checked the same way;
- ``oracle_check(outputs)``: compare with DuckDB over the generated
  input, using ``__spark_entry__.oracle_sql()`` texts;
- ``cuts()``: the traced run's layer cuts — each runs the pipeline up
  to and including one layer and ends there, mostly by writing a
  DataFrame that keeps only the columns the next layer reads to
  Spark's ``noop`` sink; the run times each cut;
- ``layer_metrics(...)``: the workload's per-layer metrics for the
  traced run.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from functools import reduce

from perfbench import inputs

EVENT_ROWS = 30_000
CURATE_DOCS = 1_000
TOKEN_DOCS = 250  # documents in curate's materialized token table

# curate's entries: __spark_entry__.queries() names, plus token_minhash
# (datapipe.token_minhash_pairs over the materialized token table). Each
# iteration runs ITER_ENTRIES; the traced run also times LAYER_ENTRIES,
# the four slowest (the n-gram and LSH self-joins), outside the
# iteration, so a run fits its time budget. Every entry a run executes
# is oracle-checked.
ITER_ENTRIES = [
    "dedup_exact_docs", "line_dedup", "dsir_select", "bpe_tokens", "seq_pack",
]
LAYER_ENTRIES = [
    "ngram_jaccard", "minhash_pairs", "dup_spans", "token_minhash",
]


def canon(pdf) -> list[tuple]:
    """A pandas frame as sorted tuples over sorted column names, floats
    rounded — the comparison the repo's oracle tests use."""
    cols = sorted(pdf.columns)

    def norm(v):
        if isinstance(v, float):
            return None if math.isnan(v) else round(v, 9)
        return v

    rows = [tuple(norm(r[c]) for c in cols) for r in pdf.to_dict("records")]
    return [tuple(cols)] + sorted(rows, key=repr)


def digest(outputs: dict[str, list[tuple]]) -> str:
    h = hashlib.sha256()
    for name in sorted(outputs):
        h.update(name.encode())
        h.update(repr(outputs[name]).encode())
    return h.hexdigest()


def noop(df) -> None:
    """Run ``df`` to its end and drop the rows: Spark's noop writer."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _duck(tables: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _compare(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if got[0] != want[0]:
        return [f"{name}: columns {got[0]} vs oracle {want[0]}"]
    if len(got) != len(want):
        return [f"{name}: {len(got) - 1} rows vs oracle {len(want) - 1}"]
    if got != want:
        bad = [(a, b) for a, b in zip(got, want) if a != b][:3]
        return [f"{name}: values differ from oracle, first {bad}"]
    return []


class Workload:
    name = ""
    rows = 0  # input rows the throughput is quoted per
    # layer metrics the traced run times outside its iterations
    outside_iteration: frozenset[str] = frozenset()

    def __init__(self, spark, workdir: str, level: int):
        self.spark = spark
        self.workdir = workdir
        self.level = level
        self.data = ""  # directory of the current generated input

    def generate(self, seed: int, data: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def iterate(self, tracer) -> dict:
        raise NotImplementedError

    def read_back(self) -> dict:
        """Outputs read back after the timed part of an iteration, from
        what it wrote; checked like the iteration's own outputs."""
        return {}

    def oracle_check(self, outputs: dict) -> list[str]:
        raise NotImplementedError

    def cuts(self) -> list:
        """[(layer, previous layer or None, action that runs the cut)]."""
        return []

    def layer_metrics(self, layers: dict, cut: dict, span_s, tracer) -> dict:
        """The workload's per-layer metrics in the traced run, from the
        layer times (cut minus previous cut), the raw cut times, the
        median duration of a layer span in the traced iterations, and
        counts it reads once under ``tracer``."""
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# route_write: the parse → route → aggregate → sink path
# ---------------------------------------------------------------------------

class RouteWrite(Workload):
    """Over the seeded token table, each iteration runs the read path —
    parse → route_counts, plus facility×severity×source salted counts —
    and then the write side: the lineage run (the routed table persisted
    and written as four parquet sinks, plus the _lineage tables), an
    omfile text render of one sink, and omfwd delivery of the urgent
    sink to a loopback syslog listener the benchmark hosts. The sink
    rows are read back after the timer stops."""

    name = "route_write"
    rows = EVENT_ROWS

    KEYS = ["facility", "severity", "source"]
    TEMPLATE = "RSYSLOG_TraditionalFileFormat"
    FILE_SINK = "commerce"
    NET_SINK = "urgent"
    DELIVERY_TIMEOUT_S = 30.0

    def __init__(self, spark, workdir: str, level: int):
        super().__init__(spark, workdir, level)
        from rsyslog_spark.net import SyslogTcpListener

        self.spool = f"{workdir}/spool"
        self.listener = SyslogTcpListener(self.spool)
        self._n_iter = 0
        self._spool_bytes = 0  # spool size after the last read-back
        # what the last iteration wrote and delivered (traced-run metrics)
        self.last_out_dir = ""
        self.last_bytes: dict[str, int] = {}
        self.last_net: dict[str, int] = {}

    def close(self) -> None:
        self.listener.close()

    def generate(self, seed: int, data: str) -> None:
        os.makedirs(data)
        self.data = data
        inputs.write_table(
            inputs.events(self.rows, seed), f"{data}/events.parquet", 10_000
        )

    def prepare(self) -> None:
        """The program's encode: events → rendered lines → int32 token
        arrays, written as the tokens parquet the iterations read."""
        from rsyslog_spark import corpus

        lt = corpus.logtokens(self.spark, self.data)
        lt.repartition(self.level).write.parquet(self.tokens_path)

    @property
    def tokens_path(self) -> str:
        return f"{self.data}/tokens.parquet"

    def _tokens(self):
        return self.spark.read.parquet(self.tokens_path)

    def _sink_paths(self) -> dict[str, str]:
        from rsyslog_spark import flagship

        return {s: f"{self.last_out_dir}/sinks/{s}" for s in flagship.SINKS}

    def read_back(self) -> dict:
        """The per-sink rows read back from the parquet the iteration
        wrote, and the bytes it wrote to disk and to the socket."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        paths = self._sink_paths()
        counts = dict(reduce(DataFrame.unionByName, [
            self.spark.read.parquet(p).select(F.lit(s).alias("sink"))
            for s, p in paths.items()
        ]).groupBy("sink").count().collect())
        spool = dir_bytes(self.spool)
        self.last_bytes = {
            "sinks": sum(dir_bytes(p) for p in paths.values()),
            "disk": dir_bytes(self.last_out_dir),
            "socket": spool - self._spool_bytes,
        }
        self._spool_bytes = spool
        return {"sink_rows": sorted(counts.items())}

    def iterate(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from rsyslog_spark import aggregates as agg
        from rsyslog_spark import flagship, sinks
        from rsyslog_spark.lineage import run_with_lineage
        from rsyslog_spark.net import omfwd_send
        from rsyslog_spark.parsing import parse

        if self.last_out_dir:
            shutil.rmtree(self.last_out_dir, ignore_errors=True)
        self._n_iter += 1
        out = f"{self.workdir}/out-{self._n_iter}"
        self.last_out_dir = out
        recv0 = self.listener.n_received

        router = flagship.make_router()
        parsed = parse(self._tokens())
        with tracer.span("rules.route_counts"):
            rc = (
                router.route_counts(parsed)
                .orderBy("sink")
                .select("sink", F.col("n").cast("long").alias("n"))
                .toPandas()
            )
        with tracer.span("aggregates.salted_counts"):
            ag = agg.salted_counts(parsed, self.KEYS).select(
                F.col("facility").cast("long").alias("facility"),
                F.col("severity").cast("long").alias("severity"),
                "source",
                F.col("n").cast("long").alias("n"),
            ).toPandas()
        # run_with_lineage is write_sinks' persist and four parquet sinks
        # plus the _lineage tables; write_sinks alone is a traced cut
        with tracer.span("lineage.run_with_lineage"):
            snap = run_with_lineage(router, parsed, f"{out}/sinks")
        paths = self._sink_paths()
        with tracer.span("sinks.omfile"):
            sinks.omfile(
                self.spark.read.parquet(paths[self.FILE_SINK]),
                f"{out}/omfile", template=self.TEMPLATE,
            )
        with tracer.span("net.send"):
            frames = sinks.omfwd_frame(self.spark.read.parquet(
                paths[self.NET_SINK]))
            sent = omfwd_send(frames, "127.0.0.1", self.listener.port)
            deadline = time.time() + self.DELIVERY_TIMEOUT_S
            while (self.listener.n_received - recv0 < sent
                   and time.time() < deadline):
                time.sleep(0.002)
        received = self.listener.n_received - recv0
        self.last_net = {"sent": sent, "received": received}
        lineage = {
            k: int(snap[k]) for k in snap
            if k in ("rows_in", "parse_failures") or k.startswith("routed_")
        }
        return {
            "route_counts": canon(rc),
            "agg_fac_sev_source": canon(ag),
            "lineage": sorted(lineage.items()),
            "frames": [("sent", sent), ("received", received)],
        }

    def oracle_check(self, outputs: dict) -> list[str]:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = _duck({"events": f"{self.data}/events.parquet"})
        want_rc = canon(con.sql(oracles["route_counts"]).df())
        errs = _compare("route_counts", outputs["route_counts"], want_rc)
        errs += _compare(
            "agg_fac_sev_source", outputs["agg_fac_sev_source"],
            canon(con.sql(oracles["agg_fac_sev_source"]).df()),
        )
        cols, *rows = want_rc
        want = {r[cols.index("sink")]: r[cols.index("n")] for r in rows}
        got = dict(outputs["sink_rows"])
        if got != want:
            errs.append(f"sink rows read back {got} vs oracle {want}")
        lin = dict(outputs["lineage"])
        routed = {k[len("routed_"):]: v for k, v in lin.items()
                  if k.startswith("routed_")}
        if (routed != want or lin.get("rows_in") != self.rows
                or lin.get("parse_failures") != 0):
            errs.append(f"lineage counters {lin} vs oracle {want}")
        f = dict(outputs["frames"])
        if not f["sent"] == f["received"] == want[self.NET_SINK]:
            errs.append(f"frames sent {f['sent']}, received {f['received']}, "
                        f"{self.NET_SINK} rows {want[self.NET_SINK]}")
        return errs

    def cuts(self) -> list:
        """scan → decode → parse → route predicates (with the lookup
        enrichment) → route_counts; apply → write_sinks (persist plus
        the four parquet sinks); decode → parse of the key columns →
        salted counts; and, over the file sink's parquet, sink scan →
        template render. Each noop cut keeps only what the next layer
        reads, so both sides of a difference prune the same columns."""
        from rsyslog_spark import aggregates as agg
        from rsyslog_spark import flagship
        from rsyslog_spark.parsing import decode_tokens, parse
        from rsyslog_spark.templates import compile_template

        backend = os.environ.get("SPARK_GRAFT_DECODE", "jvm")
        lt = self._tokens
        router = flagship.make_router()

        def parsed(*cols):
            return parse(lt()).select(*cols)

        rule_cols = ["facility", "severity", "programname", "msg", "source"]
        def sink_scan():
            return self.spark.read.parquet(
                f"{self.last_out_dir}/sinks/{self.FILE_SINK}"
            ).select("timereported_str", "hostname", "syslogtag", "msg")

        return [
            ("scan", None, lambda: noop(lt().select("tokens", "source"))),
            ("parsing.decode", "scan", lambda: noop(lt().select(
                decode_tokens("tokens", backend).alias("rawmsg"), "source"))),
            ("parsing.parse", "parsing.decode",
             lambda: noop(parsed(*rule_cols))),
            ("rules.apply", "parsing.parse", lambda: noop(router.apply(
                parsed(*rule_cols)
            ).select(*[f"route_{s}" for s in flagship.SINKS]))),
            ("rules.route_counts", "rules.apply",
             lambda: noop(router.route_counts(parsed(*rule_cols)))),
            ("sinks.write_sinks", "rules.apply", lambda: router.write_sinks(
                parse(lt()), f"{self.workdir}/cut-sinks")),
            ("parsing.parse_keys", "parsing.decode",
             lambda: noop(parsed(*self.KEYS))),
            ("aggregates.salted_counts", "parsing.parse_keys",
             lambda: noop(agg.salted_counts(parsed(*self.KEYS), self.KEYS))),
            ("sinks.scan", None, lambda: noop(sink_scan())),
            ("templates.render", "sinks.scan", lambda: noop(sink_scan().select(
                compile_template(self.TEMPLATE).alias("value")))),
        ]

    def layer_metrics(self, layers: dict, cut: dict, span_s, tracer) -> dict:
        from pyspark.sql import functions as F

        from rsyslog_spark import flagship
        from rsyslog_spark.parsing import parse

        from perfbench.probe import storage_facts

        with tracer.span("parsing.fail_rows"):
            bad = parse(self._tokens()).filter(~F.col("parse_success")).count()
        # the routed table persisted as write_sinks does, next to the
        # storage memory the block manager may use
        with tracer.span("sinks.persist"):
            routed = flagship.make_router().apply(parse(self._tokens()))
            routed.persist()
            try:
                routed.count()
                facts = storage_facts(self.spark)
            finally:
                routed.unpersist()
        sent, received = self.last_net["sent"], self.last_net["received"]
        return {
            "scan.s": layers["scan"],
            "parsing.decode_s": layers["parsing.decode"],
            "parsing.parse_s": layers["parsing.parse"],
            "parsing.fail_rows": bad,
            "rules.apply_s": layers["rules.apply"],
            "rules.route_counts_s": layers["rules.route_counts"],
            "aggregates.salted_counts_s": layers["aggregates.salted_counts"],
            "templates.render_s": layers["templates.render"],
            # write_sinks recomputes the routed rows, then persists and
            # writes; the sink layer is what it adds over the apply cut
            "sinks.write_s": layers["sinks.write_sinks"],
            "sinks.bytes_written": self.last_bytes["sinks"],
            "sinks.out_bytes_per_row": (
                self.last_bytes["disk"] + self.last_bytes["socket"]
            ) / self.rows,
            "sinks.persisted_bytes": facts["persisted_bytes"],
            "sinks.storage_mem_bytes": facts["storage_mem_bytes"],
            "lineage.s": (span_s("lineage.run_with_lineage")
                          - cut["sinks.write_sinks"]),
            "net.send_s": span_s("net.send"),
            "net.frames_sent": sent,
            "net.frames_received": received,
            "net.recv_ratio": received / sent if sent else 0.0,
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

class Curate(Workload):
    """The dedup/curation entries of __spark_entry__.queries() over a
    seeded documents table with planted duplicates, plus token-native
    MinHash over a materialized token table."""

    name = "curate"
    rows = CURATE_DOCS
    outside_iteration = frozenset(f"datapipe.{n}_s" for n in LAYER_ENTRIES)

    TOKEN_THRESHOLD = 0.6  # as in the registry's token_minhash entry

    def __init__(self, spark, workdir: str, level: int):
        super().__init__(spark, workdir, level)
        # LAYER_ENTRIES outputs and errors of a traced run
        self.layer_outputs: dict[str, list[tuple]] = {}
        self.layer_errors: list[str] = []

    def generate(self, seed: int, data: str) -> None:
        os.makedirs(data)
        self.data = data
        table, _kind = inputs.documents(self.rows, seed)
        inputs.write_table(table, f"{data}/documents.parquet", 1_000)

    @property
    def tokens_path(self) -> str:
        return f"{self.data}/doc_tokens.parquet"

    def prepare(self) -> None:
        """The program's encode over the first TOKEN_DOCS documents."""
        from pyspark.sql import functions as F

        from rsyslog_spark import corpus

        docs = self.spark.read.parquet(f"{self.data}/documents.parquet")
        lines = docs.filter(F.col("doc_id") < TOKEN_DOCS).select(
            F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"),
                                           12, "0")).alias("doc_id"),
            F.col("text").alias("line"),
        )
        corpus.encode_line(lines).select("doc_id", "tokens").repartition(
            self.level
        ).write.parquet(self.tokens_path)

    def _token_pairs(self):
        import __spark_entry__ as entry

        from rsyslog_spark.datapipe import token_minhash_pairs

        lt = self.spark.read.parquet(self.tokens_path)
        return token_minhash_pairs(
            lt.unionByName(entry._planted_tokens(self.spark)),
            threshold=self.TOKEN_THRESHOLD,
        )

    def _entry(self, name: str) -> list[tuple]:
        """One curate entry's output as canonical rows."""
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        if name != "token_minhash":
            return canon(entry.queries()[name](self.spark, self.data)
                         .toPandas())
        return canon(self._token_pairs().select(
            "id_a", "id_b",
            F.round(F.col("est_jaccard") * 64).cast("long")
            .alias("sig_matches"),
        ).toPandas())

    def iterate(self, tracer) -> dict:
        out = {}
        for name in ITER_ENTRIES:
            with tracer.span(f"datapipe.{name}"):
                out[name] = self._entry(name)
        return out

    def oracle_check(self, outputs: dict) -> list[str]:
        """The iteration's entries, and in a traced run the entries it
        ran outside the iteration too, each against its oracle."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = _duck({"documents": f"{self.data}/documents.parquet"})
        errs = []
        for name, got in {**outputs, **self.layer_outputs}.items():
            if name == "token_minhash":
                # the oracle knows the planted pairs only
                got = [got[0]] + [r for r in got[1:] if r[0].startswith("!p-")]
            errs += _compare(name, got, canon(con.sql(oracles[name]).df()))
        return errs + self.layer_errors

    def layer_metrics(self, layers: dict, cut: dict, span_s, tracer) -> dict:
        """Entry spans — the iteration's, and for LAYER_ENTRIES a warm
        run after one whose output the oracle checks — and LSH work:
        candidate rows out of the band-bucket self-join against near-dup
        pairs kept, for the text MinHash entry's pipeline without its
        planted-only filter."""
        import __spark_entry__ as entry

        from rsyslog_spark.datapipe import minhash_lsh_pairs

        from perfbench.probe import StatusProbe, duration

        m = {f"datapipe.{n}_s": span_s(f"datapipe.{n}") for n in ITER_ENTRIES}
        for name in LAYER_ENTRIES:
            self.layer_outputs[name] = self._entry(name)
            with tracer.span(f"datapipe.{name}") as sp:
                again = self._entry(name)
            m[f"datapipe.{name}_s"] = duration(sp)
            if again != self.layer_outputs[name]:
                self.layer_errors.append(f"{name}: second run differs")
        probe = StatusProbe(self.spark)
        with tracer.span("datapipe.lsh_pairs"):
            n_pairs = minhash_lsh_pairs(
                entry._docs_with_planted(self.spark, self.data),
                num_hashes=32, bands=8, shingle_k=3, threshold=0.8,
            ).count()
        # the candidate join is the band-bucket self-join, the only one
        # whose condition orders the pair (id_a < id_b)
        cand = max((rows for desc, rows in probe.collect()["join_rows"]
                    if " < " in desc), default=0.0)
        m["datapipe.lsh_candidate_rows"] = cand
        m["datapipe.pairs_out"] = n_pairs
        m["datapipe.lsh_useful_ratio"] = n_pairs / cand if cand else 0.0
        return m


WORKLOADS = {w.name: w for w in (RouteWrite, Curate)}
