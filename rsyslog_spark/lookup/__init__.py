"""Lookup tables: rsyslog's 4 enrichment flavors as Spark primitives.

Reference: runtime/lookup.c — JSON-loaded tables with a
``nomatch`` default (lookup.c:392-398), reloadable on HUP
(lookup.c:910-1050; here: rebuild the object per batch/epoch).

Flavors and their Spark realizations (SURVEY.md §2.6):

- string (exact match, lookup.c:400-416): literal-map Column for
  expression contexts, broadcast hash equi-join for bulk enrichment
- array (dense uint32 index, lookup.c:418-436): element_at on a
  literal array
- sparseArray (greatest key ≤ probe, lookup.c:437-485): as-of
  semantics — literal-array filter+max in expressions, broadcast range
  join for bulk
- regex (first matching row wins, lookup.c:486-520): coalesce of rlike

All tables are *dimension-sized* (they were in-memory hash tables in a
single rsyslog process), so every join here must broadcast — never a
shuffle of the fact side.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window


class LookupTable:
    """One loaded lookup table (any flavor)."""

    def __init__(
        self,
        name: str,
        kind: str = "string",
        table: list[tuple] | dict | None = None,
        nomatch: str = "",
    ):
        self.name = name
        self.kind = kind
        self.nomatch = nomatch
        if isinstance(table, dict):
            table = list(table.items())
        self.rows: list[tuple] = sorted(table or [], key=lambda r: r[0]) \
            if kind in ("string", "array", "sparseArray") else list(table or [])

    # --- constructors -------------------------------------------------

    @classmethod
    def from_json(cls, name: str, text: str) -> "LookupTable":
        """Parse the reference .lkp_tbl format:
        {"version":1, "nomatch":"x", "type":"string",
         "table":[{"index":k, "value":v}, ...]}"""
        doc = json.loads(text)
        rows = [(r["index"], r["value"]) for r in doc.get("table", [])]
        return cls(
            name,
            kind=doc.get("type", "string"),
            table=rows,
            nomatch=doc.get("nomatch", ""),
        )

    @classmethod
    def from_file(cls, name: str, path: str) -> "LookupTable":
        with open(path) as fh:
            return cls.from_json(name, fh.read())

    # --- expression-context lookup (Column in, Column out) -------------

    def lookup_col(self, key: Column) -> Column:
        """lookup(tbl, key) inside a filter/set expression. Compiles to
        literal structures evaluated JVM-side — right for the
        dimension-sized tables rsyslog supports (its tables lived in
        process memory too). Bulk enrichment should use enrich()."""
        if self.kind == "string":
            if not self.rows:
                return F.lit(self.nomatch)
            kv = []
            for k, v in self.rows:
                kv += [F.lit(str(k)), F.lit(str(v))]
            return F.coalesce(
                F.try_element_at(F.create_map(*kv), key.cast("string")),
                F.lit(self.nomatch),
            )
        if self.kind == "array":
            # dense: index first_key + offset (lookup.c:594-625)
            first = self.rows[0][0]
            vals = F.array(*[F.lit(str(v)) for _k, v in self.rows])
            idx = key.cast("long") - F.lit(first) + 1
            got = F.when(
                (idx >= 1) & (idx <= len(self.rows)), F.try_element_at(vals, idx.cast("int"))
            )
            return F.coalesce(got, F.lit(self.nomatch))
        if self.kind == "sparseArray":
            # greatest key <= probe (bsearch_lte, lookup.c:437-485)
            keys = F.array(*[F.lit(int(k)) for k, _v in self.rows])
            kv = []
            for k, v in self.rows:
                kv += [F.lit(int(k)), F.lit(str(v))]
            m = F.create_map(*kv)
            probe = key.cast("long")
            le = F.filter(keys, lambda k: k <= probe)
            best = F.array_max(le)
            return F.coalesce(F.try_element_at(m, best), F.lit(self.nomatch))
        if self.kind == "regex":
            # first matching regex wins (lookup.c:486-520)
            out = None
            ks = key.cast("string")
            for pat, v in self.rows:
                hit = F.when(ks.rlike(str(pat)), F.lit(str(v)))
                out = hit if out is None else F.coalesce(out, hit)
            if out is None:
                return F.lit(self.nomatch)
            return F.coalesce(out, F.lit(self.nomatch))
        if self.kind == "cidr":
            # longest-prefix match over CIDR nets — the mmdblookup /
            # GeoIP shape (contrib/mmdblookup consults libmaxminddb's
            # prefix trie; a config-sized table compiles to a coalesce
            # chain ordered by prefix length, one masked compare per
            # net, all codegen — the fact side never shuffles)
            from rsyslog_spark.functions import ipv42num

            ip = ipv42num(key.cast("string"))
            nets = []
            for cidr, v in self.rows:
                net_s, _, plen_s = str(cidr).partition("/")
                plen = int(plen_s or 32)
                import ipaddress

                mask = ((0xFFFFFFFF << (32 - plen)) & 0xFFFFFFFF) if plen else 0
                netnum = int(ipaddress.IPv4Address(net_s)) & mask
                nets.append((plen, mask, netnum, str(v)))
            nets.sort(key=lambda t: -t[0])  # most specific first
            out = None
            for _plen, mask, netnum, v in nets:
                hit = F.when(
                    ip.bitwiseAND(F.lit(mask)) == F.lit(netnum), F.lit(v)
                )
                out = hit if out is None else F.coalesce(out, hit)
            if out is None:
                return F.lit(self.nomatch)
            return F.coalesce(out, F.lit(self.nomatch))
        raise ValueError(f"unknown lookup kind {self.kind}")

    # --- bulk enrichment (broadcast joins) ------------------------------

    def to_df(self, spark) -> DataFrame:
        if self.kind in ("string", "regex"):
            return spark.createDataFrame(
                [(str(k), str(v)) for k, v in self.rows], "lkp_key string, lkp_value string"
            )
        return spark.createDataFrame(
            [(int(k), str(v)) for k, v in self.rows], "lkp_key long, lkp_value string"
        )

    def enrich(
        self, df: DataFrame, key_col: str | Column, out_col: str
    ) -> DataFrame:
        """Broadcast enrichment join; nomatch default applied."""
        key = F.col(key_col) if isinstance(key_col, str) else key_col
        if self.kind in ("regex", "cidr"):  # expression-compiled kinds
            return df.withColumn(out_col, self.lookup_col(key))
        spark = df.sparkSession
        dim = self.to_df(spark)
        if self.kind == "string":
            j = df.join(
                broadcast(dim), key.cast("string") == dim["lkp_key"], "left"
            )
            return j.withColumn(
                out_col, F.coalesce(dim["lkp_value"], F.lit(self.nomatch))
            ).drop("lkp_key", "lkp_value")
        if self.kind in ("array", "sparseArray"):
            # as-of: broadcast range join — the dim is tiny, so the
            # nested-loop stays cheap and the fact side never shuffles
            nxt = F.lead("lkp_key").over(Window.orderBy("lkp_key"))
            dim2 = dim.withColumn("lkp_next", nxt)
            cond = (key.cast("long") >= dim2["lkp_key"]) & (
                dim2["lkp_next"].isNull() | (key.cast("long") < dim2["lkp_next"])
            )
            if self.kind == "array":
                cond = key.cast("long") == dim2["lkp_key"]
            j = df.join(broadcast(dim2), cond, "left")
            return j.withColumn(
                out_col, F.coalesce(dim2["lkp_value"], F.lit(self.nomatch))
            ).drop("lkp_key", "lkp_value", "lkp_next")
        raise ValueError(f"unknown lookup kind {self.kind}")


def mmdblookup(
    df: DataFrame, table: "LookupTable", ip_col: str | Column,
    out_col: str = "geo",
) -> DataFrame:
    """contrib/mmdblookup analog: enrich rows with the longest-prefix
    CIDR match of an IP column (GeoIP/MaxMind shape). Pass a
    kind="cidr" LookupTable (config-sized, expression-compiled)."""
    if table.kind != "cidr":
        raise ValueError("mmdblookup needs a kind='cidr' LookupTable")
    return table.enrich(df, ip_col, out_col)


class ReloadingLookup:
    """reload_lookup_table / reloadOnHUP analog (lookup.c:910-1050):
    the table file is re-read at every (micro-)batch boundary, so a
    changed file takes effect on the next batch — use inside
    foreachBatch for streams, or call ``fresh()`` per batch job.
    ``stub_on_failure`` mirrors lookupReloadOrStub: a broken file
    swaps in an empty table with only the nomatch default."""

    def __init__(self, name: str, path: str, stub_on_failure: bool = True):
        self.name = name
        self.path = path
        self.stub_on_failure = stub_on_failure

    def fresh(self) -> LookupTable:
        try:
            return LookupTable.from_file(self.name, self.path)
        except Exception:
            if self.stub_on_failure:
                return LookupTable(self.name, "string", [], nomatch="")
            raise

    def enrich(self, df: DataFrame, key_col, out_col: str) -> DataFrame:
        return self.fresh().enrich(df, key_col, out_col)


def enrich_sources(df: DataFrame, sources: DataFrame, on: str = "source") -> DataFrame:
    """Per-source metadata broadcast join (north_star requirement;
    dnscache / per-source config analog, runtime/dnscache.c)."""
    return df.join(broadcast(sources), on, "left")


# --- mmkubernetes-shaped enrichment (contrib/mmkubernetes) -------------------

# The module's OWN default filename rulebase (DFLT_FILENAME_LNRULES,
# mmkubernetes.c:79-81): /var/log/containers/<pod>_<namespace>_
# <container>-<64-hex docker id>.log
K8S_FILENAME_RULES = (
    "rule=:/var/log/containers/%pod_name:char-to:_%_"
    "%namespace_name:char-to:_%_%container_name_and_id:char-to:.%.log"
)


def mmkubernetes(
    df: DataFrame,
    pod_metadata: DataFrame,
    filename_col: str = "filename",
    prefix: str = "k8s_",
) -> DataFrame:
    """contrib/mmkubernetes/mmkubernetes.c: derive kubernetes identity
    from the container-log filename using the module's default
    liblognorm rulebase (loaded through the same load_rulebase path the
    reference hands to ln_loadSamples), then enrich with pod metadata.

    The reference queries the API server per (namespace, pod) and
    caches the response in per-instance hashtables with
    cacheexpireinterval-driven expiry (mmkubernetes.c:115-123, 241).
    The Spark analog: ``pod_metadata`` IS the cache — a dimension table
    keyed by (namespace_name, pod_name) carrying whatever metadata the
    deployment syncs from the API server (labels, uid, node, ...). It
    broadcasts (pods-per-cluster is dimension-sized), and the
    cache-expiry analog is re-reading the dimension per micro-batch —
    wrap it in a ReloadingLookup-style ``spark.read`` inside
    foreachBatch so a refreshed snapshot takes effect on the next epoch
    exactly like cacheexpireinterval.

    Adds ``<prefix>pod_name / namespace_name / container_name`` (the
    64-hex docker id is split off like the reference's container
    rulebase does) plus every non-key column of ``pod_metadata``."""
    from rsyslog_spark import mm as _mm

    rules = _mm.load_rulebase(K8S_FILENAME_RULES)
    out = _mm.mmnormalize(
        df, rules, msg_col=filename_col, out_col="_k8s", rule_col="_k8s_rule"
    )
    got = lambda k: F.try_element_at("_k8s", F.lit(k))  # noqa: E731
    cont = got("container_name_and_id")
    out = (
        out.withColumn(f"{prefix}pod_name", got("pod_name"))
        .withColumn(f"{prefix}namespace_name", got("namespace_name"))
        .withColumn(
            f"{prefix}container_name",
            F.regexp_replace(cont, r"-[0-9a-f]{64}$", ""),
        )
        .drop("_k8s", "_k8s_rule")
    )
    meta = pod_metadata
    renames = {
        "pod_name": f"{prefix}pod_name",
        "namespace_name": f"{prefix}namespace_name",
    }
    for old, new in renames.items():
        meta = meta.withColumnRenamed(old, new)
    return out.join(
        broadcast(meta),
        [f"{prefix}pod_name", f"{prefix}namespace_name"],
        "left",
    )
