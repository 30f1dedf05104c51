"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (per-sink routed counts) on sf0.001
queries()    — one entry per implemented operator (SURVEY.md §2)
oracle_sql() — DuckDB-equivalent SQL per query (pre-registered views:
               region nation customer supplier part orders lineitem
               events documents embeddings)

The log-pipeline queries run the FULL engine path (events → rendered
syslog lines → int32 tokens → decode → parse → route/aggregate) while
their oracles derive expected values *arithmetically* from the raw
events columns (fragments in rsyslog_spark.corpus.ORACLE) — the oracle
never parses anything, so agreement genuinely certifies the engine.

All numeric outputs are BIGINT/long on both sides; float columns are
avoided (integer cents for value aggregates) so value-hash comparison
is exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark import corpus, flagship
from rsyslog_spark import aggregates as agg
from rsyslog_spark import mm
from rsyslog_spark import functions as fn
from rsyslog_spark.sources import read_parquet
from rsyslog_spark.templates import compile_template

O = corpus.ORACLE  # duckdb derivation fragments

# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full decode→parse→route pipeline, per-sink counts."""
    return flagship.route_counts(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# spark-side query builders
# ---------------------------------------------------------------------------

def _events(spark, sf):
    return read_parquet(spark, f"{sf}/events.parquet")


def _docs(spark, sf):
    return read_parquet(spark, f"{sf}/documents.parquet")


def _emb(spark, sf):
    return read_parquet(spark, f"{sf}/embeddings.parquet")


def q_parse_headers(spark, sf):
    p = flagship.build_parsed(spark, sf)
    return p.select(
        "doc_id",
        F.col("pri").cast("long").alias("pri"),
        F.col("facility").cast("long").alias("facility"),
        F.col("severity").cast("long").alias("severity"),
        "hostname",
        "programname",
        "syslogtag",
        "procid",
        "msgid",
        "msg",
        "timereported_str",
        F.col("protocol_version").cast("long").alias("protocol_version"),
    )


def q_route_counts(spark, sf):
    return flagship.route_counts(spark, sf)


def q_tree_writes(spark, sf):
    """r5: `set $!key` message-tree writes end-to-end — conditional
    tree mutation + unset + subtree-template render over the parsed
    corpus; the oracle rebuilds the rendered JSON arithmetically from
    the raw events (map key order = insertion order)."""
    from rsyslog_spark.rules import Router

    p = flagship.build_parsed(spark, sf)
    script = """
set $!sev = $severity;
set $!prog = $programname;
if $severity <= 3 then { set $!urgent = "y"; }
unset $!prog;
template(name="tree" type="subtree" subtree="$!")
set $.out = exec_template("tree");
action(name="all")
"""
    out = Router(script).apply(p, keep_locals=True)
    return out.select("doc_id", F.col("local_out").alias("tree"))


def q_agg_fac_sev_source(spark, sf):
    p = flagship.build_parsed(spark, sf)
    return agg.dyn_stats(p, ["facility", "severity", "source"]).select(
        F.col("facility").cast("long").alias("facility"),
        F.col("severity").cast("long").alias("severity"),
        "source",
        F.col("n").cast("long").alias("n"),
    )


def q_dynstats_prog(spark, sf):
    p = flagship.build_parsed(spark, sf)
    return agg.dyn_stats(p, ["programname"]).select(
        "programname", F.col("n").cast("long").alias("n")
    )


def q_dynstats_capped(spark, sf):
    """dynstats maxCardinality batch analog: top-3 keys by count
    (ties → key order) + one overflow row carrying the rest."""
    p = flagship.build_parsed(spark, sf)
    return agg.dyn_stats_capped(p, ["programname"], max_cardinality=3).select(
        "programname", F.col("n").cast("long").alias("n")
    )


def q_dynstats_stream(spark, sf):
    """Streaming FIRST-SEEN cardinality admission (dynstats.c:117-126):
    one micro-batch through DynStatsStream — the 3 earliest-seen keys
    are admitted (arrival order = min event-time, tiebreak key), the
    rest land in ops_overflow."""
    from rsyslog_spark.streaming import DynStatsStream

    ds = DynStatsStream("event_type", "ts", max_cardinality=3)
    out = ds.process_batch(_events(spark, sf))
    return out.select("key", F.col("n").cast("long").alias("n"))


def q_token_roundtrip(spark, sf):
    """The north-rule per-row invariant, certified directly: tokens →
    decode → re-encode must be BYTE-IDENTICAL to the input token array
    for every row (the pipeline never mutates the token payload)."""
    from rsyslog_spark.parsing import decode_tokens

    lt = corpus.logtokens(spark, sf)
    decoded = decode_tokens(F.col("tokens"))
    reenc = F.transform(
        F.split(decoded, "(?!^)(?=.)"), lambda c: F.ascii(c).cast("int")
    )
    ok = (F.col("tokens") == reenc) & (F.size("tokens") == F.col("n_tok"))
    return lt.agg(
        F.count(F.lit(1)).cast("long").alias("rows"),
        F.sum(ok.cast("long")).cast("long").alias("roundtrip_exact"),
    )


def q_lookup_site(spark, sf):
    r = flagship.routed(spark, sf)
    return r.groupBy(F.col("local_site").alias("site")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_lookup_sparse_quartile(spark, sf):
    p = flagship.build_parsed(spark, sf)
    env = flagship.make_env()
    k = fn.cnum(fn.ltrim(fn.field(F.col("msg"), "=", 2)))
    quart = env.lookups["kquart"].lookup_col(k)
    return p.select(quart.alias("quartile")).groupBy("quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_ratelimit(spark, sf):
    ev = _events(spark, sf)
    out = agg.ratelimit(
        ev, ["user_id"], "ts", interval_seconds=3600, burst=5, tiebreak="event_id"
    )
    return out.filter("rl_pass").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pass")
    )


def q_repeat_runs(spark, sf):
    ev = _events(spark, sf)
    out = agg.last_message_repeated(ev, ["user_id"], "event_type", ["event_id"])
    return out.select(
        "user_id",
        "event_type",
        F.col("n_repeats").cast("long").alias("n_repeats"),
        F.col("event_id").cast("long").alias("event_id"),
    )


def q_perctile_value(spark, sf):
    ev = _events(spark, sf).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = agg.perctile_batch(ev, ["event_type"], "cents", [0.5, 0.95])
    return out.select(
        "event_type",
        F.col("w_min").cast("long").alias("w_min"),
        F.col("w_max").cast("long").alias("w_max"),
        F.col("w_sum").cast("long").alias("w_sum"),
        F.col("w_count").cast("long").alias("w_count"),
        F.col("p50").cast("long").alias("p50"),
        F.col("p95").cast("long").alias("p95"),
    )


def q_template_lines(spark, sf):
    p = flagship.build_parsed(spark, sf)
    line = compile_template("RSYSLOG_TraditionalFileFormat")
    return p.select("doc_id", line.alias("line"))


def q_template_options(spark, sf):
    """Property-replacer option tail: fixed-width, pos-end-relative,
    negative to-position, secpath-replace, escape-cc, jsonf with
    dataType/onEmpty (template.c:1399-1545; msg.c:4277-4730)."""
    p = flagship.build_parsed(spark, sf).withColumns(
        {
            # corpus values lack path/control chars — synthesize them so
            # the escapes have something to bite on
            "pathy": F.concat_ws("/", "source", "programname"),
            "ctl": F.concat(F.col("programname"), F.lit("\tx")),
        }
    )
    cols = {
        "fw": compile_template("%hostname:1:10:fixed-width%"),
        "tail3": compile_template("%doc_id:3:1:pos-end-relative%"),
        "neg": compile_template("%msg:2:-2%"),
        "sec": compile_template("%pathy:::secpath-replace%"),
        "ccdec": compile_template("%ctl:::escape-cc%"),
        "ccoct": compile_template("%ctl:::escape-cc-octal%"),
        "jf_num": compile_template("%procid:::jsonf,datatype-number%"),
        "jf_skip": compile_template("%msgid:::jsonf,onempty-skip%"),
        "jf_null": compile_template("%msgid:::jsonf,onempty-null%"),
    }
    return p.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def q_msg_field(spark, sf):
    p = flagship.build_parsed(spark, sf)
    return p.select(
        "doc_id", fn.field(F.col("msg"), ":", 2).alias("msgnum")
    )


def q_sd_params(spark, sf):
    p = mm.mmpstrucdata(flagship.build_parsed(spark, sf))
    return p.filter(F.col("sd_params").isNotNull()).select(
        "doc_id",
        F.try_element_at("sd_params", F.lit("k")).alias("sd_k"),
        F.try_element_at("sd_params", F.lit("src")).alias("sd_src"),
        "sd_id",
    )


def q_json_k(spark, sf):
    ev = _events(spark, sf)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select((k % 10).alias("k_mod")).groupBy("k_mod").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_functions_showcase(spark, sf):
    ev = _events(spark, sf)
    et = F.col("event_type")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        fn.toupper(et).alias("up_type"),
        fn.substring(et, 1, 3).alias("sub3"),
        fn.replace(et, "e", "E").alias("repl"),
        fn.strlen(et).cast("long").alias("slen"),
        fn.int2hex(k).alias("khex"),
        fn.num2ipv4(F.col("event_id") % 4294967296).alias("ipstr"),
        fn.wrap(et, '"').alias("wrapped"),
        fn.get_property(fn.parse_json(F.col("props")), F.lit("k")).alias(
            "k_prop"
        ),
        fn.field(F.concat(et, F.lit(",tail")), ",", 2).alias("f2"),
        fn.ltrim(F.concat(F.lit("  "), et)).alias("trimmed"),
        # round-2 tail: strftime format_time, parse_time_localtz (fixed
        # +2h zone), faup_* URL decomposition
        fn.format_time(F.unix_timestamp("ts"), "%Y/%m/%d %H:%M").alias(
            "ft_strf"
        ),
        fn.parse_time_localtz(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), tz="Etc/GMT-2"
        ).cast("long").alias("ptl"),
        fn.faup_domain(_showcase_url(et, k)).alias("u_domain"),
        fn.faup_subdomain(_showcase_url(et, k)).alias("u_sub"),
        fn.faup_tld(_showcase_url(et, k)).alias("u_tld"),
        fn.faup_port(_showcase_url(et, k)).cast("long").alias("u_port"),
        fn.faup_query_string(_showcase_url(et, k)).alias("u_query"),
        # round-3: PSL-faithful splits — multi-label public suffix
        # (co.uk) and a wildcard-rule suffix (*.kawasaki.jp)
        fn.faup_domain(_showcase_url2(et)).alias("u2_domain"),
        fn.faup_subdomain(_showcase_url2(et)).alias("u2_sub"),
        fn.faup_tld(_showcase_url2(et)).alias("u2_tld"),
        fn.faup_tld(_showcase_url3(et)).alias("u3_tld"),
        fn.faup_domain(_showcase_url3(et)).alias("u3_domain"),
        # round-3: byte-faithful XXH32 in pure JVM Column arithmetic —
        # this query's plan carries NO Python eval node (test_plans)
        fn.hash32_jvm((k % 10).cast("string")).alias("khash"),
    )


def _showcase_url(et, k):
    return F.concat(
        F.lit("https://"), et, F.lit(".example.com:8443/p?k="),
        k.cast("string"),
    )


def _showcase_url2(et):
    return F.concat(F.lit("https://"), et, F.lit(".shop.example.co.uk/x"))


def _showcase_url3(et):
    return F.concat(F.lit("http://"), et, F.lit(".foo.kawasaki.jp/"))


def q_prifilt_mail_daemon(spark, sf):
    from rsyslog_spark.rules import prifilt

    p = flagship.build_parsed(spark, sf)
    return p.filter(prifilt("mail,daemon.warning")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_propfilt_startswith(spark, sf):
    p = flagship.build_parsed(spark, sf)
    return p.filter(F.col("programname").startswith("p")).groupBy(
        "programname"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def q_cidr_lookup(spark, sf):
    """mmdblookup analog: longest-prefix CIDR match over a synthetic
    per-event IPv4 (GeoIP enrichment shape; expression-compiled, no
    fact-side shuffle)."""
    from rsyslog_spark.lookup import LookupTable, mmdblookup

    t = LookupTable(
        "nets", "cidr",
        [("10.0.0.0/8", "ten"), ("10.1.0.0/16", "ten-one"),
         ("192.168.0.0/16", "rfc1918")],
        nomatch="public",
    )
    ev = _events(spark, sf)
    ip = fn.num2ipv4((F.col("event_id") * 7919) % 4294967296)
    out = mmdblookup(ev.withColumn("ip", ip), t, "ip", "net")
    return out.groupBy("net").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_mmdb_lookup(spark, sf):
    """contrib/mmdblookup with the REAL MaxMind DB binary format
    (rsyslog_spark/mmdb.py, public spec): a deterministic .mmdb is
    built by the spec writer (nested CIDRs split into disjoint trie
    leaves), parsed back by the spec reader, exported to prefix rows,
    and compiled into the pure-Column longest-prefix enrichment — the
    whole file-format path under oracle check. 10.1.128.0/17 nests
    inside 10.1.0.0/16 inside 10.0.0.0/8 to prove longest-prefix."""
    from rsyslog_spark.mmdb import build_mmdb, mmdblookup_file

    db = build_mmdb([
        ("10.0.0.0/8", {"country": {"iso_code": "ten"}}),
        ("10.1.0.0/16", {"country": {"iso_code": "ten-one"}}),
        ("10.1.128.0/17", {"country": {"iso_code": "ten-one-high"}}),
        ("192.168.0.0/16", {"country": {"iso_code": "rfc1918"}}),
    ])
    ev = _events(spark, sf)
    eid = F.col("event_id")
    o = (eid / 5).cast("long")  # per-branch spread
    ip = (
        F.when(eid % 5 == 0, F.concat(
            F.lit("10.1."), (o % 128).cast("string"), F.lit(".9")))
        .when(eid % 5 == 1, F.concat(
            F.lit("10.1."), (128 + o % 128).cast("string"), F.lit(".9")))
        .when(eid % 5 == 2, F.concat(
            F.lit("10."), (2 + o % 250).cast("string"), F.lit(".3.9")))
        .when(eid % 5 == 3, F.concat(
            F.lit("192.168."), (o % 256).cast("string"), F.lit(".9")))
        .otherwise(F.concat(
            F.lit("172."), (o % 256).cast("string"), F.lit(".0.9")))
    )
    out = mmdblookup_file(
        ev.withColumn("ip", ip), db, "ip", "country.iso_code",
        out_col="geo", nomatch="public",
    )
    return out.groupBy("geo").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_mmanon_hosts(spark, sf):
    ev = _events(spark, sf)
    ip = fn.num2ipv4((F.col("event_id") * 7919) % 4294967296)
    anon = mm.mmanon_ip(ip, bits=16)
    return ev.select(anon.alias("anon_ip")).groupBy("anon_ip").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_mm_count(spark, sf):
    ev = _events(spark, sf)
    out = agg.mm_count(ev, ["user_id"], ["event_id"])
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("mmcount").cast("long").alias("mmcount"),
    )


def q_sender_stats(spark, sf):
    p = flagship.build_parsed(spark, sf)
    out = agg.sender_stats(p, "hostname", "doc_id")
    return out.select(
        "hostname",
        F.col("n_msgs").cast("long").alias("n_msgs"),
        F.col("first_seen").alias("first_doc"),
        F.col("last_seen").alias("last_doc"),
    )


# --- training-data pipeline -------------------------------------------------

def q_dedup_exact_docs(spark, sf):
    from rsyslog_spark.datapipe import exact_dedup

    return exact_dedup(_docs(spark, sf)).select(
        "fingerprint",
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("keep_id").cast("long").alias("keep_id"),
    )


def q_doc_token_stats(spark, sf):
    from rsyslog_spark.datapipe import token_count
    from rsyslog_spark.datapipe.textstats import bpe_ish_token_count

    d = _docs(spark, sf)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def q_langid_docs(spark, sf):
    from rsyslog_spark.datapipe import language_id

    d = language_id(_docs(spark, sf))
    return d.groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_quality_components(spark, sf):
    d = _docs(spark, sf)
    t = F.col("text")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.trim(t), r"\s+")).cast("long").alias("n_words"),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("long").alias(
            "alpha_chars"
        ),
        F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")).cast("long").alias(
            "punct_chars"
        ),
    )


def q_simsearch_topk(spark, sf):
    from rsyslog_spark.datapipe import brute_force_topk

    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def _planted_docs(spark):
    """30 synthetic documents in a NEGATIVE-id namespace (can never
    collide with real doc_ids at any sf), built so the near-dup
    pipelines' output over them is arithmetically enumerable — the
    VERDICT r3 recipe that turned embedding_dup_pairs' rows-only check
    into real evidence, applied to the text sketches:

    - A_i (id -(2i+1)): 40 globally-unique synthetic words — zero
      shingle overlap with the natural corpus or any other planted doc.
    - B_i (id -(2i+2)): the SAME text uppercased with doubled spaces —
      normalizes identically, so signatures/simhash match EXACTLY
      (est_jaccard 1.0 and band-collision recall are provable, not
      probabilistic; hamming provably 0).
    - D_i (id -(100+i)): first 20 of A_i's words + 20 fresh ones —
      true shingle jaccard ≈0.3, far below every threshold in use, so
      its exclusion is also deterministic.
    """
    base = spark.range(10).select(F.col("id").alias("i"))

    def words(i, lo, n):
        return F.transform(
            F.sequence(F.lit(lo), F.lit(lo + n - 1)),
            lambda j: F.concat(
                F.lit("pz"), i.cast("string"), F.lit("q"), j.cast("string")
            ),
        )

    i = F.col("i")
    a_text = F.array_join(words(i, 0, 40), " ")
    b_text = F.upper(F.array_join(words(i, 0, 40), "  "))
    d_text = F.array_join(
        F.concat(words(i, 0, 20), words(i, 1000, 20)), " "
    )
    a = base.select((-(2 * i + 1)).alias("doc_id"), a_text.alias("text"))
    b = base.select((-(2 * i + 2)).alias("doc_id"), b_text.alias("text"))
    d = base.select((-(100 + i)).alias("doc_id"), d_text.alias("text"))
    return a.union(b).union(d)


def _docs_with_planted(spark, sf):
    docs = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return docs.unionByName(_planted_docs(spark))


def q_minhash_pairs(spark, sf):
    """MinHash+LSH near-dup pairs over documents + planted exact-dup
    probes. The full pipeline (shingle → 32-sig affine family → 8-band
    bucket join → signature estimate) runs over the WHOLE corpus; the
    oracle-checked output is the planted namespace (id_a < 0): exactly
    the ten (B_i, A_i) pairs with all 32 signatures equal — recovering
    them proves shingling, normalization, banding, the capped bucket
    join, and the estimate; any spurious planted-involving pair fails
    the oracle."""
    from rsyslog_spark.datapipe import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        _docs_with_planted(spark, sf),
        num_hashes=32, bands=8, shingle_k=3, threshold=0.8,
    )
    return out.filter(F.col("id_a") < 0).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round(F.col("est_jaccard") * 32).cast("long").alias("sig_matches"),
    )


def q_simhash_pairs(spark, sf):
    """Multi-table-blocked SimHash near-dup pairs over documents +
    planted exact-dup probes (see _planted_docs): the oracle checks the
    planted namespace — ten pairs at hamming exactly 0, Manku-blocking
    recall provable for identical fingerprints."""
    from rsyslog_spark.datapipe import simhash_pairs

    out = simhash_pairs(_docs_with_planted(spark, sf), max_hamming=3)
    return out.filter(F.col("id_a") < 0).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_ivf_topk(spark, sf):
    """IVF-Flat ANN over the embeddings table, run with
    n_probe = n_centroids (VERDICT r4 #4): probing EVERY inverted list
    makes the result exact by construction — independent of the
    sampled k-means codebook — so DuckDB can mirror it with a plain
    cosine top-k (the full IVF machinery still executes: train,
    assign, probe-join, two-phase rank). The pruned n_probe <
    n_centroids path keeps its recall unit
    (tests/test_mm_datapipe.py)."""
    from rsyslog_spark.datapipe.simsearch import ivf_topk

    emb = _emb(spark, sf)
    queries = (
        emb.orderBy("vec_id").limit(3)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"))
    )
    out = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8)
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_rank1(spark, sf):
    """IVF-Flat with a provable slice: each planted query IS a corpus
    vector (q_id = -(vec_id+1)), so its exact-cosine rank-1 hit is
    itself — and IVF must find it, because the query's nearest
    centroid is by definition the centroid its twin was assigned to
    (same distance computation both sides), and the first probed list
    is that centroid's. The oracle enumerates the identity pairs; the
    full top-k tail stays in the rows-only `ivf_topk` query (ranks 2+
    depend on the sampled codebook)."""
    from rsyslog_spark.datapipe.simsearch import ivf_topk

    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") < 10).select(
        (-(F.col("vec_id") + 1)).cast("long").alias("q_id"),
        F.col("embedding").alias("q_vec"),
    )
    out = ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=3)
    return out.filter(F.col("rank") == 1).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
    )


def q_pii_scrub(spark, sf):
    """PII redaction over documents with planted PII spans (email, ip,
    ssn, card, phone derived arithmetically per doc) — the oracle runs
    the SAME regex stack through DuckDB's RE2, so the check proves
    regex-dialect parity, masking order, and the pii_found flag."""
    from rsyslog_spark.datapipe.textstats import pii_scrub

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    k = F.col("doc_id")
    planted = F.concat(
        F.lit(" contact u"), k.cast("string"),
        F.lit("@example.com from 10.0."), (k % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 card 4111111111111111 "
              "phone +1 (555) 123-4567"),
    )
    src = d.withColumn(
        "text",
        F.when(k % 3 == 0, F.concat(F.col("text"), planted)).otherwise(
            F.col("text")
        ),
    )
    out = pii_scrub(src)
    return out.select(
        "doc_id", F.col("scrubbed").alias("scrubbed"), "pii_found"
    )


def q_dedup_clusters(spark, sf):
    """Transitive near-dup clustering: chain edges (k, k+1) within each
    decade of 100 nodes — label propagation must carry the decade
    minimum across 9 hops; the oracle computes cluster_id = 10*(k/10)
    arithmetically."""
    from rsyslog_spark.datapipe.dedup import dedup_clusters

    edges = (
        spark.range(99)
        .filter(F.col("id") % 10 != 9)
        .select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
    )
    out = dedup_clusters(edges)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_ngram_repetition(spark, sf):
    """Gopher top-{2,3,4}-gram / dup-{5..10}-gram character fractions
    (Rae et al. 2021, Table A1) over documents rebuilt as pages with a
    doc_id-controlled amount of phrase repetition: the 5-word phrase
    repeats (doc_id % 4) times followed by 10 unique filler words. The
    oracle builds the SAME string in DuckDB and recomputes every
    n-gram count itself (group-by gram + window top-1 + dup sum) — a
    genuine SQL-logic mirror, not a planted expectation."""
    from rsyslog_spark.datapipe.textstats import ngram_repetition_stats

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    r = (F.col("doc_id") % 4).cast("int")
    phrase = F.split(F.lit("the quick brown fox jumps"), " ")
    rep = F.when(
        r > 0,
        F.flatten(
            F.transform(F.sequence(F.lit(1), r), _const_fn(phrase))
        ),
    ).otherwise(F.array().cast("array<string>"))
    filler = F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda j: F.concat(
            F.lit("u"), F.col("doc_id").cast("string"),
            F.lit("w"), j.cast("string"),
        ),
    )
    text = F.array_join(F.concat(rep, filler), " ")
    out = ngram_repetition_stats(d.withColumn("text", text))
    return out.select(
        "doc_id",
        *[f"top_{n}gram_permille" for n in (2, 3, 4)],
        *[f"dup_{n}gram_permille" for n in (5, 6, 7, 8, 9, 10)],
    )


def _const_fn(col):
    """Single-arg lambda returning a constant Column (a plain
    ``lambda _: col`` default-capture is safe here, but the factory
    keeps the 2-arg (element, index) HOF gotcha impossible)."""
    return lambda _elem: col


def q_repetition(spark, sf):
    """Gopher repetition signals over documents rebuilt as multi-line
    pages with an arithmetically-controlled duplicate-line rate (line
    j of doc i repeats with period (i%4)+2) — the oracle recomputes
    line/word duplicate fractions from the same construction."""
    from rsyslog_spark.datapipe.textstats import repetition_stats

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    i = F.col("doc_id")
    period = (i % 4) + 2
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda j: F.concat(
                F.lit("line "), i.cast("string"), F.lit(" v"),
                (j % period).cast("string"),
            ),
        ),
        "\n",
    )
    out = repetition_stats(d.withColumn("text", text))
    return out.select(
        "doc_id", "n_lines", "dup_line_permille", "dup_word_permille"
    )


def _curation_page():
    """Deterministic multi-line page derived from doc_id (the corpus
    docs are single-line): a good opening line, a too-short line, a
    boilerplate footer SHARED by every doc, a unique good line, a
    banned-substring line, and (every third doc) a within-doc
    duplicate of the opening line. The oracle rebuilds the identical
    page in SQL and runs the REAL filter/dedup logic on it."""
    i = F.col("doc_id")
    l1 = F.concat(F.lit("Document "), i.cast("string"),
                  F.lit(" begins with a fine line."))
    base = F.concat_ws(
        "\n",
        l1,
        F.lit("short"),
        F.lit("Shared boilerplate footer line."),
        F.concat(F.lit("Unique content for document "),
                 i.cast("string"), F.lit("!")),
        F.lit("this line has javascript inside."),
    )
    return F.when(i % 3 == 0, F.concat(base, F.lit("\n"), l1)).otherwise(
        base
    )


# the same page in DuckDB SQL (string concat mirrors _curation_page)
_CURATION_PAGE_SQL = (
    "'Document ' || doc_id || ' begins with a fine line.' || chr(10) ||"
    " 'short' || chr(10) ||"
    " 'Shared boilerplate footer line.' || chr(10) ||"
    " 'Unique content for document ' || doc_id || '!' || chr(10) ||"
    " 'this line has javascript inside.' ||"
    " CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Document ' || doc_id ||"
    " ' begins with a fine line.' ELSE '' END"
)


def q_c4_filter(spark, sf):
    """C4-style line cleaning (Raffel et al. 2020 §2.2): terminal-
    punctuation + min-words + banned-substrings line filter with
    within-doc first-occurrence dedup and a min-surviving-lines doc
    gate — the DuckDB oracle re-runs the SAME filter with list
    lambdas over the identically-constructed pages."""
    from rsyslog_spark.datapipe.curation import c4_line_filter

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _curation_page().alias("text"),
    )
    out = c4_line_filter(d, min_words_per_line=3, min_lines=2)
    return out.select(
        "doc_id",
        F.col("keep_doc").cast("long").alias("keep"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("long").alias("n_lines_dropped"),
        "clean_text",
    )


def q_line_dedup(spark, sf):
    """C4's cross-document duplicate-span removal at line granularity:
    every duplicated line keeps exactly one corpus-wide occurrence
    (smallest doc_id, pos); docs re-assemble in original order. The
    shared footer/short/banned lines survive only in doc 0."""
    from rsyslog_spark.datapipe.curation import global_line_dedup

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _curation_page().alias("text"),
    )
    out = global_line_dedup(d)
    return out.select(
        "doc_id",
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("long").alias("n_lines_dropped"),
        "clean_text",
    )


def q_seq_pack(spark, sf):
    """Greedy sequence packing for training batches: docs in id order
    within 8 buckets, appended to the current bin while the token
    budget (150) holds. The DuckDB oracle replays the same greedy
    scan as a recursive CTE."""
    from rsyslog_spark.datapipe.curation import pack_sequences

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens"),
    )
    out = pack_sequences(
        d, max_tokens=150, n_buckets=8,
        bucket_expr=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return out.select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("bin_id").cast("long").alias("bin_id"),
        F.col("bin_fill").cast("long").alias("bin_fill"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def q_corpus_mix(spark, sf):
    """Deterministic mixture building: per-source sampling rates via
    a seeded LCG draw (exact-binary rates so the SQL mirror is
    boundary-identical) plus a hard cap on src1 keeping the smallest
    draws."""
    from rsyslog_spark.datapipe.curation import corpus_mix

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("domain"),
    )
    out = corpus_mix(
        d,
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        caps={"src1": 8},
        default_rate=0.125,
        seed=42,
    )
    return out.select(
        "doc_id", "domain", F.col("_draw").cast("long").alias("draw")
    )


def q_decontaminate(spark, sf):
    """Benchmark decontamination: docs sharing any 13-word-gram with
    the 'benchmark' (docs 0-4 play the eval set) are flagged. Exact
    string-gram mode so the DuckDB oracle recomputes the flag set with
    its own shingling — natural 13-gram sharing in the corpus counts
    too, not just the planted benchmark members themselves."""
    from rsyslog_spark.datapipe.dedup import contamination_flags

    docs = _docs(spark, sf)
    bench = docs.filter(F.col("doc_id") < 5)
    out = contamination_flags(docs, bench, hashed=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "contaminated"
    )


def q_media_frames(spark, sf):
    """Video frame-sampling plumbing. r5: oracle-checked — the
    sampled-frame CONTRACT (which media fan out, frame indices,
    uniform timestamps over duration, frame payload size) is fully
    arithmetic over synth_media's construction; only the frame BYTES
    themselves are the documented stub (deterministic rotation — their
    length still equals the source payload's, which the oracle
    checks)."""
    from rsyslog_spark.datapipe.multimodal import frame_sample, synth_media

    media = synth_media(spark, 64)
    return frame_sample(media, n_frames=4).select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.length(F.col("frame_payload")).cast("long").alias(
            "n_frame_bytes"
        ),
    )


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) per-item keep decisions over
    constructed 8-dim vectors with a FIXED one-hot codebook, so the
    oracle can mirror the whole pipeline in SQL: cluster = the
    one-hot axis (vec_id % 4), perturbation magnitude (vec_id % 5)
    * 0.15 on a paired axis makes exact duplicate groups (same
    (axis, magnitude)) with ~0.99 cosine separation from neighbors;
    DuckDB recomputes every pairwise cosine itself
    (list_cosine_similarity self-join + the same farthest-from-
    centroid-first, id-tie-break ordering)."""
    from rsyslog_spark.datapipe.simsearch import semdedup

    e = _emb(spark, sf).select(
        F.col("vec_id").cast("long").alias("vec_id")
    )
    a = F.col("vec_id") % 4
    p = (F.col("vec_id") % 5).cast("double") * 0.15
    dims = []
    for d in range(8):
        dims.append(
            F.when(a == d, F.lit(1.0))
            .when(a + 4 == d, p)
            .otherwise(F.lit(0.0))
        )
    e = e.withColumn("emb", F.array(*dims))
    centroids = [
        [1.0 if d == ax else 0.0 for d in range(8)] for ax in range(4)
    ]
    out = semdedup(
        e, centroids=centroids, threshold=0.99,
        id_col="vec_id", vec_col="emb",
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster").cast("long").alias("cluster"),
        "keep", "capped",
    )


def q_embedding_dup_pairs(spark, sf):
    """Embedding near-dup pairs via hyperplane LSH + verify-in-bucket.
    The synthetic corpus has NO natural near-dups (max pairwise cosine
    ≈0.46), which would make a rows-only check vacuous — so ten
    PLANTED near-duplicates (the same vector with one dimension
    nudged, cosine ≈0.9999) are unioned in under a NEGATIVE-id
    namespace that can never collide with real vec_ids at any scale
    factor; finding exactly those pairs is the recall evidence."""
    from rsyslog_spark.datapipe import embedding_dedup_pairs

    emb = _emb(spark, sf)
    planted = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            (-(F.col("vec_id") + 1)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + F.when(i == 0, F.lit(0.001)).otherwise(
                    F.lit(0.0)
                ),
            ).alias("embedding"),
        )
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    return embedding_dedup_pairs(
        corpus, threshold=0.99, n_planes=10, dim=64
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


def q_media_decode(spark, sf):
    """r5: REAL format decoding under oracle check — payloads are
    actual PPM images / PCM WAV audio with arithmetically-known
    dimensions (synth_media_real), decoded by the real numpy/stdlib
    decoders; the DuckDB oracle enumerates the expected width/height/
    sample-rate/frame-count outputs from the same arithmetic. Codec
    rows (mp4) exercise the tagged digest-stub path."""
    from rsyslog_spark.datapipe import decode_media_batch
    from rsyslog_spark.datapipe.multimodal import synth_media_real

    out = decode_media_batch(synth_media_real(spark, 64), n_features=8)
    f = lambda i: F.try_element_at(F.col("features"), F.lit(i + 1))  # noqa: E731
    return out.select(
        "media_id", "modality", "decode_ok",
        # f0/f2: image → (width, channels); audio → (rate, frames);
        # digest rows → -1 sentinels (floats stay out of the compare)
        F.when(F.col("decode_ok") != "ok:digest", f(0).cast("long"))
        .otherwise(F.lit(-1)).alias("f0"),
        F.when(F.col("decode_ok") != "ok:digest", f(2).cast("long"))
        .otherwise(F.lit(-1)).alias("f2"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


def q_foreach_sevens(spark, sf):
    """foreach statement: count msg ':'-fields containing '7', per
    element (ruleset.c:310-401 semantics)."""
    from rsyslog_spark.rules import Router

    script = """
foreach ($.f in split($msg, ":")) do {
    if $.f contains "7" then { action(name="sevens") }
}
action(name="all")
"""
    p = flagship.build_parsed(spark, sf)
    return Router(script).route_counts(p).select(
        "sink", F.col("n").cast("long").alias("n")
    )


def q_foreach_fold(spark, sf):
    """`set` of outer locals inside foreach — the accumulator fold
    (ruleset.c:310-401 shared mutable vars, compiled to aggregate();
    rules/router._compile_foreach_fold): per message, count the
    ':'-fields and those containing '7', then route on the POST-LOOP
    values. The oracle derives both counts per event arithmetically
    and aggregates — it never runs a fold."""
    from rsyslog_spark.rules import Router

    script = """
foreach ($.f in split($msg, ":")) do {
    if $.f contains "7" then { set $.sevens = $.sevens + 1; }
    set $.parts = $.parts + 1;
}
if $.sevens > 0 then { action(name="has7") }
if $.parts >= 3 then { action(name="wide") }
action(name="all")
"""
    p = flagship.build_parsed(spark, sf)
    return Router(script).route_counts(p).select(
        "sink", F.col("n").cast("long").alias("n")
    )


def q_window_counts(spark, sf):
    """Tumbling event-time window × event_type counts (the streaming
    windowed_dynstats shape, run in batch)."""
    ev = _events(spark, sf)
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )


NGRAM_DF_MAX = 100  # candidate-generation document-frequency cap


def q_ngram_jaccard(spark, sf):
    """Exact 3-gram Jaccard pairs ≥ 0.5 as integer triples (id_a, id_b,
    n_inter, na, nb) — integer outputs keep the hash compare exact.

    Candidate pairs come ONLY from shingles with document frequency in
    [2, NGRAM_DF_MAX] (bounds the k² blowup of a hot shingle); the
    jaccard itself is verified EXACTLY on the full shingle arrays via
    array_intersect. The oracle SQL applies the identical cap."""
    from rsyslog_spark.datapipe.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _docs(spark, sf), shingle_k=3, threshold=0.5, df_max=NGRAM_DF_MAX
    )
    return pairs.select(*[
        F.col(c).cast("long").alias(c)
        for c in ("id_a", "id_b", "n_inter", "na", "nb")
    ])


def q_legacy_conf(spark, sf):
    """Classic sysklogd-style conf routed through LegacyRouter."""
    from rsyslog_spark.rules.legacy import LegacyRouter

    conf = """
mail,daemon.warning      /var/log/facilities
:programname, isequal, "error"   @@central:514
*.=debug                 ~
*.*                      /var/log/catchall
+host13
*.*                      /var/log/host13_only
+*
!purchase
*.*                      /var/log/purchase_tagged
!*
"""
    p = flagship.build_parsed(spark, sf)
    return LegacyRouter(conf).route_counts(p).select(
        "sink", F.col("n").cast("long").alias("n")
    )


def q_bound_rulesets(spark, sf):
    """Per-source ruleset binding: src0 and src1 get their own rule
    programs, everything else falls back."""
    from rsyslog_spark.rules.router import BoundRouter

    script = """
ruleset(name="hot") {
    if $syslogseverity <= 5 then { action(name="hot_important") }
    action(name="hot_all")
}
ruleset(name="warm") { action(name="warm_all") }
ruleset(name="cold") { action(name="cold_all") }
"""
    p = flagship.build_parsed(spark, sf)
    r = BoundRouter(
        script, bindings={"src0": "hot", "src1": "warm"}, default="cold"
    )
    return r.route_counts(p).select(
        "sink", F.col("n").cast("long").alias("n")
    )


def q_mmnormalize(spark, sf):
    """Rulebase template extraction (the mmnormalize/grok flagship):
    first-match-wins rules pull typed fields out of MSG."""
    rules = [
        mm.NormalizeRule("msgnum:%num:number%: k=%kval:number%"),
        mm.NormalizeRule("%head:word% %rest:rest%"),
    ]
    p = flagship.build_parsed(spark, sf)
    out = mm.mmnormalize(p.withColumn("msg", F.ltrim("msg")), rules)
    return out.select(
        "doc_id",
        F.col("norm_rule").cast("long").alias("norm_rule"),
        F.try_element_at("norm", F.lit("num")).alias("num"),
        F.try_element_at("norm", F.lit("kval")).alias("kval"),
    )


# liblognorm v1 rulebase (loaded via mm.load_rulebase — the
# mmnormalize.c:102-172 file-loading path) over the RAW syslog line:
# typed date fields, char-to, discard (%-) and annotate= constants.
RULEBASE_TEXT = r"""version=1
# RFC5424 frame: <pri>1 TS host prog pid msgid SD msg
rule=r5424:<%pri:number%>1 %ts:date-rfc5424% %host:word% %prog:word% %pid:number% %-:word% %-:rest%
annotate=r5424:+proto="5424"
# RFC3164 frame: <pri>MMM _d HH:MM:SS host prog[pid]: msg
rule=r3164:<%pri:number%>%ts:date-rfc3164% %host:word% %prog:char-to:\x5b%[%pid:number%]: %-:rest%
annotate=r3164:+proto="3164"
"""


def q_rulebase_grok(spark, sf):
    """Loaded-rulebase extraction over the raw line + mmgrok field pull
    from MSG — the mmnormalize-file + mmgrok coverage query."""
    p = flagship.build_parsed(spark, sf)
    rules = mm.load_rulebase(RULEBASE_TEXT)
    out = mm.mmnormalize(p, rules, msg_col="rawmsg")
    out = mm.mmgrok(out, r"msgnum:%{NONNEGINT:msgnum}: k=%{NONNEGINT:kval}")
    nval = lambda k: F.try_element_at("norm", F.lit(k))  # noqa: E731
    gval = lambda k: F.try_element_at("grok", F.lit(k))  # noqa: E731
    return out.select(
        "doc_id",
        F.col("norm_rule").cast("long").alias("norm_rule"),
        nval("pri").try_cast("long").alias("pri"),
        nval("host").alias("host"),
        nval("prog").alias("prog"),
        nval("pid").try_cast("long").alias("pid"),
        nval("proto").alias("proto"),
        F.col("grok_success").cast("long").alias("grok_ok"),
        gval("msgnum").alias("msgnum"),
        gval("kval").alias("kval"),
    )


# liblognorm v2 rulebase: repeat (array-of-objects) + alternative
# (first-participating-branch) parser blocks, the v2 subset
# (liblognorm v2 syntax doc; plugins/mmnormalize loads via ln_loadSamples)
RULEBASE_V2_TEXT = (
    "version=2\n"
    'rule=v2:evt %prog:word% vals %{"name":"vals","type":"repeat",'
    '"parser":{"type":"number","name":"v"},'
    '"while":{"type":"literal","text":","}}% '
    'st=%{"type":"alternative","parser":[{"type":"number","name":"stn"},'
    '{"type":"alpha","name":"stw"}]}%\n'
)

# r5: depth-2 composite — a repeat of repeats (arbitrary nesting landed
# in NormalizeRule._compile_element; VERDICT r4 #7)
RULEBASE_V2_DEEP_TEXT = (
    "version=2\n"
    'rule=v2deep:grp %{"name":"g","type":"repeat","parser":['
    '{"type":"repeat","name":"ids","parser":[{"name":"n","type":"number"}],'
    '"while":{"type":"literal","text":"+"}}],'
    '"while":{"type":"literal","text":";"}}%\n'
)


def q_rulebase_v2(spark, sf):
    """v2 repeat/alternative extraction: a repeat-shaped line is
    derived per message from the parsed corpus, then a LOADED v2
    rulebase pulls the repeat back out as the JSON array liblognorm
    would emit, plus whichever alternative branch participated."""
    p = flagship.build_parsed(spark, sf)
    kv = F.regexp_extract(F.col("msg"), r"k=(\d+)", 1).cast("int")
    line = F.concat(
        F.lit("evt "), F.col("programname"), F.lit(" vals "),
        kv.cast("string"), F.lit(","),
        ((kv + 1) % 100).cast("string"), F.lit(","),
        ((kv * 2 + 1) % 100).cast("string"), F.lit(" st="),
        F.when(
            F.col("severity") <= 3, F.col("severity").cast("string")
        ).otherwise(F.col("programname")),
    )
    # r5: a depth-2 line (repeat of '+'-joined id runs, ';'-separated)
    # exercises the recursive element compiler end-to-end
    line2 = F.concat(
        F.lit("grp "), kv.cast("string"), F.lit("+"),
        ((kv + 1) % 100).cast("string"), F.lit(";"),
        ((kv * 7) % 100).cast("string"),
    )
    rules = mm.load_rulebase(RULEBASE_V2_TEXT)
    out = mm.mmnormalize(
        p.withColumns({"line": line, "line2": line2}), rules,
        msg_col="line",
    )
    out = mm.mmnormalize(
        out, mm.load_rulebase(RULEBASE_V2_DEEP_TEXT), msg_col="line2",
        out_col="norm2", rule_col="norm2_rule",
    )
    nval = lambda k: F.try_element_at("norm", F.lit(k))  # noqa: E731
    return out.select(
        "doc_id",
        F.col("norm_rule").cast("long").alias("norm_rule"),
        nval("prog").alias("prog"),
        nval("vals").alias("vals"),
        nval("stn").try_cast("long").alias("stn"),
        nval("stw").alias("stw"),
        F.coalesce(
            F.try_element_at("norm2", F.lit("g")), F.lit("")
        ).alias("deep"),
    )


def q_session_stats(spark, sf):
    """Gap-based sessionization over the event stream: per source,
    sessions split on >300s inter-event gaps; one row per session."""
    from rsyslog_spark.corpus import _SRC_CASE

    ev = _events(spark, sf).withColumn(
        "source",
        F.concat(F.lit("src"), F.expr(_SRC_CASE).cast("string")),
    )
    out = agg.sessionize(ev, "source", "ts", gap_seconds=300,
                         tiebreak_col="event_id")
    return out.select(
        "source",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("start_ep").cast("long").alias("start_ep"),
        F.col("end_ep").cast("long").alias("end_ep"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("duration_secs").cast("long").alias("duration_secs"),
    )


def q_corpus_filter(spark, sf):
    """Training-corpus quality gate: language + length + alpha + punct
    rules with first-failing reason — the standard pre-training filter
    stack over the documents table."""
    from rsyslog_spark.datapipe.textstats import corpus_filter

    d = corpus_filter(_docs(spark, sf), min_words=8, max_words=5000,
                      min_alpha_ratio=0.6, max_punct_ratio=0.1)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keep").cast("long").alias("keep"),
        F.col("reason").alias("reason"),
    )


def _planted_tokens(spark):
    """Token-array analog of _planted_docs: ids '!p-{a,b,d}-NN' sort
    before every natural 'doc-…' id and cannot collide with them. A/B
    are byte-identical 60-token streams from a reserved value range
    (10000+, disjoint from ASCII log tokens and from each other per i),
    D shares only the first 30 tokens (27 of 57 4-grams → true J≈0.31,
    deterministically below the 0.6 threshold)."""
    base = spark.range(10).select(F.col("id").alias("i"))
    i = F.col("i")

    def toks(lo, n):
        return F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda j: (lo + i * 100 + j).cast("int"),
        )

    def pid(kind):
        return F.concat(
            F.lit(f"!p-{kind}-"), F.lpad(i.cast("string"), 2, "0")
        )

    a = base.select(pid("a").alias("doc_id"), toks(10000, 60).alias("tokens"))
    b = base.select(pid("b").alias("doc_id"), toks(10000, 60).alias("tokens"))
    d = base.select(
        pid("d").alias("doc_id"),
        F.concat(toks(10000, 30), toks(90000, 30)).alias("tokens"),
    )
    return a.union(b).union(d)


def q_token_minhash(spark, sf):
    """Token-NATIVE near-dup pairs: MinHash over the tokens array<int>
    itself (one xxhash64 per 4-gram slice), no decode — the dedup
    shape the input table (doc_id, tokens, n_tok, source) calls for.
    Planted byte-identical token streams (see _planted_tokens) make the
    output oracle-checkable: exactly the ten ('!p-a-NN','!p-b-NN')
    pairs with all 64 signatures equal."""
    from rsyslog_spark.datapipe import token_minhash_pairs

    lt = corpus.logtokens(spark, sf).select(
        "doc_id", F.col("tokens").cast("array<int>").alias("tokens")
    )
    out = token_minhash_pairs(
        lt.unionByName(_planted_tokens(spark)), threshold=0.6
    )
    return out.filter(F.col("id_a").startswith("!p-")).select(
        "id_a", "id_b",
        F.round(F.col("est_jaccard") * 64).cast("long").alias("sig_matches"),
    )


def q_drain_templates(spark, sf):
    """True-Drain second stage (textstats.drain_templates): three
    planted template families derived arithmetically from events —
    one that MERGES under the 0.8 similarity threshold (only the user
    token varies → '<*>'), one that stays split (3 of 6 tokens vary,
    sim 0.5), and one constant — the oracle recomputes all merged
    templates and counts without mining anything."""
    from rsyslog_spark.datapipe.textstats import drain_templates

    ev = _events(spark, sf)
    k = (F.col("event_id") % 10).cast("int")
    letter = F.lit("abcdefghij").substr(k + 1, F.lit(1))
    fam = F.col("event_id") % 3
    msg = (
        F.when(
            fam == 0,
            F.concat(
                F.lit("conn established from 10.0."),
                (F.col("event_id") % 256).cast("string"),
                F.lit(".1 port 443 user u"), letter,
            ),
        )
        .when(
            fam == 1,
            F.concat(
                F.lit("worker u"), letter, F.lit(" status v"), letter,
                F.lit(" phase w"), letter,
            ),
        )
        .otherwise(F.lit("heartbeat ok"))
    )
    out = drain_templates(ev.select(msg.alias("msg")), threshold=0.8)
    return out.select("template", F.col("n").cast("long").alias("n"))


def q_log_templates(spark, sf):
    """Drain-style log template mining over the parsed stream: mask
    variable parts (IP/hex/digits), group by (program, template)."""
    from rsyslog_spark.datapipe.textstats import log_templates

    p = flagship.build_parsed(spark, sf)
    # prefix the program for a meaningful per-shape breakdown
    out = log_templates(
        p.withColumn(
            "msg", F.concat(F.col("programname"), F.lit("|"), F.col("msg"))
        ),
        "msg",
    )
    return out.select(
        F.col("template"), F.col("n").cast("long").alias("n")
    )


def q_leef_fields(spark, sf):
    """mmleefparse coverage: a LEEF event derived per message is parsed
    back into header + extension fields (plugins/mmleefparse)."""
    from rsyslog_spark.parsing.devices import mmleefparse

    ev = _events(spark, sf)
    k = F.get_json_object("props", "$.k").cast("long")
    line = F.concat(
        F.lit("LEEF:1.0|RsyslogSpark|pipeline|3.0|"), F.col("event_type"),
        F.lit("|src=10.0."), (k % 256).cast("string"),
        F.lit(".1\tseq="), F.col("event_id").cast("string"),
        F.lit("\tuser=u"), (F.col("user_id") % 32).cast("string"),
    )
    out = mmleefparse(ev.withColumn("leef_line", line), msg_col="leef_line")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("leef.header.vendor").alias("vendor"),
        F.col("leef.header.event_id").alias("leef_event"),
        F.try_element_at("leef.fields", F.lit("src")).alias("src"),
        F.try_element_at("leef.fields", F.lit("seq")).try_cast("long").alias(
            "seq"
        ),
        F.try_element_at("leef.fields", F.lit("user")).alias("usr"),
    )


def q_impstats(spark, sf):
    """impstats/statsobj analog (lineage.LineageTracker): observe()
    counters ride the SAME job as the routed data — rows_in,
    parse_failures, and per-sink routed counts — then surface as
    metric rows exactly like impstats injects counter messages.
    Driver-side materialization is METRICS ONLY (a handful of longs,
    impstats-sized), never data. The oracle recomputes every counter
    from the raw events table."""
    from rsyslog_spark.lineage import LineageTracker

    p = flagship.build_parsed(spark, sf)
    r = flagship.make_router()
    routed = r.apply(p, keep_locals=True)
    sinks = list(dict.fromkeys(a.sink for a in r.actions))
    tr = LineageTracker(sinks)
    inst = tr.instrument(routed)
    inst.agg(F.count(F.lit(1))).collect()  # one action; metrics ride it
    snap = tr.snapshot()
    rows = [
        ("rows_in", int(snap["rows_in"])),
        ("parse_failures", int(snap["parse_failures"])),
    ] + [(f"routed_{s}", int(snap[f"routed_{s}"])) for s in sorted(sinks)]
    return spark.createDataFrame(rows, "metric string, value long")


def q_win_events(spark, sf):
    """mmsnareparse + snare_event_metadata end-to-end: 50 Snare
    Windows-event lines synthesized arithmetically (event ids cycle
    through the logon/privilege/filtering families, logon types sweep
    g_logonTypeMap) are tab-split, section-parsed, and mapped through
    g_eventMappings/g_logonTypeMap — the oracle recomputes every output
    column from the same arithmetic without parsing anything."""
    from rsyslog_spark.parsing.devices import (
        mmsnareparse, snare_event_metadata,
    )

    base = spark.range(50).select(F.col("id").alias("i"))
    i = F.col("i")
    s = lambda c: c.cast("string")  # noqa: E731
    ev_id = F.element_at(
        F.array(F.lit(4624), F.lit(4625), F.lit(4672), F.lit(5157),
                F.lit(4634)),
        (i % 5).cast("int") + 1,
    )
    is_logon = (i % 5) < 2
    audit = F.when(
        ev_id.isin(4625, 5157), F.lit("Failure Audit")
    ).otherwise(F.lit("Success Audit"))
    logon_desc = F.concat(
        F.lit("An account event.    Subject:   Security ID:  S-1-5-"),
        s(i),
        F.lit("   Account Name:  USER"), s(i),
        F.lit("   Account Domain:  DOM"), s(i),
        F.lit("    Logon Information:   Logon Type:  "), s(i % 14),
        F.lit("    Network Information:   Source Network Address: 10.0."),
        s(i % 256), F.lit("."), s((2 * i) % 256),
        F.lit("   Source Port:  "), s(40000 + i),
        # r5: inline Remote Credential Guard + semicolon LAPS Context
        # sections (mmsnareparse.c:539-542) with arithmetic values
        F.lit("    Remote Credential Guard:  "),
        F.when(i % 2 == 0, F.lit("Enabled")).otherwise(F.lit("Disabled")),
        F.lit("    LAPS Context:  PolicyVersion="), s(i % 9),
        F.lit("; CredentialRotation="),
        F.when(i % 3 == 0, F.lit("True")).otherwise(F.lit("False")),
    )
    # r5: the 5157 rows carry a TLS Inspection section (c:543-544)
    tls_desc = F.concat(
        F.lit("A blocked connection.    TLS Inspection:   Reason:  "),
        F.lit("Reason-"), s(i), F.lit("   Policy:  Pol"), s(i % 3),
    )
    desc = (
        F.when(is_logon, logon_desc)
        .when(ev_id == 5157, tls_desc)
        .otherwise(F.lit("A system event occurred."))
    )
    msg = F.concat(
        F.lit("MSWinEventLog\t1\tSecurity\t"), s(100 + i),
        F.lit("\tTue Feb 18 06:42:17 2025\t"), s(ev_id),
        F.lit("\tMicrosoft-Windows-Security-Auditing\tN/A\tN/A\t"),
        audit, F.lit("\tHOST"), s(i % 7), F.lit("\tCat\t\t"), desc,
    )
    out = snare_event_metadata(
        mmsnareparse(base.select("i", msg.alias("msg")))
    )
    # null-free projection (the driver's order-insensitive compare
    # sorts row tuples; None is unorderable against str): absent
    # strings → '', absent numerics → -1, mirrored in the oracle
    s = lambda c: F.coalesce(c, F.lit(""))  # noqa: E731
    n = lambda c: F.coalesce(c, F.lit(-1).cast("long"))  # noqa: E731
    return out.select(
        n(F.col("win")["RecordNumber"]).alias("rec"),
        n(F.col("win")["EventID"]).alias("event_id"),
        s(F.col("win_event")["Category"]).alias("category"),
        s(F.col("win_event")["Subtype"]).alias("subtype"),
        s(F.col("win_event")["Outcome"]).alias("outcome"),
        n(F.col("win_logon")["LogonType"]).alias("logon_type"),
        s(F.col("win_logon")["LogonTypeName"]).alias("logon_type_name"),
        s(F.col("win_logon")["Subject"]["AccountName"]).alias("account"),
        s(F.col("win_logon")["SourceNetworkAddress"]).alias("src_addr"),
        n(F.col("win_logon")["SourcePort"]).alias("src_port"),
        # r5 TLS/LAPS/RCG sections (booleans coalesce to false: the
        # null-free rule for the driver's sorted-tuple compare)
        F.coalesce(F.col("win_rcg")["Enabled"], F.lit(False)).alias("rcg"),
        n(F.col("win_laps")["PolicyVersion"]).alias("laps_ver"),
        F.coalesce(F.col("win_laps")["CredentialRotation"],
                   F.lit(False)).alias("laps_rot"),
        s(F.col("win_tls")["Reason"]).alias("tls_reason"),
        s(F.col("win_tls")["Policy"]).alias("tls_policy"),
        F.col("win_valid").alias("valid"),
    )


def q_perctile_window(spark, sf):
    """Sliding ring-buffer percentile window (perctile_stats analog):
    per event_type, last-5-rows min/max/count/p50 ordered by event_id."""
    ev = _events(spark, sf).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = agg.perctile_window(
        ev, "event_type", "cents", "event_id", window_size=5,
        percentiles=[0.5],
    )
    return out.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("w_min").cast("long").alias("w_min"),
        F.col("w_max").cast("long").alias("w_max"),
        F.col("w_count").cast("long").alias("w_count"),
        F.col("p50").cast("long").alias("p50"),
    )


# fixed, operand-consistent merge table for the bpe_tokens contract
# query (a merge's operands always have lower ranks than the merge
# itself, like any table bpe_train would learn). Exercises depth-4
# nesting (t a b l e -> table) and greedy rank priority ("row" takes
# (r,o)@4 before (o,w)@11; "slow" takes (o,w)).
BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
    ("r", "o"), ("ro", "w"), ("s", "t"), ("a", "st"), ("f", "ast"),
    ("u", "e"), ("a", "n"), ("o", "w"),
]


def q_bpe_tokens(spark, sf):
    """Greedy BPE tokenization stats over documents with a fixed merge
    table (datapipe.tokenize.bpe_apply — Arrow UDF, per-batch word
    memo, map-only). The DuckDB oracle replays the SAME greedy
    lowest-rank-first merge loop per distinct word via a recursive CTE,
    so token counts are compared against an independent implementation
    of BPE, not a SQL approximation."""
    from rsyslog_spark.datapipe.tokenize import bpe_token_stats

    out = bpe_token_stats(_docs(spark, sf), BPE_MERGES)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words", "n_bpe", "compression_permille",
    )


def q_global_vars(spark, sf):
    """`$/` global variables (rules/globals.py): a RainerScript
    accumulator script compiled to window aggregates — running count,
    conditional running count, running sum, and last-set value over a
    single logical store ordered by event_id (the reference's
    one-worker semantics; worker_col shards the store at scale).
    Everything stays JVM-side: no interpreter, no Python."""
    from rsyslog_spark.rules.compiler import Env
    from rsyslog_spark.rules.router import Router

    ev = _events(spark, sf).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    env = Env(props={
        "$event_type": ("event_type", "S"),
        "$user_id": (F.col("user_id").cast("string"), "S"),
        "$value_cents": ("cents", "N"),
    })
    script = """
    set $/n = $/n + 1;
    if $event_type == "click" then {
        set $/clicks = $/clicks + 1;
        set $/last_click_user = $user_id;
    }
    set $/cents = $/cents + $value_cents;
    action(name="out")
    """
    r = Router(script, env, globals_order="event_id")
    out = r.apply(ev)
    return out.where("route_out").select(
        F.col("event_id").cast("long").alias("event_id"),
        env.resolve("$/n")[0].cast("long").alias("n_so_far"),
        F.coalesce(env.resolve("$/clicks")[0].cast("long"), F.lit(0))
        .alias("clicks_so_far"),
        env.resolve("$/cents")[0].cast("long").alias("cents_so_far"),
        env.resolve("$/last_click_user")[0].alias("last_click_user"),
    )


def q_global_vars2(spark, sf):
    """r5 continuation `$/` forms (rules/globals.py segmented model):
    multiple statements per name — an accumulate reset to 0 by a
    conditional ASSIGN on error rows — and UNSET clearing a last-set
    value until the next write. The oracle states both as plain SQL
    window algebra (rows-since-last-error via row_number difference;
    last-marker-wins via last_value IGNORE NULLS)."""
    from rsyslog_spark.rules.compiler import Env
    from rsyslog_spark.rules.router import Router

    ev = _events(spark, sf)
    env = Env(props={
        "$event_type": ("event_type", "S"),
        "$user_id": (F.col("user_id").cast("string"), "S"),
    })
    script = """
    set $/n = $/n + 1;
    if $event_type == "error" then set $/n = 0;
    if $event_type == "signup" then set $/u = $user_id;
    if $event_type == "purchase" then unset $/u;
    action(name="out")
    """
    r = Router(script, env, globals_order="event_id")
    out = r.apply(ev)
    return out.where("route_out").select(
        F.col("event_id").cast("long").alias("event_id"),
        env.resolve("$/n")[0].cast("long").alias("n_since_err"),
        env.resolve("$/u")[0].alias("last_signup_user"),
    )


def q_dup_spans(spark, sf):
    """Exact-substring duplicate-span removal (Lee et al. ExactSubstr,
    word-13-gram granularity): non-first occurrences of any duplicated
    13-gram are masked out; output has per-doc removal stats plus an
    md5 of the surviving text. Planted exact-duplicate docs (negative
    ids) make removal deterministic; the DuckDB oracle recomputes the
    whole pipeline independently (window first-occurrence + list
    masking). hashed=False so grams stay SQL-comparable."""
    from rsyslog_spark.datapipe.dedup import duplicate_span_stats

    return duplicate_span_stats(
        _docs_with_planted(spark, sf), k=13, hashed=False
    )


def q_url_filter(spark, sf):
    """C4-style URL blocklist filter (curation.url_filter): a
    deterministic per-doc URL (subdomain + multi-label co.uk suffixes)
    is cut to its PSL registered domain via faup_domain and gated on a
    blocklist; blocking a registered domain blocks its subdomains.
    The oracle derives the same URL arithmetically and maps hosts to
    registered domains by the PSL rule spelled out as CASE arms — so
    the Spark side's actual PSL walk is checked against an independent
    statement of the expected eTLD+1 cuts."""
    from rsyslog_spark.datapipe.curation import url_filter

    d = _docs(spark, sf).select(F.col("doc_id").cast("long").alias("doc_id"))
    sub = F.concat(
        F.lit("s"), (F.col("doc_id") % 4).cast("string")
    )
    apex = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("example.com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("sample.co.uk"))
        .otherwise(F.lit("tracker.org"))
    )
    d = d.withColumn(
        "_url",
        F.concat(F.lit("https://"), sub, F.lit("."), apex,
                 F.lit("/p/"), F.col("doc_id").cast("string")),
    )
    out = url_filter(
        d, blocked_domains=["tracker.org", "sample.co.uk"], url_col="_url"
    )
    return out.select("doc_id", "url_domain", "url_blocked")


def q_curation_pipeline(spark, sf):
    """Composite curation pipeline — quality gate → exact dedup
    (first-win per fingerprint among survivors) → benchmark
    decontamination — composed in ONE job: per-doc keep flags are
    plain Columns, so the whole pipeline is a single scan + one
    contamination semi-join + one final aggregate (no intermediate
    materialization). Output is the per-stage survivor funnel."""
    from pyspark.sql import Window
    from rsyslog_spark.datapipe.dedup import _norm_text, contamination_flags
    from rsyslog_spark.datapipe.textstats import corpus_filter

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # three planted English duplicate pairs (negative ids) so the
    # exact-dedup stage provably removes rows: natural sf corpora have
    # no full-text duplicates after normalization
    pairs = [
        "the data and the table are in the same group for the test run",
        "the fast scan and the slow merge share the same key in the plan",
        "the batch and the stream write to the same sink for the query",
    ]
    planted = spark.createDataFrame(
        [(-(2 * i + 1), t) for i, t in enumerate(pairs)]
        + [(-(2 * i + 2), t) for i, t in enumerate(pairs)],
        "doc_id long, text string",
    )
    d = d.unionByName(planted)
    q = corpus_filter(
        d, min_words=8, max_words=5000,
        min_alpha_ratio=0.6, max_punct_ratio=0.1,
    ).select("doc_id", "text", F.col("keep").alias("keep_q"))
    first_kept = F.min(
        F.when(F.col("keep_q"), F.col("doc_id"))
    ).over(Window.partitionBy(F.md5(_norm_text(F.col("text")))))
    q = q.withColumn(
        "keep_d", F.col("keep_q") & (F.col("doc_id") == first_kept)
    )
    cont = contamination_flags(
        d, d.where((F.col("doc_id") >= 0) & (F.col("doc_id") < 5)),
        hashed=False,
    )
    return q.join(cont, "doc_id").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("keep_q").cast("long")).alias("n_quality"),
        F.sum(F.col("keep_d").cast("long")).alias("n_dedup"),
        F.sum(
            (F.col("keep_d") & ~F.col("contaminated")).cast("long")
        ).alias("n_final"),
    )


def q_device_parse(spark, sf):
    """pmciscoios + pmlastmsg parser chain end-to-end: three message
    dialects are rendered per event (Cisco IOS sequenced frame,
    'last message repeated n times', plain base row) and the chain
    must rewrite exactly the rows whose dialect matches
    (plugins/pmciscoios/pmciscoios.c, plugins/pmlastmsg/pmlastmsg.c).
    The oracle re-derives every output column arithmetically."""
    from rsyslog_spark.parsing import devices as dev

    ev = _events(spark, sf)
    eid = F.col("event_id")
    sev = F.expr(corpus._SEV_CASE)
    pri = (F.col("user_id") % 24) * 8 + sev
    kval = F.get_json_object("props", "$.k")
    ts_cisco = F.concat(
        F.date_format("ts", "MMM"),
        F.format_string("%3d", F.dayofmonth("ts")),
        F.lit(" "),
        F.date_format("ts", "HH:mm:ss"),
    )
    mnem = F.concat(
        F.lit("%SYS-"), sev.cast("string"), F.lit("-"),
        F.upper("event_type"),
    )
    cisco_line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"),
        eid.cast("string"), F.lit(": host"),
        (F.col("user_id") % 32).cast("string"), F.lit(": *"),
        ts_cisco, F.lit(": "), mnem, F.lit(": cfg k="), kval,
    )
    lastmsg_line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">last message repeated "),
        (eid % 50 + 1).cast("string"), F.lit(" times"),
    )
    plain_line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">plain k="), kval
    )
    raw = (
        F.when(eid % 3 == 0, cisco_line)
        .when(eid % 3 == 1, lastmsg_line)
        .otherwise(plain_line)
    )
    base = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        (eid % 3).cast("long").alias("variant"),
        raw.alias("rawmsg"),
        F.lit("basehost").alias("hostname"),
        F.lit("basetag:").alias("syslogtag"),
        F.lit("base").alias("programname"),
        F.lit("basemsg").alias("msg"),
        F.lit("-").alias("timereported_str"),
        F.lit(False).alias("parse_success"),
    )
    out = dev.parser_chain(base, [dev.pmciscoios, dev.pmlastmsg])
    return out.select(
        "doc_id",
        "variant",
        F.coalesce(F.col("cisco_seq"), F.lit(-1)).cast("long").alias(
            "cisco_seq"
        ),
        F.coalesce(F.col("repeat_count"), F.lit(-1)).cast("long").alias(
            "repeat_count"
        ),
        F.coalesce(F.col("hostname"), F.lit("")).alias("hostname"),
        F.coalesce(F.col("programname"), F.lit("")).alias("programname"),
        F.coalesce(F.col("syslogtag"), F.lit("")).alias("syslogtag"),
        F.coalesce(F.col("timereported_str"), F.lit("")).alias("tsr"),
        F.coalesce(F.col("msg"), F.lit("")).alias("msg"),
        F.col("parse_success").cast("long").alias("ok"),
    )


def q_cee_json(spark, sf):
    """mmjsonparse @cee-cookie path (plugins/mmjsonparse): rows carry
    either a '@cee: {json}' MSG (parsed into the message tree) or a
    plain MSG (parse failure, fields stay empty)."""
    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    cee_msg = F.concat(
        F.lit('@cee: {"k": '), kval,
        F.lit(', "ev": "'), F.col("event_type"),
        F.lit('", "id": '), eid.cast("string"), F.lit("}"),
    )
    plain_msg = F.concat(F.lit("plain k="), kval)
    df = ev.withColumn(
        "msg", F.when(eid % 5 == 0, plain_msg).otherwise(cee_msg)
    )
    out = mm.mmjsonparse(df)
    return out.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        F.coalesce(F.try_element_at("cee", F.lit("k")), F.lit("")).alias(
            "cee_k"
        ),
        F.coalesce(F.try_element_at("cee", F.lit("ev")), F.lit("")).alias(
            "cee_ev"
        ),
        F.coalesce(F.try_element_at("cee", F.lit("id")), F.lit("")).alias(
            "cee_id"
        ),
        F.col("parse_json_success").cast("long").alias("ok"),
    )


def q_msg_fixups(spark, sf):
    """mmrm1stspace + mmutf8fix + mmtaghostname + mmsequence in one
    chain: MSGs are rendered with a deterministic leading space
    (event_id%2=0) and an embedded 0x01 control byte (event_id%3=0);
    rows with event_id%5=0 simulate the 3164 tag-stolen-as-hostname
    shape that mmtaghostname repairs; mmsequence numbers the corpus
    by doc_id. Every fixup's effect is arithmetically derivable."""
    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    body = F.concat(
        F.lit("msgnum:"), F.lpad(eid.cast("string"), 8, "0"),
        F.when(eid % 3 == 0, F.lit("\x01")).otherwise(F.lit(" ")),
        F.lit("k="), kval,
    )
    msg = F.when(eid % 2 == 0, F.concat(F.lit(" "), body)).otherwise(body)
    df = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        msg.alias("msg"),
        F.when(eid % 5 == 0, F.concat(F.lit("stolen"), F.col("event_type")))
        .otherwise(F.lit("h1")).alias("hostname"),
        F.when(eid % 5 != 0, F.lit("t:")).alias("syslogtag"),
    )
    df = mm.mmrm1stspace(df)
    df = mm.mmutf8fix(df)
    df = mm.mmtaghostname(df)
    df = agg.mm_sequence(df, ["doc_id"])
    return df.select(
        "doc_id",
        "msg",
        F.coalesce(F.col("hostname"), F.lit("")).alias("hostname"),
        F.coalesce(F.col("syslogtag"), F.lit("")).alias("syslogtag"),
        F.col("seq").cast("long").alias("seq"),
    )


def q_kmsg_parse(spark, sf):
    """imkmsg /dev/kmsg structured-record parse (contrib/imkmsg/
    kmsg.c:68-190): records are synthesized per event — including
    continuation-property lines and a malformed 1-in-11 slice the
    parser must reject — and every extracted field is arithmetically
    derivable from the raw events row."""
    from rsyslog_spark import sources_os as so

    ev = _events(spark, sf)
    eid = F.col("event_id")
    sev = F.expr(corpus._SEV_CASE)
    pri = (F.col("user_id") % 24) * 8 + sev
    kval = F.get_json_object("props", "$.k")
    props_tail = F.when(
        eid % 2 == 0,
        F.concat(
            F.lit("\n SUBSYSTEM=sub"), (eid % 4).cast("string"),
            F.lit("\n DEVICE=d"), (F.col("user_id") % 9).cast("string"),
        ),
    ).otherwise(F.lit(""))
    good = F.concat(
        pri.cast("string"), F.lit(","),
        eid.cast("string"), F.lit(","),
        (eid * 997 + 13).cast("string"), F.lit(",-;kern k="),
        kval, props_tail,
    )
    rec = F.when(eid % 11 == 0, F.lit("6,naked")).otherwise(good)
    df = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        rec.alias("record"),
    )
    out = so.kmsg_parse(df).where("kmsg_valid")
    return out.select(
        "doc_id",
        F.col("pri").cast("long").alias("pri"),
        F.col("facility").cast("long").alias("facility"),
        F.col("severity").cast("long").alias("severity"),
        F.col("sequnum").cast("long").alias("sequnum"),
        F.col("usec_since_boot").cast("long").alias("usec"),
        "msg",
        F.coalesce(
            F.try_element_at("props", F.lit("SUBSYSTEM")), F.lit("")
        ).alias("subsystem"),
        F.coalesce(
            F.try_element_at("props", F.lit("DEVICE")), F.lit("")
        ).alias("device"),
    )


def q_klog_lines(spark, sf):
    """imklog line semantics (sources_os.klog_parse): kernel
    [secs.usecs] timestamp extraction+strip, systemd dual-PRI,
    parsePRI bounds, default-PRI fallback — five line shapes
    synthesized per event, every output arithmetically derivable."""
    from rsyslog_spark import sources_os as so

    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    pri2 = (8 + F.col("user_id") % 184).cast("string")  # 8..191
    line = (
        F.when(eid % 5 == 0, F.concat(
            F.lit("<6>["), eid.cast("string"), F.lit("."),
            (eid % 1000000).cast("string"), F.lit("] usb k="), kval))
        .when(eid % 5 == 1, F.concat(F.lit("<6>core k="), kval))
        .when(eid % 5 == 2, F.concat(
            F.lit("<6><"), pri2, F.lit(">fwd k="), kval))
        .when(eid % 5 == 3, F.concat(F.lit("raw k="), kval))
        .otherwise(F.concat(F.lit("<200>bad k="), kval))
    )
    df = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        line.alias("line"),
    )
    out = so.klog_parse(df, permit_non_kernel=True)
    return out.select(
        "doc_id",
        F.col("pri").cast("long").alias("pri"),
        F.col("facility").cast("long").alias("facility"),
        F.col("severity").cast("long").alias("severity"),
        "msg",
        "syslogtag",
        F.coalesce(F.col("ktime_secs"), F.lit(-1))
         .cast("long").alias("ksecs"),
        F.coalesce(F.col("ktime_usecs"), F.lit(-1))
         .cast("long").alias("kusecs"),
    )


def q_k8s_records(spark, sf):
    """imkubernetes end-to-end (rsyslog_spark/k8s_source.py): pods
    path metadata, CRI + docker json-file parsing, and CRI partial
    merging — one synthetic pod-log file per event carrying a P,P,F
    run, a standalone F, or a docker record."""
    from rsyslog_spark.k8s_source import k8s_records

    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    path = F.concat(
        F.lit("/var/log/pods/ns"), (eid % 5).cast("string"),
        F.lit("_pod"), (eid % 7).cast("string"),
        F.lit("_uid"), eid.cast("string"),
        F.lit("/app/"), (eid % 4).cast("string"), F.lit(".log"),
    )
    stream = F.when(eid % 2 == 0, F.lit("stdout")).otherwise(
        F.lit("stderr")
    )
    triple = F.array(
        F.concat(F.lit("2024-01-01T00:00:01Z "), stream,
                 F.lit(" P a"), kval, F.lit("-")),
        F.concat(F.lit("ts "), stream, F.lit(" P b-")),
        F.concat(F.lit("ts "), stream, F.lit(" F c"), kval),
    )
    single = F.array(
        F.concat(F.lit("ts "), stream, F.lit(" F solo "), kval)
    )
    docker = F.array(F.concat(
        F.lit('{"log":"dock '), kval,
        F.lit('\\n","stream":"stderr"}'),
    ))
    lines = (
        F.when(eid % 3 == 0, triple)
        .when(eid % 3 == 1, single)
        .otherwise(docker)
    )
    rows = ev.select(
        path.alias("path"), F.posexplode(lines).alias("idx", "line")
    )
    out = k8s_records(rows)
    return out.select(
        "path",
        F.col("k8s.namespace_name").alias("ns"),
        F.col("k8s.pod_name").alias("pod"),
        F.col("k8s.restart_count").cast("long").alias("restart"),
        "stream",
        "msg",
        F.col("n_merged").cast("long").alias("n_merged"),
        F.col("format_name").alias("fmt"),
    )


def q_token_dup_spans(spark, sf):
    """Token-native ExactSubstr dedup (datapipe.dedup.token_dup_spans)
    over synthetic ``tokens array<int>`` with provable structure: a
    20-token block shared by every m=0 doc (first doc keeps it, the
    rest lose all 20 covered positions), unique-run m=1 docs (nothing
    removed), and self-repeated m=2 docs (the second copy's 15 tokens
    removed). The oracle reconstructs counts AND the cleaned-token md5
    arithmetically."""
    from rsyslog_spark.datapipe.dedup import token_dup_spans

    ev = _events(spark, sf)
    eid = F.col("event_id")
    common = F.sequence(F.lit(7).cast("long"), F.lit(26).cast("long"))
    tail = F.sequence(eid * 100, eid * 100 + 9)
    m1 = F.sequence(eid * 100, eid * 100 + 24)
    b = F.sequence(eid * 100, eid * 100 + 14)
    toks = (
        F.when(eid % 3 == 0, F.concat(common, tail))
        .when(eid % 3 == 1, m1)
        .otherwise(F.concat(b, b))
    ).cast("array<int>")
    df = ev.select(
        eid.cast("long").alias("doc_id"), toks.alias("tokens")
    )
    return token_dup_spans(df, k=13)


def q_gopher_quality(spark, sf):
    """Gopher document-quality rules (datapipe.textstats.
    gopher_quality, Rae et al. 2021 A1.1): word-count band, mean word
    length, symbol/bullet/ellipsis ratios, alpha-word floor, stop-word
    minimum — every component an integer permille the oracle
    recomputes."""
    from rsyslog_spark.datapipe.textstats import gopher_quality

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    out = gopher_quality(d)
    return out.select(
        "doc_id",
        "g_n_words",
        "g_mean_wl_pm",
        "g_symbol_pm",
        "g_alpha_pm",
        "g_stop_hits",
        F.col("gopher_pass").cast("long").alias("gopher_pass"),
    )


def q_lm_quality(spark, sf):
    """CCNet-style unigram-LM quality score over the documents table
    (datapipe.textstats.unigram_lm_quality): corpus-trained token
    frequencies, integer-exact bit-length weights, permille score."""
    from rsyslog_spark.datapipe.textstats import unigram_lm_quality

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return unigram_lm_quality(d).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("lm_score").cast("long").alias("lm_score"),
    )


def q_dsir_select(spark, sf):
    """DSIR importance resampling (datapipe.curation.dsir_select,
    Xie et al. 2023): hashed-unigram bucket LMs for target (lang='en')
    vs raw corpus, integer-exact bit-length log-prob proxies, and the
    deterministic top-k resample (wt_sum desc, seeded draw, id)."""
    from rsyslog_spark.datapipe.curation import dsir_select

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
    )
    return dsir_select(d, F.col("lang") == "en", 100).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("wt_sum").cast("long").alias("wt_sum"),
    )


def q_nb_lang(spark, sf):
    """Multinomial Naive Bayes classifier (datapipe.textstats.
    nb_classify) — the fastText-style curation-classifier analog:
    train on the documents table's lang labels, predict every doc.
    Integer-exact half-bit log-prob weights make the argmax (and the
    lexicographic tie-break) bit-identical in plain SQL."""
    from rsyslog_spark.datapipe.textstats import nb_classify

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
    )
    return nb_classify(d, "lang").select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "pred_class",
        F.col("score").cast("long").alias("score"),
    )


def q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail perplexity bucketing (datapipe.curation.
    ccnet_buckets, Wenzek et al. 2020 §3): per-language terciles over
    the integer-exact corpus-LM quality score via SQL-standard
    ntile — the paper's release unit, bit-reproducible end to end."""
    from rsyslog_spark.datapipe.curation import ccnet_buckets

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
    )
    return ccnet_buckets(d)


def q_q8_codes(spark, sf):
    """Int8 scalar quantization of the embeddings table (datapipe.
    simsearch.quantize_embeddings): per-vector symmetric codes
    floor(x/max|x|*127 + .5), exploded to (vec_id, pos, code) — the
    oracle recomputes every code in SQL and the comparison is
    integer-exact (IEEE double arithmetic agrees bit-for-bit)."""
    from rsyslog_spark.datapipe.simsearch import quantize_embeddings

    emb = _emb(spark, sf)
    return quantize_embeddings(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.posexplode("codes").alias("pos", "code"),
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("code").cast("long").alias("code"),
    )


def q_q8_topk(spark, sf):
    """Quantized ANN top-k (datapipe.simsearch.quantized_topk):
    integer dot products over int8 codes — scores ≤ dim·127² are
    exact in both long and double arithmetic, so the FULL top-k
    (scores, ranks, tie-breaks) is oracle-checkable, unlike any
    float-scored ANN variant."""
    from rsyslog_spark.datapipe.simsearch import quantized_topk

    emb = _emb(spark, sf)
    queries = (
        emb.orderBy("vec_id").limit(3)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"))
    )
    out = quantized_topk(emb, queries, k=5)
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_pq_codes(spark, sf):
    """Product-quantization encoding (datapipe.simsearch.pq_encode,
    Jégou et al. 2011): every vector → 8 per-subspace argmin-centroid
    codes. The codebook here is a FIXED arithmetic grid
    (cb[s][c][d] = ((7c+3d+s) mod 16)/8 − 1 — exact eighths), so the
    oracle recomputes every squared-L2 argmin in SQL with identical
    IEEE arithmetic and the codes compare integer-exactly; the
    TRAINED-codebook path is covered by the ADC recall unit."""
    from rsyslog_spark.datapipe.simsearch import pq_encode

    books = [
        [
            [((7 * c + 3 * d + s) % 16) / 8.0 - 1.0 for d in range(8)]
            for c in range(16)
        ]
        for s in range(8)
    ]
    emb = _emb(spark, sf)
    return pq_encode(emb, books).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.posexplode("pq_codes").alias("s", "code"),
    ).select(
        "vec_id",
        F.col("s").cast("long").alias("s"),
        F.col("code").cast("long").alias("code"),
    )


def q_corpus_stats(spark, sf):
    """Per-source corpus analysis report (datapipe.textstats.
    corpus_stats): doc counts, token sum/min/max, nearest-rank
    p50/p95 token counts via per-group sort + row_number (no
    group-sized arrays), vocab size, and permille type-token ratio."""
    from rsyslog_spark.datapipe.textstats import corpus_stats

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
    )
    return corpus_stats(d)


def q_url_dedup(spark, sf):
    """URL-level dedup on the canonical key (curation.url_dedup /
    url_canonicalize): two planted surface forms per doc — cased
    scheme+host, default :443 port, trailing slash, utm_ tracking
    param, fragment — collapse to one canonical URL per doc_id%25
    group. The oracle states the expected canonical string and
    survivor BY CONSTRUCTION (independent arithmetic, not the same
    regex stack), so every canonicalization branch is value-checked."""
    from rsyslog_spark.datapipe.curation import url_dedup

    d = _docs(spark, sf).select(F.col("doc_id").cast("long").alias("doc_id"))
    m = (F.col("doc_id") % 25).cast("string")
    host = F.concat(F.lit("h"), m, F.lit(".example.com"))
    plain = F.concat(
        F.lit("https://"), host, F.lit("/p/"), m
    )
    noisy = F.concat(
        F.lit("HTTPS://"), F.upper(host), F.lit(":443/p/"), m,
        F.lit("/?utm_source=a#f"),
    )
    d = d.withColumn(
        "url",
        F.when(F.col("doc_id") % 2 == 0, plain).otherwise(noisy),
    )
    return url_dedup(d).select("doc_id", "canon_url", "is_url_dup")


def q_chunk_windows(spark, sf):
    """Sliding context-window chunking (tokenize.chunk_sequences,
    chunk_len=16 / stride=8 — the GPT-2 eval striding): one row per
    window with start offset, token count, joined text, and the
    tail flag; the oracle re-derives every window with SQL list
    slicing over the same pre-tokenization."""
    from rsyslog_spark.datapipe.tokenize import chunk_sequences

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return chunk_sequences(d, chunk_len=16, stride=8)


def q_pcap_fields(spark, sf):
    """impcap field promotion (contrib/impcap eth/ipv4/udp parsers):
    Ethernet+IPv4+UDP frames are synthesized per event as hex Columns
    (unhex → binary), then the pure-Column byte-slice parser must
    recover every header field and the payload."""
    from rsyslog_spark import pcap

    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    payload = F.concat(F.lit("pkt k="), kval)
    pkt = F.unhex(
        pcap.build_udp_packet_hex(
            [F.lit(10), F.lit(0), F.col("user_id") % 256, eid % 256],
            [F.lit(172), F.lit(16), F.lit(0), F.col("user_id") % 7],
            F.lit(1024) + eid % 1000,
            F.lit(514),
            payload,
        )
    )
    df = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        pkt.alias("packet"),
    )
    out = pcap.packet_parse(df)
    return out.select(
        "doc_id",
        F.col("ether_type").cast("long").alias("ether_type"),
        F.col("ip_proto").cast("long").alias("ip_proto"),
        F.col("ip_ttl").cast("long").alias("ip_ttl"),
        F.col("ip_total_len").cast("long").alias("ip_total_len"),
        "src_ip",
        "dst_ip",
        F.col("src_port").cast("long").alias("src_port"),
        F.col("dst_port").cast("long").alias("dst_port"),
        "payload",
    )


def q_journal_parse(spark, sf):
    """imjournal journal-entry parse (plugins/imjournal/imjournal.c):
    export-format records synthesized per event cover the PRIORITY
    bounds fallback, the digit-wise SYSLOG_FACILITY math with its
    0..23 bounds default, SYSLOG_IDENTIFIER vs _COMM tag derivation,
    optional PID bracketing, and the µs realtime timestamp."""
    from rsyslog_spark import sources_os as so

    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    prio = F.when(eid % 13 == 0, F.lit("9")).otherwise(
        (eid % 8).cast("string")
    )
    fac = (F.col("user_id") % 30).cast("string")
    iden = F.when(
        eid % 3 != 0,
        F.concat(F.lit("SYSLOG_IDENTIFIER="), F.col("event_type")),
    ).otherwise(
        F.concat(F.lit("_COMM=comm"), (eid % 5).cast("string"))
    )
    pid = F.when(
        eid % 2 == 0,
        F.concat(F.lit("\nSYSLOG_PID="), (eid % 997).cast("string")),
    ).otherwise(F.lit(""))
    rec = F.concat(
        F.lit("MESSAGE=jmsg k="), kval,
        F.lit("\nPRIORITY="), prio,
        F.lit("\nSYSLOG_FACILITY="), fac,
        F.lit("\n"), iden, pid,
        F.lit("\n__REALTIME_TIMESTAMP="),
        # events.ts is TIMESTAMP_NTZ; session tz is UTC so the cast
        # to TIMESTAMP preserves the wall-clock instant
        F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
        F.lit("\nFOO=bar"), kval,
    )
    df = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        rec.alias("record"),
    )
    out = so.journal_entry_parse(df, local_hostname="spark-node")
    return out.where("journal_valid").select(
        "doc_id",
        F.col("severity").cast("long").alias("severity"),
        F.col("facility").cast("long").alias("facility"),
        "syslogtag",
        "programname",
        F.coalesce(F.col("procid"), F.lit("")).alias("procid"),
        "hostname",
        "msg",
        F.col("ts_usec").cast("long").alias("ts_usec"),
        F.try_element_at("journal", F.lit("FOO")).alias("foo"),
    )


def q_ulog_parse(spark, sf):
    """imtuxedoulog ULOG-line parse (contrib/imtuxedoulog/
    imtuxedoulog.c parseMsg): four line dialects per event — plain,
    ECID, gtrid+ECID, and a Java stack-trace line the module must
    ignore — with 2- vs 3-digit second fractions alternating."""
    from rsyslog_spark import sources_os as so

    ev = _events(spark, sf)
    eid = F.col("event_id")
    kval = F.get_json_object("props", "$.k")
    frac = F.when(
        eid % 2 == 0, F.lpad((eid % 100).cast("string"), 2, "0")
    ).otherwise(F.lpad((eid % 1000).cast("string"), 3, "0"))
    head = F.concat(
        F.date_format("ts", "HHmmss"), F.lit("."), frac, F.lit("."),
        F.lit("sic"), (F.col("user_id") % 5).cast("string"),
        F.lit("!"), F.col("event_type"), F.lit("."),
        (eid % 9000).cast("string"), F.lit(".1."),
        (eid % 4).cast("string"), F.lit(": "),
    )
    plain = F.concat(head, F.lit("TSAM:305: k="), kval)
    ecid = F.concat(
        head, F.lit("ECID <E"), eid.cast("string"), F.lit(">: k="), kval
    )
    gtrid = F.concat(
        head, F.lit("gtrid x0 xa: ECID <G"), eid.cast("string"),
        F.lit(">: trace k="), kval,
    )
    java = F.concat(
        F.lit("\tat com.example.Foo.bar(Foo.java:"),
        eid.cast("string"), F.lit(")"),
    )
    line = (
        F.when(eid % 4 == 0, plain)
        .when(eid % 4 == 1, ecid)
        .when(eid % 4 == 2, gtrid)
        .otherwise(java)
    )
    df = ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(eid.cast("string"), 12, "0")
        ).alias("doc_id"),
        line.alias("line"),
    )
    out = so.ulog_parse(df, tag="tux").where("ulog_valid")
    return out.select(
        "doc_id",
        "hostname",
        F.coalesce(F.col("procid"), F.lit("")).alias("procid"),
        F.col("timereported_str").alias("tsr"),
        F.col("secfrac_precision").cast("long").alias("precision"),
        "structured_data",
        "msg",
        "syslogtag",
        F.col("pri").cast("long").alias("pri"),
    )


def q_badwords(spark, sf):
    """C4-style bad-words page filter (datapipe.textstats.
    badwords_filter, Raffel et al. 2020 §2.2): lowercased,
    punctuation-stripped whole-token blocklist matches; pages with
    any hit are dropped by the `kept` flag."""
    from rsyslog_spark.datapipe.textstats import badwords_filter

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    out = badwords_filter(d, ["slow", "legacy"])
    return out.select(
        "doc_id",
        F.col("bad_hits").cast("long").alias("bad_hits"),
        F.col("kept").cast("long").alias("kept"),
    )


# BM25 constants shared between the Spark query and the DuckDB oracle:
# fold in Python ONCE and emit via repr on both sides so every engine
# sees bit-identical double literals (k1*(1-b) is NOT 0.3 in binary).
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ["spark", "merge", "window"]


def q_bm25_topk(spark, sf):
    """BM25 lexical top-k retrieval (datapipe.textstats.bm25_topk,
    Robertson & Zaragoza 2009) with the pre-log idf variant — every
    scoring step is IEEE +,-,*,/ so the DuckDB oracle reproduces the
    ranking bit-exactly; output is the integer (doc_id, rank) pair,
    ties broken by doc_id on both sides."""
    from rsyslog_spark.datapipe.textstats import bm25_topk

    d = _docs(spark, sf).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    out = bm25_topk(d, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "parse_headers": q_parse_headers,
        "token_roundtrip": q_token_roundtrip,
        "route_counts": q_route_counts,
        "agg_fac_sev_source": q_agg_fac_sev_source,
        "tree_writes": q_tree_writes,
        "dynstats_prog": q_dynstats_prog,
        "dynstats_capped": q_dynstats_capped,
        "dynstats_stream": q_dynstats_stream,
        "lookup_site": q_lookup_site,
        "lookup_sparse_quartile": q_lookup_sparse_quartile,
        "ratelimit": q_ratelimit,
        "repeat_runs": q_repeat_runs,
        "perctile_value": q_perctile_value,
        "template_lines": q_template_lines,
        "template_options": q_template_options,
        "msg_field": q_msg_field,
        "sd_params": q_sd_params,
        "json_k": q_json_k,
        "functions_showcase": q_functions_showcase,
        "prifilt_mail_daemon": q_prifilt_mail_daemon,
        "propfilt_startswith": q_propfilt_startswith,
        "cidr_lookup": q_cidr_lookup,
        "mmanon_hosts": q_mmanon_hosts,
        "mm_count": q_mm_count,
        "sender_stats": q_sender_stats,
        "dedup_exact_docs": q_dedup_exact_docs,
        "doc_token_stats": q_doc_token_stats,
        "langid_docs": q_langid_docs,
        "quality_components": q_quality_components,
        "simsearch_topk": q_simsearch_topk,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "ivf_topk": q_ivf_topk,
        "ivf_rank1": q_ivf_rank1,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "repetition": q_repetition,
        "ngram_repetition": q_ngram_repetition,
        "c4_filter": q_c4_filter,
        "line_dedup": q_line_dedup,
        "seq_pack": q_seq_pack,
        "corpus_mix": q_corpus_mix,
        "dedup_clusters": q_dedup_clusters,
        "media_frames": q_media_frames,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "semdedup": q_semdedup,
        "media_decode": q_media_decode,
        "foreach_sevens": q_foreach_sevens,
        "foreach_fold": q_foreach_fold,
        "window_counts": q_window_counts,
        "ngram_jaccard": q_ngram_jaccard,
        "legacy_conf": q_legacy_conf,
        "bound_rulesets": q_bound_rulesets,
        "device_parse": q_device_parse,
        "kmsg_parse": q_kmsg_parse,
        "journal_parse": q_journal_parse,
        "pcap_fields": q_pcap_fields,
        "lm_quality": q_lm_quality,
        "dsir_select": q_dsir_select,
        "nb_lang": q_nb_lang,
        "ccnet_buckets": q_ccnet_buckets,
        "q8_codes": q_q8_codes,
        "q8_topk": q_q8_topk,
        "corpus_stats": q_corpus_stats,
        "url_dedup": q_url_dedup,
        "chunk_windows": q_chunk_windows,
        "global_vars2": q_global_vars2,
        "pq_codes": q_pq_codes,
        "ulog_parse": q_ulog_parse,
        "cee_json": q_cee_json,
        "msg_fixups": q_msg_fixups,
        "mmnormalize": q_mmnormalize,
        "rulebase_grok": q_rulebase_grok,
        "rulebase_v2": q_rulebase_v2,
        "leef_fields": q_leef_fields,
        "win_events": q_win_events,
        "impstats": q_impstats,
        "session_stats": q_session_stats,
        "corpus_filter": q_corpus_filter,
        "log_templates": q_log_templates,
        "drain_templates": q_drain_templates,
        "token_minhash": q_token_minhash,
        "perctile_window": q_perctile_window,
        "bpe_tokens": q_bpe_tokens,
        "global_vars": q_global_vars,
        "dup_spans": q_dup_spans,
        "url_filter": q_url_filter,
        "curation_pipeline": q_curation_pipeline,
        "badwords": q_badwords,
        "bm25_topk": q_bm25_topk,
        "mmdb_lookup": q_mmdb_lookup,
        "klog_lines": q_klog_lines,
        "k8s_records": q_k8s_records,
        "gopher_quality": q_gopher_quality,
        "token_dup_spans": q_token_dup_spans,
    }


# ---------------------------------------------------------------------------
# duckdb oracles
# ---------------------------------------------------------------------------

_SITE_CASE = (
    f"CASE {O['source']} WHEN 'src0' THEN 'siteA' WHEN 'src1' THEN 'siteB' "
    "WHEN 'src2' THEN 'siteC' ELSE 'siteX' END"
)
_K = "CAST(json_extract(props, '$.k') AS VARCHAR)"
_KN = "CAST(json_extract(props, '$.k') AS BIGINT)"
_COMMERCE = "event_type IN ('error','purchase')"

_LANG_MARKERS_SQL = {
    "en": "('the','and','of','to','is','in','that','it')",
    "es": "('el','la','de','que','y','los','en','un')",
    "de": "('der','die','und','das','ist','nicht','ein','zu')",
    "fr": "('le','la','les','de','et','est','un','une')",
}


def _lang_score(lang: str) -> str:
    return (
        "(len(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> x IN {_LANG_MARKERS_SQL[lang]})) * 1.0 / "
        "greatest(len(string_split_regex(lower(text), '\\s+')), 1))"
    )


def _xxh32_digit_cases() -> str:
    """WHEN arms mapping digit→XXH32(digit) — known answers from the
    test-verified pure-Python spec implementation, so the oracle needs
    no xxh32 in DuckDB."""
    return " ".join(
        f"WHEN {d} THEN CAST({fn.xxh32(str(d).encode())} AS BIGINT)"
        for d in range(10)
    )


def oracle_sql() -> dict[str, str]:
    sev, fac = O["severity"], O["facility"]
    return {
        "token_roundtrip": """
            SELECT CAST(count(*) AS BIGINT) AS rows,
                   CAST(count(*) AS BIGINT) AS roundtrip_exact
            FROM events
        """,
        "parse_headers": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST({O['pri']} AS BIGINT) AS pri,
                   CAST({fac} AS BIGINT) AS facility,
                   CAST({sev} AS BIGINT) AS severity,
                   {O['hostname']} AS hostname,
                   {O['programname']} AS programname,
                   {O['syslogtag']} AS syslogtag,
                   CASE WHEN event_id % 7 = 0 THEN {O['procid']} END AS procid,
                   {O['msgid']} AS msgid,
                   {O['msg']} AS msg,
                   {O['timereported_str']} AS timereported_str,
                   CAST(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
                       AS protocol_version
            FROM events
        """,
        "route_counts": f"""
            SELECT 'commerce' AS sink,
                   CAST(count(*) FILTER (WHERE {_COMMERCE}) AS BIGINT) AS n
            FROM events
            UNION ALL
            SELECT 'k7', CAST(count(*) FILTER (
                       WHERE NOT {_COMMERCE} AND {_K} LIKE '7%') AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'rest', CAST(count(*) FILTER (WHERE NOT {_COMMERCE}) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'urgent', CAST(count(*) FILTER (WHERE {sev} <= 3) AS BIGINT)
            FROM events
        """,
        "impstats": f"""
            SELECT 'rows_in' AS metric,
                   CAST(count(*) AS BIGINT) AS value FROM events
            UNION ALL
            SELECT 'parse_failures', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'routed_commerce',
                   CAST(count(*) FILTER (WHERE {_COMMERCE}) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'routed_k7', CAST(count(*) FILTER (
                       WHERE NOT {_COMMERCE} AND {_K} LIKE '7%') AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'routed_rest',
                   CAST(count(*) FILTER (WHERE NOT {_COMMERCE}) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'routed_urgent',
                   CAST(count(*) FILTER (WHERE {sev} <= 3) AS BIGINT)
            FROM events
        """,
        "tree_writes": f"""
            SELECT {O['doc_id']} AS doc_id,
                   '{{"sev":"' || CAST({O['severity']} AS VARCHAR) ||
                   CASE WHEN {O['severity']} <= 3
                        THEN '","urgent":"y"}}' ELSE '"}}' END AS tree
            FROM events
        """,
        "agg_fac_sev_source": f"""
            SELECT CAST({fac} AS BIGINT) AS facility,
                   CAST({sev} AS BIGINT) AS severity,
                   {O['source']} AS source,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2, 3
        """,
        "dynstats_prog": """
            SELECT event_type AS programname, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "dynstats_capped": """
            WITH counts AS (
                SELECT event_type AS programname, count(*) AS n
                FROM events GROUP BY 1
            ), ranked AS (
                SELECT *, row_number() OVER (ORDER BY n DESC, programname)
                           AS rk
                FROM counts
            )
            SELECT programname, CAST(n AS BIGINT) AS n
            FROM ranked WHERE rk <= 3
            UNION ALL
            SELECT '_overflow_', CAST(sum(n) AS BIGINT)
            FROM ranked WHERE rk > 3
        """,
        "dynstats_stream": """
            WITH firsts AS (
                SELECT event_type AS key,
                       min(CAST(floor(epoch(ts)) AS BIGINT)) AS fts,
                       count(*) AS n
                FROM events GROUP BY 1
            ), ranked AS (
                SELECT *, row_number() OVER (ORDER BY fts, key) AS rk
                FROM firsts
            )
            SELECT key, CAST(n AS BIGINT) AS n FROM ranked WHERE rk <= 3
            UNION ALL
            SELECT '_overflow_', CAST(sum(n) AS BIGINT)
            FROM ranked WHERE rk > 3
        """,
        "lookup_site": f"""
            SELECT {_SITE_CASE} AS site, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "lookup_sparse_quartile": f"""
            SELECT CASE WHEN {_KN} >= 75 THEN 'q4'
                        WHEN {_KN} >= 50 THEN 'q3'
                        WHEN {_KN} >= 25 THEN 'q2'
                        ELSE 'q1' END AS quartile,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "ratelimit": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_pass FROM (
                SELECT user_id,
                       row_number() OVER (
                           PARTITION BY user_id, date_trunc('hour', ts)
                           ORDER BY ts, event_id) AS rn
                FROM events) WHERE rn <= 5 GROUP BY user_id
        """,
        "repeat_runs": """
            WITH marked AS (
                SELECT user_id, event_type, event_id,
                       CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                            THEN 1 ELSE 0 END AS new_run
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
            ), runs AS (
                SELECT *, sum(new_run) OVER (
                    PARTITION BY user_id ORDER BY event_id
                    ROWS UNBOUNDED PRECEDING) AS run_id
                FROM marked
            )
            SELECT user_id, event_type,
                   CAST(count(*) AS BIGINT) AS n_repeats,
                   CAST(min(event_id) AS BIGINT) AS event_id
            FROM runs GROUP BY user_id, event_type, run_id
        """,
        "perctile_value": """
            SELECT event_type,
                   CAST(min(cents) AS BIGINT) AS w_min,
                   CAST(max(cents) AS BIGINT) AS w_max,
                   CAST(sum(cents) AS BIGINT) AS w_sum,
                   CAST(count(*) AS BIGINT) AS w_count,
                   CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50,
                   CAST(quantile_disc(cents, 0.95) AS BIGINT) AS p95
            FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events) GROUP BY event_type
        """,
        "template_lines": f"""
            SELECT {O['doc_id']} AS doc_id,
                   {O['timereported_str']} || ' ' || {O['hostname']} || ' ' ||
                   {O['syslogtag']} || ' ' || {O['body']} AS line
            FROM events
        """,
        "template_options": f"""
            SELECT {O['doc_id']} AS doc_id,
                   rpad({O['hostname']}, 10, ' ') AS fw,
                   right({O['doc_id']}, 3) AS tail3,
                   CASE WHEN len({O['msg']}) >= 3
                        THEN substring({O['msg']}, 2, len({O['msg']}) - 3)
                        ELSE '' END AS neg,
                   {O['source']} || '_' || event_type AS sec,
                   event_type || '#009x' AS ccdec,
                   event_type || '#011x' AS ccoct,
                   '"procid":' || CASE WHEN event_id % 7 = 0
                       THEN CAST(event_id % 997 AS VARCHAR)
                       ELSE '0' END AS jf_num,
                   CASE WHEN event_id % 7 = 0
                       THEN '"msgid":"ID' || CAST(event_id % 100 AS VARCHAR) || '"'
                       ELSE '' END AS jf_skip,
                   CASE WHEN event_id % 7 = 0
                       THEN '"msgid":"ID' || CAST(event_id % 100 AS VARCHAR) || '"'
                       ELSE '"msgid":null' END AS jf_null
            FROM events
        """,
        "msg_field": f"""
            SELECT {O['doc_id']} AS doc_id,
                   lpad(CAST(event_id AS VARCHAR), 8, '0') AS msgnum
            FROM events
        """,
        "sd_params": f"""
            SELECT {O['doc_id']} AS doc_id,
                   {_K} AS sd_k,
                   CAST({corpus._SRC_CASE} AS VARCHAR) AS sd_src,
                   'ex@32473' AS sd_id
            FROM events WHERE event_id % 14 = 0
        """,
        "json_k": f"""
            SELECT {_KN} % 10 AS k_mod, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "functions_showcase": f"""
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   upper(event_type) AS up_type,
                   substring(event_type, 2, 3) AS sub3,
                   replace(event_type, 'e', 'E') AS repl,
                   CAST(length(event_type) AS BIGINT) AS slen,
                   lower(printf('%x', {_KN})) AS khex,
                   CAST((event_id % 4294967296) // 16777216 % 256 AS VARCHAR) || '.' ||
                   CAST((event_id % 4294967296) // 65536 % 256 AS VARCHAR) || '.' ||
                   CAST((event_id % 4294967296) // 256 % 256 AS VARCHAR) || '.' ||
                   CAST((event_id % 4294967296) % 256 AS VARCHAR) AS ipstr,
                   '"' || event_type || '"' AS wrapped,
                   CAST(json_extract(props, '$.k') AS VARCHAR) AS k_prop,
                   'tail' AS f2,
                   event_type AS trimmed,
                   strftime(ts, '%Y/%m/%d %H:%M') AS ft_strf,
                   CAST(floor(epoch(ts)) AS BIGINT) - 7200 AS ptl,
                   'example.com' AS u_domain,
                   event_type AS u_sub,
                   'com' AS u_tld,
                   CAST(8443 AS BIGINT) AS u_port,
                   'k=' || {_K} AS u_query,
                   'example.co.uk' AS u2_domain,
                   event_type || '.shop' AS u2_sub,
                   'co.uk' AS u2_tld,
                   'foo.kawasaki.jp' AS u3_tld,
                   event_type || '.foo.kawasaki.jp' AS u3_domain,
                   CASE {_KN} % 10 {_xxh32_digit_cases()} END AS khash
            FROM events
        """,
        "prifilt_mail_daemon": f"""
            SELECT {O['source']} AS source, CAST(count(*) AS BIGINT) AS n
            FROM events WHERE {fac} IN (2, 3) AND {sev} <= 4
            GROUP BY 1
        """,
        "propfilt_startswith": """
            SELECT event_type AS programname, CAST(count(*) AS BIGINT) AS n
            FROM events WHERE event_type LIKE 'p%' GROUP BY 1
        """,
        "cidr_lookup": """
            SELECT CASE
                       WHEN n // 65536 = 2561 THEN 'ten-one'
                       WHEN n // 16777216 = 10 THEN 'ten'
                       WHEN n // 65536 = 49320 THEN 'rfc1918'
                       ELSE 'public' END AS net,
                   CAST(count(*) AS BIGINT) AS n
            FROM (SELECT (event_id * 7919) % 4294967296 AS n FROM events)
            GROUP BY 1
        """,
        "mmdb_lookup": """
            SELECT CASE event_id % 5
                       WHEN 0 THEN 'ten-one'
                       WHEN 1 THEN 'ten-one-high'
                       WHEN 2 THEN 'ten'
                       WHEN 3 THEN 'rfc1918'
                       ELSE 'public' END AS geo,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1
        """,
        "mmanon_hosts": """
            SELECT CAST(n // 16777216 % 256 AS VARCHAR) || '.' ||
                   CAST(n // 65536 % 256 AS VARCHAR) || '.0.0' AS anon_ip,
                   CAST(count(*) AS BIGINT) AS n
            FROM (SELECT (event_id * 7919) % 4294967296 AS n FROM events)
            GROUP BY 1
        """,
        "mm_count": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY event_id) AS BIGINT)
                       AS mmcount
            FROM events
        """,
        "sender_stats": f"""
            SELECT {O['hostname']} AS hostname,
                   CAST(count(*) AS BIGINT) AS n_msgs,
                   min({O['doc_id']}) AS first_doc,
                   max({O['doc_id']}) AS last_doc
            FROM events GROUP BY 1
        """,
        "dedup_exact_docs": r"""
            SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                       AS fingerprint,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   CAST(min(doc_id) AS BIGINT) AS keep_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "doc_token_stats": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END
                        AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS BIGINT)
                        AS n_bpe_tokens
            FROM documents
        """,
        "langid_docs": f"""
            WITH scored AS (
                SELECT {_lang_score('en')} AS s_en, {_lang_score('es')} AS s_es,
                       {_lang_score('de')} AS s_de, {_lang_score('fr')} AS s_fr
                FROM documents
            )
            SELECT CASE
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
                    THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred,
                CAST(count(*) AS BIGINT) AS n
            FROM scored GROUP BY 1
        """,
        "quality_components": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                       AS n_words,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS BIGINT) AS alpha_chars,
                   CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
                       AS BIGINT) AS punct_chars
            FROM documents
        """,
        "simsearch_topk": """
            SELECT CAST(q_id AS BIGINT) AS q_id,
                   CAST(cid AS BIGINT) AS vec_id,
                   CAST(rnk AS BIGINT) AS rank
            FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(
                               c.embedding, q.embedding) DESC, c.vec_id) AS rnk
                FROM embeddings c
                CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
            ) WHERE rnk <= 5
        """,
        "foreach_sevens": f"""
            SELECT 'sevens' AS sink,
                   CAST(sum(len(list_filter(
                       string_split({O['msg']}, ':'),
                       x -> contains(x, '7')))) AS BIGINT) AS n
            FROM events
            UNION ALL
            SELECT 'all', CAST(count(*) AS BIGINT) FROM events
        """,
        "foreach_fold": f"""
            WITH per AS (
                SELECT len(string_split({O['msg']}, ':')) AS parts,
                       len(list_filter(string_split({O['msg']}, ':'),
                           x -> contains(x, '7'))) AS sevens
                FROM events
            )
            SELECT 'has7' AS sink,
                   CAST(count(*) FILTER (sevens > 0) AS BIGINT) AS n
            FROM per
            UNION ALL
            SELECT 'wide', CAST(count(*) FILTER (parts >= 3) AS BIGINT)
            FROM per
            UNION ALL
            SELECT 'all', CAST(count(*) AS BIGINT) FROM per
        """,
        "window_counts": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS win_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        """,
        "ngram_jaccard": r"""
            WITH base AS (
                SELECT doc_id AS id,
                       list_distinct(list_transform(
                           range(1, greatest(len(string_split(
                               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                               ' ')) - 2, 1) + 1),
                           i -> array_to_string(string_split(
                               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                               ' ')[i:i+2], ' '))) AS shingles
                FROM documents
            ), ex AS (
                SELECT id, unnest(shingles) AS s FROM base
            ), rare AS (
                SELECT s FROM ex GROUP BY s
                HAVING count(*) BETWEEN 2 AND 100
            ), cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM ex a
                JOIN rare r ON a.s = r.s
                JOIN ex b ON a.s = b.s AND a.id < b.id
            ), pairs AS (
                SELECT c.id_a, c.id_b,
                       len(A.shingles) AS na, len(B.shingles) AS nb,
                       len(list_intersect(A.shingles, B.shingles)) AS n_inter
                FROM cand c
                JOIN base A ON c.id_a = A.id
                JOIN base B ON c.id_b = B.id
            )
            SELECT CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b,
                   CAST(n_inter AS BIGINT) AS n_inter,
                   CAST(na AS BIGINT) AS na,
                   CAST(nb AS BIGINT) AS nb
            FROM pairs WHERE n_inter * 2 >= (na + nb - n_inter)
        """,
        "legacy_conf": f"""
            SELECT 'var_log_facilities' AS sink,
                   CAST(count(*) FILTER (
                       WHERE {fac} IN (2,3) AND {sev} <= 4) AS BIGINT) AS n
            FROM events
            UNION ALL
            SELECT 'fwd_tcp_central_514',
                   CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'var_log_catchall',
                   CAST(count(*) FILTER (WHERE {sev} != 7) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'var_log_host13_only',
                   CAST(count(*) FILTER (
                       WHERE user_id % 32 = 13 AND {sev} != 7) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'var_log_purchase_tagged',
                   CAST(count(*) FILTER (
                       WHERE event_type = 'purchase' AND {sev} != 7) AS BIGINT)
            FROM events
        """,
        "bound_rulesets": f"""
            SELECT 'hot_important' AS sink,
                   CAST(count(*) FILTER (
                       WHERE event_id % 2 = 0 AND {sev} <= 5) AS BIGINT) AS n
            FROM events
            UNION ALL
            SELECT 'hot_all',
                   CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'warm_all',
                   CAST(count(*) FILTER (WHERE event_id % 4 = 1) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'cold_all',
                   CAST(count(*) FILTER (
                       WHERE event_id % 2 != 0 AND event_id % 4 != 1) AS BIGINT)
            FROM events
        """,
        "mmnormalize": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(0 AS BIGINT) AS norm_rule,
                   lpad(CAST(event_id AS VARCHAR), 8, '0') AS num,
                   {_K} AS kval
            FROM events
        """,
        "rulebase_grok": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(CASE WHEN event_id % 7 = 0 THEN 0 ELSE 1 END
                        AS BIGINT) AS norm_rule,
                   CAST({O['pri']} AS BIGINT) AS pri,
                   {O['hostname']} AS host,
                   event_type AS prog,
                   CAST(event_id % 997 AS BIGINT) AS pid,
                   CASE WHEN event_id % 7 = 0 THEN '5424' ELSE '3164' END
                       AS proto,
                   CAST(1 AS BIGINT) AS grok_ok,
                   lpad(CAST(event_id AS VARCHAR), 8, '0') AS msgnum,
                   {_K} AS kval
            FROM events
        """,
        "session_stats": f"""
            WITH e AS (
                SELECT {O['source']} AS source,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                       event_id
                FROM events
            ), flagged AS (
                SELECT source, ep, event_id,
                       CASE WHEN lag(ep) OVER w IS NULL
                                 OR ep - lag(ep) OVER w > 300
                            THEN 1 ELSE 0 END AS ns
                FROM e
                WINDOW w AS (PARTITION BY source ORDER BY ep, event_id)
            ), sess AS (
                SELECT source, ep,
                       sum(ns) OVER (PARTITION BY source
                                     ORDER BY ep, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT source, CAST(sid AS BIGINT) AS session_id,
                   CAST(min(ep) AS BIGINT) AS start_ep,
                   CAST(max(ep) AS BIGINT) AS end_ep,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(ep) - min(ep) AS BIGINT) AS duration_secs
            FROM sess GROUP BY source, sid
        """,
        "corpus_filter": f"""
            WITH scored AS (
                SELECT doc_id, text,
                       {_lang_score('en')} AS s_en, {_lang_score('es')} AS s_es,
                       {_lang_score('de')} AS s_de, {_lang_score('fr')} AS s_fr,
                       len(string_split_regex(trim(text), '\\s+')) AS n_words,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           * 1.0 / greatest(length(text), 1) AS alpha_ratio,
                       length(regexp_replace(text,
                           '[^!-/:-@\\[-`{{-~]', '', 'g'))
                           * 1.0 / greatest(length(text), 1) AS punct_ratio
                FROM documents
            ), lang AS (
                SELECT *,
                    CASE
                        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                             AND s_en > 0 THEN 'en'
                        WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0
                            THEN 'es'
                        WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                        WHEN s_fr > 0 THEN 'fr'
                        ELSE 'und' END AS lang_pred
                FROM scored
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT)
                       AS keep,
                   reason
            FROM (
                SELECT doc_id,
                    CASE WHEN lang_pred != 'en' THEN 'lang'
                         WHEN n_words < 8 THEN 'too_short'
                         WHEN n_words > 5000 THEN 'too_long'
                         WHEN alpha_ratio < 0.6 THEN 'low_alpha'
                         WHEN punct_ratio > 0.1 THEN 'high_punct'
                         ELSE 'ok' END AS reason
                FROM lang
            )
        """,
        "log_templates": f"""
            SELECT regexp_replace(regexp_replace(regexp_replace(
                       event_type || '|' || {O['msg']},
                       '\\b\\d{{1,3}}(\\.\\d{{1,3}}){{3}}\\b', '<IP>', 'g'),
                       '\\b0[xX][0-9A-Fa-f]+\\b', '<X>', 'g'),
                       '\\d+', '<N>', 'g') AS template,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "leef_fields": f"""
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   'RsyslogSpark' AS vendor,
                   event_type AS leef_event,
                   '10.0.' || CAST({_KN} % 256 AS VARCHAR) || '.1' AS src,
                   CAST(event_id AS BIGINT) AS seq,
                   'u' || CAST(user_id % 32 AS VARCHAR) AS usr
            FROM events
        """,
        "rulebase_v2": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(0 AS BIGINT) AS norm_rule,
                   event_type AS prog,
                   '[{{"v":"' || CAST(k AS VARCHAR) ||
                   '"}},{{"v":"' || CAST((k + 1) % 100 AS VARCHAR) ||
                   '"}},{{"v":"' || CAST((k * 2 + 1) % 100 AS VARCHAR) ||
                   '"}}]' AS vals,
                   CASE WHEN {sev} <= 3 THEN CAST({sev} AS BIGINT) END
                       AS stn,
                   CASE WHEN {sev} > 3 THEN event_type END AS stw,
                   '[{{"ids":[{{"n":"' || CAST(k AS VARCHAR) ||
                   '"}},{{"n":"' || CAST((k + 1) % 100 AS VARCHAR) ||
                   '"}}]}},{{"ids":[{{"n":"' ||
                   CAST((k * 7) % 100 AS VARCHAR) ||
                   '"}}]}}]' AS deep
            FROM (SELECT *,
                         CAST(json_extract(props, '$.k') AS INTEGER) AS k
                  FROM events)
        """,
        "perctile_window": """
            SELECT event_type,
                   CAST(event_id AS BIGINT) AS event_id,
                   CAST(min(cents) OVER w AS BIGINT) AS w_min,
                   CAST(max(cents) OVER w AS BIGINT) AS w_max,
                   CAST(count(*) OVER w AS BIGINT) AS w_count,
                   CAST(quantile_disc(cents, 0.5) OVER w AS BIGINT) AS p50
            FROM (SELECT event_type, event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        # Planted-probe oracles (r4): the near-dup queries filter their
        # output to a planted namespace whose pair set is enumerable
        # arithmetically — exact-duplicate probes make recall and the
        # estimate provable (est=1.0 / hamming=0), so the hash-based
        # sketches ARE oracle-checkable after all. Only the media_*
        # plumbing stays rows-only (opaque payload has no SQL twin);
        # ivf_topk gained a real oracle in r5 by probing every list
        # (n_probe = n_centroids → exact regardless of codebook).
        "ivf_topk": """
            WITH q AS (
                SELECT vec_id AS q_id, embedding AS q_vec
                FROM embeddings ORDER BY vec_id LIMIT 3
            ),
            scored AS (
                SELECT q.q_id, e.vec_id,
                       list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]),
                           CAST(q.q_vec AS DOUBLE[])) AS score
                FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
                SELECT q_id, vec_id,
                       row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY score DESC, vec_id) AS rk
                FROM scored
            )
            SELECT CAST(q_id AS BIGINT) AS q_id,
                   CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(rk AS BIGINT) AS rank
            FROM ranked WHERE rk <= 5
        """,
        "minhash_pairs": """
            SELECT CAST(-(2*i + 2) AS BIGINT) AS id_a,
                   CAST(-(2*i + 1) AS BIGINT) AS id_b,
                   CAST(32 AS BIGINT) AS sig_matches
            FROM generate_series(0, 9) t(i)
        """,
        "simhash_pairs": """
            SELECT CAST(-(2*i + 2) AS BIGINT) AS id_a,
                   CAST(-(2*i + 1) AS BIGINT) AS id_b,
                   CAST(0 AS BIGINT) AS hamming
            FROM generate_series(0, 9) t(i)
        """,
        "token_minhash": """
            SELECT '!p-a-' || lpad(CAST(i AS VARCHAR), 2, '0') AS id_a,
                   '!p-b-' || lpad(CAST(i AS VARCHAR), 2, '0') AS id_b,
                   CAST(64 AS BIGINT) AS sig_matches
            FROM generate_series(0, 9) t(i)
        """,
        "semdedup": """
            WITH v AS (
                SELECT CAST(vec_id AS BIGINT) AS id,
                       CAST(vec_id % 4 AS BIGINT) AS a,
                       (vec_id % 5) * 0.15 AS p
                FROM embeddings
            ),
            cc AS (
                SELECT id, a AS cluster,
                       list_transform(generate_series(0, 7),
                           d -> CASE WHEN d = a THEN 1.0
                                     WHEN d = a + 4 THEN p
                                     ELSE 0.0 END) AS emb,
                       list_cosine_similarity(
                           list_transform(generate_series(0, 7),
                               d -> CASE WHEN d = a THEN 1.0
                                         WHEN d = a + 4 THEN p
                                         ELSE 0.0 END),
                           list_transform(generate_series(0, 7),
                               d -> CASE WHEN d = a THEN 1.0
                                         ELSE 0.0 END)) AS cent_cos
                FROM v
            ),
            pm AS (
                SELECT x.id AS id,
                       max(list_cosine_similarity(x.emb, y.emb))
                           AS prev_max
                FROM cc x JOIN cc y ON x.cluster = y.cluster
                 AND (y.cent_cos < x.cent_cos
                      OR (y.cent_cos = x.cent_cos AND y.id < x.id))
                GROUP BY x.id
            )
            SELECT c.id, c.cluster,
                   coalesce(pm.prev_max, -1.0) <= 0.99 AS keep,
                   FALSE AS capped
            FROM cc c LEFT JOIN pm USING (id)
        """,
        "embedding_dup_pairs": """
            SELECT CAST(-(i + 1) AS BIGINT) AS id_a,
                   CAST(i AS BIGINT) AS id_b
            FROM generate_series(0, 9) t(i)
        """,
        "dedup_clusters": """
            SELECT CAST(i AS BIGINT) AS id,
                   CAST((i // 10) * 10 AS BIGINT) AS cluster_id
            FROM generate_series(0, 99) t(i)
        """,
        "repetition": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(12 AS BIGINT) AS n_lines,
                   CAST(round((12 - p) * 1000.0 / 12) AS BIGINT)
                       AS dup_line_permille,
                   CAST(round((36 - (2 + p)) * 1000.0 / 36) AS BIGINT)
                       AS dup_word_permille
            FROM (SELECT doc_id, (doc_id % 4) + 2 AS p FROM documents)
        """,
        "ngram_repetition": r"""
            WITH src AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       trim(repeat('the quick brown fox jumps ',
                                   CAST(doc_id % 4 AS INTEGER))
                            || array_to_string(list_transform(
                                   generate_series(0, 9),
                                   j -> 'u' || CAST(doc_id AS VARCHAR)
                                        || 'w' || CAST(j AS VARCHAR)),
                                   ' ')) AS text
                FROM documents
            ),
            w AS (
                SELECT doc_id, string_split(text, ' ') AS words,
                       length(text) AS d
                FROM src
            ),
            g AS (
                SELECT doc_id, n,
                       array_to_string(words[i:i+n-1], ' ') AS gram, d
                FROM w,
                     LATERAL unnest(generate_series(2, 10)) AS tn(n),
                     LATERAL unnest(generate_series(
                         1, len(words) - n + 1)) AS ti(i)
                WHERE len(words) >= n
            ),
            c AS (
                SELECT doc_id, n, gram, count(*) AS cnt,
                       length(gram) AS glen, any_value(d) AS d
                FROM g GROUP BY doc_id, n, gram
            ),
            top AS (
                SELECT doc_id, n,
                       CAST(floor(cnt * glen * 1000.0 / d) AS BIGINT)
                           AS pm,
                       row_number() OVER (
                           PARTITION BY doc_id, n
                           ORDER BY cnt DESC, glen DESC, gram ASC
                       ) AS rn
                FROM c
            ),
            dup AS (
                SELECT doc_id, n,
                       CAST(floor(sum(CASE WHEN cnt > 1
                                      THEN cnt * glen ELSE 0 END)
                                  * 1000.0 / any_value(d)) AS BIGINT)
                           AS pm
                FROM c GROUP BY doc_id, n
            ),
            tp AS (
                SELECT doc_id,
                       max(CASE WHEN n = 2 THEN pm END) AS t2,
                       max(CASE WHEN n = 3 THEN pm END) AS t3,
                       max(CASE WHEN n = 4 THEN pm END) AS t4
                FROM top WHERE rn = 1 GROUP BY doc_id
            ),
            dp AS (
                SELECT doc_id,
                       max(CASE WHEN n = 5 THEN pm END) AS d5,
                       max(CASE WHEN n = 6 THEN pm END) AS d6,
                       max(CASE WHEN n = 7 THEN pm END) AS d7,
                       max(CASE WHEN n = 8 THEN pm END) AS d8,
                       max(CASE WHEN n = 9 THEN pm END) AS d9,
                       max(CASE WHEN n = 10 THEN pm END) AS d10
                FROM dup GROUP BY doc_id
            )
            SELECT s.doc_id,
                   coalesce(t2, 0) AS top_2gram_permille,
                   coalesce(t3, 0) AS top_3gram_permille,
                   coalesce(t4, 0) AS top_4gram_permille,
                   coalesce(d5, 0) AS dup_5gram_permille,
                   coalesce(d6, 0) AS dup_6gram_permille,
                   coalesce(d7, 0) AS dup_7gram_permille,
                   coalesce(d8, 0) AS dup_8gram_permille,
                   coalesce(d9, 0) AS dup_9gram_permille,
                   coalesce(d10, 0) AS dup_10gram_permille
            FROM src s
            LEFT JOIN tp USING (doc_id) LEFT JOIN dp USING (doc_id)
        """,
        "pii_scrub": r"""
            WITH src AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN
                           text || ' contact u' || CAST(doc_id AS VARCHAR)
                           || '@example.com from 10.0.'
                           || CAST(doc_id % 256 AS VARCHAR)
                           || '.7 ssn 123-45-6789 card 4111111111111111 '
                           || 'phone +1 (555) 123-4567'
                       ELSE text END AS text
                FROM documents
            ),
            s AS (
                SELECT doc_id, text,
                       regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IP>', 'g'),
                       '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                       '\b\d{13,19}\b', '<CARD>', 'g'),
                       '\+?\d[\d ()]*[()-][\d ()-]{6,}\d',
                       '<PHONE>', 'g') AS scrubbed
                FROM src
            )
            SELECT doc_id, scrubbed, scrubbed <> text AS pii_found
            FROM s
        """,
        # r5: media_decode gained a real oracle — payloads are actual
        # PPM/WAV bytes with arithmetic dimensions, so DuckDB
        # enumerates the decoder's expected outputs (PPM header is
        # 11 bytes for 1-digit dims; the stdlib WAV header is 44).
        "media_frames": """
            SELECT printf('m%04d', i) AS media_id,
                   CAST(j AS BIGINT) AS frame_idx,
                   CAST((1000 * j) // 4 AS BIGINT) AS ts_ms,
                   CAST(16 + i % 5 AS BIGINT) AS n_frame_bytes
            FROM generate_series(0, 63) t(i),
                 generate_series(0, 3) u(j)
            WHERE i % 4 = 2
        """,
        "media_decode": """
            SELECT printf('m%04d', i) AS media_id,
                   CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   CASE i % 3 WHEN 0 THEN 'ok:pnm' WHEN 1 THEN 'ok:wav'
                        ELSE 'ok:digest' END AS decode_ok,
                   CAST(CASE i % 3 WHEN 0 THEN 4 + i % 5
                        WHEN 1 THEN 8000 ELSE -1 END AS BIGINT) AS f0,
                   CAST(CASE i % 3 WHEN 0 THEN 3
                        WHEN 1 THEN 100 + i ELSE -1 END AS BIGINT) AS f2,
                   CAST(CASE i % 3
                        WHEN 0 THEN 11 + (4 + i % 5) * (3 + i % 7) * 3
                        WHEN 1 THEN 44 + (100 + i) * 2
                        ELSE 16 + i % 5 END AS BIGINT) AS n_bytes
            FROM generate_series(0, 63) t(i)
        """,
        # r5 curation ops: the oracle re-runs the REAL logic (list-
        # lambda line filter / window dedup / recursive-CTE greedy
        # packing / LCG draw) over pages rebuilt with the identical
        # SQL construction — not planted expectations.
        "c4_filter": f"""
            WITH pages AS (
                SELECT doc_id, {_CURATION_PAGE_SQL} AS text
                FROM documents
            ),
            split AS (
                SELECT doc_id, text,
                       string_split(text, chr(10)) AS ls
                FROM pages
            ),
            filt AS (
                SELECT doc_id, len(ls) AS n_total,
                       list_filter(ls, x ->
                           regexp_matches(trim(x), '[.!?"”]$')
                           AND len(string_split_regex(trim(x),
                                                      '\\s+')) >= 3
                           AND NOT contains(lower(trim(x)), 'javascript')
                           AND NOT contains(lower(trim(x)), 'lorem ipsum')
                           AND NOT contains(lower(trim(x)), '{{')
                       ) AS kept0
                FROM split
            ),
            dedup AS (
                SELECT doc_id, n_total,
                       list_filter(kept0, (x, i) ->
                           list_position(kept0, x) = i) AS kept
                FROM filt
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(kept) >= 2 AS BIGINT) AS keep,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept,
                   CAST(n_total - len(kept) AS BIGINT) AS n_lines_dropped,
                   array_to_string(kept, chr(10)) AS clean_text
            FROM dedup
        """,
        "line_dedup": f"""
            WITH pages AS (
                SELECT doc_id, {_CURATION_PAGE_SQL} AS text
                FROM documents
            ),
            ln AS (
                SELECT doc_id, i, list_extract(ls, i) AS line
                FROM (SELECT doc_id,
                             string_split(text, chr(10)) AS ls
                      FROM pages),
                     LATERAL unnest(generate_series(1, len(ls))) AS t(i)
            ),
            w AS (
                SELECT doc_id, i, line,
                       row_number() OVER (
                           PARTITION BY line ORDER BY doc_id, i
                       ) AS rn
                FROM ln
            ),
            k AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY i) AS clean_text
                FROM w WHERE rn = 1 GROUP BY doc_id
            ),
            tot AS (
                SELECT doc_id,
                       len(string_split(text, chr(10))) AS n
                FROM pages
            )
            SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                   CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_lines_kept,
                   CAST(t.n - coalesce(k.n_kept, 0) AS BIGINT)
                       AS n_lines_dropped,
                   coalesce(k.clean_text, '') AS clean_text
            FROM tot t LEFT JOIN k ON t.doc_id = k.doc_id
        """,
        "seq_pack": """
            WITH RECURSIVE d AS (
                SELECT doc_id,
                       CAST(doc_id % 8 AS BIGINT) AS bucket,
                       CAST(len(string_split_regex(text, '\\s+'))
                            AS BIGINT) AS tok,
                       row_number() OVER (
                           PARTITION BY doc_id % 8 ORDER BY doc_id
                       ) AS rn
                FROM documents
            ),
            r AS (
                SELECT bucket, rn, doc_id, tok, tok AS fill,
                       CAST(0 AS BIGINT) AS bin
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.bucket, d.rn, d.doc_id, d.tok,
                       CASE WHEN r.fill + d.tok <= 150
                            THEN r.fill + d.tok ELSE d.tok END,
                       CASE WHEN r.fill + d.tok <= 150
                            THEN r.bin ELSE r.bin + 1 END
                FROM r JOIN d
                  ON d.bucket = r.bucket AND d.rn = r.rn + 1
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, bucket,
                   bin AS bin_id, fill AS bin_fill, tok AS n_tokens
            FROM r
        """,
        "corpus_mix": """
            WITH h AS (
                SELECT doc_id, source AS domain,
                       ((doc_id % 2147483648 + 42) * 1103515245 + 12345)
                           % 2147483648 % 10000 AS draw
                FROM documents
            ),
            f AS (
                SELECT * FROM h
                WHERE draw < CASE domain
                    WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                    WHEN 'src2' THEN 2500 ELSE 1250 END
            ),
            c AS (
                SELECT *, row_number() OVER (
                    PARTITION BY domain ORDER BY draw, doc_id) AS rn
                FROM f
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, domain,
                   CAST(draw AS BIGINT) AS draw
            FROM c WHERE domain <> 'src1' OR rn <= 8
        """,
        "decontaminate": r"""
            WITH norm AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                                    '\s+', ' ', 'g')), ' ') AS w
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       array_to_string(w[i:i+12], ' ') AS sh
                FROM norm,
                     LATERAL unnest(generate_series(
                         1, greatest(len(w) - 12, 1))) AS t(i)
            ),
            bench AS (SELECT DISTINCT sh FROM g WHERE doc_id < 5),
            cont AS (
                SELECT DISTINCT g.doc_id FROM g JOIN bench USING (sh)
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   d.doc_id IN (SELECT doc_id FROM cont) AS contaminated
            FROM documents d
        """,
        "ivf_rank1": """
            SELECT CAST(-(i + 1) AS BIGINT) AS q_id,
                   CAST(i AS BIGINT) AS vec_id
            FROM generate_series(0, 9) t(i)
        """,
        "drain_templates": """
            WITH e AS (SELECT CAST(event_id AS BIGINT) AS id FROM events)
            SELECT 'conn established from <IP> port <N> user <*>'
                       AS template,
                   CAST(count(*) AS BIGINT) AS n
            FROM e WHERE id % 3 = 0
            UNION ALL
            SELECT 'worker u' || l || ' status v' || l || ' phase w' || l,
                   CAST(count(*) AS BIGINT)
            FROM (SELECT substr('abcdefghij',
                                CAST(id % 10 AS INTEGER) + 1, 1) AS l
                  FROM e WHERE id % 3 = 1) GROUP BY l
            UNION ALL
            SELECT 'heartbeat ok', CAST(count(*) AS BIGINT)
            FROM e WHERE id % 3 = 2
        """,
        "win_events": """
            SELECT CAST(100 + i AS BIGINT) AS rec,
                   CAST(CASE i % 5 WHEN 0 THEN 4624 WHEN 1 THEN 4625
                        WHEN 2 THEN 4672 WHEN 3 THEN 5157
                        ELSE 4634 END AS BIGINT) AS event_id,
                   COALESCE(CASE i % 5
                        WHEN 0 THEN 'Logon' WHEN 1 THEN 'Logon'
                        WHEN 2 THEN 'Privilege'
                        WHEN 3 THEN 'FilteringPlatform' END,
                        '') AS category,
                   COALESCE(CASE i % 5
                        WHEN 0 THEN 'Success' WHEN 1 THEN 'Failure'
                        WHEN 2 THEN 'Assignment'
                        WHEN 3 THEN 'PacketDrop' END, '') AS subtype,
                   CASE i % 5 WHEN 1 THEN 'failure' WHEN 3 THEN 'failure'
                        ELSE 'success' END AS outcome,
                   CASE WHEN i % 5 < 2 THEN CAST(i % 14 AS BIGINT)
                        ELSE CAST(-1 AS BIGINT) END AS logon_type,
                   COALESCE(CASE WHEN i % 5 < 2 THEN
                     CASE i % 14
                          WHEN 0 THEN 'System' WHEN 1 THEN 'System'
                          WHEN 2 THEN 'Interactive' WHEN 3 THEN 'Network'
                          WHEN 4 THEN 'Batch' WHEN 5 THEN 'Service'
                          WHEN 7 THEN 'Unlock'
                          WHEN 8 THEN 'NetworkCleartext'
                          WHEN 9 THEN 'NewCredentials'
                          WHEN 10 THEN 'RemoteInteractive'
                          WHEN 11 THEN 'CachedInteractive'
                          WHEN 12 THEN 'CachedRemoteInteractive'
                          WHEN 13 THEN 'CachedUnlock' END
                   END, '') AS logon_type_name,
                   COALESCE(CASE WHEN i % 5 < 2
                        THEN 'USER' || CAST(i AS VARCHAR) END,
                        '') AS account,
                   COALESCE(CASE WHEN i % 5 < 2
                        THEN '10.0.' || CAST(i % 256 AS VARCHAR) || '.'
                             || CAST((2 * i) % 256 AS VARCHAR)
                   END, '') AS src_addr,
                   CASE WHEN i % 5 < 2 THEN CAST(40000 + i AS BIGINT)
                        ELSE CAST(-1 AS BIGINT) END AS src_port,
                   (i % 5 < 2 AND i % 2 = 0) AS rcg,
                   CASE WHEN i % 5 < 2 THEN CAST(i % 9 AS BIGINT)
                        ELSE CAST(-1 AS BIGINT) END AS laps_ver,
                   (i % 5 < 2 AND i % 3 = 0) AS laps_rot,
                   COALESCE(CASE WHEN i % 5 = 3
                        THEN 'Reason-' || CAST(i AS VARCHAR) END,
                        '') AS tls_reason,
                   COALESCE(CASE WHEN i % 5 = 3
                        THEN 'Pol' || CAST(i % 3 AS VARCHAR) END,
                        '') AS tls_policy,
                   TRUE AS valid
            FROM generate_series(0, 49) t(i)
        """,
        "bpe_tokens": _bpe_oracle(),
        "dup_spans": r"""
            WITH pb AS (SELECT i FROM generate_series(0, 9) t(i)),
            planted AS (
                SELECT CAST(-(2*i + 1) AS BIGINT) AS doc_id,
                       array_to_string(list_transform(range(0, 40),
                           j -> 'pz' || i || 'q' || j), ' ') AS text
                FROM pb
                UNION ALL
                SELECT CAST(-(2*i + 2) AS BIGINT),
                       upper(array_to_string(list_transform(range(0, 40),
                           j -> 'pz' || i || 'q' || j), '  '))
                FROM pb
                UNION ALL
                SELECT CAST(-(100 + i) AS BIGINT),
                       array_to_string(list_concat(
                           list_transform(range(0, 20),
                               j -> 'pz' || i || 'q' || j),
                           list_transform(range(1000, 1020),
                               j -> 'pz' || i || 'q' || j)), ' ')
                FROM pb
            ),
            corpus AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id, text
                FROM documents
                UNION ALL SELECT doc_id, text FROM planted
            ),
            norm AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                           '\s+', ' ', 'g')), ' ') AS w
                FROM corpus
            ),
            g AS (
                SELECT doc_id, i AS pos,
                       array_to_string(w[i:i+12], ' ') AS sh
                FROM norm, LATERAL unnest(generate_series(
                    1, greatest(len(w) - 12, 1))) AS t(i)
            ),
            marked AS (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY sh
                           ORDER BY doc_id, pos) AS rn,
                       count(*) OVER (PARTITION BY sh) AS cnt
                FROM g
            ),
            starts AS (
                SELECT doc_id, list(pos ORDER BY pos) AS ss
                FROM marked WHERE cnt > 1 AND rn > 1 GROUP BY doc_id
            ),
            outp AS (
                SELECT n.doc_id, n.w,
                       coalesce(s.ss, CAST([] AS BIGINT[])) AS ss,
                       list_filter(n.w, (x, j) -> len(list_filter(
                           coalesce(s.ss, CAST([] AS BIGINT[])),
                           s -> s <= j AND j < s + 13)) = 0) AS kept
                FROM norm n LEFT JOIN starts s USING (doc_id)
            )
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_words,
                   CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
                   md5(coalesce(array_to_string(kept, ' '), ''))
                       AS cleaned_fp
            FROM outp
        """,
        "curation_pipeline": f"""
            WITH corpus AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id, text
                FROM documents
                UNION ALL
                SELECT CAST(-(2*i + j) AS BIGINT),
                       CASE i WHEN 0 THEN 'the data and the table are in '
                            || 'the same group for the test run'
                          WHEN 1 THEN 'the fast scan and the slow merge '
                            || 'share the same key in the plan'
                          ELSE 'the batch and the stream write to '
                            || 'the same sink for the query' END
                FROM generate_series(0, 2) t(i),
                     generate_series(1, 2) u(j)
            ), scored AS (
                SELECT doc_id, text,
                       {_lang_score('en')} AS s_en, {_lang_score('es')} AS s_es,
                       {_lang_score('de')} AS s_de, {_lang_score('fr')} AS s_fr,
                       len(string_split_regex(trim(text), '\\s+')) AS n_words,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           * 1.0 / greatest(length(text), 1) AS alpha_ratio,
                       length(regexp_replace(text,
                           '[^!-/:-@\\[-`{{-~]', '', 'g'))
                           * 1.0 / greatest(length(text), 1) AS punct_ratio
                FROM corpus
            ), lang AS (
                SELECT *,
                    CASE
                        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                             AND s_en > 0 THEN 'en'
                        WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0
                            THEN 'es'
                        WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                        WHEN s_fr > 0 THEN 'fr'
                        ELSE 'und' END AS lang_pred
                FROM scored
            ), keepq AS (
                SELECT doc_id, text,
                       CASE WHEN lang_pred = 'en' AND n_words >= 8
                                 AND n_words <= 5000
                                 AND alpha_ratio >= 0.6
                                 AND punct_ratio <= 0.1
                            THEN 1 ELSE 0 END AS keep_q
                FROM lang
            ), dd AS (
                SELECT doc_id, keep_q,
                       CASE WHEN keep_q = 1 AND doc_id = min(
                                CASE WHEN keep_q = 1 THEN doc_id END)
                                OVER (PARTITION BY md5(trim(
                                    regexp_replace(lower(text),
                                                   '\\s+', ' ', 'g'))))
                            THEN 1 ELSE 0 END AS keep_d
                FROM keepq
            ), norm AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                           '\\s+', ' ', 'g')), ' ') AS w
                FROM corpus
            ), g AS (
                SELECT doc_id, array_to_string(w[i:i+12], ' ') AS sh
                FROM norm, LATERAL unnest(generate_series(
                    1, greatest(len(w) - 12, 1))) AS t(i)
            ), bench AS (SELECT DISTINCT sh FROM g
                         WHERE doc_id >= 0 AND doc_id < 5),
            cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (sh))
            SELECT CAST(count(*) AS BIGINT) AS n_input,
                   CAST(sum(keep_q) AS BIGINT) AS n_quality,
                   CAST(sum(keep_d) AS BIGINT) AS n_dedup,
                   CAST(sum(CASE WHEN keep_d = 1 AND doc_id NOT IN
                                 (SELECT doc_id FROM cont)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_final
            FROM dd
        """,
        "url_filter": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   -- PSL eTLD+1 of 's<k>.<apex>': example.com -> apex
                   -- itself (suffix 'com'); sample.co.uk -> apex
                   -- (suffix 'co.uk'); tracker.org -> apex
                   CASE doc_id % 3
                        WHEN 0 THEN 'example.com'
                        WHEN 1 THEN 'sample.co.uk'
                        ELSE 'tracker.org' END AS url_domain,
                   (doc_id % 3) IN (1, 2) AS url_blocked
            FROM documents
        """,
        "global_vars": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(row_number() OVER w AS BIGINT) AS n_so_far,
                   CAST(count(*) FILTER (WHERE event_type = 'click')
                        OVER w AS BIGINT) AS clicks_so_far,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        OVER w AS BIGINT) AS cents_so_far,
                   coalesce(last_value(
                        CASE WHEN event_type = 'click'
                             THEN CAST(user_id AS VARCHAR) END
                        IGNORE NULLS) OVER w, '') AS last_click_user
            FROM events
            WINDOW w AS (ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "global_vars2": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(row_number() OVER w
                        - coalesce(max(CASE WHEN event_type = 'error'
                                       THEN rn END) OVER w, 0)
                        AS BIGINT) AS n_since_err,
                   coalesce(last_value(
                        CASE WHEN event_type = 'signup'
                             THEN CAST(user_id AS VARCHAR)
                             WHEN event_type = 'purchase' THEN ''
                        END IGNORE NULLS) OVER w, '')
                       AS last_signup_user
            FROM (
                SELECT event_id, event_type, user_id,
                       row_number() OVER (ORDER BY event_id) AS rn
                FROM events
            )
            WINDOW w AS (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
        """,
        "device_parse": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(event_id % 3 AS BIGINT) AS variant,
                   CAST(CASE WHEN event_id % 3 = 0 THEN event_id
                             ELSE -1 END AS BIGINT) AS cisco_seq,
                   CAST(CASE WHEN event_id % 3 = 1 THEN event_id % 50 + 1
                             ELSE -1 END AS BIGINT) AS repeat_count,
                   CASE WHEN event_id % 3 = 0
                        THEN 'host' || CAST(user_id % 32 AS VARCHAR)
                        ELSE 'basehost' END AS hostname,
                   CASE WHEN event_id % 3 = 0
                        THEN '%SYS-' || CAST({sev} AS VARCHAR) || '-'
                             || upper(event_type)
                        ELSE 'base' END AS programname,
                   CASE WHEN event_id % 3 = 0
                        THEN '%SYS-' || CAST({sev} AS VARCHAR) || '-'
                             || upper(event_type) || ':'
                        WHEN event_id % 3 = 1 THEN ''
                        ELSE 'basetag:' END AS syslogtag,
                   CASE WHEN event_id % 3 = 0
                        THEN strftime(ts, '%b')
                             || printf('%3d', CAST(day(ts) AS INT))
                             || ' ' || strftime(ts, '%H:%M:%S')
                        ELSE '-' END AS tsr,
                   CASE WHEN event_id % 3 = 0
                        THEN 'cfg k='
                             || CAST(json_extract(props, '$.k') AS VARCHAR)
                        WHEN event_id % 3 = 1
                        THEN 'last message repeated '
                             || CAST(event_id % 50 + 1 AS VARCHAR)
                             || ' times'
                        ELSE 'basemsg' END AS msg,
                   CAST(CASE WHEN event_id % 3 IN (0, 1) THEN 1
                             ELSE 0 END AS BIGINT) AS ok
            FROM events
        """,
        "cee_json": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CASE WHEN event_id % 5 = 0 THEN ''
                        ELSE CAST(json_extract(props, '$.k') AS VARCHAR)
                        END AS cee_k,
                   CASE WHEN event_id % 5 = 0 THEN ''
                        ELSE event_type END AS cee_ev,
                   CASE WHEN event_id % 5 = 0 THEN ''
                        ELSE CAST(event_id AS VARCHAR) END AS cee_id,
                   CAST(CASE WHEN event_id % 5 = 0 THEN 0
                             ELSE 1 END AS BIGINT) AS ok
            FROM events
        """,
        "kmsg_parse": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST({O['pri']} AS BIGINT) AS pri,
                   CAST({O['pri']} // 8 AS BIGINT) AS facility,
                   CAST({O['pri']} % 8 AS BIGINT) AS severity,
                   CAST(event_id AS BIGINT) AS sequnum,
                   CAST(event_id * 997 + 13 AS BIGINT) AS usec,
                   'kern k=' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       AS msg,
                   CASE WHEN event_id % 2 = 0
                        THEN 'sub' || CAST(event_id % 4 AS VARCHAR)
                        ELSE '' END AS subsystem,
                   CASE WHEN event_id % 2 = 0
                        THEN 'd' || CAST(user_id % 9 AS VARCHAR)
                        ELSE '' END AS device
            FROM events
            WHERE event_id % 11 <> 0
        """,
        "token_dup_spans": """
            SELECT CAST(event_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN event_id % 3 = 1 THEN 25 ELSE 30 END
                        AS BIGINT) AS n_toks,
                   CAST(CASE WHEN event_id % 3 = 0 AND event_id > 0
                             THEN 20
                             WHEN event_id % 3 = 2 THEN 15
                             ELSE 0 END AS BIGINT) AS n_removed,
                   md5(CASE
                       WHEN event_id % 3 = 0 AND event_id = 0
                       THEN array_to_string(list_concat(
                            range(7, 27),
                            range(event_id*100, event_id*100 + 10)), ' ')
                       WHEN event_id % 3 = 0
                       THEN array_to_string(
                            range(event_id*100, event_id*100 + 10), ' ')
                       WHEN event_id % 3 = 1
                       THEN array_to_string(
                            range(event_id*100, event_id*100 + 25), ' ')
                       ELSE array_to_string(
                            range(event_id*100, event_id*100 + 15), ' ')
                       END) AS cleaned_fp
            FROM events
        """,
        "gopher_quality": r"""
            WITH w AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS ws
                FROM documents
            ), c AS (
                SELECT doc_id,
                       len(ws) AS n,
                       list_sum(list_transform(ws, x -> length(x)))
                           AS sum_wl,
                       len(list_filter(ws,
                           x -> regexp_matches(x, '[A-Za-z]')))
                           AS n_alpha,
                       (CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'the')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'be')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'to')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'of')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'and')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'that')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'have')
                            THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(
                            list_transform(ws, x -> lower(x)), 'with')
                            THEN 1 ELSE 0 END) AS stop_hits
                FROM w
            ), p AS (
                SELECT doc_id,
                       CAST(n AS BIGINT) AS g_n_words,
                       CAST(CASE WHEN n > 0 THEN sum_wl * 1000 // n
                            ELSE 0 END AS BIGINT) AS g_mean_wl_pm,
                       CAST(0 AS BIGINT) AS g_symbol_pm,
                       CAST(CASE WHEN n > 0 THEN n_alpha * 1000 // n
                            ELSE 0 END AS BIGINT) AS g_alpha_pm,
                       CAST(stop_hits AS BIGINT) AS g_stop_hits
                FROM c
            )
            SELECT *,
                   CAST(CASE WHEN g_n_words >= 50 AND g_n_words <= 100000
                             AND g_mean_wl_pm >= 3000
                             AND g_mean_wl_pm <= 10000
                             AND g_symbol_pm <= 100
                             AND g_alpha_pm >= 800
                             AND g_stop_hits >= 2
                        THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
            FROM p
        """,
        "k8s_records": f"""
            SELECT '/var/log/pods/ns' || CAST(event_id % 5 AS VARCHAR)
                       || '_pod' || CAST(event_id % 7 AS VARCHAR)
                       || '_uid' || CAST(event_id AS VARCHAR)
                       || '/app/' || CAST(event_id % 4 AS VARCHAR)
                       || '.log' AS path,
                   'ns' || CAST(event_id % 5 AS VARCHAR) AS ns,
                   'pod' || CAST(event_id % 7 AS VARCHAR) AS pod,
                   CAST(event_id % 4 AS BIGINT) AS restart,
                   CASE WHEN event_id % 3 = 2 THEN 'stderr'
                        WHEN event_id % 2 = 0 THEN 'stdout'
                        ELSE 'stderr' END AS stream,
                   CASE event_id % 3
                        WHEN 0 THEN 'a' || {_K} || '-b-c' || {_K}
                        WHEN 1 THEN 'solo ' || {_K}
                        ELSE 'dock ' || {_K} END AS msg,
                   CAST(CASE WHEN event_id % 3 = 0 THEN 3 ELSE 1 END
                        AS BIGINT) AS n_merged,
                   CASE WHEN event_id % 3 = 2 THEN 'docker_json'
                        ELSE 'cri' END AS fmt
            FROM events
        """,
        "klog_lines": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(CASE WHEN event_id % 5 = 2
                             THEN 8 + user_id % 184
                             ELSE 6 END AS BIGINT) AS pri,
                   CAST((CASE WHEN event_id % 5 = 2
                              THEN 8 + user_id % 184
                              ELSE 6 END) // 8 AS BIGINT) AS facility,
                   CAST((CASE WHEN event_id % 5 = 2
                              THEN 8 + user_id % 184
                              ELSE 6 END) % 8 AS BIGINT) AS severity,
                   CASE event_id % 5
                        WHEN 0 THEN ' usb k=' || {_K}
                        WHEN 1 THEN 'core k=' || {_K}
                        WHEN 2 THEN 'fwd k=' || {_K}
                        WHEN 3 THEN 'raw k=' || {_K}
                        ELSE '<200>bad k=' || {_K} END AS msg,
                   'kernel:' AS syslogtag,
                   CAST(CASE WHEN event_id % 5 = 0 THEN event_id
                             ELSE -1 END AS BIGINT) AS ksecs,
                   CAST(CASE WHEN event_id % 5 = 0
                             THEN event_id % 1000000
                             ELSE -1 END AS BIGINT) AS kusecs
            FROM events
        """,
        "lm_quality": """
            WITH words AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id, w
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS t(w)
                WHERE w <> ''
            ), vocab AS (
                SELECT w, count(*) AS c FROM words GROUP BY w
            )
            SELECT words.doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(length(bin(vocab.c))) * 1000 // count(*)
                        AS BIGINT) AS lm_score
            FROM words JOIN vocab USING (w)
            GROUP BY words.doc_id
        """,
        "ccnet_buckets": """
            WITH words AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id, w
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS t(w)
                WHERE w <> ''
            ), vocab AS (
                SELECT w, count(*) AS c FROM words GROUP BY w
            ), scored AS (
                SELECT words.doc_id,
                       CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(length(bin(vocab.c))) * 1000 // count(*)
                            AS BIGINT) AS lm_score
                FROM words JOIN vocab USING (w)
                GROUP BY words.doc_id
            ), j AS (
                SELECT s.doc_id, d.lang, s.n_words, s.lm_score
                FROM scored s
                JOIN documents d ON d.doc_id = s.doc_id
            )
            SELECT doc_id, lang, n_words, lm_score,
                   CAST(ntile(3) OVER (PARTITION BY lang
                            ORDER BY lm_score DESC, doc_id)
                        AS BIGINT) AS bucket,
                   CASE ntile(3) OVER (PARTITION BY lang
                            ORDER BY lm_score DESC, doc_id)
                        WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                        ELSE 'middle' END AS bucket_name
            FROM j
        """,
        "pq_codes": """
            WITH v AS (
                SELECT CAST(vec_id AS BIGINT) AS vec_id,
                       CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ), sv AS (
                SELECT vec_id, s.s,
                       v.e[s.s * 8 + 1 : s.s * 8 + 8] AS vs
                FROM v CROSS JOIN
                     (SELECT unnest(range(0, 8)) AS s) s
            ), dist AS (
                SELECT vec_id, sv.s, c.c,
                       list_sum(list_transform(range(1, 9), i ->
                           (vs[i] - (((7 * c.c + 3 * (i - 1) + sv.s)
                                      % 16) / 8.0 - 1.0)) ^ 2))
                           AS d
                FROM sv CROSS JOIN
                     (SELECT unnest(range(0, 16)) AS c) c
            ), ranked AS (
                SELECT vec_id, s, c,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d, c) AS rk
                FROM dist
            )
            SELECT vec_id, CAST(s AS BIGINT) AS s,
                   CAST(c AS BIGINT) AS code
            FROM ranked WHERE rk = 1
        """,
        "corpus_stats": """
            WITH d AS (
                SELECT source AS g, CAST(doc_id AS BIGINT) AS id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text),
                                                        '\\s+'))
                       END AS n_tok,
                       lower(text) AS lt
                FROM documents
            ), base AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
                       CAST(min(n_tok) AS BIGINT) AS tok_min,
                       CAST(max(n_tok) AS BIGINT) AS tok_max
                FROM d GROUP BY g
            ), ranked AS (
                SELECT d.g, d.n_tok,
                       row_number() OVER (PARTITION BY d.g
                           ORDER BY d.n_tok, d.id) AS rn,
                       base.n_docs
                FROM d JOIN base USING (g)
            ), pct AS (
                SELECT g,
                       CAST(max(CASE WHEN rn = greatest(1,
                            CAST(ceil(n_docs * 0.5) AS BIGINT))
                            THEN n_tok END) AS BIGINT) AS tok_p50,
                       CAST(max(CASE WHEN rn = greatest(1,
                            CAST(ceil(n_docs * 0.95) AS BIGINT))
                            THEN n_tok END) AS BIGINT) AS tok_p95
                FROM ranked GROUP BY g
            ), vocab AS (
                SELECT g, CAST(count(DISTINCT w) AS BIGINT) AS vocab
                FROM (
                    SELECT g, unnest(string_split_regex(lt, '[^a-z]+'))
                           AS w
                    FROM d
                ) WHERE w <> '' GROUP BY g
            )
            SELECT base.g AS source, n_docs, tok_sum, tok_min,
                   tok_max, tok_p50, tok_p95,
                   coalesce(vocab.vocab, 0) AS vocab,
                   CAST(CASE WHEN tok_sum > 0
                        THEN coalesce(vocab.vocab, 0) * 1000 // tok_sum
                        ELSE 0 END AS BIGINT) AS ttr_permille
            FROM base JOIN pct USING (g)
            LEFT JOIN vocab USING (g)
        """,
        "url_dedup": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://h' || CAST(doc_id % 25 AS VARCHAR)
                       || '.example.com/p/'
                       || CAST(doc_id % 25 AS VARCHAR) AS canon_url,
                   doc_id <> doc_id % 25 AS is_url_dup
            FROM documents
        """,
        "chunk_windows": """
            WITH d AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       regexp_extract_all(lower(text), '[a-z0-9]+')
                           AS w
                FROM documents
            ), s AS (
                SELECT doc_id, w, len(w) AS n,
                       unnest(range(0, len(w), 8)) AS start
                FROM d
            )
            SELECT doc_id,
                   CAST(start // 8 AS BIGINT) AS chunk_idx,
                   CAST(start AS BIGINT) AS start,
                   CAST(least(16, n - start) AS BIGINT) AS n_tok,
                   array_to_string(w[start + 1 : least(start + 16, n)],
                                   ' ') AS chunk_text,
                   start + 16 > n AS is_tail
            FROM s
        """,
        "q8_codes": """
            WITH v AS (
                SELECT CAST(vec_id AS BIGINT) AS vec_id,
                       CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ), m AS (
                SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS m
                FROM v
            ), c AS (
                SELECT vec_id,
                       CASE WHEN m = 0
                            THEN list_transform(e, x -> 0)
                            ELSE list_transform(e, x ->
                                CAST(floor(x / m * 127 + 0.5) AS INT))
                       END AS codes
                FROM m
            ), p AS (
                SELECT unnest(range(1, 65)) AS pos1
            )
            SELECT vec_id,
                   CAST(p.pos1 - 1 AS BIGINT) AS pos,
                   CAST(codes[p.pos1] AS BIGINT) AS code
            FROM c CROSS JOIN p
        """,
        "q8_topk": """
            WITH v AS (
                SELECT CAST(vec_id AS BIGINT) AS vec_id,
                       CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ), g AS (
                SELECT max(list_max(list_transform(e, x -> abs(x))))
                       AS gm
                FROM v
            ), c AS (
                -- corpus: GLOBAL scale (trained-bounds quantizer)
                SELECT vec_id,
                       CASE WHEN g.gm = 0
                            THEN list_transform(e, x -> 0)
                            ELSE list_transform(e, x ->
                                CAST(floor(x / g.gm * 127 + 0.5) AS INT))
                       END AS codes
                FROM v CROSS JOIN g
            ), qm AS (
                SELECT vec_id AS q_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS m
                FROM v ORDER BY vec_id LIMIT 3
            ), q AS (
                -- queries: per-vector scale (constant per query)
                SELECT q_id,
                       CASE WHEN m = 0
                            THEN list_transform(e, x -> 0)
                            ELSE list_transform(e, x ->
                                CAST(floor(x / m * 127 + 0.5) AS INT))
                       END AS q_codes
                FROM qm
            ), s AS (
                SELECT q.q_id, c.vec_id,
                       CAST(list_dot_product(
                           CAST(c.codes AS DOUBLE[]),
                           CAST(q.q_codes AS DOUBLE[])) AS BIGINT)
                           AS score
                FROM c CROSS JOIN q
            ), r AS (
                SELECT q_id, vec_id, score,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY score DESC, vec_id) AS rank
                FROM s
            )
            SELECT q_id, vec_id, score, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5
        """,
        "dsir_select": """
            WITH words AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       lang = 'en' AS tgt, w
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS t(w)
                WHERE w <> ''
            ), vocab AS (
                SELECT w,
                       list_reduce(
                           list_prepend(7, list_transform(
                               range(1, length(w) + 1),
                               i -> ord(substr(w, i, 1)))),
                           (a, b) -> (a * 31 + b) % 1048573
                       ) % 64 AS b
                FROM (SELECT DISTINCT w FROM words)
            ), wb AS (
                SELECT words.doc_id, words.tgt, vocab.b
                FROM words JOIN vocab USING (w)
            ), raw AS (
                SELECT b, count(*) AS c_raw FROM wb GROUP BY b
            ), tgt AS (
                SELECT b, count(*) AS c_tgt FROM wb WHERE tgt GROUP BY b
            ), wt AS (
                SELECT raw.b,
                       CAST(length(bin(coalesce(tgt.c_tgt, 0) + 1))
                            - length(bin(raw.c_raw + 1)) AS BIGINT) AS wt
                FROM raw LEFT JOIN tgt ON raw.b = tgt.b
            ), scored AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(wt.wt) AS BIGINT) AS wt_sum
                FROM wb JOIN wt USING (b)
                GROUP BY doc_id
            )
            SELECT doc_id, n_words, wt_sum FROM scored
            ORDER BY wt_sum DESC,
                     ((doc_id % 2147483648) * 1103515245 + 12345)
                         % 2147483648 % 10000,
                     doc_id
            LIMIT 100
        """,
        "nb_lang": """
            WITH base AS (
                SELECT CAST(doc_id AS BIGINT) doc_id, text, lang
                FROM documents
            ), words AS (
                SELECT doc_id, lang AS lab, w FROM base,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS t(w)
                WHERE w <> ''
            ), vocab AS (
                SELECT DISTINCT w FROM words
            ), vs AS (
                SELECT count(*) v FROM vocab
            ), wc AS (
                SELECT w, lab, count(*) c_wc FROM words
                WHERE lab IS NOT NULL GROUP BY w, lab
            ), totals AS (
                SELECT lab, count(*) n_c FROM words
                WHERE lab IS NOT NULL GROUP BY lab
            ), dense AS (
                SELECT vocab.w, totals.lab,
                       CAST(length(bin(rr.r * rr.r)) AS BIGINT) wt
                FROM vocab CROSS JOIN totals
                LEFT JOIN wc
                       ON wc.w = vocab.w AND wc.lab = totals.lab,
                LATERAL (
                    SELECT ((coalesce(wc.c_wc, 0) + 1) * 1048576)
                           // (totals.n_c + (SELECT v FROM vs)) AS r
                ) rr
            ), docsn AS (
                SELECT count(*) nd, count(DISTINCT lang) k
                FROM base WHERE lang IS NOT NULL
            ), prior AS (
                SELECT lang AS lab,
                       CAST(length(bin(pr.r * pr.r)) AS BIGINT) p_wt
                FROM (
                    SELECT lang, count(*) d_c FROM base
                    WHERE lang IS NOT NULL GROUP BY lang
                ) pc,
                LATERAL (
                    SELECT ((pc.d_c + 1) * 1048576)
                           // ((SELECT nd FROM docsn)
                               + (SELECT k FROM docsn)) AS r
                ) pr
            ), scored AS (
                SELECT words.doc_id, dense.lab,
                       CAST(count(*) AS BIGINT) n_words,
                       CAST(sum(dense.wt) AS BIGINT) wt_sum
                FROM words JOIN dense USING (w)
                GROUP BY words.doc_id, dense.lab
            ), final AS (
                SELECT scored.doc_id, scored.lab, scored.n_words,
                       scored.wt_sum + prior.p_wt AS score,
                       row_number() OVER (
                           PARTITION BY scored.doc_id
                           ORDER BY scored.wt_sum + prior.p_wt DESC,
                                    scored.lab
                       ) rn
                FROM scored JOIN prior USING (lab)
            )
            SELECT doc_id, n_words, lab AS pred_class,
                   CAST(score AS BIGINT) AS score
            FROM final WHERE rn = 1
        """,
        "pcap_fields": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(2048 AS BIGINT) AS ether_type,
                   CAST(17 AS BIGINT) AS ip_proto,
                   CAST(64 AS BIGINT) AS ip_ttl,
                   CAST(28 + length('pkt k='
                        || CAST(json_extract(props, '$.k') AS VARCHAR))
                        AS BIGINT) AS ip_total_len,
                   '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.'
                       || CAST(event_id % 256 AS VARCHAR) AS src_ip,
                   '172.16.0.' || CAST(user_id % 7 AS VARCHAR) AS dst_ip,
                   CAST(1024 + event_id % 1000 AS BIGINT) AS src_port,
                   CAST(514 AS BIGINT) AS dst_port,
                   'pkt k=' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       AS payload
            FROM events
        """,
        "journal_parse": f"""
            SELECT {O['doc_id']} AS doc_id,
                   CAST(CASE WHEN event_id % 13 = 0 THEN 5
                             ELSE event_id % 8 END AS BIGINT) AS severity,
                   CAST(CASE WHEN user_id % 30 <= 23 THEN user_id % 30
                             ELSE 1 END AS BIGINT) AS facility,
                   CASE WHEN event_id % 3 <> 0 THEN event_type
                        ELSE 'comm' || CAST(event_id % 5 AS VARCHAR) END
                       || CASE WHEN event_id % 2 = 0
                               THEN '[' || CAST(event_id % 997 AS VARCHAR)
                                    || ']:'
                               ELSE ':' END AS syslogtag,
                   CASE WHEN event_id % 3 <> 0 THEN event_type
                        ELSE 'comm' || CAST(event_id % 5 AS VARCHAR) END
                       AS programname,
                   CASE WHEN event_id % 2 = 0
                        THEN CAST(event_id % 997 AS VARCHAR)
                        ELSE '' END AS procid,
                   'spark-node' AS hostname,
                   'jmsg k=' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       AS msg,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_usec,
                   'bar' || CAST(json_extract(props, '$.k') AS VARCHAR)
                       AS foo
            FROM events
        """,
        "ulog_parse": f"""
            SELECT {O['doc_id']} AS doc_id,
                   'sic' || CAST(user_id % 5 AS VARCHAR) AS hostname,
                   event_type || '.'
                       || CAST(event_id % 9000 AS VARCHAR) || '.1'
                       AS procid,
                   strftime(ts, '%H:%M:%S') || '.' ||
                       CASE WHEN event_id % 2 = 0
                            THEN lpad(CAST(event_id % 100 AS VARCHAR),
                                      2, '0')
                            ELSE lpad(CAST(event_id % 1000 AS VARCHAR),
                                      3, '0') END AS tsr,
                   CAST(CASE WHEN event_id % 2 = 0 THEN 2 ELSE 3 END
                        AS BIGINT) AS precision,
                   CASE WHEN event_id % 4 = 1
                        THEN '[ECID="E' || CAST(event_id AS VARCHAR)
                             || '"]'
                        WHEN event_id % 4 = 2
                        THEN '[ECID="G' || CAST(event_id AS VARCHAR)
                             || '"]'
                        ELSE '-' END AS structured_data,
                   CASE WHEN event_id % 4 = 0
                        THEN 'TSAM:305: k='
                             || CAST(json_extract(props, '$.k') AS VARCHAR)
                        WHEN event_id % 4 = 1
                        THEN 'k='
                             || CAST(json_extract(props, '$.k') AS VARCHAR)
                        ELSE 'trace k='
                             || CAST(json_extract(props, '$.k') AS VARCHAR)
                        END AS msg,
                   'tux' AS syslogtag,
                   CAST(14 AS BIGINT) AS pri
            FROM events
            WHERE event_id % 4 <> 3
        """,
        "msg_fixups": f"""
            SELECT {O['doc_id']} AS doc_id,
                   'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0')
                       || ' k='
                       || CAST(json_extract(props, '$.k') AS VARCHAR)
                       AS msg,
                   CASE WHEN event_id % 5 = 0 THEN ''
                        ELSE 'h1' END AS hostname,
                   CASE WHEN event_id % 5 = 0 THEN 'stolen' || event_type
                        ELSE 't:' END AS syslogtag,
                   CAST(row_number() OVER (ORDER BY event_id) AS BIGINT)
                       AS seq
            FROM events
        """,
        "badwords": r"""
            WITH toks AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       len(list_filter(
                           list_transform(
                               string_split_regex(lower(text), '\s+'),
                               w -> regexp_replace(
                                   w, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
                           w -> w IN ('legacy', 'slow'))) AS bad_hits
                FROM documents
            )
            SELECT doc_id,
                   CAST(bad_hits AS BIGINT) AS bad_hits,
                   CAST(CASE WHEN bad_hits = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS kept
            FROM toks
        """,
        "bm25_topk": _bm25_oracle(),
    }


def _bm25_oracle() -> str:
    """DuckDB twin of q_bm25_topk: same split, same per-term tf, same
    pre-log-idf arithmetic with the Python-folded constants emitted
    via repr, same (score DESC, id) tie-break — the ranking is an
    IEEE-for-IEEE mirror of the Spark plan, so only integer columns
    (doc_id, rank) need to travel through the value hash."""
    split = "string_split_regex(lower(trim(text)), '\\s+')"
    tf_cols = ", ".join(
        f"len(list_filter({split}, w -> w = '{t}')) AS _tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END) AS _df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # every numeric literal is wrapped in CAST(… AS DOUBLE): a bare
    # 2.2 is DECIMAL in DuckDB and `_tf * 2.2` would be EXACT decimal
    # arithmetic, not the IEEE double multiply Spark performs — the
    # two can differ in the last mantissa bit and flip near-tie ranks
    # (code-review r5 finding, verified against DuckDB)
    k1p1 = f"CAST({_BM25_K1 + 1.0!r} AS DOUBLE)"
    k1mb = f"CAST({_BM25_K1 * (1.0 - _BM25_B)!r} AS DOUBLE)"
    k1b = f"CAST({_BM25_K1 * _BM25_B!r} AS DOUBLE)"
    half = "CAST(0.5 AS DOUBLE)"
    score = " + ".join(
        f"(((_n - _df{i}) + {half}) / (_df{i} + {half}))"
        f" * ((_tf{i} * {k1p1})"
        f" / (_tf{i} + ({k1mb} + {k1b}"
        " * (_dl / (CAST(_sdl AS DOUBLE) / _n)))))"
        for i in range(len(_BM25_TERMS))
    )
    any_hit = " OR ".join(
        f"_tf{i} > 0" for i in range(len(_BM25_TERMS))
    )
    return f"""
        WITH base AS (
            SELECT CAST(doc_id AS BIGINT) AS _id,
                   len({split}) AS _dl,
                   {tf_cols}
            FROM documents
        ), stats AS (
            SELECT count(*) AS _n, sum(_dl) AS _sdl, {df_cols}
            FROM base
        ), scored AS (
            SELECT _id, {score} AS score
            FROM base, stats
            WHERE {any_hit}
        )
        SELECT _id AS doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, _id)
                    AS BIGINT) AS rank
        FROM scored
        ORDER BY score DESC, _id
        LIMIT 10
    """


def _bpe_oracle() -> str:
    """Independent greedy-BPE replay in DuckDB: per DISTINCT word, a
    recursive CTE merges the lowest-rank adjacent pair (leftmost on
    rank ties) until no pair is in the merge map — the same priority
    semantics as datapipe.tokenize._encode_word, implemented against
    list primitives instead of Python. Word-level results then join
    back to per-doc word counts. '|' is a safe pair-key separator (the
    pre-tokenizer alphabet is [a-z0-9])."""
    keys = ", ".join(f"'{l}|{r}'" for l, r in BPE_MERGES)
    ranks = ", ".join(str(i) for i in range(len(BPE_MERGES)))
    mk = f"map([{keys}], [{ranks}])"
    return f"""
        WITH RECURSIVE
        wpd AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents
        ),
        wcount AS (SELECT doc_id, w, count(*) AS c FROM wpd GROUP BY 1, 2),
        dwords AS (SELECT DISTINCT w FROM wpd),
        bpe AS (
            SELECT w,
                   list_transform(range(1, length(w) + 1), i -> w[i]) AS toks,
                   false AS done
            FROM dwords
            UNION ALL
            SELECT w,
                   CASE WHEN best IS NULL THEN toks
                        ELSE list_concat(list_concat(toks[1:pos - 1],
                                 [toks[pos] || toks[pos + 1]]),
                                 toks[pos + 2:]) END,
                   best IS NULL
            FROM (
                SELECT w, toks,
                       list_min(list_filter(ranks, r -> r < 999999999))
                           AS best,
                       list_position(ranks,
                           list_min(list_filter(ranks, r -> r < 999999999)))
                           AS pos
                FROM (
                    SELECT w, toks,
                           list_transform(range(1, length(toks)), i ->
                               coalesce(map_extract({mk},
                                   toks[i] || '|' || toks[i + 1])[1],
                                   999999999)) AS ranks
                    FROM bpe WHERE NOT done
                )
            )
        ),
        wl AS (SELECT w, length(toks) AS nb FROM bpe WHERE done),
        agg AS (
            SELECT wc.doc_id,
                   sum(wc.c) AS n_words,
                   sum(wc.c * wl.nb) AS n_bpe,
                   sum(wc.c * length(wc.w)) AS n_chars
            FROM wcount wc JOIN wl USING (w) GROUP BY 1
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe,
               CAST(CASE WHEN coalesce(a.n_chars, 0) > 0
                    THEN (1000 * a.n_bpe) // a.n_chars
                    ELSE -1 END AS BIGINT) AS compression_permille
        FROM documents d LEFT JOIN agg a ON CAST(d.doc_id AS BIGINT) = a.doc_id
    """
