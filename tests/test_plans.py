"""Physical-plan assertions: the 100 TB sanity checks.

Does column pruning reach the scan through the parse projection? Do
dimension joins broadcast? Does a keyed count shuffle once, after its
partial aggregate? Does top-k avoid shuffling the scored corpus?"""

from __future__ import annotations

import contextlib
import io
import re

import pyspark.sql.functions as F

from rsyslog_spark import aggregates as agg
from rsyslog_spark import corpus, flagship
from rsyslog_spark.lookup import LookupTable
from rsyslog_spark.parsing import parse


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning_through_parse(spark, sf_dir, tmp_path):
    """A query needing only facility must read ONLY `tokens` from the
    tokens table — Catalyst prunes the other 12 parse outputs and the
    other input columns."""
    tokens_path = str(tmp_path / "tok")
    corpus.logtokens(spark, sf_dir).write.parquet(tokens_path)
    lt = spark.read.parquet(tokens_path)
    q = parse(lt).groupBy("facility").count()
    p = plan_of(q)
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "tokens" in read
    for unused in ("doc_id", "n_tok", "source"):
        assert unused not in read, f"{unused} not pruned: {read}"


def test_lookup_join_broadcasts(spark, sf_dir):
    t = LookupTable("x", "string", [("error", "bad"), ("signup", "ok")])
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = plan_of(t.enrich(df, "event_type", "v"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_keyed_count_one_exchange_after_partial_agg(spark, sf_dir):
    """A keyed count over the zipf ``source`` key shuffles once, and
    what it shuffles is already reduced: the node feeding the one
    Exchange is the partial (map-side) HashAggregate."""
    parsed = flagship.build_parsed(spark, sf_dir)
    p = plan_of(agg.dyn_stats(parsed, ["facility", "severity", "source"]))
    # the numbered node sections, in plan order (children first); a
    # ReusedExchange section does not match
    nodes = re.split(r"\n(?=\(\d+\) )", p)
    exchanges = [
        i for i, n in enumerate(nodes) if re.match(r"\(\d+\) Exchange", n)
    ]
    assert len(exchanges) == 1, p
    below = nodes[exchanges[0] - 1]
    assert re.match(r"\(\d+\) HashAggregate", below), p
    assert "partial_count" in below, p


def test_route_counts_single_shuffle(spark, sf_dir):
    rc = flagship.route_counts(spark, sf_dir)
    p = plan_of(rc)
    n_exchange = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and "Exchange" in l
        and "Broadcast" not in l and "Reused" not in l
    )
    # one partial->final aggregation shuffle; everything else is a
    # narrow map over the scan
    assert n_exchange == 1, p


def test_simsearch_no_corpus_shuffle_before_scoring(spark, sf_dir):
    from rsyslog_spark.datapipe import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(emb, queries, k=3)
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" in p  # queries broadcast
    # the scored set is reduced per-partition BEFORE any shuffle: the
    # first Exchange input must be a partial aggregate, not raw scores
    lines = p.splitlines()
    first_exchange = next(
        i for i, l in enumerate(lines) if "+- Exchange" in l
    )
    above = "\n".join(lines[max(0, first_exchange - 3): first_exchange])
    assert "ObjectHashAggregate" in above or "HashAggregate" in above, p


def test_parse_stage_is_whole_stage_codegen(spark, sf_dir, tmp_path):
    tokens_path = str(tmp_path / "tok2")
    corpus.logtokens(spark, sf_dir).limit(100).write.parquet(tokens_path)
    lt = spark.read.parquet(tokens_path)
    p = plan_of(parse(lt).select("facility", "msg"))
    # formatted explain marks codegen'd operators with a '*' prefix
    assert "* Project" in p or "* ColumnarToRow" in p
    assert "BatchEvalPython" not in p  # no row-at-a-time Python
    assert "ArrowEvalPython" not in p  # jvm decode default has no UDF

def test_dyn_stats_capped_no_global_window(spark):
    """maxCardinality top-N must be a distributed TakeOrderedAndProject,
    never a single-partition global Window sort (the round-1 weak spot:
    a global row_number pulled every distinct key through one task)."""
    df = spark.createDataFrame(
        [(f"k{i % 50}",) for i in range(500)], "key string"
    )
    out = agg.dyn_stats_capped(df, ["key"], max_cardinality=5)
    p = plan_of(out)
    assert "Window" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # semantics: 5 kept + 1 overflow carrying the remaining mass
    rows = {r.key: r.n for r in out.collect()}
    assert len(rows) == 6 and sum(rows.values()) == 500


def test_ngram_jaccard_no_unbounded_hot_join(spark):
    """The shingle self-join must consume only df-capped shingles: the
    plan filters document frequency BEFORE the join (a hot shingle in k
    docs can no longer produce k² candidate rows)."""
    from rsyslog_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"shared common prefix words plus unique w{i} v{i}")
         for i in range(40)],
        "doc_id long, text string",
    )
    out = ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.1, df_max=10)
    p = plan_of(out)
    # the df-cap aggregate feeds the join side
    assert "count(1)" in p and "array_intersect" in p, p


def test_ngram_jaccard_intersect_once_below_barrier(spark, sf_dir):
    """The ngram_jaccard entry evaluates array_intersect once per
    candidate pair, in the projection that dedup._project_barrier (an
    explode Generate) keeps under it; the jaccard threshold filter
    sits above the Generate and reads n_inter as an attribute. Without
    the barrier, filter pushdown and the jaccard projection inline the
    intersect three times."""
    import __spark_entry__ as entry

    q = entry.q_ngram_jaccard(spark, sf_dir)
    lines = q._jdf.queryExecution().optimizedPlan().toString().splitlines()
    hits = [i for i, line in enumerate(lines) if "array_intersect(" in line]
    assert len(hits) == 1 and lines[hits[0]].count("array_intersect(") == 1
    # the tree string prints a parent above its children
    gen = next(i for i, line in enumerate(lines)
               if "Generate explode(array(struct(" in line)
    filt = next(i for i, line in enumerate(lines)
                if "Filter" in line and ">= 0.5" in line)
    assert filt < gen < hits[0], "\n".join(lines[: hits[0] + 1])


def test_upsert_reads_only_touched_partitions(spark, tmp_path):
    """The merge scan must partition-prune to the touched buckets."""
    from rsyslog_spark.sinks import upsert_aggregate

    path = str(tmp_path / "state")
    big = spark.createDataFrame(
        [(f"key{i}", 1) for i in range(100)], "key string, n long"
    )
    upsert_aggregate(big, path, ["key"], {"n": "sum"}, num_buckets=8)
    # second upsert touches exactly one bucket: its read of old state
    # must carry a PartitionFilters entry on _bucket
    one = spark.createDataFrame([("key0", 1)], "key string, n long")
    old = spark.read.parquet(path).filter(F.col("_bucket").isin([3]))
    p = plan_of(old)
    assert "PartitionFilters" in p and "_bucket" in p, p
    upsert_aggregate(one, path, ["key"], {"n": "sum"}, num_buckets=8)


def test_cidr_lookup_is_pure_projection(spark):
    """CIDR longest-prefix match must compile to masked-compare
    expressions — no join, no shuffle of the fact side."""
    from rsyslog_spark.lookup import LookupTable, mmdblookup

    t = LookupTable("nets", "cidr", [("10.0.0.0/8", "ten")], nomatch="pub")
    df = spark.range(1000).withColumn(
        "ip", F.concat(F.lit("10.0.0."), (F.col("id") % 256).cast("string"))
    )
    p = plan_of(mmdblookup(df, t, "ip", "net"))
    assert "Join" not in p and "Exchange" not in p, p


def test_ivf_topk_corpus_never_shuffles_before_scoring(spark):
    """IVF probe join must broadcast the (tiny) query-probe side; the
    corpus is scanned once with no pre-scoring shuffle."""
    from rsyslog_spark.datapipe.simsearch import ivf_topk

    corpus_df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 0.0, 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "q_id long, q_vec array<float>"
    )
    cb = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    p = plan_of(ivf_topk(corpus_df, queries, k=3, n_probe=2, centroids=cb))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def codegen_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    return buf.getvalue()


def test_mmnormalize_single_regex_pass_per_rule(spark):
    """mmnormalize extraction is single-pass AT RUNTIME (VERDICT r2
    #1): each rule's fields are rewritten in ONE regexp_replace, not
    one regexp_extract per capture group. The optimized-plan TEXT
    still shows inlined copies (Catalyst re-inlines across collapsed
    projections), so the assertion reads the GENERATED CODE — each
    RegExpReplace eval site emits exactly one invalidRegexpReplaceError
    branch; R rules ⇒ R eval sites, zero regexp_extract, whatever the
    field count (here 5 and 2)."""
    from rsyslog_spark import mm

    rules = mm.load_rulebase(
        "rule=a:%date:date-rfc3164% %host:word% %tag:char-to:\\x3a%: "
        "sev=%sev:number% msg=%m:rest%\n"
        "rule=b:%w:word% took %ms:number%ms\n"
    )
    df = spark.createDataFrame([("x",)], "msg string")
    code = codegen_of(mm.mmnormalize(df, rules))
    assert code.count("invalidRegexpReplaceError") == len(rules), (
        f"expected {len(rules)} regexp_replace eval sites"
    )
    assert "RegExpExtract" not in code and "regexp_extract" not in code

    # a repeat element reads each named field with one regexp_extract
    # on the element; the rule itself keeps its one regexp_replace
    def passes(parser: str) -> tuple[int, int]:
        rule = mm.load_rulebase(
            f'rule=:kv %{{"name":"r","type":"repeat","parser":{parser},'
            '"while":{"type":"literal","text":";"}}%'
        )
        plan = mm.mmnormalize(df, rule)._jdf.queryExecution()
        text = plan.optimizedPlan().toString()
        return text.count("regexp_replace("), text.count("regexp_extract(")

    item = ('[{"type":"word","name":"k"},{"type":"literal","text":"="},'
            '{"type":"number","name":"v"}]')
    nested = ('{"name":"in","type":"repeat","parser":' + item
              + ',"while":{"type":"literal","text":","}}')
    rewrites, extracts = passes('{"type":"number"}')
    assert extracts == 0
    assert passes('{"type":"number","name":"n"}') == (rewrites, 1)
    assert passes(item) == (rewrites, 2)
    assert passes(nested) == (rewrites, 3)


def test_mmgrok_single_regex_pass(spark):
    from rsyslog_spark import mm

    df = spark.createDataFrame([("x",)], "msg string")
    out = mm.mmgrok(df, r"%{SYSLOGTIMESTAMP:ts} %{HOSTNAME:h} %{WORD:prog}")
    code = codegen_of(out)
    assert code.count("invalidRegexpReplaceError") == 1
    assert "RegExpExtract" not in code and "regexp_extract" not in code


def test_ivf_training_sample_is_parallel(spark):
    """IVF codebook training must not funnel its sample through one
    GlobalLimit task (VERDICT r2 wrong #1): the bounded sample is
    partition-local sample(fraction) + one repartition, so every Lloyd
    iteration's assignment scan runs defaultParallelism tasks."""
    from rsyslog_spark.datapipe.simsearch import _training_sample

    corpus_df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5)]) for i in range(5000)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    s = _training_sample(corpus_df, "vec_id", "embedding", 1000)
    assert s.rdd.getNumPartitions() > 1
    plan = s._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit" not in plan, plan
    assert "Sample" in plan, plan


def test_functions_showcase_no_python_eval(spark, sf_dir):
    """functions_showcase (incl. the JVM XXH32 khash column) must stay
    entirely JVM-side — no BatchEvalPython/ArrowEvalPython node."""
    import __spark_entry__ as entry

    q = entry.queries()["functions_showcase"](spark, sf_dir)
    p = plan_of(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_sessionize_single_exchange(spark):
    """Gap sessionization must shuffle the facts ONCE: the window and
    the per-session groupBy share the key partitioning, so Catalyst
    reuses one Exchange."""
    from rsyslog_spark import aggregates as agg2

    df = spark.createDataFrame(
        [(f"h{i % 5}", f"2024-01-01 00:{i % 60:02d}:00") for i in range(500)],
        "host string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    p = plan_of(agg2.sessionize(df, "host", "ts", gap_seconds=60))
    n_exchange = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and "Exchange" in l and "Reused" not in l
    )
    assert n_exchange == 1, p


def test_device_parsers_single_regex_pass(spark):
    """Device fixups use the group-rewrite trick (code-review r3 #4):
    one regexp_replace per dialect per row plus the PRI strip — never
    one regex execution per capture group."""
    from rsyslog_spark.parsing.devices import (
        pmaixforwardedfrom,
        pmciscoios,
        pmcisconames,
        pmsnare,
    )

    df = spark.createDataFrame([("x",)], "rawmsg string")
    for c in ("hostname", "syslogtag", "programname", "timereported_str",
              "msg"):
        df = df.withColumn(c, F.lit(None).cast("string"))
    df = df.withColumn("parse_success", F.lit(False))
    # expected sites = PRI strip + one rewrite per dialect regex
    for fixup, want in ((pmciscoios, 2), (pmaixforwardedfrom, 2),
                        (pmcisconames, 2), (pmsnare, 3)):
        code = codegen_of(fixup(df))
        got = code.count("invalidRegexpReplaceError")
        assert got == want, (fixup.__name__, got, want)
        assert "RegExpExtract" not in code.replace(
            "RegExpExtractAll", ""
        ) or fixup is pmaixforwardedfrom  # programname re-derivation


def test_parse_sql_single_regex_pass(spark):
    """The header parse runs one regexp_replace per row: the one header
    regex's rewrite feeds a split bound as its own column, which every
    field reads, so the generated code has one eval site for it."""
    df = spark.createDataFrame([([60, 49, 51, 62, 120],)], "tokens array<int>")
    code = codegen_of(flagship.make_router().apply(parse(df)))
    assert code.count("invalidRegexpReplaceError") == 1


def test_routed_parse_stage_stays_jit_compilable(spark):
    """HotSpot leaves a method over 8,000 bytecode bytes to the
    interpreter (-XX:+DontCompileHugeMethods, the default), so a
    whole-stage method past that size runs its stage interpreted. The
    widest parse stage, every parse column routed and observed as
    run_with_lineage persists it, keeps every generated method under
    the limit (the sanitize escape written as 31 nested replace calls
    reached 8,017 bytes and cost route_write about a fifth of its
    CPU)."""
    from rsyslog_spark.lineage import LineageTracker

    df = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    router = flagship.make_router()
    routed = LineageTracker([a.sink for a in router.actions]).instrument(
        router.apply(parse(df))
    )
    sizes = [
        int(n)
        for n in re.findall(r"maxMethodCodeSize:(\d+)", codegen_of(routed))
    ]
    assert sizes and max(sizes) < 8000, sizes


def test_c4_line_filter_pure_codegen(spark, sf_dir):
    """c4_filter's cleaning is Column array algebra — no Python eval
    node and no exchange (per-row map work at 100 TB)."""
    import __spark_entry__ as entry

    q = entry.queries()["c4_filter"](spark, sf_dir)
    p = plan_of(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Exchange" not in p, p


def test_global_line_dedup_shuffles_on_line_hash_only(spark):
    """line dedup: exchanges only on the line hash (winner window) and
    the doc re-assembly — never a join against the corpus or a
    cartesian."""
    from rsyslog_spark.datapipe.curation import global_line_dedup

    df = spark.createDataFrame(
        [(i, f"line a{i}\nshared line\nline b{i}") for i in range(50)],
        "doc_id long, text string",
    )
    p = plan_of(global_line_dedup(df))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_corpus_mix_rate_filter_is_pushable(spark, tmp_path):
    """corpus_mix's rate gate must reach the scan as a plain Filter
    (no window) when no caps are set — the common 100 TB path reads
    only the sampled fraction's row groups."""
    from rsyslog_spark.datapipe.curation import corpus_mix

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a") for i in range(100)], "doc_id long, domain string"
    ).write.parquet(path)
    out = corpus_mix(spark.read.parquet(path), rates={"a": 0.5}, seed=1)
    p = plan_of(out)
    assert "Window" not in p, p
    assert "Exchange" not in p, p


def test_dsir_weight_table_broadcasts(spark):
    """dsir_weights' per-bucket weight table (B rows) must reach the
    corpus-sized scoring join as a broadcast — a shuffle join keyed on
    a 64-value bucket column would be catastrophically skewed at
    100 TB."""
    from rsyslog_spark.datapipe.curation import dsir_weights

    df = spark.createDataFrame(
        [(i, "alpha beta gamma", i % 2 == 0) for i in range(50)],
        "doc_id long, text string, t boolean",
    )
    p = plan_of(dsir_weights(df, F.col("t")))
    assert "BroadcastHashJoin" in p, p


def test_dsir_single_corpus_pass(spark):
    """dsir_weights explodes+aggregates the corpus exactly ONCE (r6):
    the (id, bucket) table is localCheckpoint'd, so the weight-table
    branch and the scoring join both read the materialized blocks
    instead of each re-running the explode. In the physical plan that
    means zero Generate nodes and two scans of the same checkpointed
    RDD."""
    from rsyslog_spark.datapipe.curation import dsir_weights

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta", i % 2 == 0) for i in range(50)],
        "doc_id long, text string, t boolean",
    )
    p = plan_of(dsir_weights(df, F.col("t")))
    assert "Generate" not in p, p
    import re

    rdds = re.findall(r"MapPartitionsRDD\[\d+\]", p)
    assert len(rdds) == 2 and len(set(rdds)) == 1, (rdds, p)


def test_quantized_topk_no_corpus_shuffle(spark, sf_dir):
    """q8 ANN must keep the brute-force scan shape: queries broadcast,
    corpus never shuffled before the per-partition partial top-k."""
    from rsyslog_spark.datapipe.simsearch import quantized_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = quantized_topk(emb, queries, k=3)
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" in p
    lines = p.splitlines()
    first_exchange = next(
        i for i, l in enumerate(lines) if "+- Exchange" in l
    )
    above = "\n".join(lines[max(0, first_exchange - 3): first_exchange])
    assert "ObjectHashAggregate" in above or "HashAggregate" in above, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_conditional_set_rebinding_casts_only_to_string(spark):
    """`set $.x` under a condition keeps the old value on the other
    rows. With the same type tag the old value is taken as is; when the
    tag changes both sides become strings — the old value is never cast
    to the new type (a non-numeric string would fail the query)."""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame([("a 7", "h")], "msg string, hostname string")

    def local_x(first: str, second: str) -> str:
        q = Router(
            f"set $.x = {first};\n"
            f'if $msg contains "7" then {{ set $.x = {second}; }}'
        ).apply(df, keep_locals=True)
        out = [l for l in plan_of(q).splitlines() if "AS local_x" in l][0]
        return re.sub(r"#\d+L?", "", out.split("CASE WHEN", 1)[1])

    assert local_x("$msg", "$hostname").endswith(
        "THEN hostname ELSE msg END AS local_x]"
    )
    assert local_x("strlen($msg)", "strlen($hostname)").endswith(
        "THEN length(hostname) ELSE length(msg) END AS local_x]"
    )
    assert local_x("$msg", "strlen($hostname)").endswith(
        "THEN cast(length(hostname) as string) ELSE msg END AS local_x]"
    )
    assert local_x("strlen($msg)", "$hostname").endswith(
        "THEN hostname ELSE cast(length(msg) as string) END AS local_x]"
    )
