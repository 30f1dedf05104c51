"""Output modules (om*) as Spark writers (SURVEY.md §2.10).

The deep analogy: an omfile *dynafile* names its output file with a
template (/root/reference/tools/omfile.c:133-145) — which is exactly a
partition-by expression. An omkafka *dynatopic/dynakey*
(/root/reference/plugins/omkafka/omkafka.c:227-292) is a key/topic
column pair. Action transactionality (beginTx/commitTx,
runtime/action.c:462) maps to the atomicity of a Spark file-commit /
foreachBatch epoch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.rules.compiler import Env
from rsyslog_spark.templates import compile_template


def omfile(
    df: DataFrame,
    path: str,
    template: str | None = None,
    dynafile_parts: dict[str, str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """omfile: static file or dynafile.

    ``dynafile_parts`` maps partition-column name → template string;
    each template compiles to a Column and becomes a physical partition
    directory (the dynafile-name cache, omfile.c:186-201, is what
    Spark's dynamic partition writer already is). ``template`` renders
    the row body (text output) — omitted = full columnar row."""
    env = Env()
    out = df
    part_cols = []
    for name, tpl in (dynafile_parts or {}).items():
        out = out.withColumn(name, compile_template(tpl, env))
        part_cols.append(name)
    if template is not None:
        rendered = compile_template(template, env).alias("value")
        out = out.select(*part_cols, rendered)
        if fmt == "parquet":
            fmt = "text"
    w = out.write.mode(mode)
    if part_cols:
        w = w.partitionBy(*part_cols)
    if compression:
        # omfile zipLevel / compression.driver (tools/omfile.c:241,278):
        # zlib/zstd stream compression maps to the writer codec
        w = w.option("compression", compression)
    w.format(fmt).save(path)


def omkafka_frame(
    df: DataFrame,
    template: str,
    dynakey: str | None = None,
    dynatopic: str | None = None,
) -> DataFrame:
    """Shape rows for df.write.format("kafka"): (key, value[, topic])
    columns from templates — omkafka's dynatopic+dynakey semantics.
    (No broker in this sandbox; the frame is the testable part.)"""
    env = Env()
    cols = [compile_template(template, env).alias("value")]
    if dynakey:
        cols.insert(0, compile_template(dynakey, env).alias("key"))
    if dynatopic:
        cols.append(compile_template(dynatopic, env).alias("topic"))
    return df.select(*cols)


class _Child:
    """omprog's one long-lived child per partition; ``close()`` ends
    its stdin and waits, killing a child that ignores EOF."""

    def __init__(self, binary: list[str], confirm: bool) -> None:
        import subprocess

        self.proc = subprocess.Popen(
            binary, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE if confirm else subprocess.DEVNULL,
            text=True, bufsize=1,
        )

    def close(self) -> None:
        import subprocess

        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()  # child ignored EOF; don't fail the task
            self.proc.wait()


def omprog(
    df: DataFrame,
    binary: list[str],
    template: str = "RSYSLOG_FileFormat",
    confirm_messages: bool = False,
) -> DataFrame:
    """plugins/omprog: pipe each rendered message line to an external
    program's stdin — one long-lived child per partition (omprog keeps
    one per worker). With ``confirm_messages`` (omprog.c:96,126) the
    child acknowledges each line on stdout ('OK' = delivered; anything
    else is recorded as the failure reason, the reportFailures shape).
    Returns (value, delivered, reply) for lineage/retry accounting —
    an ACTION, so the caller decides what to do with failures."""
    from rsyslog_spark.net import send_rows

    env = Env()
    rendered = df.select(compile_template(template, env).alias("value"))

    def send(child: _Child, pdf) -> dict:
        proc = child.proc
        delivered, replies = [], []
        for v in pdf["value"]:
            proc.stdin.write(str(v or "").replace("\n", " ") + "\n")
            proc.stdin.flush()
            if confirm_messages:
                reply = proc.stdout.readline().rstrip("\n")
                delivered.append(reply == "OK")
                replies.append(reply)
            else:
                delivered.append(True)
                replies.append(None)
        return {"delivered": delivered, "reply": replies}

    return send_rows(
        rendered, lambda: _Child(binary, confirm_messages), send,
        "delivered boolean, reply string",
    )


def omfwd_frame(
    df: DataFrame,
    template: str = "RSYSLOG_ForwardFormat",
    framing: str = "octet-stuffing",
) -> DataFrame:
    """Shape rows into omfwd TCP wire frames (tools/omfwd.c:2277-2279;
    RFC 6587): ``octet-counted`` prefixes each message with its byte
    length + SP; ``octet-stuffing`` (traditional, the omfwd default)
    terminates with LF. The resulting `value` column is the exact byte
    sequence a socket sink would write — the socket itself is the
    sandbox-blocked seam."""
    env = Env()
    msg = compile_template(template, env)
    if framing == "octet-counted":
        # length in BYTES (UTF-8), not characters
        val = F.concat(
            F.octet_length(msg).cast("string"), F.lit(" "), msg
        )
    elif framing in ("octet-stuffing", "traditional", "lf"):
        val = F.concat(msg, F.lit("\n"))
    else:
        raise ValueError(
            "framing must be octet-counted or octet-stuffing"
        )
    return df.select(val.alias("value"))


def omelasticsearch_frame(
    df: DataFrame,
    template: str,
    index: str,
    id_template: str | None = None,
    dyn_index: bool = False,
    write_operation: str = "index",
) -> DataFrame:
    """Shape rows into Elasticsearch _bulk entries — omelasticsearch's
    bulkmode batch format (plugins/omelasticsearch/omelasticsearch.c:
    88-94 META_* constants; buildBatch:1219-1260): per message an
    action line ``{"index":{"_index":"<idx>"[,"_id":"<id>"]}}``
    followed by the rendered JSON document. ``dyn_index`` treats
    `index` as a template (dynSearchIndex); ``write_operation`` is
    index|create (ES_WRITE_CREATE). The resulting `value` column is the
    two-line bulk entry — concatenate a batch (NDJSON + trailing
    newline) and deliver it with :func:`http_post_bodies` to
    ``<es>/_bulk`` (exercised against a real local HTTP server in
    tests), or wrap in `foreachBatch` for epoch transactions."""
    if write_operation not in ("index", "create"):
        raise ValueError("write_operation must be index|create")
    env = Env()
    idx = compile_template(index, env) if dyn_index else F.lit(index)
    idx = F.regexp_replace(idx, '"', '\\\\"')
    action = F.concat(
        F.lit('{"' + write_operation + '":{"_index":"'), idx, F.lit('"')
    )
    if id_template:
        bulk_id = compile_template(id_template, env)
        action = F.concat(
            action, F.lit(', "_id":"'),
            F.regexp_replace(bulk_id, '"', '\\\\"'), F.lit('"'),
        )
    action = F.concat(action, F.lit("}}"))
    doc = compile_template(template, env)
    return df.select(
        F.concat(action, F.lit("\n"), doc).alias("value")
    )


def _upsert_recover(path: str) -> None:
    """Repair an interrupted bucket swap — roll FORWARD if the batch
    marker committed, roll BACK otherwise.

    The swap parks a _PENDING manifest (touched buckets + batch_id) in
    `path`.bak before moving anything; the batch marker is the single
    commit point, written only after every touched bucket swapped. So
    if .bak still exists:

    * the manifest's batch_id has a committed marker → the swap
      finished; the parked copies are stale pre-batch snapshots.
      Roll FORWARD: discard .bak, keep the new buckets. (Rolling back
      here would lose the committed batch — the marker check would
      then skip the replay.)
    * no marker (or no batch_id) → the batch never committed. Roll
      BACK: every touched bucket's current dir may be partial new
      data — remove it and restore the parked copy (buckets with no
      parked copy were new; removing them restores the pre-batch
      absence). A later replay then applies exactly once.

    Also repairs an interrupted full rewrite (first write / legacy or
    re-bucket migration), which parks the whole old state at
    `path`.old before renaming the new tree in."""
    import json
    import os
    import shutil

    old_park = path + ".old"
    pending_full = path + ".pending_full"
    if os.path.exists(pending_full):
        # interrupted FULL rewrite (first write / legacy migration /
        # re-bucket): the journal records the batch_id and whether a
        # prior state was parked, so recovery can tell "crash before
        # the rename" from "crash after" and keep exactly-once
        with open(pending_full) as fh:
            pf = json.load(fh)
        bid = pf.get("batch_id")
        committed = bid is not None and os.path.exists(
            os.path.join(path + ".batches", str(bid))
        )
        if committed:
            shutil.rmtree(old_park, ignore_errors=True)  # roll forward
        elif pf.get("had_old"):
            if os.path.isdir(old_park):  # roll back to the parked state
                shutil.rmtree(path, ignore_errors=True)
                os.rename(old_park, path)
            # else: crashed before the park — path IS the pre-batch state
        else:
            # first write: pre-batch state is ABSENCE
            shutil.rmtree(path, ignore_errors=True)
        os.remove(pending_full)
    elif os.path.isdir(old_park):
        # pre-journal interruption (older layout): conservative restore
        if not os.path.isdir(path):
            os.rename(old_park, path)
        else:
            shutil.rmtree(old_park, ignore_errors=True)

    bak = path + ".bak"
    pending = os.path.join(bak, "_PENDING")
    if os.path.isdir(bak):
        touched: list[int] = []
        committed = False
        have_manifest = os.path.exists(pending)
        if have_manifest:
            with open(pending) as fh:
                manifest = json.load(fh)
            if isinstance(manifest, dict):
                touched = manifest.get("touched", [])
                bid = manifest.get("batch_id")
                committed = bid is not None and os.path.exists(
                    os.path.join(path + ".batches", str(bid))
                )
            else:  # older list-format manifest: no batch_id recorded
                touched = manifest
        if committed:
            pass  # roll forward: keep state, drop stale parked copies
        elif have_manifest:
            for b in touched:
                d = f"_bucket={b}"
                cur = os.path.join(path, d)
                parked = os.path.join(bak, d)
                if os.path.isdir(cur):
                    shutil.rmtree(cur)
                if os.path.isdir(parked):
                    os.rename(parked, cur)
        else:
            # no manifest (foreign/older interruption): conservative —
            # restore any parked bucket missing from the state, never
            # delete data
            for d in os.listdir(bak):
                if d.startswith("_bucket=") and not os.path.isdir(
                    os.path.join(path, d)
                ):
                    os.rename(os.path.join(bak, d), os.path.join(path, d))
        shutil.rmtree(bak, ignore_errors=True)
    shutil.rmtree(path + ".tmp_upsert", ignore_errors=True)


def upsert_aggregate(
    df: DataFrame,
    path: str,
    keys: list[str],
    merge: dict[str, str] | None = None,
    num_buckets: int = 16,
    batch_id: str | int | None = None,
) -> DataFrame:
    """Aggregate upsert without a table format — the Iceberg-MERGE
    analog for omsendertrack-style state (plugins/omsendertrack:
    periodic counter state files). On a real cluster this is one
    Iceberg/Delta MERGE INTO; this sandbox analog keeps the MERGE's
    two scale properties:

    * **O(touched), not O(state)**: state is hash-partitioned on
      ``pmod(xxhash64(keys), num_buckets)``; only buckets present in
      `df` are read (partition-pruned scan), merged, and rewritten.
    * **Crash-safe journaled swap**: a _PENDING manifest (touched
      buckets + batch_id) lands in `path`.bak before any move; the
      batch marker is the single atomic commit point. A crash at any
      point leaves a state that `_upsert_recover` (run automatically
      on entry) repairs: rolled BACK to the pre-batch snapshot when
      the marker never committed (replay then applies exactly once),
      rolled FORWARD (stale backups discarded) when it did — so the
      marker's "already committed" short-circuit never loses a batch.

    ``num_buckets`` is persisted in `path`.meta on first write; a
    later call with a different value transparently re-buckets the
    whole state (one full merge rewrite) instead of silently splitting
    keys across two moduli.

    Replay semantics: pass ``batch_id`` to make re-application a true
    no-op (committed ids are tracked in `path`.batches markers) —
    without it, replaying a batch double-counts `sum` merges (min/max
    are naturally convergent). A pre-bucketing flat state dir is
    migrated (merged, full rewrite) rather than discarded. `merge`
    maps column → sum|min|max|last (default sum)."""
    import json as _json
    import os
    import shutil

    spark = df.sparkSession
    _upsert_recover(path)

    batches_dir = path + ".batches"
    if batch_id is not None:
        marker = os.path.join(batches_dir, str(batch_id))
        if os.path.exists(marker):  # replay of a committed batch: no-op
            return spark.read.parquet(path).drop("_bucket")

    meta_path = path + ".meta"
    stored_nb: int | None = None
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            stored_nb = _json.load(fh).get("num_buckets")

    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))
    new = df.withColumn("_bucket", bucket)
    bucketed = os.path.isdir(path) and any(
        d.startswith("_bucket=") for d in os.listdir(path)
    )
    legacy = (
        not bucketed
        and os.path.isdir(path)
        and any(d.endswith(".parquet") for d in os.listdir(path))
    )
    # a num_buckets change makes the on-disk bucket ids wrong for the
    # new modulus: re-bucket the WHOLE state (one full merge rewrite).
    # A bucketed state WITHOUT .meta (written before the meta existed)
    # has an UNKNOWN modulus — treat it as mismatched and migrate once
    # rather than trusting the caller's value (silently splitting keys
    # across two moduli is the corruption this guard exists to stop).
    rebucket = bucketed and stored_nb != num_buckets
    if bucketed and not rebucket:
        # touched bucket ids: at most num_buckets ints — tiny driver list
        touched = sorted(
            r._bucket for r in new.select("_bucket").distinct().collect()
        )
        old = spark.read.parquet(path).filter(F.col("_bucket").isin(touched))
        unioned = old.unionByName(new, allowMissingColumns=True)
    elif legacy or rebucket:
        # pre-bucketing flat layout (or modulus change): migrate by
        # merging the WHOLE old state into this write (full rewrite,
        # once) — never discard it
        old = spark.read.parquet(path)
        if rebucket:
            old = old.drop("_bucket")
        old = old.withColumn("_bucket", bucket)
        unioned = old.unionByName(new, allowMissingColumns=True)
        touched = None
    else:
        touched = None  # first write: all buckets
        unioned = new
    merge = merge or {}
    aggs = []
    for c in unioned.columns:
        if c in keys or c == "_bucket":
            continue
        how = merge.get(c, "sum")
        fn = {"sum": F.sum, "min": F.min, "max": F.max, "last": F.last}[how]
        aggs.append(fn(c).alias(c))
    merged = unioned.groupBy(*keys).agg(*aggs).withColumn("_bucket", bucket)

    tmp = path + ".tmp_upsert"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.mode("overwrite").partitionBy("_bucket").parquet(tmp)

    if touched is None:
        # full rewrite: journal first (batch_id + whether a prior state
        # is parked — recovery needs both to stay exactly-once), park
        # the old state (never rmtree before the new tree is in place),
        # rename the new tree in; the batch marker below is the commit
        # point and the journal is dropped only after it
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        old_park = path + ".old"
        shutil.rmtree(old_park, ignore_errors=True)
        had_old = os.path.isdir(path)
        with open(path + ".pending_full.tmp", "w") as fh:
            _json.dump(
                {
                    "batch_id": None if batch_id is None else str(batch_id),
                    "had_old": had_old,
                },
                fh,
            )
        os.replace(path + ".pending_full.tmp", path + ".pending_full")
        if had_old:
            os.rename(path, old_park)
        os.rename(tmp, path)
    else:
        # journaled swap: the _PENDING manifest (touched buckets +
        # batch_id) lands in .bak BEFORE any move. The batch marker is
        # the single commit point: a crash before it → recovery rolls
        # the touched buckets BACK (replay applies exactly once); a
        # crash after it (marker present, .bak not yet dropped) →
        # recovery rolls FORWARD, discarding the stale parked copies.
        bak = path + ".bak"
        os.makedirs(bak, exist_ok=True)
        with open(os.path.join(bak, "_PENDING"), "w") as fh:
            _json.dump(
                {
                    "touched": [int(b) for b in touched],
                    "batch_id": None if batch_id is None else str(batch_id),
                },
                fh,
            )
        for b in touched:
            d = f"_bucket={b}"
            src, dst = os.path.join(tmp, d), os.path.join(path, d)
            if not os.path.isdir(src):
                continue  # bucket merged away to empty (never for aggs)
            if os.path.isdir(dst):
                os.rename(dst, os.path.join(bak, d))
            os.rename(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)

    if batch_id is not None:
        # single atomic commit point (os.replace, never a partial file)
        os.makedirs(batches_dir, exist_ok=True)
        marker = os.path.join(batches_dir, str(batch_id))
        with open(marker + ".tmp", "w") as fh:
            fh.write("committed")
        os.replace(marker + ".tmp", marker)

    # meta AFTER the commit point: a crash in either window degrades to
    # one redundant migration rewrite, never a modulus mismatch — meta
    # written before the marker could claim the NEW modulus over a
    # ROLLED-BACK old-modulus state (silent split, the bug this guards)
    if stored_nb != num_buckets:
        with open(meta_path + ".tmp", "w") as fh:
            _json.dump({"num_buckets": num_buckets}, fh)
        os.replace(meta_path + ".tmp", meta_path)
    # post-commit cleanup: dropping the journals+backups makes recovery
    # a no-op for this batch (and is itself crash-safe: recovery sees
    # the marker and rolls forward)
    shutil.rmtree(path + ".bak", ignore_errors=True)
    shutil.rmtree(path + ".old", ignore_errors=True)
    try:
        os.remove(path + ".pending_full")
    except FileNotFoundError:
        pass
    return spark.read.parquet(path).drop("_bucket")


def failover_chain(
    df: DataFrame, primary_pred: Column, *fallback_preds: Column
) -> list[Column]:
    """action.execOnlyWhenPreviousIsSuspended (action.c:385): each
    fallback fires only where every earlier action did not. In pure
    dataflow a 'suspended' action is one whose predicate is false, so
    the chain is cumulative predicate negation."""
    out = [primary_pred]
    seen = primary_pred
    for p in fallback_preds:
        out.append(p & ~seen)
        seen = seen | p
    return out


def omhttp_batch(
    df: DataFrame,
    template: str = "RSYSLOG_StdJSONFmt",
    batch_format: str = "newline",
    batch_size: int = 100,
    ts_col: str | None = None,
    loki_labels: dict[str, str] | None = None,
    order_by: str | list[str] | None = None,
    n_buckets: int | None = None,
    otlp_resource: str | None = None,
) -> DataFrame:
    """contrib/omhttp/omhttp.c batch serialization: render each message
    with `template`, group into request bodies of ``batch_size`` and
    frame per ``batch.format`` (VALID_BATCH_FORMATS, omhttp.c:126):

    * ``newline``   — messages joined by '\\n' (serializeBatchNewline)
    * ``jsonarray`` — '[m1,m2,...]' (messages are JSON documents)
    * ``kafkarest`` — '{"records":[{"value":m1},...]}'
    * ``lokirest``  — '{"streams":[{"stream":{labels},"values":
      [["<ns>",line],...]}]}' (needs ``ts_col``; values within each
      body are sorted by the nanosecond timestamp — Loki rejects
      out-of-order entries — with row index breaking same-ns ties; for
      strictly ordered bodies ACROSS requests too, pass
      ``order_by=ts_col``)

    Batch identity — two modes:

    * default (``order_by=None``): batch id = (partition, row-index ÷
      size) from monotonically_increasing_id — zero extra shuffle, but
      row→batch assignment is NOT stable across task retries (a retried
      stage can re-scan input in a different split order and assemble
      different request bodies than the first attempt). Fine for
      frame-shape tests and exactly-once foreachBatch epochs; NOT for a
      bare at-least-once POST path.
    * ``order_by=<stable col(s)>``: rows are hash-bucketed on the
      order column(s) into ``n_buckets`` groups (default: session
      shuffle parallelism) and row-numbered within each bucket by
      ``order_by`` plus the rendered line as a final tiebreaker (rows
      that tie on both key AND rendered text are interchangeable, so
      the ordering is total for all practical purposes) — fully
      DETERMINISTIC bodies for the same input regardless of input
      partitioning or retries, at the cost of one extra shuffle (the
      per-bucket sort window). Same-input runs produce byte-identical
      request bodies (unit-asserted).

    The real sink path would POST from foreachPartition/foreachBatch
    without materializing frames."""
    from rsyslog_spark.templates import compile_template

    if batch_format not in ("newline", "jsonarray", "kafkarest",
                            "lokirest", "clickhouse", "otlp", "concat"):
        raise ValueError(
            f"batch.format {batch_format!r} invalid; use one of "
            "newline jsonarray kafkarest lokirest clickhouse otlp concat"
        )
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    line = template if isinstance(template, Column) else compile_template(
        template
    )
    if order_by is not None:
        from pyspark.sql import Window

        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        if n_buckets is None:
            try:
                n_buckets = int(
                    df.sparkSession.conf.get("spark.sql.shuffle.partitions")
                )
            except (TypeError, ValueError):
                n_buckets = 32
        part = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets))
        # the rendered line breaks order_by ties deterministically — a
        # non-unique key alone would leave tie order to scan order,
        # which is exactly what a task retry changes
        w = Window.partitionBy(part).orderBy(*cols, line)
        idx = (F.row_number().over(w) - 1).cast("long")
        sel = [
            line.alias("line"),
            idx.alias("_idx"),
            part.alias("_part"),
            F.floor(idx / F.lit(batch_size)).alias("_seq"),
        ]
    else:
        mid = F.monotonically_increasing_id()
        idx = mid.bitwiseAND(F.lit((1 << 33) - 1))
        sel = [
            line.alias("line"),
            idx.alias("_idx"),
            F.shiftright(mid, 33).alias("_part"),
            F.floor(idx / F.lit(batch_size)).alias("_seq"),
        ]
    if batch_format == "lokirest":
        if ts_col is None:
            raise ValueError("lokirest needs ts_col for the values pairs")
        # kept as LONG so the within-body sort below is numeric, not
        # lexicographic ("999" > "1000" as strings)
        sel.append(
            (F.unix_timestamp(F.col(ts_col)) * F.lit(1_000_000_000))
            .alias("_nsl")
        )
    rows = df.select(*sel)

    # collect_list's within-group order is NOT guaranteed after the
    # shuffle (sort-based agg fallback / task retry permute it) — carry
    # the row index and array_sort to restore it; Loki in particular
    # rejects out-of-timestamp-order entries
    def ordered(items_struct: Column) -> Column:
        return F.transform(
            F.array_sort(items_struct), lambda e: e["line"]
        )

    if batch_format == "lokirest":
        # ADVICE r4: Loki rejects out-of-timestamp-order entries within
        # a values array, and order_by need not be the timestamp — so
        # the within-body sort key is the _ns LONG first (idx breaks
        # same-nanosecond ties deterministically). Cross-BODY ordering
        # is still the caller's: pass order_by=ts_col so batch
        # assembly itself follows time when Loki runs without an
        # out-of-order ingestion window.
        agg = rows.groupBy("_part", "_seq").agg(
            F.collect_list(
                F.struct(
                    F.col("_nsl").alias("ns"),
                    F.col("_idx").alias("idx"),
                    F.to_json(
                        F.array(F.col("_nsl").cast("string"), F.col("line"))
                    ).alias("line"),
                )
            ).alias("raw"),
            F.count(F.lit(1)).alias("n"),
        ).withColumn("items", ordered(F.col("raw")))
        labels = F.to_json(
            F.struct(*[
                F.lit(v).alias(k)
                for k, v in (loki_labels or {"job": "rsyslog"}).items()
            ])
        )
        body = F.concat(
            F.lit('{"streams":[{"stream":'), labels,
            F.lit(',"values":['), F.array_join("items", ","),
            F.lit("]}]}"),
        )
    else:
        agg = rows.groupBy("_part", "_seq").agg(
            F.collect_list(
                F.struct(F.col("_idx").alias("idx"),
                         F.col("line").alias("line"))
            ).alias("raw"),
            F.count(F.lit(1)).alias("n"),
        ).withColumn("items", ordered(F.col("raw")))
        if batch_format == "newline":
            body = F.array_join("items", "\n")
        elif batch_format == "concat":
            # omawslogshlc appendEvent: JSON objects appended with NO
            # separator — the HLC endpoint takes concatenated objects
            body = F.array_join("items", "")
        elif batch_format == "jsonarray":
            body = F.concat(
                F.lit("["), F.array_join("items", ","), F.lit("]")
            )
        elif batch_format == "clickhouse":
            # omclickhouse bulkmode (computeBulkMessage,
            # plugins/omclickhouse/omclickhouse.c:411-431): the first
            # INSERT statement goes in whole; each further message
            # contributes only from the '(' after its VALUES keyword,
            # concatenated with no separator. Messages without a
            # VALUES( section fall back to the whole statement — same
            # as the reference's strstr/strchr miss path.
            ch_rx = r"(?s)VALUES[^(]*(\(.*)$"
            tail = F.transform(
                F.slice(F.col("items"), 2, 2147483646),
                lambda x: F.when(
                    x.rlike(r"VALUES[^(]*\("),
                    F.regexp_extract(x, ch_rx, 1),
                ).otherwise(x),
            )
            body = F.concat(
                F.coalesce(
                    F.try_element_at("items", F.lit(1)), F.lit("")
                ),
                F.array_join(tail, ""),
            )
        elif batch_format == "otlp":
            # omotel OTLP/HTTP JSON envelope (plugins/omotel/
            # otlp_json.c:240-397): one resource entry with static
            # resource attributes, one scope entry, the batch's
            # records in logRecords. `template` must be the per-record
            # JSON Column from omotel_record().
            res = otlp_resource or (
                '[{"key":"service.name","value":{"stringValue":'
                '"rsyslog"}},{"key":"telemetry.sdk.name","value":'
                '{"stringValue":"rsyslog-omotel"}},'
                '{"key":"telemetry.sdk.language","value":'
                '{"stringValue":"python"}}]'
            )
            body = F.concat(
                F.lit('{"resourceLogs":[{"resource":{"attributes":'),
                F.lit(res),
                F.lit('},"scopeLogs":[{"scope":{"name":'
                      '"rsyslog.omotel","version":"rsyslog-spark"},'
                      '"logRecords":['),
                F.array_join("items", ","),
                F.lit("]}]}]}"),
            )
        else:  # kafkarest
            body = F.concat(
                F.lit('{"records":['),
                F.array_join(
                    F.transform(
                        "items",
                        lambda x: F.concat(
                            F.lit('{"value":'), x, F.lit("}")
                        ),
                    ),
                    ",",
                ),
                F.lit("]}"),
            )
    return agg.select(
        F.col("_part").alias("partition"),
        F.col("_seq").alias("batch_seq"),
        F.col("n").alias("n_messages"),
        body.alias("body"),
    )


_OMHTTP_CONTENT_TYPE = {
    "newline": "text/plain; charset=utf-8",
    "jsonarray": "application/json",
    "kafkarest": "application/vnd.kafka.json.v2+json",
    "lokirest": "application/json",
    "clickhouse": "text/plain; charset=utf-8",
    "otlp": "application/json",
    "concat": "application/json",
}


def omhttp_post(
    df: DataFrame,
    url: str,
    template: str = "RSYSLOG_StdJSONFmt",
    batch_format: str = "newline",
    batch_size: int = 100,
    ts_col: str | None = None,
    loki_labels: dict[str, str] | None = None,
    order_by: str | list[str] | None = None,
    headers: dict[str, str] | None = None,
    retries: int = 2,
    retry_codes: tuple[int, ...] = (429, 500, 502, 503, 504),
    timeout_secs: float = 10.0,
    otlp_resource: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """contrib/omhttp/omhttp.c delivery path: render → batch
    (:func:`omhttp_batch`) → POST each request body, with per-request
    retry on the transient-status set (httpretrycodes/retry,
    omhttp.c:193-194,303-306; default mirrors the usual 429/5xx set).
    Returns a delivery report (partition, batch_seq, n_messages,
    status, attempts, ok) — rows with ``ok = false`` are the
    retry-ruleset feed (route them to a failover chain or requeue,
    the reference's retry.ruleset seam).

    Executor-side POSTs through :func:`http_post_bodies` (one Arrow
    batch of bodies at a time, one urllib connection per request —
    nothing is kept alive between requests); at-least-once
    semantics — pair with ``order_by`` for deterministic bodies so a
    retried task re-sends byte-identical requests (idempotent
    receivers can dedup), and with foreachBatch for epoch-transaction
    wrapping. omelasticsearch's _bulk POST rides the same path with a
    bulk-framed body column."""
    bodies = omhttp_batch(
        df, template=template, batch_format=batch_format,
        batch_size=batch_size, ts_col=ts_col, loki_labels=loki_labels,
        order_by=order_by, otlp_resource=otlp_resource,
        n_buckets=n_buckets,
    )
    ctype = _OMHTTP_CONTENT_TYPE[batch_format]
    return http_post_bodies(
        bodies, url, headers={"Content-Type": ctype, **(headers or {})},
        retries=retries, retry_codes=retry_codes,
        timeout_secs=timeout_secs,
    )


def omclickhouse_post(
    df: DataFrame,
    url: str = "http://localhost:8123/",
    template: str = "RSYSLOG_StdClickHouseFmt",
    **kwargs,
) -> DataFrame:
    """plugins/omclickhouse: render each message to an INSERT
    statement (StdClickHouseFmt default, runtime/rsconf.c:250) and
    POST bulkmode-merged bodies to the ClickHouse HTTP endpoint.
    Messages whose rendering is not an INSERT are dropped up front —
    the reference logs 'Message is no Insert query' and errors out
    (omclickhouse.c:468-473)."""
    from rsyslog_spark.templates import compile_template

    rendered = template if isinstance(template, Column) else (
        compile_template(template)
    )
    df = df.where(F.instr(rendered, "INSERT INTO") > 0)
    return omhttp_post(
        df, url, template=template, batch_format="clickhouse", **kwargs
    )


# omotel default severity mapping (plugins/omotel/omotel.c:498-500),
# indexed by syslog severity 0..7
_OTEL_SEV = [
    (24, "EMERGENCY"), (23, "ALERT"), (22, "CRITICAL"), (17, "ERROR"),
    (13, "WARNING"), (11, "NOTICE"), (9, "INFO"), (5, "DEBUG"),
]


def omotel_record(
    ts_col: str | None = "ts",
    severity_col: str = "severity",
    facility_col: str = "facility",
    hostname_col: str = "hostname",
    appname_col: str = "programname",
    procid_col: str = "procid",
    msgid_col: str = "msgid",
    msg_col: str = "msg",
    trace_id_col: str | None = None,
    span_id_col: str | None = None,
) -> Column:
    """One OTLP logRecord JSON per message (plugins/omotel/
    otlp_json.c:399-500): timeUnixNano/observedTimeUnixNano,
    severityNumber + severityText via the default syslog→OTel table
    (omotel.c:498-500, unmapped severities fall back to 0 like
    omotel.c:1244), a stringValue body wrapper, and the
    log.syslog.{hostname,appname,procid,msgid,facility} attributes —
    null properties are omitted exactly like the reference's NULL
    checks. Pure Column (to_json drops null fields)."""
    sev = F.col(severity_col).cast("int")
    nums = F.array(*[F.lit(n) for n, _ in _OTEL_SEV])
    texts = F.array(*[F.lit(t) for _, t in _OTEL_SEV])
    sev_num = F.coalesce(
        F.try_element_at(nums, sev + 1), F.lit(0)
    ).cast("long")
    sev_text = F.try_element_at(texts, sev + 1)

    def sattr(key: str, col: Column) -> Column:
        return F.struct(
            F.lit(key).alias("key"),
            F.struct(
                col.cast("string").alias("stringValue"),
                F.lit(None).cast("long").alias("intValue"),
            ).alias("value"),
        )

    fattr = F.struct(
        F.lit("log.syslog.facility").alias("key"),
        F.struct(
            F.lit(None).cast("string").alias("stringValue"),
            F.col(facility_col).cast("long").alias("intValue"),
        ).alias("value"),
    )
    attrs = F.filter(
        F.array(
            sattr("log.syslog.hostname", F.col(hostname_col)),
            sattr("log.syslog.appname", F.col(appname_col)),
            sattr("log.syslog.procid", F.col(procid_col)),
            sattr("log.syslog.msgid", F.col(msgid_col)),
            fattr,
        ),
        lambda a: a["value"]["stringValue"].isNotNull()
        | a["value"]["intValue"].isNotNull(),
    )
    ns = (
        (F.unix_micros(F.col(ts_col)) * 1000).cast("string")
        if ts_col is not None else F.lit(None).cast("string")
    )
    fields = [
        ns.alias("timeUnixNano"),
        ns.alias("observedTimeUnixNano"),
        sev_num.alias("severityNumber"),
        sev_text.alias("severityText"),
        F.struct(
            F.coalesce(F.col(msg_col), F.lit("")).alias("stringValue")
        ).alias("body"),
    ]
    if trace_id_col is not None:
        fields.append(F.col(trace_id_col).alias("traceId"))
    if span_id_col is not None:
        fields.append(F.col(span_id_col).alias("spanId"))
    fields.append(attrs.alias("attributes"))
    return F.to_json(F.struct(*fields))


def omotel_post(
    df: DataFrame,
    url: str,
    record: Column | None = None,
    resource_attrs: dict[str, str] | None = None,
    **kwargs,
) -> DataFrame:
    """plugins/omotel OTLP/HTTP JSON delivery: batch logRecords into
    the resourceLogs/scopeLogs envelope and POST to the collector's
    /v1/logs endpoint; retries ride the shared omhttp engine (the
    reference has its own retry/backoff loop, omotel.c:505-508)."""
    import json as _json

    res = None
    if resource_attrs is not None:
        res = _json.dumps(
            [
                {"key": k, "value": {"stringValue": v}}
                for k, v in resource_attrs.items()
            ],
            separators=(",", ":"),
        )
    return omhttp_post(
        df, url,
        template=record if record is not None else omotel_record(),
        batch_format="otlp", otlp_resource=res, **kwargs,
    )


def _http_call(url: str, data: bytes, headers: dict[str, str],
               timeout_secs: float, method: str = "POST"
               ) -> tuple[int, bytes]:
    """One HTTP request → ``(status, reply bytes)``. An HTTP error
    status comes back as its code with an empty reply; a
    connection-level failure (refused, reset, timeout) as -1 with the
    error text. urllib opens one connection per request."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=data, headers=headers, method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout_secs) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, b""
    except (urllib.error.URLError, OSError) as e:
        return -1, str(e).encode("utf-8")


def http_post_bodies(
    bodies: DataFrame,
    url: str,
    headers: dict[str, str] | None = None,
    body_col: str = "body",
    retries: int = 2,
    retry_codes: tuple[int, ...] = (429, 500, 502, 503, 504),
    timeout_secs: float = 10.0,
) -> DataFrame:
    """POST each row's ``body_col`` to ``url`` with transient-status
    retry — the shared delivery engine of :func:`omhttp_post` and the
    omelasticsearch `_bulk` path (POST an
    :func:`omelasticsearch_frame`-built NDJSON body to ``<es>/_bulk``).
    Executor-side (:func:`rsyslog_spark.net.send_rows`); returns the
    input's non-body columns plus (status, attempts, ok)."""
    from rsyslog_spark.net import _NoConn, send_rows

    hdrs = dict(headers or {})

    def post(body: str) -> tuple[int, int]:
        """(status, attempts) of one body, retried on ``retry_codes``
        and connection failures with exponential backoff."""
        import time as _time

        for attempt in range(retries + 1):
            status, _ = _http_call(
                url, body.encode("utf-8"), hdrs, timeout_secs
            )
            if 200 <= status < 300 or (
                status not in retry_codes and status > 0
            ):
                break
            if attempt < retries:
                _time.sleep(0.05 * (2 ** attempt))
        return status, attempt + 1

    def send(_conn, pdf) -> dict:
        # a null body is a caller-data failure, not a task failure —
        # report it, don't crash the partition
        got = [
            (-1, 0) if body is None else post(body)
            for body in pdf[body_col]
        ]
        return {
            "status": [st for st, _ in got],
            "attempts": [n for _, n in got],
            "ok": [200 <= st < 300 for st, _ in got],
        }

    return send_rows(
        bodies, _NoConn, send, "status int, attempts int, ok boolean"
    ).drop(body_col)


# --- omsql: transactional SQL sink (ommysql / ompgsql family) ---------------

def _default_connect(dsn: str):
    import sqlite3

    con = sqlite3.connect(dsn)
    con.isolation_level = None  # explicit BEGIN/COMMIT below
    return con


def _sql_batch(con, batch_id, journal_table: str, statements) -> int:
    """One transaction on ``con``: BEGIN, the ``batch_id`` journal
    check and insert (an already-journaled batch rolls back and
    returns 0), one ``cur.execute(*args)`` per ``args`` that
    ``statements(cur)`` yields, COMMIT; returns the count executed.
    Any error rolls the whole batch back (ommysql.c:345-351: nothing
    partial lands) and re-raises; ``con`` is closed either way."""
    try:
        cur = con.cursor()
        cur.execute("BEGIN")
        if batch_id is not None:
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {journal_table} "
                "(batch_id TEXT PRIMARY KEY)"
            )
            if cur.execute(
                f"SELECT 1 FROM {journal_table} WHERE batch_id = ?",
                (str(batch_id),),
            ).fetchone():
                con.rollback()
                return 0
            cur.execute(
                f"INSERT INTO {journal_table} VALUES (?)", (str(batch_id),)
            )
        n = 0
        for args in statements(cur):
            cur.execute(*args)
            n += 1
        con.commit()
        return n
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()


def omsql_statements(
    df: "DataFrame",
    dsn: str,
    stmt_col: str = "sql",
    batch_id: int | str | None = None,
    journal_table: str = "rsyslog_batches",
    connect_fn=None,
) -> int:
    """The ommysql execution model (plugins/ommysql/ommysql.c
    commitTransaction:336-370): every message renders ONE SQL
    statement (the StdDBFmt-style template with the `sql` escaping
    option — templates.compile_template renders it into ``stmt_col``),
    and the whole batch executes inside a single transaction —
    any statement failing rolls the batch back (mysql_rollback),
    nothing partial ever lands.

    ``batch_id`` adds the exactly-once upgrade the reference gets from
    queue position tracking: a journal row (PRIMARY KEY batch_id) is
    inserted in the SAME transaction, so a replayed epoch detects the
    prior commit and becomes a no-op (RS_RET_PREVIOUS_COMMITTED).

    ``connect_fn(dsn)`` is the driver seam — any DBAPI connection
    (psycopg2, mysqlclient, …) slots in at deploy; the default is
    stdlib sqlite3, which makes the transactional semantics REAL and
    testable in this sandbox (no DB server required).

    Rows stream through ``toLocalIterator`` — driver memory stays
    one-partition-bounded; the single connection mirrors the
    reference's one-channel sink (parallel SQL ingestion belongs to
    a JDBC-partitioned writer at deploy). Returns statements executed
    (0 when the batch had already committed)."""
    def statements(cur):
        return (tuple(r) for r in df.select(stmt_col).toLocalIterator())

    con = (connect_fn or _default_connect)(dsn)
    return _sql_batch(con, batch_id, journal_table, statements)


def omsql_rows(
    df: "DataFrame",
    dsn: str,
    table: str,
    batch_id: int | str | None = None,
    journal_table: str = "rsyslog_batches",
    create: bool = True,
    connect_fn=None,
) -> int:
    """Structured variant: parameterized INSERTs straight from the
    DataFrame schema (no SQL-in-template injection surface), same
    one-transaction + journal semantics as :func:`omsql_statements`.
    ``create=True`` issues a CREATE TABLE IF NOT EXISTS derived from
    the schema (TEXT/INTEGER/REAL affinity)."""
    insert = (
        f"INSERT INTO {table} ({', '.join(df.columns)}) "
        f"VALUES ({', '.join(['?'] * len(df.columns))})"
    )

    def sqltype(dt: str) -> str:
        if dt in ("bigint", "int", "smallint", "tinyint", "boolean"):
            return "INTEGER"
        if dt in ("double", "float"):
            return "REAL"
        return "TEXT"

    def statements(cur):
        if create:  # inside the batch's transaction, not counted
            ddl = ", ".join(
                f"{f.name} {sqltype(f.dataType.simpleString())}"
                for f in df.schema.fields
            )
            cur.execute(f"CREATE TABLE IF NOT EXISTS {table} ({ddl})")
        for row in df.toLocalIterator():
            yield insert, tuple(row)

    con = (connect_fn or _default_connect)(dsn)
    return _sql_batch(con, batch_id, journal_table, statements)


def omsql_stream_writer(
    dsn: str,
    table: str,
    journal_table: str = "rsyslog_batches",
    connect_fn=None,
):
    """foreachBatch adapter: epoch-idempotent structured SQL delivery
    (the streaming face of :func:`omsql_rows`; Spark replays epochs
    after failures, the journal makes each land exactly once)."""

    def write(batch_df, epoch_id: int) -> None:
        omsql_rows(
            batch_df, dsn, table, batch_id=epoch_id,
            journal_table=journal_table, connect_fn=connect_fn,
        )

    return write


def omelasticsearch_deliver(
    df: "DataFrame",
    es_url: str,
    entry_col: str = "value",
    batch_size: int = 500,
    retry_statuses: tuple[int, ...] = (429,),
    max_retries: int = 2,
    timeout_secs: float = 10.0,
    headers: dict | None = None,
) -> "DataFrame":
    """Executor-side ``_bulk`` delivery WITH per-item reply handling —
    omelasticsearch's checkResultBulkmode (omelasticsearch.c:2028-2053
    + parseRequestAndResponseForContext): the bulk reply's ``items``
    array is parsed positionally against the request entries, each
    row gets its own outcome, and items failing with a RETRYABLE
    status (ES 429 bulk rejections) are re-POSTed as a smaller bulk up
    to ``max_retries`` times (the retryfailures model, c:2576).

    Returns the input rows plus ``es_status`` (long; -1 = transport
    failure), ``es_ok`` (bool) and ``es_error`` (the reply's error
    JSON, null when ok). Rows still failing after retries are the
    caller's routing decision — filter ``~es_ok`` into an error sink
    (errorFile, c:1929-2016) or feed them back through a retry
    ruleset; both reference behaviors are projections of this output.

    Scale shape: partition-local batches, one POST per ``batch_size``
    rows, no shuffle; the reply parse is O(batch)."""
    import json as _json

    import pandas as pd

    from rsyslog_spark.net import _NoConn, send_rows

    hdrs = {"Content-Type": "application/x-ndjson", **(headers or {})}

    def post(entries: list[str]):
        """POST one bulk; returns per-entry (status, error)."""
        body = ("\n".join(entries) + "\n").encode("utf-8")
        status, reply = _http_call(es_url, body, hdrs, timeout_secs)
        if status == -1:
            return [(-1, reply.decode("utf-8", "replace"))] * len(entries)
        if not 200 <= status < 300:
            return [(status, f"http {status}")] * len(entries)
        try:
            items = _json.loads(reply.decode("utf-8")).get("items", [])
        except ValueError as e:
            return [(-1, str(e))] * len(entries)
        out = []
        for i in range(len(entries)):
            if i >= len(items):  # malformed reply tail
                out.append((-1, "missing bulk reply item"))
                continue
            res = next(iter(items[i].values()), {})
            st = int(res.get("status", -1))
            err = res.get("error")
            out.append((st, _json.dumps(err) if err is not None else None))
        return out

    def run_batch(entries: list[str]):
        results = post(entries)
        for _ in range(max_retries):
            retry_idx = [
                i for i, (st, _e) in enumerate(results)
                if st in retry_statuses
            ]
            if not retry_idx:
                break
            sub = post([entries[i] for i in retry_idx])
            for j, i in enumerate(retry_idx):
                results[i] = sub[j]
        return results

    def send(_conn, pdf) -> dict:
        entries = pdf[entry_col].tolist()
        got = [
            r for off in range(0, len(entries), batch_size)
            for r in run_batch(entries[off : off + batch_size])
        ]
        return {
            "es_status": pd.array([st for st, _ in got], dtype="Int64"),
            "es_ok": [200 <= st < 300 for st, _ in got],
            "es_error": [err for _, err in got],
        }

    return send_rows(
        df, _NoConn, send,
        "es_status long, es_ok boolean, es_error string",
    )


# ---------------------------------------------------------------------------
# omhttpfs — Hadoop HttpFS / WebHDFS REST sink
# ---------------------------------------------------------------------------

def omhttpfs_deliver(
    df: DataFrame,
    base_url: str,
    file: str,
    user: str = "hdfs",
    value_col: str = "value",
    timeout_secs: float = 10.0,
) -> DataFrame:
    """contrib/omhttpfs: append rendered lines to an HDFS file over
    the HttpFS REST API — POST ``?op=append&data=true`` first, and on
    404 (file does not exist yet) create it with PUT
    ``?op=create&overwrite=false&data=true`` (omhttpfs.c:444-546).
    One request per Arrow batch, its lines newline-joined (urllib
    opens one connection per request). Cross-partition append order
    is unspecified — exactly like N reference instances appending to
    one file."""
    from rsyslog_spark.net import _NoConn, send_partitions

    url = (
        f"{base_url.rstrip('/')}/webhdfs/v1{file}?user.name={user}"
    )
    hdrs = {"Content-Type": "application/octet-stream"}

    def send(_conn, pdf) -> tuple[int, int, bool]:
        vals = pdf[value_col].tolist()
        body = ("\n".join(vals) + "\n").encode("utf-8")
        status, _ = _http_call(
            url + "&op=append&data=true", body, hdrs, timeout_secs
        )
        created = status == 404
        if created:
            status, _ = _http_call(
                url + "&op=create&overwrite=false&data=true", body, hdrs,
                timeout_secs, method="PUT",
            )
        if not 200 <= status < 300:
            raise IOError(f"omhttpfs: HTTP {status} appending to {file}")
        return 1, len(vals), created

    return send_partitions(
        df, _NoConn, send, "n_batches long, n_messages long, created boolean"
    )


# ---------------------------------------------------------------------------
# omudpspoof — source-spoofed UDP datagrams
# ---------------------------------------------------------------------------

def omudpspoof_frame(
    df: DataFrame,
    dst_ip: str,
    dst_port: int = 514,
    src_ip_col: str = "fromhost_ip",
    src_port: int = 514,
    value_col: str = "value",
    out_col: str = "packet",
) -> DataFrame:
    """plugins/omudpspoof: relay messages with the ORIGINAL sender as
    the UDP source so downstream collectors see the true origin. The
    reference hand-builds the IP/UDP headers via libnet and a raw
    socket; the packet construction — the module's actual logic — is
    a pure Column here (rsyslog_spark.pcap.build_udp_packet_hex),
    emitting the exact on-wire Ethernet+IPv4+UDP bytes per message.
    Injecting them needs CAP_NET_RAW at deploy; in-sandbox the frames
    round-trip through the pcap parser instead."""
    from rsyslog_spark.pcap import build_udp_packet_hex

    parts = F.split(F.col(src_ip_col), r"\.")
    src_bytes = [
        F.try_element_at(parts, F.lit(i + 1)).cast("long")
        for i in range(4)
    ]
    dst_bytes = [F.lit(int(b)) for b in dst_ip.split(".")]
    return df.withColumn(
        out_col,
        F.unhex(
            build_udp_packet_hex(
                src_bytes, dst_bytes,
                F.lit(src_port), F.lit(dst_port),
                F.col(value_col),
            )
        ),
    )


# --- omjournal: systemd-journal sink (export-format bridge) ------------------


def omjournal_fields(
    df: DataFrame,
    msg_col: str = "msg",
    facility_col: str = "facility",
    severity_col: str = "severity",
    tag_col: str = "syslogtag",
    template_cols: dict[str, str] | None = None,
) -> Column:
    """plugins/omjournal/omjournal.c field mapping as a map Column.

    Default mode (doActionDefault:296-302): MESSAGE, PRIORITY =
    facility*8|severity, SYSLOG_FACILITY, SYSLOG_IDENTIFIER (the TAG
    with any trailing ``:`` dropped). Template mode (build_iovec:
    186-240): the template's JSON object becomes the field set
    verbatim — pass ``template_cols`` as {FIELD: column_name}.

    Mirrored reference asymmetry: journald defines PRIORITY as the
    0..7 severity, but omjournal.c:300 writes the FULL PRI there —
    a reader applying imjournal's bounds check (imjournal.c:613-653)
    falls back to its default severity whenever facility > 0."""
    if template_cols is not None:
        return F.map_from_arrays(
            F.array(*[F.lit(k) for k in template_cols]),
            F.array(*[
                F.col(c).cast("string") for c in template_cols.values()
            ]),
        )
    sev = F.col(severity_col).cast("long")
    fac = F.col(facility_col).cast("long")
    iden = F.regexp_replace(F.col(tag_col), r":$", "")
    return F.map_from_arrays(
        F.array(F.lit("MESSAGE"), F.lit("PRIORITY"),
                F.lit("SYSLOG_FACILITY"), F.lit("SYSLOG_IDENTIFIER")),
        F.array(F.col(msg_col).cast("string"),
                (fac * 8 + sev).cast("string"),
                fac.cast("string"), iden),
    )


def journal_export_entry(fields: Column) -> Column:
    """One journal EXPORT-format entry (systemd.io export spec, the
    symmetric twin of sources_os.read_journal_export) as a string
    Column: ``FIELD=value`` lines + the terminating blank line.
    Text form only — a value containing a newline must go through
    :func:`journal_export_write` (the spec mandates the binary
    encoding for those)."""
    lines = F.transform(
        F.map_entries(fields),
        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
    )
    return F.concat(F.array_join(lines, "\n"), F.lit("\n\n"))


def journal_export_write(entries: list[dict[str, "str | bytes"]]) -> bytes:
    """Driver/executor-side export-format writer, binary-safe: values
    that are bytes or contain ``\\n`` use the binary form —
    ``NAME\\n`` + little-endian u64 length + data + ``\\n`` (the same
    framing sources_os.read_journal_export parses back)."""
    import struct as structlib

    out = bytearray()
    for entry in entries:
        for name, value in entry.items():
            if isinstance(value, str) and "\n" not in value:
                out += f"{name}={value}\n".encode()
            else:
                data = value.encode() if isinstance(value, str) else value
                out += name.encode() + b"\n"
                out += structlib.pack("<Q", len(data)) + data + b"\n"
        out += b"\n"
    return bytes(out)


# --- cloud log-ingestion sinks riding the omhttp engine ----------------------


def omawslogshlc_post(
    df: DataFrame,
    bearer_token: str,
    log_group: str,
    log_stream: str,
    region: str | None = None,
    url: str | None = None,
    msg_col: str = "msg",
    host_col: str | None = "hostname",
    ts_col: str | None = None,
    source: str = "rsyslog",
    batch_size: int = 100,
    order_by: str | list[str] | None = None,
    **post_kw,
) -> DataFrame:
    """plugins/omawslogshlc — CloudWatch Logs HLC (HEC-compatible)
    ingestion: each message becomes
    ``{"event":…,"time":…,"host":…,"source":…}`` (appendEvent:
    128-260, empty messages become "(empty)"), bodies are the JSON
    objects CONCATENATED with no separator (the HLC endpoint takes
    concatenated objects), POSTed with ``Authorization: Bearer`` to
    ``https://logs.<region>.amazonaws.com/services/collector/event
    ?logGroup=…&logStream=…`` (postBatch:276-330, query params
    URL-encoded).

    Divergence, deliberate: the reference stamps ``time`` with the
    SEND time (nowEpoch()); at scale a resent batch must not change
    its identity, so ``ts_col`` (event time) is used when given and
    send-time only as the per-task fallback."""
    from urllib.parse import quote

    if url is None:
        if region is None:
            raise ValueError("omawslogshlc needs region= or url=")
        url = f"https://logs.{region}.amazonaws.com/services/collector/event"
    full = (
        f"{url}?logGroup={quote(log_group, safe='')}"
        f"&logStream={quote(log_stream, safe='')}"
    )
    host = (
        F.col(host_col).cast("string") if host_col
        else F.lit("unknown")
    )
    ts = (
        F.unix_timestamp(F.col(ts_col)).cast("double") if ts_col
        else F.unix_timestamp(F.current_timestamp()).cast("double")
    )
    event = F.to_json(F.struct(
        F.coalesce(
            F.nullif(F.col(msg_col).cast("string"), F.lit("")),
            F.lit("(empty)"),
        ).alias("event"),
        ts.alias("time"),
        F.coalesce(host, F.lit("unknown")).alias("host"),
        F.lit(source).alias("source"),
    ))
    return omhttp_post(
        df, full, template=event, batch_format="concat",
        batch_size=batch_size, order_by=order_by,
        headers={"Authorization": f"Bearer {bearer_token}"},
        **post_kw,
    )


def azure_oauth_token(
    token_url: str,
    client_id: str,
    client_secret: str,
    scope: str = "https://monitor.azure.com/.default",
    timeout_secs: float = 10.0,
) -> str:
    """plugins/omazuredce requestAccessToken (omazuredce.c:252-340):
    OAuth2 client-credentials POST (form-encoded client_id/scope/
    client_secret/grant_type) → ``access_token`` from the JSON reply.
    Driver-side, once per (re)connect — the token is then a literal
    in the executor headers. Pass the real AAD URL
    ``https://login.microsoftonline.com/<tenant>/oauth2/v2.0/token``
    at deploy; tests point at a local server."""
    import json as jsonlib
    import urllib.parse

    body = urllib.parse.urlencode({
        "client_id": client_id,
        "scope": scope,
        "client_secret": client_secret,
        "grant_type": "client_credentials",
    }).encode()
    status, reply = _http_call(
        token_url, body,
        {"Content-Type": "application/x-www-form-urlencoded"},
        timeout_secs,
    )
    if not 200 <= status < 300:
        raise ConnectionError(
            f"omazuredce: token request failed ({status}) "
            + reply.decode("utf-8", "replace")
        )
    token = jsonlib.loads(reply.decode("utf-8")).get("access_token")
    if not token:
        raise ValueError("omazuredce: token reply without access_token")
    return str(token)


def omazuredce_post(
    df: DataFrame,
    dce_url: str,
    dcr_id: str,
    stream_name: str,
    bearer_token: str,
    template: "str | Column" = "RSYSLOG_StdJSONFmt",
    batch_size: int = 100,
    order_by: str | list[str] | None = None,
    **post_kw,
) -> DataFrame:
    """plugins/omazuredce — Azure Monitor Logs Ingestion API: JSON
    ARRAY bodies POSTed to ``<dce>/dataCollectionRules/<dcr>/streams/
    <stream>?api-version=2023-01-01`` (omazuredce.c:414) with the
    OAuth2 bearer token from :func:`azure_oauth_token`."""
    base = dce_url.rstrip("/")
    url = (
        f"{base}/dataCollectionRules/{dcr_id}/streams/{stream_name}"
        "?api-version=2023-01-01"
    )
    return omhttp_post(
        df, url, template=template, batch_format="jsonarray",
        batch_size=batch_size, order_by=order_by,
        headers={"Authorization": f"Bearer {bearer_token}"},
        **post_kw,
    )
