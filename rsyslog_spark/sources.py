"""Input sources (im* analogs) beyond the canonical tokens table.

- :func:`read_raw_lines` — imfile for plain log files: each text line
  becomes one row, tokenized into the canonical
  (doc_id, tokens, n_tok, source) shape so every downstream operator
  works unchanged. Multiline assembly via startmsg regex
  (imfile startmsg.regex, plugins/imfile/imfile.c:140-150).
- :func:`incremental_batches` — batch checkpoint/resume without a
  table format: the Iceberg-snapshot analog over a plain directory —
  only files not yet in the state log are processed, then committed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark.corpus import encode_line


def read_raw_lines(
    spark: SparkSession,
    path: str,
    source: str = "file",
    startmsg_regex: str | None = None,
) -> DataFrame:
    """Plain log files → canonical tokens table.

    ``startmsg_regex`` turns on multiline assembly: a line matching the
    regex starts a new message; continuation lines are appended with
    '\\n' (imfile readMode/startmsg.regex semantics). Assembly uses a
    per-file ordered window — files are the natural partition unit, so
    this scales with file count."""
    df = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_file"),
    )
    # stable per-file line numbers for ordering
    from pyspark.sql.window import Window

    w = Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
    df = df.withColumn("_lineno", F.row_number().over(w))

    if startmsg_regex:
        starts = F.when(
            F.col("line").rlike(startmsg_regex), F.lit(1)
        ).otherwise(F.lit(0))
        df = df.withColumn("_start", starts).withColumn(
            "_msgid",
            F.sum("_start").over(
                Window.partitionBy("_file")
                .orderBy("_lineno")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        df = (
            df.groupBy("_file", "_msgid")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_lineno", "line"))
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                ).alias("line"),
                F.min("_lineno").alias("_lineno"),
            )
        )

    out = encode_line(df.select(
        F.concat(
            F.lit("doc-"), F.col("_file"), F.lit("-"),
            F.lpad(F.col("_lineno").cast("string"), 9, "0"),
        ).alias("doc_id"),
        "line",
        F.lit(source).alias("source"),
    ))
    return out.select("doc_id", "tokens", "n_tok", "source")


class incremental_batches:
    """Process only parquet files not yet committed to the state log.

    The batch analog of rsyslog's .qi queue checkpoints / Iceberg
    snapshot-incremental reads: ``pending()`` lists new files,
    ``read_pending()`` loads them, ``commit()`` records them after the
    job's writes succeed (write-then-commit = at-least-once, same as
    the reference's action retry semantics)."""

    def __init__(self, spark: SparkSession, data_dir: str, state_path: str):
        self.spark = spark
        self.data_dir = data_dir
        self.state_path = state_path

    def _done(self) -> set[str]:
        if not os.path.exists(self.state_path):
            return set()
        with open(self.state_path) as fh:
            return {json.loads(ln)["file"] for ln in fh if ln.strip()}

    def pending(self) -> list[str]:
        done = self._done()
        files = sorted(
            f"{self.data_dir}/{f}"
            for f in os.listdir(self.data_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        return [f for f in files if f not in done]

    def read_pending(self) -> tuple[DataFrame | None, list[str]]:
        files = self.pending()
        if not files:
            return None, []
        return self.spark.read.parquet(*files), files

    def commit(self, files: list[str]) -> None:
        os.makedirs(os.path.dirname(self.state_path) or ".", exist_ok=True)
        with open(self.state_path, "a") as fh:
            for f in files:
                fh.write(json.dumps({"file": f}) + "\n")
