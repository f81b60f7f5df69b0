"""The benchmark's workloads: how each input is made from a seed, and the
batch job each one repeats in its closed loop.

* ``mixed``: the default ``corpus.gen_doc`` mix.
* ``hostile``: the adversarial rows (planted errors and decode bombs) plus
  the first single-span text documents of the mix, in every input.

Both repeat ``extract_in_memory(...).count()``. The write path
(``run_extraction`` killed and resumed, ``read_extracted``) is measured by
``store_pass`` in traced runs.
"""

from __future__ import annotations

import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tika_wrap_spark import catalog, data, pipeline
from tika_wrap_spark.operators.skew import doc_cost, with_part_key

from perfbench.probes import Stopwatch, Tracer

# Checkpoint partitions of ``run_extraction`` in the store pass. Its
# default of 64 writes one file per task per partition (~460 files); 16
# keeps the pass within the time of a traced run.
PARTS = 16

# the output columns the correctness gate compares
OUTPUT_COLS = ("doc_id", "spans", "parse_ok", "error")

# Documents of the gen_doc mix each input is drawn from, and inputs per
# run. A run builds its inputs from seeds derived from its own (see
# ``input_seed``) and cycles its timed passes over them, at least once each.
#
# ``mixed``: a few giant PDFs make up half of an input's parse time, so
# pass time varies a lot between inputs, and the run's figure steadies with
# the number of distinct inputs it times, not with repeated passes over the
# same ones. ``hostile``: each input is the adversarial rows plus the first
# ``HOSTILE_TEXT_DOCS`` single-span text documents of its mix, so the capped
# decode bombs, the same in every input, set the pass time, and neither a
# giant PDF nor the document count varies it. Its runs are short, which
# leaves ``mixed`` the time for 7 inputs within the time the benchmark
# allows for all runs on a 4-core host.
N_DOCS = {"mixed": 6000, "hostile": 600}
INPUTS_PER_RUN = {"mixed": 7, "hostile": 4}
HOSTILE_TEXT_DOCS = 160


def input_seed(workload: str, seed: int, index: int) -> int:
    """Generator seed of input ``index`` of a run with ``seed``: distinct
    for every (seed, index) pair of a workload."""
    return seed * INPUTS_PER_RUN[workload] + index


def build_input(
    spark: SparkSession,
    workload: str,
    seed: int,
    num_partitions: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """The workload's input corpus ``(doc_id, spans)``; the same for a given
    seed under any ``num_partitions``."""
    n = n_docs or N_DOCS[workload]
    corpus = data.distributed_corpus_df(
        spark, n, seed, num_partitions, adversarial=workload == "hostile"
    )
    if workload != "hostile":
        return corpus
    index = F.substring("doc_id", 5, 7).cast("int")
    text = (F.size("spans") == 1) & (F.col("spans")[0]["kind"] == "text") & (index < n)
    small = corpus.where(text).orderBy("doc_id").limit(HOSTILE_TEXT_DOCS)
    return small.unionByName(corpus.where(index >= n))


def input_chars(df: DataFrame) -> int:
    """Span-text characters of an input (one byte each for the byte-string
    payloads), summed JVM-side with ``skew.doc_cost``."""
    return doc_cost(df).agg(F.sum("cost")).collect()[0][0]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet data files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return total, files


def catalog_pass(spark: SparkSession, df: DataFrame, out_dir: str, tracer: Tracer) -> dict[str, Any]:
    """Extract ``df`` (with its checkpoint ``part_key``) into a cached
    output, then time ``catalog.overwrite_partitions`` of it alone."""
    out = pipeline.extract_in_memory(spark, with_part_key(df, PARTS)).cache()
    try:
        out.count()
        with Stopwatch() as sw, tracer.span("catalog.overwrite_partitions"):
            catalog.overwrite_partitions(out, out_dir, partition_by=["part_key"])
    finally:
        out.unpersist()
    store_bytes, files = _dir_bytes(out_dir)
    return {"write_s": sw.seconds, "store_bytes": store_bytes, "files": files}


class InMemory:
    """``extract_in_memory(...).count()``: the job every workload repeats."""

    def __init__(self, spark: SparkSession, work_dir: str, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.out_dir = os.path.join(work_dir, "output")

    def warm(self, df: DataFrame) -> int:
        """The last step of set-up: one extraction pass over ``df``, written
        with ``catalog.append_table``, so workers, code and the parquet
        writer are warm before anything is timed. Returns the bytes the
        output takes at rest. This output is what the gate checks."""
        catalog.append_table(pipeline.extract_in_memory(self.spark, df), self.out_dir)
        return _dir_bytes(self.out_dir)[0]

    def step(self, df: DataFrame, n_docs: int) -> dict[str, Any]:
        with Stopwatch() as sw, self.tracer.span("pipeline.extract_in_memory"):
            got = pipeline.extract_in_memory(self.spark, df).count()
        return {"seconds": sw.seconds, "docs": n_docs, "ok": got == n_docs}

    def output(self) -> list:
        """The warm pass's output, read back."""
        return self.spark.read.parquet(self.out_dir).select(*OUTPUT_COLS).collect()

    def close(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


def store_pass(spark: SparkSession, df: DataFrame, store: str, tracer: Tracer) -> dict[str, Any]:
    """One store step over ``df``: a killed ``run_extraction`` over half the
    ``part_key``s, a resume that completes the store, then
    ``read_extracted``. Returns the rows read, the step's times and the
    failed checks of the store itself: lineage must cover
    every ``part_key`` of the input, and the resume must redo no committed
    document."""
    with Stopwatch() as killed, tracer.span("pipeline.run_extraction.killed"):
        pipeline.run_extraction(spark, df, store, parts=PARTS, part_filter=list(range(PARTS // 2)))
    with Stopwatch() as resume, tracer.span("pipeline.run_extraction.resume"):
        pipeline.run_extraction(spark, df, store, parts=PARTS)
    with Stopwatch() as read, tracer.span("pipeline.read_extracted"):
        rows = pipeline.read_extracted(spark, store).select(*OUTPUT_COLS).collect()
    lineage = pipeline.read_lineage(spark, store)
    committed = {r["part_key"] for r in lineage.select("part_key").distinct().collect()}
    wanted = {r["part_key"] for r in with_part_key(df, PARTS).select("part_key").distinct().collect()}
    lineage_docs = lineage.agg(F.sum("doc_count")).collect()[0][0] or 0
    redo = int(lineage_docs) - len(rows)
    failures = []
    if committed != wanted:
        failures.append("lineage covers %d of %d part_keys" % (len(committed & wanted), len(wanted)))
    if redo != 0:
        failures.append("resume redid %d committed docs" % redo)
    return {
        "rows": rows,
        "failures": failures,
        "killed_run_s": killed.seconds,
        "resume_s": resume.seconds,
        "read_extracted_s": read.seconds,
        "resume_redo_docs": redo,
    }
