"""Checkpoint/resume and per-partition lineage metrics (north rule).

The reference's only "resume" is its pickle intermediate
(rnn_process_onlyExtra.py:826 / rnnRE.py:691).  At 10^12 documents a rerun
must skip completed work instead: the pipeline processes deterministic
``part_id`` buckets (hash of url, plans.pipeline.part_id_col), writes
triples partitioned by ``part_id``, and appends one manifest row per
completed bucket.  Resume = anti-join of the bucket universe against the
``_done`` manifest — only pending buckets are scanned (partition pruning
on the source side makes the skip free).

On Iceberg the manifest role is played by snapshot metadata; parquet +
a ``_done`` manifest directory reproduces the semantics portably here.

``lineage_metrics`` rows (FIXTURES.md §5) double as the pipeline's
observability surface: row counts per stage per bucket.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the ``_done`` manifest's rows, one per completed bucket
MANIFEST_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("stage", pa.string()),
        ("n_pages", pa.int64()),
        ("n_mentions", pa.int64()),
        ("n_pairs", pa.int64()),
        ("n_triples", pa.int64()),
        ("t_start", pa.float64()),
        ("t_end", pa.float64()),
        ("status", pa.string()),
    ]
)


def done_part_ids(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """part_ids recorded as done.  Only a missing manifest directory, or
    one holding no parquet file Spark would read, means nothing is done
    yet; any error reading a manifest that exists raises, so a damaged
    manifest never silently reruns every bucket."""
    if not any(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for f in (os.listdir(manifest_dir) if os.path.isdir(manifest_dir)
                  else ())
    ):
        return spark.createDataFrame([], "part_id int")
    m = spark.read.parquet(manifest_dir)
    return (
        m.filter(F.col("status") == "done").select("part_id").distinct()
    )


def pending(df: DataFrame, done: DataFrame) -> DataFrame:
    """Anti-join: rows of buckets not yet completed."""
    return df.join(F.broadcast(done), "part_id", "left_anti")


def part_files(out_dir: str) -> dict[str, int]:
    """``{path: part_id}`` of every parquet file in the sink's
    ``part_id=*`` directories — the listing the write, its manifest and
    the compaction all plan from."""
    return {
        f: int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        for f in glob.glob(os.path.join(out_dir, "part_id=*", "*.parquet"))
    }


def sorted_for_write(triples: DataFrame) -> DataFrame:
    """One shuffle by ``part_id``, each task's rows in ``(subj, pred,
    obj)`` order.  ``part_id`` leads the sort: a partitioned writer needs
    its input grouped by it and would otherwise re-sort, losing the
    triple order."""
    return triples.repartition("part_id").sortWithinPartitions(
        "part_id", "subj", "pred", "obj"
    )


def _footer_counts(files: dict[str, int]) -> dict[int, int]:
    """Exact per-bucket row counts from parquet footer metadata only —
    no data pages are read and the triples plan is never re-executed.
    On Iceberg the same numbers come from the snapshot's manifest
    statistics; on a remote store this listing is a metadata-service
    call, the same O(files) cost Iceberg's commit itself pays."""
    counts: dict[int, int] = {}
    for f, pid in files.items():
        counts[pid] = counts.get(pid, 0) + pq.ParquetFile(f).metadata.num_rows
    return counts


def write_triples_with_manifest(
    triples: DataFrame,
    out_dir: str,
    manifest_dir: str,
    stage: str = "triples",
) -> dict:
    """Materialize triples partitioned by part_id + append manifest rows.

    One shuffle (repartition by part_id) so each output partition is a
    single task's write; every file written is in ``(subj, pred, obj)``
    order, for downstream locality.

    The manifest counts come from the footers of the files this call
    wrote (before/after file-set diff, so concurrent history in an
    append dir is excluded): the triples plan — the most expensive job
    in the system — executes exactly once, and the manifest rows are
    written on the driver without a second Spark job.
    """
    t0 = time.time()
    counts = _write_parts(triples, out_dir)
    _append_manifest(manifest_dir, stage, counts, t0, time.time())
    return {"parts": len(counts), "n_triples": sum(counts.values())}


def _write_parts(triples: DataFrame, out_dir: str) -> dict[int, int]:
    """Append ``triples`` to the sink; ``{part_id: rows}`` of the files
    this call wrote, from their footers."""
    before = part_files(out_dir)
    (
        sorted_for_write(triples)
        .write.mode("append")
        .partitionBy("part_id")
        .parquet(out_dir)
    )
    return _footer_counts(
        {f: p for f, p in part_files(out_dir).items() if f not in before}
    )


def _append_manifest(
    manifest_dir: str, stage: str, counts: dict[int, int],
    t_start: float, t_end: float,
) -> None:
    """One ``done`` row per bucket, appended to the manifest as one
    uniquely named parquet file in ``MANIFEST_SCHEMA``, written by pyarrow
    on the driver: the rows are already here, so no Spark job runs.  A
    write with no buckets still appends a 0-row file, so the manifest
    directory always reads back.  The file is written under a
    ``_``-prefixed name, which Spark's reader skips, then renamed into
    place, so a reader never sees a partial file."""
    rows = [
        {"part_id": pid, "stage": stage, "n_triples": n,
         "t_start": t_start, "t_end": t_end, "status": "done"}
        for pid, n in sorted(counts.items())
    ]
    os.makedirs(manifest_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(manifest_dir, f"_{name}")
    pq.write_table(pa.Table.from_pylist(rows, schema=MANIFEST_SCHEMA), tmp)
    os.replace(tmp, os.path.join(manifest_dir, name))


def resume_run(
    spark: SparkSession,
    pages_with_part: DataFrame,
    out_dir: str,
    manifest_dir: str,
    pipeline_fn,
) -> dict:
    """Run ``pipeline_fn`` only over buckets absent from the manifest.

    Every pending bucket is recorded as done, including one whose pages
    yield no triples (``n_triples`` 0, no files): otherwise each rerun
    would redo it and never report ``skipped``."""
    done = done_part_ids(spark, manifest_dir)
    todo = pending(pages_with_part, done)
    todo_ids = [r.part_id for r in todo.select("part_id").distinct().collect()]
    if not todo_ids:
        return {"parts": 0, "n_triples": 0, "skipped": True}
    t0 = time.time()
    counts = _write_parts(pipeline_fn(todo), out_dir)
    _append_manifest(
        manifest_dir, "triples", {**dict.fromkeys(todo_ids, 0), **counts},
        t0, time.time(),
    )
    return {
        "parts": len(counts), "n_triples": sum(counts.values()),
        "skipped": False,
    }
