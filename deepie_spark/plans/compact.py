"""Small-file compaction for the partitioned triple sink.

The write path (plans/resume.py write_triples_with_manifest) produces
one file per (task, part_id) — under incremental/resumed runs a hot
bucket accumulates many small files, and at 10^12 triples the scan
cost of a partition becomes file-count-bound (open/footer overhead,
and on this engine effective parallelism of small parquet equals file
count, see CLAUDE.md).  Production table formats solve this with a
rewrite action (Iceberg ``rewrite_data_files``, Delta OPTIMIZE); this
is the portable parquet analog with the same plan shape:

* the per-partition target file count comes from FOOTER/LISTING
  metadata only (``n_out = ceil(partition_bytes / target_bytes)``) —
  the data is never read to plan the rewrite, exactly like Iceberg's
  manifest-driven planning.  The listing is O(files) driver work,
  bounded by the partition count × files-per-partition, the same cost
  the write-side manifest already pays;
* the rewrite itself is ONE distributed pass: a ``repartition(part_id,
  bucket)`` spreads large partitions across ``n_out`` tasks for write
  parallelism (bucket = ``xxhash64(row identity) pmod n_out`` —
  xxhash64 is the partitioning-only hash per repo convention), and the
  actual file-size control is the WRITER's ``maxRecordsPerFile``
  (records per file = target_bytes / avg bytes-per-row from the
  footers) — task-level hash collisions can merge buckets into one
  task, so file splitting must happen in the writer, not the shuffle
  (the same mechanism Delta OPTIMIZE / Iceberg's target-file-size use);
* the swap is write-to-side-directory + atomic-ish rename (parquet has
  no snapshot commit; on Iceberg this entire module is the built-in
  rewrite action and the swap is a metadata commit).  The old
  directory is retained under ``<out>.pre_compact`` until the caller
  drops it — the manual analog of snapshot expiry.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepie_spark.plans.resume import part_files


def _partition_bytes(out_dir: str) -> dict[int, int]:
    """{part_id: total file bytes} from the directory listing only."""
    sizes: dict[int, int] = {}
    for f, pid in part_files(out_dir).items():
        sizes[pid] = sizes.get(pid, 0) + os.path.getsize(f)
    return sizes


def compact_partitioned_sink(
    spark: SparkSession,
    out_dir: str,
    target_bytes: int = 128 << 20,
    sort_cols: tuple[str, ...] = ("subj", "pred", "obj"),
) -> dict:
    """Rewrite every ``part_id=*`` directory of a partitioned parquet
    sink into ``ceil(bytes / target_bytes)`` files (min 1), preserving
    rows exactly.  Returns {"files_before", "files_after", "parts"}.
    """
    import pyarrow.parquet as pq

    sizes = _partition_bytes(out_dir)
    files = part_files(out_dir)
    files_before = len(files)
    # footer metadata only — the data is never read to plan the rewrite
    total_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    avg_row = max(1.0, sum(sizes.values()) / max(1, total_rows))
    records_per_file = max(1, int(target_bytes / avg_row))
    n_out = {
        pid: max(1, math.ceil(b / target_bytes)) for pid, b in sizes.items()
    }
    # bounded by the partition count — the same dimension the resume
    # manifest already materializes driver-side
    buckets = spark.createDataFrame(
        sorted(n_out.items()), "part_id int, n_out int"
    )
    df = spark.read.parquet(out_dir)
    data_cols = [c for c in df.columns if c != "part_id"]
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in data_cols]), F.col("n_out")
    ).alias("bucket")
    staged = (
        df.join(F.broadcast(buckets), "part_id")
        .select("part_id", bucket, *data_cols)
        .repartition(F.col("part_id"), F.col("bucket"))
        # part_id leads, or the partitioned writer re-sorts by it alone
        .sortWithinPartitions("part_id", *sort_cols)
        .drop("bucket")
    )
    side = out_dir.rstrip("/") + ".compact_tmp"
    old = out_dir.rstrip("/") + ".pre_compact"
    (
        staged.write.mode("overwrite")
        .option("maxRecordsPerFile", records_per_file)
        .partitionBy("part_id")
        .parquet(side)
    )
    shutil.rmtree(old, ignore_errors=True)
    os.rename(out_dir, old)
    os.rename(side, out_dir)
    return {
        "files_before": files_before,
        "files_after": len(part_files(out_dir)),
        "parts": len(sizes),
    }
