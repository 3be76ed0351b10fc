"""Checkpoint/resume and lineage-manifest tests (north rule: reruns skip
completed partitions).
"""

import os

import pytest
from pyspark.sql import functions as F

from deepie_spark.datagen.pages import pages_from_documents
from deepie_spark.plans.pipeline import extract_triples, part_id_col
from deepie_spark.plans.resume import (
    done_part_ids,
    pending,
    resume_run,
    write_triples_with_manifest,
)


@pytest.fixture()
def pages(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return pages_from_documents(docs).withColumn("part_id", part_id_col())


def test_done_part_ids_empty_when_no_manifest(spark, tmp_path):
    done = done_part_ids(spark, str(tmp_path / "nope"))
    assert done.count() == 0


def test_corrupt_manifest_raises_instead_of_redoing(spark, tmp_path):
    """A manifest that exists but cannot be read is an error, not "no
    bucket done": a corrupt footer makes ``resume_run`` raise before it
    reruns anything."""
    out, man = str(tmp_path / "t"), str(tmp_path / "m")
    one = spark.createDataFrame(
        [("s", "p", "o", 3)], "subj string, pred string, obj string,"
        " part_id int"
    )
    write_triples_with_manifest(one, out, man)
    (name,) = [f for f in os.listdir(man) if f.endswith(".parquet")]
    path = os.path.join(man, name)
    size = os.path.getsize(path)
    with open(path, "r+b") as f:  # overwrite the footer, keep the magic
        f.seek(size - 12)
        f.write(b"\xff" * 8)

    ran = []

    def run(p):
        ran.append(p)
        return one

    pages = spark.createDataFrame([(3,)], "part_id int")
    with pytest.raises(Exception):
        resume_run(spark, pages, out, man, run)
    assert not ran


def test_resume_records_buckets_without_triples(spark, tmp_path):
    """A pending bucket whose pages yield no triples is recorded as done
    with ``n_triples`` 0: the next run skips it instead of redoing it."""
    out, man = str(tmp_path / "t"), str(tmp_path / "m")
    pages = spark.createDataFrame([(1,), (2,), (2,), (5,)], "part_id int")
    ran = []

    def run(p):
        ran.append(sorted(r.part_id for r in p.select("part_id").collect()))
        return p.filter(F.col("part_id") == 2).select(
            F.lit("s").alias("subj"), F.lit("p").alias("pred"),
            F.lit("o").alias("obj"), "part_id",
        )

    first = resume_run(spark, pages, out, man, run)
    assert first == {"parts": 1, "n_triples": 2, "skipped": False}
    for _ in range(2):
        again = resume_run(spark, pages, out, man, run)
        assert again == {"parts": 0, "n_triples": 0, "skipped": True}
    assert ran == [[1, 2, 2, 5]]
    rows = sorted(
        (r.part_id, r.n_triples, r.status)
        for r in spark.read.parquet(man).collect()
    )
    assert rows == [(1, 0, "done"), (2, 2, "done"), (5, 0, "done")]
    assert spark.read.parquet(out).count() == 2


def test_write_then_resume_skips_everything(spark, pages, tmp_path):
    out = str(tmp_path / "triples")
    manifest = str(tmp_path / "manifest")

    def run(p):
        return extract_triples(spark, p.drop("part_id"))

    first = resume_run(spark, pages, out, manifest, run)
    assert not first["skipped"]
    assert first["n_triples"] > 0
    n_parts_written = first["parts"]

    # a rerun over the same input must do zero work
    second = resume_run(spark, pages, out, manifest, run)
    assert second == {"parts": 0, "n_triples": 0, "skipped": True}

    # manifest rows are per-bucket lineage/metrics
    m = spark.read.parquet(manifest)
    assert m.filter(F.col("status") == "done").count() == n_parts_written
    assert m.agg(F.sum("n_triples")).collect()[0][0] == first["n_triples"]

    # the output is partitioned by part_id on disk (partition pruning)
    subdirs = [d for d in os.listdir(out) if d.startswith("part_id=")]
    assert len(subdirs) == n_parts_written


def test_manifest_write_runs_plan_once(spark, pages, tmp_path):
    """Plan guard for the single most expensive job in the system: the
    manifest counts must come from the written files' footers, not a
    second execution of the triples plan.  The accumulator counts rows
    flowing through the plan; exactly n (not 2n) may pass."""
    acc = spark.sparkContext.accumulator(0)
    triples = extract_triples(spark, pages.drop("part_id"))
    n = triples.count()

    def passthrough(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    instrumented = triples.mapInPandas(passthrough, triples.schema)
    res = write_triples_with_manifest(
        instrumented, str(tmp_path / "t1"), str(tmp_path / "m1")
    )
    assert res["n_triples"] == n
    assert acc.value == n


def test_manifest_of_an_empty_write(spark, tmp_path):
    """A write that produced no triples appends a 0-row manifest file in
    the manifest schema: the directory reads back (no bucket done), and a
    later write appends beside it."""
    out, man = str(tmp_path / "t"), str(tmp_path / "m")
    empty = spark.createDataFrame(
        [], "subj string, pred string, obj string, part_id int"
    )
    assert write_triples_with_manifest(empty, out, man) == {
        "parts": 0, "n_triples": 0,
    }
    m = spark.read.parquet(man)
    assert m.count() == 0
    assert m.schema.simpleString() == (
        "struct<part_id:int,stage:string,n_pages:bigint,n_mentions:bigint,"
        "n_pairs:bigint,n_triples:bigint,t_start:double,t_end:double,"
        "status:string>"
    )
    assert done_part_ids(spark, man).count() == 0
    one = spark.createDataFrame(
        [("s", "p", "o", 3)], "subj string, pred string, obj string,"
        " part_id int"
    )
    assert write_triples_with_manifest(one, out, man, stage="again") == {
        "parts": 1, "n_triples": 1,
    }
    (r,) = spark.read.parquet(man).collect()
    assert (r.part_id, r.stage, r.n_triples, r.status) == (3, "again", 1, "done")
    assert r.n_pages is None and r.t_start <= r.t_end
    assert [r.part_id for r in done_part_ids(spark, man).collect()] == [3]


def test_iceberg_sink_gating_and_fallback(spark, pages, tmp_path):
    """No Iceberg jar in this container: the probe must say so, the
    fallback must produce the parquet+manifest layout, and the missing-
    fallback misuse must be loud."""
    from deepie_spark.plans.iceberg_sink import (
        iceberg_available,
        write_triples_table,
    )

    assert iceberg_available(spark) is False
    triples = extract_triples(spark, pages.drop("part_id"))
    out = str(tmp_path / "ice_fallback")
    manifest = str(tmp_path / "ice_manifest")
    res = write_triples_table(
        spark, triples, "kg.triples", fallback_dir=out,
        fallback_manifest=manifest,
    )
    assert res["sink"] == "parquet"
    assert res["n_triples"] == spark.read.parquet(out).count() > 0
    with pytest.raises(ValueError, match="Iceberg"):
        write_triples_table(spark, triples, "kg.triples")


def test_partial_resume_processes_only_pending(spark, pages, tmp_path):
    out = str(tmp_path / "triples")
    manifest = str(tmp_path / "manifest")
    parts = sorted(
        r["part_id"] for r in pages.select("part_id").distinct().collect()
    )
    half = set(parts[: len(parts) // 2])

    def run(p):
        return extract_triples(spark, p.drop("part_id"))

    # complete only half the buckets
    first_half = pages.filter(F.col("part_id").isin(list(half)))
    write_triples_with_manifest(run(first_half), out, manifest)

    done = done_part_ids(spark, manifest)
    assert {r["part_id"] for r in done.collect()} == half

    todo = pending(pages, done)
    todo_parts = {r["part_id"] for r in todo.select("part_id").distinct().collect()}
    assert todo_parts == set(parts) - half

    res = resume_run(spark, pages, out, manifest, run)
    assert not res["skipped"]
    assert res["parts"] == len(set(parts) - half)

    # after catch-up, everything is done
    res2 = resume_run(spark, pages, out, manifest, run)
    assert res2["skipped"]

    # total triples across both writes equals a clean full run
    total = spark.read.parquet(out).count()
    want = extract_triples(spark, pages.drop("part_id")).count()
    assert total == want


def test_partitioned_sink_reads_prune_partitions(spark, pages, tmp_path):
    """Reading the part_id-partitioned triple sink with a part_id
    predicate must prune at the PARTITION level (PartitionFilters in
    the scan, not a post-scan Filter over all files) — the property
    that makes per-partition reprocessing/audit O(1 partition) instead
    of O(corpus) at 10^12 triples.  Also pins partition-value
    roundtrip: the pruned read returns exactly the rows written under
    that part_id."""
    out = str(tmp_path / "triples_out")
    man = str(tmp_path / "manifest")
    write_triples_with_manifest(
        extract_triples(spark, pages), out, man
    )
    t = spark.read.parquet(out)
    pid = t.select("part_id").first()["part_id"]
    q = t.filter(F.col("part_id") == pid)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[1]
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    import re

    assert re.search(rf"part_id#\d+ = {pid}\b", pf), pf
    # no residual data filter: pruning happens before any row is read
    assert q.count() == t.filter(F.col("part_id") == pid).count() > 0


def test_compaction_reduces_files_preserves_rows(spark, pages, tmp_path):
    """Compaction (plans/compact.py): many small files per partition
    rewrite into the metadata-computed target count; the row multiset
    and the partition layout are preserved exactly, and the old data
    survives under .pre_compact until dropped."""
    from deepie_spark.plans.compact import compact_partitioned_sink

    out = str(tmp_path / "triples_out")
    t = extract_triples(spark, pages)
    # force many tiny files: every partition written by many tasks
    t.repartition(16).write.partitionBy("part_id").parquet(out)
    before = spark.read.parquet(out)
    want = sorted(map(tuple, before.collect()))
    n_parts = before.select("part_id").distinct().count()

    # huge target -> exactly one file per partition
    stats = compact_partitioned_sink(spark, out, target_bytes=1 << 30)
    assert stats["files_after"] == n_parts < stats["files_before"]
    got_df = spark.read.parquet(out)
    assert sorted(map(tuple, got_df.collect())) == want
    assert got_df.schema == before.schema
    # old directory retained for snapshot-expiry-style cleanup
    assert os.path.isdir(out + ".pre_compact")

    # target below the partition size -> multiple files per partition,
    # still exact rows (target derived from the real sizes so the test
    # is layout-independent)
    from deepie_spark.plans.compact import _partition_bytes

    target = min(_partition_bytes(out).values()) // 2 + 1
    stats2 = compact_partitioned_sink(spark, out, target_bytes=target)
    assert stats2["files_after"] > stats2["files_before"]
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == want


def _files_out_of_order(out_dir):
    """Written parquet files whose rows are not in (subj, pred, obj) order."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(out_dir, "part_id=*", "*.parquet"))
    assert files
    bad = []
    for f in files:
        t = pq.read_table(f, columns=["subj", "pred", "obj"]).to_pydict()
        keys = list(zip(t["subj"], t["pred"], t["obj"]))
        if keys != sorted(keys):
            bad.append(f)
    return bad


def test_written_files_keep_triple_order(spark, pages, tmp_path):
    """Every file the production write and the compaction leave behind
    is in (subj, pred, obj) order: the sort the partitioned writer would
    otherwise redo by part_id alone is led by part_id."""
    from deepie_spark.plans.compact import (
        _partition_bytes,
        compact_partitioned_sink,
    )

    out = str(tmp_path / "triples")
    write_triples_with_manifest(
        extract_triples(spark, pages.drop("part_id")), out,
        str(tmp_path / "manifest"),
    )
    assert _files_out_of_order(out) == []
    # several files per partition: the writer's maxRecordsPerFile split
    target = min(_partition_bytes(out).values()) // 2 + 1
    compact_partitioned_sink(spark, out, target_bytes=target)
    assert _files_out_of_order(out) == []


def test_iceberg_writeto_spec_matches_fallback_layout(
    spark, pages, tmp_path, monkeypatch
):
    """JVM runtime absent (verdict round-3 item 5): the contract we CAN
    pin is that both sink branches declare the identical partition
    layout.  The writeTo branch is driven for real up to the V2 writer
    call chain (recorded via a writeTo stub + a forced availability
    probe); the fallback branch physically writes.  Both must partition
    by the same column: part_id.  The writeTo branch also writes the
    triples in the fallback's order: its DataFrame is sorted by
    (part_id, subj, pred, obj) within partitions."""
    import re

    from pyspark.sql import SparkSession

    from deepie_spark.plans import iceberg_sink

    triples = extract_triples(spark, pages.drop("part_id")).cache()

    recorded = {}

    class RecWriter:
        def __init__(self, df, table):
            recorded["df"] = df
            recorded["table"] = table
            recorded["calls"] = []

        def using(self, fmt):
            recorded["calls"].append(("using", fmt))
            return self

        def partitionedBy(self, *cols):
            recorded["calls"].append(("partitionedBy", cols))
            return self

        def createOrReplace(self):
            recorded["calls"].append(("createOrReplace",))

    monkeypatch.setattr(iceberg_sink, "iceberg_available", lambda s: True)
    # patch the CONCRETE class (pyspark 4 routes classic DataFrames
    # through a subclass whose writeTo overrides the base)
    monkeypatch.setattr(
        type(triples), "writeTo", lambda self, t: RecWriter(self, t)
    )

    class FakeReader:
        def table(self, name):
            assert name == recorded["table"]
            return triples

    monkeypatch.setattr(
        SparkSession, "read", property(lambda self: FakeReader())
    )
    res = iceberg_sink.write_triples_table(spark, triples, "kg.triples")
    assert res["sink"] == "iceberg" and res["n_triples"] == triples.count()
    assert recorded["table"] == "kg.triples"
    assert ("using", "iceberg") in recorded["calls"]
    assert recorded["calls"][-1] == ("createOrReplace",)
    (part_cols,) = [c[1] for c in recorded["calls"] if c[0] == "partitionedBy"]
    plan = recorded["df"]._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(
        r"Sort \[part_id#\d+ ASC NULLS FIRST, subj#\d+ ASC NULLS FIRST, "
        r"pred#\d+ ASC NULLS FIRST, obj#\d+ ASC NULLS FIRST\], false",
        plan,
    ), plan

    # fallback branch: physically writes, directory layout is the spec
    monkeypatch.setattr(iceberg_sink, "iceberg_available", lambda s: False)
    out = str(tmp_path / "contract_fallback")
    manifest = str(tmp_path / "contract_manifest")
    iceberg_sink.write_triples_table(
        spark, triples, "kg.triples",
        fallback_dir=out, fallback_manifest=manifest,
    )
    fallback_cols = {
        d.split("=")[0]
        for d in os.listdir(out)
        if "=" in d and not d.startswith("_")
    }
    assert fallback_cols == set(part_cols) == {"part_id"}
    triples.unpersist()
