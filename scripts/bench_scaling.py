"""Two-parallelism scaling measurement (north-rule evidence).

A real N vs 4N executor comparison needs a cluster; the sandbox proxy
(per driver instruction) is the same job at two local[] parallelism
levels on the same input.  Method:

* **Input**: the flagship pipeline (pages → triples) over the sf0.1
  documents corpus deterministically replicated
  ``SPARK_GRAFT_SCALE_REPL``x with distinct urls (no external data) —
  large enough that compute dominates fixed overhead (~500k pages).
* **Legs**: local[4] vs local[16] by default.  A raw-CPU calibration
  (multiprocessing busy-loops, reported in the output) shows this host
  scales linearly up to ~16 concurrent workers and then hits a
  frequency/oversubscription knee: 8→32 procs yields only ~2.8x even
  for pure python loops, so an 8→32 Spark comparison would measure the
  host, not the plan.  4→16 keeps both legs inside the linear envelope
  while preserving the required 4x parallelism ratio.
* **Timing**: one full-pipeline warmup (JVM codegen + python worker
  pool), then best of two timed runs per leg, each leg a fresh JVM.
  Each run writes into Spark's ``noop`` sink, which forces every output
  column; the triple count is taken once, untimed.

Efficiency = (T_lo / T_hi) / (cores_hi / cores_lo).  Writes
SCALING.json; BASELINE.md quotes the result.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPL = int(os.environ.get("SPARK_GRAFT_SCALE_REPL", "800"))
LO = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "4"))
HI = int(os.environ.get("SPARK_GRAFT_SCALE_HI", "16"))

#: one-time corpus materialization (untimed, full host width): the
#: in-plan crossJoin synthesis was bench-artifact JVM work inside the
#: timed window — a deployment reads pages from storage, so the legs
#: time scan → extract → mentions → pairs → triples only.  Both legs
#: read the SAME files (deterministic corpus, shared across rounds).
_PREPARE = """
import json, os, sys
from pyspark.sql import functions as F
from deepie_spark.session import get_spark
from deepie_spark.datagen.pages import pages_from_documents

repl = int(sys.argv[1]); sf_dir = sys.argv[2]; out = sys.argv[3]
spark = get_spark("scaling_prep", cores=32, shuffle_partitions=32)
docs = spark.read.parquet(
    os.path.join(sf_dir, "documents.parquet")
).repartition(32)
reps = spark.range(repl).select(F.col("id").alias("rep"))
big = docs.crossJoin(reps).select(
    (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
    "text", "lang", "source", "n_chars",
)
# 128 files: effective scan parallelism is the file count (one row
# group per small file), so both legs get balanced waves (8 at 16
# cores, 32 at 4) instead of a 33-task straggler tail
pages_from_documents(big).repartition(128).write.mode(
    "overwrite"
).parquet(out)
print(json.dumps({"n_docs": spark.read.parquet(out).count()}))
"""

_WORKER = """
import json, os, sys, time
from deepie_spark.session import get_spark
from deepie_spark.plans.pipeline import extract_triples

cores = int(sys.argv[1]); pages_dir = sys.argv[2]
spark = get_spark("scaling", cores=cores, shuffle_partitions=cores)
pages = spark.read.parquet(pages_dir)
n_docs = pages.count()
n_triples = extract_triples(spark, pages).count()


def noop():
    # forces every output column; count() prunes the triple projection
    extract_triples(spark, pages).write.format("noop").mode("overwrite").save()


noop()   # full warmup
best = float("inf")
for _ in range(2):
    t0 = time.time()
    noop()
    best = min(best, time.time() - t0)
print(json.dumps({"cores": cores, "n_docs": n_docs,
                  "n_triples": n_triples, "sec": round(best, 3),
                  "triples_per_sec": round(n_triples / best, 1),
                  "docs_per_sec": round(n_docs / best, 1)}))
"""


def _burn(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 2.0:
        x += 1
    return x


def cpu_calibration(n: int) -> float:
    """Aggregate busy-loop iterations/sec with n worker processes."""
    with mp.Pool(n) as p:
        t0 = time.time()
        res = p.map(_burn, range(n))
        return round(sum(res) / (time.time() - t0) / 1e6, 1)


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sub(code: str, *args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True,
        text=True,
        cwd=_REPO,
    )
    if out.returncode != 0:
        print(out.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"scaling subprocess failed: {args}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_once(cores: int, pages_dir: str) -> dict:
    return _sub(_WORKER, str(cores), pages_dir)


def main():
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = tempfile.mkdtemp(prefix="scaling_pages_")
    pages_dir = os.path.join(tmp, "pages.parquet")
    _sub(_PREPARE, str(REPL), sf_dir, pages_dir)
    cal_lo, cal_hi = cpu_calibration(LO), cpu_calibration(HI)
    # interleaved rounds, best per leg: the host shows ~30% run-to-run
    # noise, and interleaving keeps drifting background load from
    # biasing one leg
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    r_lo = r_hi = None
    for _ in range(rounds):
        a = run_once(LO, pages_dir)
        print(json.dumps(a), flush=True)
        b = run_once(HI, pages_dir)
        print(json.dumps(b), flush=True)
        if r_lo is None or a["sec"] < r_lo["sec"]:
            r_lo = a
        if r_hi is None or b["sec"] < r_hi["sec"]:
            r_hi = b
    eff = (r_lo["sec"] / r_hi["sec"]) / (HI / LO)
    host_eff = (cal_hi / cal_lo) / (HI / LO)
    result = {
        "sf_dir": sf_dir,
        "replication": REPL,
        "n_docs": r_lo["n_docs"],
        "cores_lo": LO,
        "cores_hi": HI,
        "sec_lo": r_lo["sec"],
        "sec_hi": r_hi["sec"],
        "triples_per_sec_lo": r_lo["triples_per_sec"],
        "triples_per_sec_hi": r_hi["triples_per_sec"],
        "docs_per_sec_lo": r_lo["docs_per_sec"],
        "docs_per_sec_hi": r_hi["docs_per_sec"],
        "scaling_efficiency": round(eff, 3),
        # the same LO→HI process-count ratio measured with pure python
        # busy loops: the host's own parallel efficiency (shared-VM
        # neighbor load / frequency behavior).  The job cannot scale
        # better than the machine it runs on, so the host-normalized
        # figure isolates the plan's contribution.
        "host_normalized_efficiency": round(min(eff / host_eff, 1.0), 3)
        if host_eff > 0 else None,
        "host_cpu_calibration": {
            f"procs_{LO}_miters_per_sec": cal_lo,
            f"procs_{HI}_miters_per_sec": cal_hi,
            "host_parallel_efficiency": round(host_eff, 3),
        },
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(result, indent=2))
    with open(os.path.join(_REPO, "SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
