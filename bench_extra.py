#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (bench.py is FROZEN for
measurement — this file is where new instrumentation lives).

Uses bench.py's headline query list and steal counter, mirrors its
session, warmup and per-query rigs, then:
  - runs each requested query ``--repeats`` times (noop sink, guide §1.4)
    and reports min/median per query;
  - with ``--jobs``, enables the Spark UI and dumps the per-JOB wall
    breakdown of the LAST repeat (job description, duration, stage count)
    so the fixed-overhead structure of a query (how many jobs/stages it
    schedules) is visible without a live UI.

Usage:
  python bench_extra.py                       # all headline queries, 3 reps
  python bench_extra.py --jobs cc_clusters minhash_lsh_dedup
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE, _steal_ticks  # noqa: E402
from fast_er_spark.session import get_spark  # noqa: E402


def _jobs_since(spark, first_job_id: int):
    """Job rows from the UI REST API with jobId >= first_job_id."""
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
    ) as r:
        jobs = json.loads(r.read())
    out = []
    for j in jobs:
        if j["jobId"] < first_job_id:
            continue
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        t0 = datetime.strptime(j["submissionTime"], fmt)
        t1 = datetime.strptime(j["completionTime"], fmt)
        out.append(
            {
                "jobId": j["jobId"],
                "sec": round((t1 - t0).total_seconds(), 3),
                "stages": len(j.get("stageIds", [])),
                "tasks": j.get("numTasks"),
                "desc": (j.get("description") or j.get("name", ""))[:90],
            }
        )
    return sorted(out, key=lambda x: x["jobId"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--jobs", action="store_true", help="dump per-job breakdown")
    args = ap.parse_args()
    names = args.names or HEADLINE
    if args.jobs:
        os.environ["SPARK_UI_ENABLED"] = "true"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("fast-er-spark-bench-extra", cpus=cpus, shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entry_mod.queries()

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fast_er_spark.operators.components import connected_components

    # warmup identical to bench.py
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    _warm = F.pandas_udf(lambda x: x.astype("int32"), T.IntegerType())
    spark.range(256).repartition(cpus).select(_warm(F.col("id").cast("int"))).count()
    from fast_er_spark.functions.jvm_sketch import ensure_jvm_udfs, shingle_hashes_jvm

    if ensure_jvm_udfs(spark):
        spark.range(64).selectExpr("cast(id as string) t").select(
            shingle_hashes_jvm("t", 3)
        ).count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs_ckpt = None
    emb_clustered = None
    emb_dim = None
    if "cc_clusters" in names:
        # cc consumes the checkpointed minhash pairs: minhash must run first
        names = ["minhash_lsh_dedup"] + [n for n in names if n != "minhash_lsh_dedup"]
        names.remove("cc_clusters")
        names.insert(1, "cc_clusters")
    if "embedding_near_dup_lsh" in names:
        import atexit
        import shutil
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from fixtures.synth import embeddings as synth_embeddings

        emb_tbl = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n_emb = emb_tbl.count()
        emb_dim = len(emb_tbl.select("embedding").first()[0])
        emb_rows, _ = synth_embeddings(n=n_emb, dim=emb_dim, dup_frac=0.3, seed=7)
        _emb_dir = tempfile.mkdtemp(prefix="bench_emb_")
        atexit.register(shutil.rmtree, _emb_dir, ignore_errors=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([i for i, _, _ in emb_rows], type=pa.int64()),
                    "embedding": pa.array(
                        [v for _, v, _ in emb_rows], type=pa.list_(pa.float32())
                    ),
                }
            ),
            os.path.join(_emb_dir, "part-0.parquet"),
        )
        emb_clustered = spark.read.parquet(_emb_dir).localCheckpoint(eager=True)
        emb_clustered.count()

    results = {}
    for name in names:
        samples = []
        steals = []
        job_rows = None
        for rep in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            st0 = _steal_ticks()
            t0 = time.perf_counter()
            if name == "minhash_lsh_dedup":
                df = qmap[name](spark, sf_dir)
                pairs_ckpt = df.localCheckpoint(eager=True)
            elif name == "cc_clusters":
                df = connected_components(
                    pairs_ckpt, nodes=docs.selectExpr("doc_id as id")
                )
                df.write.format("noop").mode("overwrite").save()
            elif name == "embedding_near_dup_lsh":
                from fast_er_spark.operators.similarity import embedding_near_dup_pairs

                df = embedding_near_dup_pairs(
                    emb_clustered, dim=emb_dim, threshold=0.9, seed=42
                )
                df.write.format("noop").mode("overwrite").save()
            else:
                df = qmap[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            st1 = _steal_ticks()
            spark.sparkContext.setJobDescription(None)
            samples.append(round(dt, 3))
            if st0 is not None and st1 is not None:
                steals.append(round((st1 - st0) / 100.0, 1))
        if args.jobs:
            try:
                last = f"{name} rep{args.repeats - 1}"
                job_rows = [
                    j for j in _jobs_since(spark, 0) if j["desc"].startswith(last)
                ]
            except Exception as exc:  # pragma: no cover
                job_rows = f"job dump failed: {exc}"
        results[name] = {
            "min": min(samples),
            "median": sorted(samples)[len(samples) // 2],
            "samples": samples,
            "steal": steals,
        }
        line = f"{name}: min={min(samples):.3f} samples={samples} steal={steals}"
        print(line, flush=True)
        if args.jobs and isinstance(job_rows, list):
            for j in job_rows:
                print(
                    f"    job {j['jobId']:>4} {j['sec']:>7.3f}s stages={j['stages']}"
                    f" tasks={j['tasks']} {j['desc']}",
                    flush=True,
                )

    print(json.dumps({"queries_min": {k: v["min"] for k, v in results.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
