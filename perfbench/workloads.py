"""The benchmark workloads. Each generates its input from a seed with
``fixtures/synth.py`` and writes it as parquet; one iteration reads that
input and drives the library through its public entry points to a fully
materialized result, which ``check`` compares against an oracle.

``iterate`` brackets each call into a layer with a tracer span. The
operators return lazy DataFrames, so a span around the call alone would
time only plan building: each span therefore also covers the action that
executes the layer's plan, and the dedup pipeline's stage-table writes are
attributed to the layer whose stage they hold.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles

# every layer the trace reports, named after the library's modules
LAYERS = (
    "extract", "lsh", "verify", "substring", "substring_verify", "components",
    "pipeline", "comparison_fit", "counts", "estimation", "transform", "similarity",
)

# DedupPipeline stage table -> layer that produces it
STAGE_LAYER = {
    "input": "extract",
    "candidates": "lsh",
    "verified": "verify",
    "substring_edges": "substring",
    "substring_verified": "substring_verify",
    "edges": "components",
    "clusters": "components",
}

VOTER_FUZZY = ["last_name", "first_name", "house_number", "street_name"]
VOTER_EXACT = ["birth_year"]
POSTERIOR = 0.85


class Workload:
    name = ""
    min_recall = 0.99
    min_precision = 0.99

    def __init__(self, n: int):
        self.n = n
        self.records = 0  # input records, the records_per_s numerator

    def generate(self, seed: int, indir: str) -> None:
        raise NotImplementedError

    def iterate(self, spark, tracer, workdir: str):
        """One batch job; returns (output, counters). Counters are extra
        per-layer numbers, read only when tracing."""
        raise NotImplementedError

    def recall_precision(self, output) -> tuple[float, float]:
        raise NotImplementedError

    def check(self, output) -> tuple[float, float, bool]:
        """(recall, precision, whether both clear the workload's gates)."""
        r, p = self.recall_precision(output)
        return r, p, r >= self.min_recall and p >= self.min_precision


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


class PagesDedup(Workload):
    name = "pages_dedup"

    def generate(self, seed, indir):
        from fixtures.synth import pages

        rows, _, root_of = pages(n=self.n, seed=seed)
        self.path = _write(
            pa.table({
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "html": pa.array([r["html"] for r in rows], pa.binary()),
            }),
            os.path.join(indir, "pages.parquet"),
        )
        self.group_of = [root_of[i] for i in range(len(rows))]
        self.oracle = oracles.pages_oracle_pairs([r["text"] for r in rows], self.group_of)
        self.records = len(rows)

    def iterate(self, spark, tracer, workdir):
        from fast_er_spark.pipeline import DedupConfig, DedupPipeline

        with tracer.span("pipeline"):
            corpus = spark.read.parquet(self.path)
            pipe = DedupPipeline(spark, workdir, DedupConfig(html_col="html"))
            if tracer.enabled:
                _trace_stages(pipe, tracer)
            clusters = pipe.run(corpus, resume=False).collect()
        counters = {}
        if tracer.enabled:
            rows = {r.name: r.rows for r in pipe.results}
            star = {
                r["stage"]: r["rows_out"]
                for r in pipe.metrics().where("wall_ms = 0").collect()
            }
            counters = {
                "extract.rows_out": rows["input"],
                "lsh.rows_out": rows["candidates"],
                "lsh.star_share": star.get("star_candidates", 0) / max(rows["candidates"], 1),
                "verify.rows_out": rows["verified"],
                "verify.keep_ratio": rows["verified"] / max(rows["candidates"], 1),
                "substring.rows_out": rows["substring_edges"],
                "substring_verify.rows_out": rows["substring_verified"],
                "substring_verify.keep_ratio": rows["substring_verified"]
                / max(rows["substring_edges"], 1),
                "components.rows_out": rows["clusters"],
                "components.edges_in": rows["edges"],
                "pipeline.rows_out": len(clusters),
            }
        return {r["id"]: r["component"] for r in clusters}, counters

    def recall_precision(self, component_of):
        return oracles.cluster_recall_precision(component_of, self.oracle, self.group_of)


def _trace_stages(pipe, tracer) -> None:
    """Span each stage's plan build and stage-table write as the stage's
    layer. Reading the table back, the star counters and the metrics and
    lineage appends stay in the enclosing pipeline span."""
    run_stage, write = pipe._run_stage, pipe.catalog.write  # noqa: SLF001
    suffix = "_" + pipe.fp

    def traced_run_stage(stage, build, resume):
        layer = STAGE_LAYER.get(stage, "pipeline")

        def traced_build():
            with tracer.span(layer):
                return build()

        return run_stage(stage, traced_build, resume)

    def traced_write(df, name):
        stage = name[: -len(suffix)] if name.endswith(suffix) else None
        if stage not in STAGE_LAYER:
            return write(df, name)
        with tracer.span(STAGE_LAYER[stage]):
            return write(df, name)

    pipe._run_stage = traced_run_stage  # noqa: SLF001
    pipe.catalog.write = traced_write


class VotersLinkage(Workload):
    name = "voters_linkage"
    min_recall = 0.95
    min_precision = 0.95

    def generate(self, seed, indir):
        from fixtures.synth import voters

        rows_a, rows_b = voters(n=self.n, overlap=0.5, seed=seed)
        self.paths = [
            _write(pa.Table.from_pylist(rows), os.path.join(indir, f"voters_{side}.parquet"))
            for side, rows in (("a", rows_a), ("b", rows_b))
        ]
        self.n_shared = len({r["ncid"] for r in rows_a} & {r["ncid"] for r in rows_b})
        self.records = self.n  # rows per side

    def iterate(self, spark, tracer, workdir):
        from pyspark.sql import functions as F

        from fast_er_spark import Comparison, Estimation, Linkage

        a, b = (spark.read.parquet(p) for p in self.paths)
        with tracer.span("comparison_fit"):
            comp = Comparison(a, b, VOTER_FUZZY, VOTER_FUZZY, VOTER_EXACT, VOTER_EXACT).fit()
        with tracer.span("counts"):
            counts = comp.counts()
        with tracer.span("estimation"):
            est = Estimation(len(VOTER_FUZZY), len(VOTER_EXACT), counts, seed=13).fit()
        with tracer.span("transform"):
            row = (
                Linkage(None, None, comp, est.ksi)
                .transform(POSTERIOR)
                .agg(
                    F.count(F.lit(1)).alias("n_linked"),
                    F.sum((F.col("ncid_A") == F.col("ncid_B")).cast("long")).alias("n_true"),
                )
                .collect()[0]
            )
        out = (int(row["n_linked"]), int(row["n_true"] or 0))
        return out, _linkage_counters(counts, est, out[0])

    def recall_precision(self, out):
        return oracles.linkage_recall_precision(out[0], out[1], self.n_shared)


def _linkage_counters(counts, est, n_out: int) -> dict:
    return {
        "comparison_fit.rows_out": int(np.sum(counts)),  # the pair universe scored
        "counts.rows_out": int(np.count_nonzero(counts)),
        "counts.agreeing_pairs": int(np.sum(counts[1:])),
        "estimation.rows_out": len(est.ksi),
        "estimation.iterations": est.n_iter,
        "transform.rows_out": n_out,
    }


class EmbeddingsNearDup(Workload):
    name = "embeddings_near_dup"
    dim = 64
    threshold = 0.9
    min_precision = 1.0  # verification is exact on the quantized vectors

    def generate(self, seed, indir):
        from fast_er_spark.operators.similarity import quantized_cosine_threshold
        from fixtures.synth import embeddings

        rows, _ = embeddings(n=self.n, dim=self.dim, dup_frac=0.3, seed=seed)
        self.path = _write(
            pa.table({
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
            }),
            os.path.join(indir, "embeddings.parquet"),
        )
        num, den = quantized_cosine_threshold(self.threshold)
        self.oracle = oracles.embedding_oracle_pairs(np.array([r[1] for r in rows]), num, den)
        self.records = len(rows)

    def iterate(self, spark, tracer, workdir):
        from fast_er_spark.operators.similarity import embedding_near_dup_pairs

        with tracer.span("similarity"):
            corpus = spark.read.parquet(self.path)
            pairs = {
                (r["id_a"], r["id_b"])
                for r in embedding_near_dup_pairs(
                    corpus, self.dim, threshold=self.threshold, seed=42
                ).collect()
            }
        return pairs, {"similarity.rows_out": len(pairs), "similarity.pairs_out": len(pairs)}

    def recall_precision(self, pairs):
        return oracles.pair_recall_precision(pairs, self.oracle)


class NearDup(Workload):
    """Its parts back to back as one job: text near-dups over a page corpus,
    then semantic near-dups over an embedding table. Its records are the
    parts' records summed (docs + vectors), and its recall and precision
    are the lower of the parts'."""

    name = "near_dup"

    def __init__(self, *parts: Workload):
        super().__init__(sum(p.n for p in parts))
        self.parts = parts

    def generate(self, seed, indir):
        for p in self.parts:
            p.generate(seed, indir)
        self.records = sum(p.records for p in self.parts)

    def iterate(self, spark, tracer, workdir):
        outs, counters = [], {}
        for p in self.parts:
            out, c = p.iterate(spark, tracer, workdir)
            outs.append(out)
            counters.update(c)
        return outs, counters

    def check(self, outs):
        checks = [p.check(o) for p, o in zip(self.parts, outs)]
        return min(c[0] for c in checks), min(c[1] for c in checks), all(c[2] for c in checks)


# input sizes chosen so one job takes seconds on a 4-core host; voters at
# 10k per side put the pair space at _SPILL_PAIR_SPACE, where linkage takes
# its big-input engine
PAGES_N = 5000
VECTORS_N = 3000
VOTERS_PER_SIDE = 10_000
WORKLOADS = {
    "near_dup": lambda: NearDup(PagesDedup(PAGES_N), EmbeddingsNearDup(VECTORS_N)),
    "voters_linkage": lambda: VotersLinkage(VOTERS_PER_SIDE),
}


def make(name: str) -> Workload:
    return WORKLOADS[name]()
