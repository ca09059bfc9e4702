"""Resumable KG-construction job — the `spark-submit --py-files` entry
point (the joern-parse lifecycle, JoernParse.scala:81-92, as a
distributed, checkpointed DAG).

`run_job` runs the S1–S5 stage table `pipeline.STAGES` through the
per-bucket manifest (plans/manifest.py): conversation-local stages
compute only their pending buckets, global stages recompute when the
combined input fingerprint changes. `manifest.run_dag` starts a stage
as soon as every stage it reads is committed, so stages run
concurrently on threads. The curation, index and retrieval jobs run
their stages in sequence on the same StageRunner.

Usage:
  spark-submit --py-files joern_spark.zip -m joern_spark.job \
      --sf 0.01 --out /path/out --buckets 64
or `python -m joern_spark.job ...` locally.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark import generator as G
from joern_spark.pipeline import STAGES, Stage
from joern_spark.plans.manifest import (
    BUCKET_COL,
    BucketedInput,
    StageRunner,
    bucketed_input,
    in_buckets,
    run_dag,
    with_bucket,
)
from joern_spark.sources.transcripts import read_entities, read_transcripts

# the tables run_job keeps bucketed: the transcripts and every local stage
_BUCKETED = {"transcripts"} | {st.name for st in STAGES if st.local}


def _stage_task(job: BucketedInput, stage: Stage):
    """What `run_dag` runs for `stage` once its inputs are ready. A
    local stage reads its bucketed inputs cut to the pending buckets and
    re-derives the bucket from its output's conv_id (same hash → same
    bucket, so it stays aligned with the input partitioning); a global
    stage reads them whole. `entities` and global stage outputs are
    passed as they are."""

    def task(*inputs):
        def call(pending=None):
            args = []
            for name, df in zip(stage.inputs, inputs):
                if name in _BUCKETED:
                    df = df.drop(BUCKET_COL) if pending is None else in_buckets(df, pending)
                args.append(df)
            return stage.fn(*args)

        if not stage.local:
            return job.runner.run_global_stage(stage.name, call, job.global_fp)

        def compute(pending):
            out = call(pending)
            if stage.conv_id_from is not None:
                out = out.withColumn("conv_id", F.split(F.col(stage.conv_id_from), ":")[0])
            return with_bucket(out, job.n_buckets)

        return job.runner.run_stage(stage.name, compute, job.fps)

    return task


def run_job(
    spark: SparkSession,
    sf: float,
    out_root: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
    runner: StageRunner | None = None,
) -> dict[str, DataFrame]:
    with bucketed_input(
        spark, out_root, n_buckets, fail_after_buckets, runner,
        read_transcripts(spark, sf), ["conv_id", "turn_idx", "text"],
    ) as job:
        entities = read_entities(spark)
        out = run_dag(spark, {
            "transcripts": ((), lambda: job.df),
            "entities": ((), lambda: entities),
            **{st.name: (st.inputs, _stage_task(job, st)) for st in STAGES},
        })
    return {st.layer: out[st.name] for st in STAGES}


def run_retrieval_job(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
    runner: StageRunner | None = None,
) -> dict[str, DataFrame]:
    """Resumable lexical-index build — the FOURTH pipeline on the
    generic StageRunner (after KG, curation, embedding-index): builds
    the same tf/dl/dfreq/cf/stats tables `textstats.save_text_index`
    persists, with per-bucket lineage so a killed build resumes without
    re-tokenizing committed buckets:

      t1_tf     doc-local per bucket: (doc_id, tok, tf) postings
      t2_dl     doc-local per bucket: per-doc lengths (off t1's rows)
      t3_vocab  global: df/cf vocabulary aggregate over the COMMITTED
                posting table + the one-row stats summary

    Indexed scoring over the job's outputs equals the fresh scorers
    row-for-row (tested) — at 10^12 documents tokenization dominates
    the build, so bucket-level resume is the difference between
    re-paying it and not."""
    from joern_spark.operators.textstats import _tf_table
    from joern_spark.sources.testdata import read_documents

    with bucketed_input(
        spark, out_root, n_buckets, fail_after_buckets, runner,
        read_documents(spark, sf_dir), ["doc_id", "text"], key="doc_id",
    ) as job:

        def compute_tf(pending):
            sub = in_buckets(job.df, pending).select("doc_id", "text")
            return with_bucket(_tf_table(sub), job.n_buckets, key="doc_id")

        tf = job.runner.run_stage("t1_tf", compute_tf, job.fps)

        def compute_dl(pending):
            sub = tf.where(F.col(BUCKET_COL).isin(pending))
            return sub.groupBy(BUCKET_COL, "doc_id").agg(F.sum("tf").alias("dl"))

        dl = job.runner.run_stage("t2_dl", compute_dl, job.fps)
        vocab = job.runner.run_global_stage(
            "t3_vocab",
            lambda: tf.drop(BUCKET_COL)
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")),
            job.global_fp,
        )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.sum("dl").cast("long").alias("c_tot"),
    )
    return {
        "tf": tf.drop(BUCKET_COL),
        "dl": dl.drop(BUCKET_COL),
        "dfreq": vocab.select("tok", "df"),
        "cf": vocab.select("tok", "cf"),
        "stats": stats,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument(
        "--job",
        choices=["kg", "curation", "index", "retrieval"],
        default="kg",
        help="which resumable pipeline to run (all share the StageRunner)",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName(f"tpg_job_sf{args.sf:g}")
        # master/deploy mode come from spark-submit; these mirror
        # joern_spark.session.get_spark for standalone runs
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    G.ensure_entities()
    G.ensure_transcripts(args.sf)
    t0 = time.time()
    sf_dir = f"/root/testdata/sf{args.sf:g}"
    if args.job == "kg":
        out = run_job(spark, args.sf, args.out, args.buckets)
        headline = ("triples_final", out["triples_final"].count())
    elif args.job == "curation":
        out = run_curation_job(spark, sf_dir, args.out, args.buckets)
        headline = ("verdicts", out["verdict"].count())
    elif args.job == "index":
        out = run_index_job(spark, sf_dir, args.out, args.buckets)
        headline = ("assignments", out["assign"].count())
    else:
        out = run_retrieval_job(spark, sf_dir, args.out, args.buckets)
        headline = ("postings", out["tf"].count())
    print(
        json.dumps(
            {
                "sf": args.sf,
                "job": args.job,
                headline[0]: headline[1],
                "wall_s": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


def run_curation_job(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
    runner: StageRunner | None = None,
) -> dict[str, DataFrame]:
    """Resumable document-curation job — the same per-bucket manifest
    discipline as the KG job, over the documents table (proving the
    StageRunner machinery is generic across pipelines):

      c1_benchmark_shingles  global, small (the broadcast decon set)
      c2_dup_groups          global (one hash shuffle)
      c3_verdict             doc-local per bucket: quality/sample inline,
                             broadcast contamination semi-join, broadcast
                             dup-group join, first-failing-gate reason

    Output is row-identical to `curate.curation_verdict` on the same
    input (tested), but a killed run resumes without recomputing
    completed buckets."""
    from joern_spark.operators import curate
    from joern_spark.operators.dedup import exact_dedup, shingles
    from joern_spark.sources.testdata import read_documents

    # lang participates in the verdict (the sample rate is keyed on it),
    # so it MUST be in the fingerprint or a lang-only correction would
    # resume to stale verdicts.
    with bucketed_input(
        spark, out_root, n_buckets, fail_after_buckets, runner,
        read_documents(spark, sf_dir), ["doc_id", "text", "lang"], key="doc_id",
    ) as job:
        docs = job.df.drop(BUCKET_COL)
        bench_sh = job.runner.run_global_stage(
            "c1_benchmark_shingles",
            lambda: shingles(curate.benchmark_slice(docs)).select("shingle").distinct(),
            job.global_fp,
        )
        groups = job.runner.run_global_stage(
            "c2_dup_groups",
            lambda: exact_dedup(docs).select("text_hash", "keep_id"),
            job.global_fp,
        )

        def compute_verdict(pending):
            sub = in_buckets(job.df, pending)
            hits = (
                shingles(sub)
                .join(F.broadcast(bench_sh), "shingle")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_contaminated"))
            )
            keyed = curate.keyed_docs(sub, curate.DEFAULT_SAMPLE_RATES)
            reason = curate.verdict_reason(
                F.coalesce("n_contaminated", F.lit(0)) > 0
            )
            out = (
                keyed.join(F.broadcast(groups), "text_hash")
                .join(hits, "doc_id", "left")
                .select("doc_id", reason.alias("reason"))
                .withColumn("kept", F.col("reason") == "kept")
            )
            return with_bucket(out, job.n_buckets, key="doc_id")

        verdict = job.runner.run_stage("c3_verdict", compute_verdict, job.fps)
    return {"verdict": verdict}


def run_index_job(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
    runner: StageRunner | None = None,
) -> dict[str, DataFrame]:
    """Resumable embedding-index build — the ANN family on the same
    per-bucket manifest discipline as the KG and curation jobs (third
    pipeline on the generic StageRunner):

      i1_centroids  global, K rows: deterministic md5-ranked IVF centroids
      i2_assign     vec-local per bucket: nearest-cell assignment against
                    the COMMITTED i1 table (a resumed run never re-derives
                    centroids, so assignments stay consistent across runs)
      i3_quantized  vec-local per bucket: int8 embedding shard rows
      i4_keepmap    global: SemDeDup keep/drop map

    Outputs are row-identical to the one-shot operators on the same
    input (tested); a killed run resumes without recomputing completed
    buckets."""
    from joern_spark.operators import similarity
    from joern_spark.sources.testdata import read_embeddings

    with bucketed_input(
        spark, out_root, n_buckets, fail_after_buckets, runner,
        read_embeddings(spark, sf_dir), ["vec_id", "embedding"], key="vec_id",
    ) as job:
        runner, global_fp = job.runner, job.global_fp
        embs = job.df.drop(BUCKET_COL)

        cents_df = runner.run_global_stage(
            "i1_centroids", lambda: similarity.ivf_centroids(embs), global_fp
        )
        cents = [list(r.centroid) for r in cents_df.orderBy("cell").collect()]

        def compute_assign(pending):
            out = similarity.cell_assignments(in_buckets(job.df, pending), cents)
            return with_bucket(
                out.select("vec_id", "cell"), job.n_buckets, key="vec_id"
            )

        # assignments depend on the CENTROID SET, not only the bucket's own
        # rows: fold the global fingerprint in, so a partial-input change
        # (which can move the md5-ranked centroid choice) re-assigns EVERY
        # bucket instead of mixing two centroid sets across buckets
        fps_assign = {b: f"{fp}|{global_fp}" for b, fp in job.fps.items()}
        assign = runner.run_stage("i2_assign", compute_assign, fps_assign)

        def compute_quant(pending):
            return with_bucket(
                similarity.quantize_int8(in_buckets(job.df, pending)),
                job.n_buckets,
                key="vec_id",
            )

        quant = runner.run_stage("i3_quantized", compute_quant, job.fps)

        # pass the COMMITTED centroids: the keep map provably shares i2's
        # centroid set and skips a second full-scan centroid derivation
        keepmap = runner.run_global_stage(
            "i4_keepmap",
            lambda: similarity.semantic_dedup(embs, centroids=cents),
            global_fp,
        )
    return {
        "centroids": cents_df,
        "assign": assign,
        "quantized": quant,
        "keepmap": keepmap,
    }


if __name__ == "__main__":
    main()
