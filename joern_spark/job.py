"""Resumable KG-construction job — the `spark-submit --py-files` entry
point (the joern-parse lifecycle, JoernParse.scala:81-92, as a
distributed, checkpointed DAG).

Stage DAG of `run_job` (each stage gated by the per-bucket manifest,
plans/manifest.py). `manifest.run_dag` starts a stage as soon as every
stage it reads is committed, so stages run concurrently on threads.

  ingest (bucketed transcripts, cached)
    │   these five read only the transcripts and start at once:
    ├─ s1_turns          conv-local, per-bucket
    ├─ s1_next_turn      conv-local, per-bucket
    ├─ s2_mentions       conv-local, per-bucket
    ├─ s2_triples_raw    conv-local, per-bucket
    └─ s4_canonical_map  global (connected components)

  then, each while the other first-wave stages may still run:
    s3_linked         ← s2_mentions
                        conv-local (committed mentions ⋈ broadcast
                        entities), per-bucket
    s5_triples_final  ← s2_triples_raw + s4_canonical_map
                        global (canonical rewrite + dedup)

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
from joern_spark.operators import assemble, canonicalize, link, materialize, rebind
from joern_spark.operators.extract import extract_mentions, extract_triples_raw
from joern_spark.plans.manifest import (
    BUCKET_COL,
    StageRunner,
    input_fingerprint,
    run_dag,
    with_bucket,
)
from joern_spark.sources.transcripts import read_entities, read_transcripts


def run_job(
    spark: SparkSession,
    sf: float,
    out_root: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
    runner: StageRunner | None = None,
) -> dict[str, DataFrame]:
    runner = runner or StageRunner(
        spark, out_root, n_buckets, fail_after_buckets=fail_after_buckets
    )
    n_buckets = runner.n_buckets
    t = with_bucket(read_transcripts(spark, sf), n_buckets).repartition(
        n_buckets, F.col(BUCKET_COL)
    )
    t.cache()
    fps = input_fingerprint(t, ["conv_id", "turn_idx", "text"])
    entities = read_entities(spark)

    def bucketed(fn, conv_id_from: str | None = None):
        """Conv-local stage: run `fn` on pending buckets only, re-derive the
        bucket from the output's conv_id (same hash → same bucket, so the
        stage stays aligned with the input partitioning)."""

        def compute(pending):
            sub = t.where(F.col(BUCKET_COL).isin(pending)).drop(BUCKET_COL)
            out = fn(sub)
            if conv_id_from is not None:
                out = out.withColumn(
                    "conv_id", F.split(F.col(conv_id_from), ":")[0]
                )
            return with_bucket(out, n_buckets)

        return compute

    def link_committed(mentions):
        """s3 links the committed s2 rows of its pending buckets — the
        mentions are extracted once, by s2."""

        def compute(pending):
            sub = mentions.where(F.col(BUCKET_COL).isin(pending)).drop(BUCKET_COL)
            return with_bucket(link.link_mentions(sub, entities), n_buckets)

        return compute

    # global stages: fingerprint = combined fingerprint of every input bucket
    global_fp = "|".join(f"{b}:{fps[b]}" for b in sorted(fps))

    def compute_cmap():
        return canonicalize.connected_components(
            canonicalize.same_as_pairs(t.drop(BUCKET_COL))
        )

    def compute_final(triples_raw, cmap):
        raw = triples_raw.drop(BUCKET_COL)
        dyn = rebind.dbcur_triples(t.drop(BUCKET_COL))
        static = canonicalize.canonicalize_triples(raw, cmap)
        dyn_c = canonicalize.canonicalize_triples(dyn, cmap)
        return materialize.dedup_triples(static.unionByName(dyn_c))

    run, run_global = runner.run_stage, runner.run_global_stage
    stages = {  # name: (stages it reads, what runs once they are committed)
        "s1_turns": ((), lambda: run("s1_turns", bucketed(assemble.turn_nodes), fps)),
        "s1_next_turn": (
            (),
            lambda: run(
                "s1_next_turn",
                bucketed(assemble.next_turn_edges, conv_id_from="src"),
                fps,
            ),
        ),
        "s2_mentions": ((), lambda: run("s2_mentions", bucketed(extract_mentions), fps)),
        "s2_triples_raw": (
            (),
            lambda: run("s2_triples_raw", bucketed(extract_triples_raw), fps),
        ),
        "s3_linked": (
            ("s2_mentions",),
            lambda mentions: run("s3_linked", link_committed(mentions), fps),
        ),
        "s4_canonical_map": (
            (),
            lambda: run_global("s4_canonical_map", compute_cmap, global_fp),
        ),
        "s5_triples_final": (
            ("s2_triples_raw", "s4_canonical_map"),
            lambda raw, cmap: run_global(
                "s5_triples_final", lambda: compute_final(raw, cmap), global_fp
            ),
        ),
    }
    try:
        out = run_dag(spark, stages)
    finally:
        t.unpersist()
    return {
        "turns": out["s1_turns"],
        "next_turn": out["s1_next_turn"],
        "mentions": out["s2_mentions"],
        "triples_raw": out["s2_triples_raw"],
        "linked": out["s3_linked"],
        "canonical_map": out["s4_canonical_map"],
        "triples_final": out["s5_triples_final"],
    }


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

    runner = runner or StageRunner(
        spark, out_root, n_buckets, fail_after_buckets=fail_after_buckets
    )
    n_buckets = runner.n_buckets
    d = with_bucket(read_documents(spark, sf_dir), n_buckets, key="doc_id").repartition(
        n_buckets, F.col(BUCKET_COL)
    )
    d.cache()
    fps = input_fingerprint(d, ["doc_id", "text"])
    global_fp = "|".join(f"{b}:{fp}" for b, fp in sorted(fps.items()))

    def compute_tf(pending):
        sub = d.where(F.col(BUCKET_COL).isin(pending)).drop(BUCKET_COL)
        return with_bucket(
            _tf_table(sub.select("doc_id", "text")), n_buckets, key="doc_id"
        )

    tf = runner.run_stage("t1_tf", compute_tf, fps)

    def compute_dl(pending):
        sub = tf.where(F.col(BUCKET_COL).isin(pending))
        return sub.groupBy(BUCKET_COL, "doc_id").agg(
            F.sum("tf").alias("dl")
        )

    dl = runner.run_stage("t2_dl", compute_dl, fps)

    def compute_vocab():
        t = tf.drop(BUCKET_COL)
        return (
            t.groupBy("tok")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").alias("cf"),
            )
        )

    vocab = runner.run_global_stage("t3_vocab", compute_vocab, global_fp)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.sum("dl").cast("long").alias("c_tot"),
    )
    d.unpersist()
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

    runner = runner or StageRunner(
        spark, out_root, n_buckets, fail_after_buckets=fail_after_buckets
    )
    n_buckets = runner.n_buckets
    d = with_bucket(read_documents(spark, sf_dir), n_buckets, key="doc_id").repartition(
        n_buckets, F.col(BUCKET_COL)
    )
    d.cache()
    # lang participates in the verdict (the sample rate is keyed on it),
    # so it MUST be in the fingerprint or a lang-only correction would
    # resume to stale verdicts.
    fps = input_fingerprint(d, ["doc_id", "text", "lang"])
    global_fp = "|".join(f"{b}:{fps[b]}" for b in sorted(fps))
    docs = d.drop(BUCKET_COL)

    bench_sh = runner.run_global_stage(
        "c1_benchmark_shingles",
        lambda: shingles(curate.benchmark_slice(docs)).select("shingle").distinct(),
        global_fp,
    )
    groups = runner.run_global_stage(
        "c2_dup_groups",
        lambda: exact_dedup(docs).select("text_hash", "keep_id"),
        global_fp,
    )

    def compute_verdict(pending):
        sub = d.where(F.col(BUCKET_COL).isin(pending)).drop(BUCKET_COL)
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
        return with_bucket(out, n_buckets, key="doc_id")

    verdict = runner.run_stage("c3_verdict", compute_verdict, fps)
    d.unpersist()
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

    runner = runner or StageRunner(
        spark, out_root, n_buckets, fail_after_buckets=fail_after_buckets
    )
    n_buckets = runner.n_buckets
    e = with_bucket(
        read_embeddings(spark, sf_dir), n_buckets, key="vec_id"
    ).repartition(n_buckets, F.col(BUCKET_COL))
    e.cache()
    fps = input_fingerprint(e, ["vec_id", "embedding"])
    global_fp = "|".join(f"{b}:{fps[b]}" for b in sorted(fps))
    embs = e.drop(BUCKET_COL)

    cents_df = runner.run_global_stage(
        "i1_centroids", lambda: similarity.ivf_centroids(embs), global_fp
    )
    cents = [list(r.centroid) for r in cents_df.orderBy("cell").collect()]

    def compute_assign(pending):
        sub = e.where(F.col(BUCKET_COL).isin(pending)).drop(BUCKET_COL)
        out = similarity.cell_assignments(sub, cents).select("vec_id", "cell")
        return with_bucket(out, n_buckets, key="vec_id")

    # assignments depend on the CENTROID SET, not only the bucket's own
    # rows: fold the global fingerprint in, so a partial-input change
    # (which can move the md5-ranked centroid choice) re-assigns EVERY
    # bucket instead of mixing two centroid sets across buckets
    fps_assign = {b: f"{fp}|{global_fp}" for b, fp in fps.items()}
    assign = runner.run_stage("i2_assign", compute_assign, fps_assign)

    def compute_quant(pending):
        sub = e.where(F.col(BUCKET_COL).isin(pending)).drop(BUCKET_COL)
        return with_bucket(
            similarity.quantize_int8(sub), n_buckets, key="vec_id"
        )

    quant = runner.run_stage("i3_quantized", compute_quant, fps)

    # pass the COMMITTED centroids: the keep map provably shares i2's
    # centroid set and skips a second full-scan centroid derivation
    keepmap = runner.run_global_stage(
        "i4_keepmap",
        lambda: similarity.semantic_dedup(embs, centroids=cents),
        global_fp,
    )
    e.unpersist()
    return {
        "centroids": cents_df,
        "assign": assign,
        "quantized": quant,
        "keepmap": keepmap,
    }


if __name__ == "__main__":
    main()
