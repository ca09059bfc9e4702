"""Kill-and-rerun resumability tests (north-rule requirement: per-partition
lineage manifest; a killed job resumes without recomputing completed
partitions — the distributed LayerCreator skip-if-applied semantics)."""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from joern_spark.job import run_job
from joern_spark.pipeline import STAGES, build_graph, run_pipeline
from joern_spark.plans.manifest import (
    BUCKET_COL,
    Manifest,
    SimulatedKill,
    StageRunner,
    footer_rows,
)
from joern_spark.sources.transcripts import read_entities, read_transcripts

SF = 0.001
BUCKETS = 8
BUCKETED_STAGES = (
    "s1_turns", "s1_next_turn", "s2_mentions", "s2_triples_raw", "s3_linked"
)


def _assert_df_equal(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _tree(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under `root`."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(d, name))
            out[os.path.join(d, name)] = (st.st_size, st.st_mtime_ns)
    return out


def test_kill_and_resume(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_out"))

    # run 1: killed after 2 durable bucket commits of the first stage
    killed = StageRunner(spark, out, BUCKETS, fail_after_buckets=2)
    with pytest.raises(SimulatedKill):
        run_job(spark, SF, out, BUCKETS, runner=killed)
    # the independent stages ran concurrently; the raise comes only after
    # every one of them stopped, so no stage thread writes after the call
    assert not [t for t in threading.enumerate() if t.name.startswith("stage")]
    before = _tree(out)
    time.sleep(1.0)
    assert _tree(out) == before
    m = Manifest(f"{out}/_manifest")
    done1 = m.completed("s1_turns")
    assert len(done1) == 2
    assert all(r["run_id"] == killed.run_id for r in done1.values())
    for stage in BUCKETED_STAGES:
        assert len(m.completed(stage)) <= 2, stage

    # run 2: resumes, completes every stage
    resumed = StageRunner(spark, out, BUCKETS)
    result = run_job(spark, SF, out, BUCKETS, runner=resumed)

    # the 2 buckets committed by run 1 were NOT recomputed
    done2 = m.completed("s1_turns")
    assert len(done2) == BUCKETS
    survivors = [b for b, r in done2.items() if r["run_id"] == killed.run_id]
    assert sorted(survivors) == sorted(done1)

    # output identical to the non-resumable reference pipeline
    expected = run_pipeline(spark, SF).triples_final
    _assert_df_equal(
        result["triples_final"].select(*expected.columns), expected
    )

    # counters recorded per bucket
    assert all(r["n_rows"] > 0 for r in done2.values())

    # run 3: fully idempotent — nothing recomputed anywhere
    third = StageRunner(spark, out, BUCKETS)
    run_job(spark, SF, out, BUCKETS, runner=third)
    for stage in ("s1_turns", "s2_mentions", "s2_triples_raw", "s3_linked",
                  "s4_canonical_map", "s5_triples_final"):
        assert all(
            r["run_id"] != third.run_id for r in m.completed(stage).values()
        ), stage


def test_linked_from_committed_mentions_matches_fresh_link(
    spark, tmp_path_factory, entities
):
    """s3_linked links the committed s2_mentions rows; the result equals
    linking a fresh extraction of the transcripts, row for row."""
    from joern_spark.operators import link
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.sources.transcripts import read_transcripts

    out = str(tmp_path_factory.mktemp("linked_out"))
    linked = run_job(spark, SF, out, BUCKETS)["linked"].drop(BUCKET_COL)
    expected = link.link_mentions(
        extract_mentions(read_transcripts(spark, SF)), entities
    )
    _assert_df_equal(linked.select(*expected.columns), expected)


@pytest.fixture(scope="module")
def job_and_graph(spark, tmp_path_factory):
    """One run_job and one build_graph over the same corpus."""
    out = str(tmp_path_factory.mktemp("stage_table_out"))
    committed = run_job(spark, SF, out, BUCKETS)
    return committed, build_graph(read_transcripts(spark, SF), read_entities(spark))


@pytest.mark.parametrize("stage", STAGES, ids=lambda st: st.name)
def test_committed_stage_equals_build_graph_layer(job_and_graph, stage):
    """Both executors of the stage table agree: each stage run_job
    commits equals build_graph's layer row for row (ignoring the bucket
    column and a conv_id the bucketing derives)."""
    committed, graph = job_and_graph
    got = committed[stage.layer].drop(BUCKET_COL)
    if stage.conv_id_from is not None:
        got = got.drop("conv_id")
    expected = getattr(graph, stage.layer)
    assert sorted(got.columns) == sorted(expected.columns)
    _assert_df_equal(got.select(*expected.columns), expected)


def _bucket_counts(runner, stage):
    rows = runner.read_stage(stage).groupBy(BUCKET_COL).count().collect()
    return {r[BUCKET_COL]: r["count"] for r in rows}


def test_manifest_counts_equal_committed_rows(spark, tmp_path_factory):
    """Manifest n_rows (read from parquet footers) equals a Spark count
    of each committed bucket and of a global stage — after a first run,
    and after a partial recompute where one bucket's input changes and
    another's recomputes to zero rows."""
    out = str(tmp_path_factory.mktemp("count_out"))
    from joern_spark.plans.manifest import input_fingerprint, with_bucket
    from joern_spark.sources.transcripts import read_transcripts

    t = with_bucket(read_transcripts(spark, SF), BUCKETS)
    fps = input_fingerprint(t, ["conv_id", "turn_idx", "text"])
    halved, emptied = sorted(fps)[:2]
    m = Manifest(f"{out}/_manifest")

    def check(runner):
        counts = _bucket_counts(runner, "probe")
        done = m.completed("probe")
        assert set(done) == set(fps)
        assert {b: r["n_rows"] for b, r in done.items()} == {
            b: counts.get(b, 0) for b in fps
        }
        assert m.get("gprobe", 0)["n_rows"] == runner.read_stage("gprobe").count()

    r1 = StageRunner(spark, out, BUCKETS)
    r1.run_stage("probe", lambda p: t.where(F.col(BUCKET_COL).isin(p)), fps)
    r1.run_global_stage("gprobe", lambda: t.where(F.col("turn_idx") < 3), "fp0")
    check(r1)
    first = {b: r["n_rows"] for b, r in m.completed("probe").items()}

    fps2 = {**fps, halved: "changed:0", emptied: "changed:1"}
    r2 = StageRunner(spark, out, BUCKETS)
    r2.run_stage(
        "probe",
        lambda p: t.where(
            F.col(BUCKET_COL).isin(p)
            & (F.col(BUCKET_COL) != emptied)
            & ((F.col(BUCKET_COL) != halved) | (F.col("turn_idx") % 2 == 0))
        ),
        fps2,
    )
    r2.run_global_stage("gprobe", lambda: t.where(F.col("turn_idx") < 1), "fp1")
    check(r2)
    done = m.completed("probe")
    assert done[emptied]["n_rows"] == 0
    assert 0 < done[halved]["n_rows"] < first[halved]
    assert {b for b, r in done.items() if r["run_id"] == r2.run_id} == {
        halved, emptied
    }


def test_footer_rows_reads_only_data_files(spark, tmp_path):
    """Footer counting reads only `*.parquet` data files: never
    `_SUCCESS`, `.crc` checksums, hidden or underscore files, other
    extensions, or staging directories."""
    d = tmp_path / "stage"
    spark.range(5).coalesce(1).write.parquet(str(d))
    names = set(os.listdir(d))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    data = next(d.glob("part-*.parquet"))
    shutil.copy(data, d / f".{data.name}")
    shutil.copy(data, d / f"_{data.name}")
    shutil.copy(data, d / f"{data.name}.tmp")
    for staging in (".spark-staging-0/_bucket=0", "_temporary/0"):
        (d / staging).mkdir(parents=True)
        shutil.copy(data, d / staging / data.name)
    assert footer_rows(str(d)) == 5
    assert footer_rows(str(tmp_path / "missing")) == 0


def test_changed_input_recomputes_bucket(spark, tmp_path_factory):
    """A bucket whose input fingerprint changes is recomputed; untouched
    buckets are not (data-identity dependsOn check)."""
    out = str(tmp_path_factory.mktemp("fp_out"))
    r1 = StageRunner(spark, out, BUCKETS)

    from joern_spark.plans.manifest import input_fingerprint, with_bucket
    from joern_spark.sources.transcripts import read_transcripts

    t = with_bucket(read_transcripts(spark, SF), BUCKETS)
    fps = input_fingerprint(t, ["conv_id", "turn_idx", "text"])

    def compute(pending):
        return t.where(F.col("_bucket").isin(pending))

    r1.run_stage("probe", compute, fps)
    m = Manifest(f"{out}/_manifest")
    assert len(m.completed("probe")) == len(fps)

    # mutate one bucket's fingerprint → only that bucket recomputes
    victim = sorted(fps)[0]
    fps2 = dict(fps)
    fps2[victim] = "changed:0"
    r2 = StageRunner(spark, out, BUCKETS)
    r2.run_stage("probe", compute, fps2)
    done = m.completed("probe")
    assert done[victim]["run_id"] == r2.run_id
    assert all(
        r["run_id"] == r1.run_id for b, r in done.items() if b != victim
    )


def test_recompute_to_zero_rows_purges_stale_partition(spark, tmp_path_factory):
    """ADVICE regression: dynamic partition overwrite only rewrites
    partitions present in the new output, so a bucket whose recompute
    yields ZERO rows used to keep its stale files and re-commit their
    count under the new fingerprint. The runner must purge pending bucket
    directories first."""
    out = str(tmp_path_factory.mktemp("zero_out"))
    from joern_spark.plans.manifest import input_fingerprint, with_bucket
    from joern_spark.sources.transcripts import read_transcripts

    t = with_bucket(read_transcripts(spark, SF), BUCKETS)
    fps = input_fingerprint(t, ["conv_id", "turn_idx", "text"])
    victim = sorted(fps)[0]

    r1 = StageRunner(spark, out, BUCKETS)
    r1.run_stage("probe", lambda p: t.where(F.col("_bucket").isin(p)), fps)
    m = Manifest(f"{out}/_manifest")
    assert m.completed("probe")[victim]["n_rows"] > 0

    # input changed: the victim bucket now legitimately produces nothing
    fps2 = dict(fps)
    fps2[victim] = "changed:0"
    r2 = StageRunner(spark, out, BUCKETS)
    r2.run_stage(
        "probe",
        lambda p: t.where(
            F.col("_bucket").isin([b for b in p if b != victim])
        ),
        fps2,
    )
    assert m.completed("probe")[victim]["n_rows"] == 0
    got = r2.read_stage("probe").where(F.col("_bucket") == victim).count()
    assert got == 0  # stale rows are gone, not silently served


def test_all_empty_stage_reads_back_typed(spark, tmp_path_factory):
    """ADVICE regression: a stage whose FIRST run emits zero rows in every
    bucket wrote no parquet and read_stage failed schema inference. The
    persisted stage schema must make it read back empty but typed."""
    out = str(tmp_path_factory.mktemp("empty_out"))
    from joern_spark.plans.manifest import input_fingerprint, with_bucket
    from joern_spark.sources.transcripts import read_transcripts

    t = with_bucket(read_transcripts(spark, SF), BUCKETS)
    fps = input_fingerprint(t, ["conv_id", "turn_idx", "text"])
    r = StageRunner(spark, out, BUCKETS)
    empty = r.run_stage(
        "probe", lambda p: t.where(F.lit(False)), fps
    )
    assert empty.count() == 0
    assert set(t.columns) == set(empty.columns)
    # global stages too
    g = r.run_global_stage(
        "gprobe", lambda: t.where(F.lit(False)), "fp0"
    )
    assert g.count() == 0 and set(g.columns) == set(t.columns)


def test_curation_job_kill_and_resume(spark, tmp_path_factory):
    """The manifest machinery generalizes: the curation job over
    documents kills, resumes without recomputing committed buckets, and
    matches the one-shot curation_verdict row-for-row."""
    from joern_spark.job import run_curation_job
    from joern_spark.operators import curate
    from joern_spark.sources.testdata import read_documents

    sf_dir = "/root/testdata/sf0.01"
    out = str(tmp_path_factory.mktemp("curate_out"))

    killed = StageRunner(spark, out, BUCKETS, fail_after_buckets=2)
    persisted = _persisted(spark)
    with pytest.raises(SimulatedKill):
        run_curation_job(spark, sf_dir, out, BUCKETS, runner=killed)
    assert _persisted(spark) <= persisted  # the cached input is dropped
    m = Manifest(f"{out}/_manifest")
    done1 = m.completed("c3_verdict")
    assert len(done1) == 2

    resumed = StageRunner(spark, out, BUCKETS)
    result = run_curation_job(spark, sf_dir, out, BUCKETS, runner=resumed)
    done2 = m.completed("c3_verdict")
    assert len(done2) == BUCKETS
    survivors = [b for b, r in done2.items() if r["run_id"] == killed.run_id]
    assert sorted(survivors) == sorted(done1)

    expected = curate.curation_verdict(read_documents(spark, sf_dir))
    got = result["verdict"].select(*expected.columns)
    _assert_df_equal(got, expected)


def test_index_job_kill_and_resume(spark, tmp_path_factory):
    """Third pipeline on the generic StageRunner: the embedding-index
    build kills mid-assignment, resumes without recomputing committed
    buckets, and every output matches its one-shot operator."""
    from joern_spark.job import run_index_job
    from joern_spark.operators import similarity
    from joern_spark.sources.testdata import read_embeddings

    sf_dir = "/root/testdata/sf0.01"
    out = str(tmp_path_factory.mktemp("index_out"))

    killed = StageRunner(spark, out, BUCKETS, fail_after_buckets=2)
    persisted = _persisted(spark)
    with pytest.raises(SimulatedKill):
        run_index_job(spark, sf_dir, out, BUCKETS, runner=killed)
    assert _persisted(spark) <= persisted  # the cached input is dropped
    m = Manifest(f"{out}/_manifest")
    done1 = m.completed("i2_assign")
    assert len(done1) == 2
    # the global centroid stage committed before the kill
    assert len(m.completed("i1_centroids")) == 1

    resumed = StageRunner(spark, out, BUCKETS)
    result = run_index_job(spark, sf_dir, out, BUCKETS, runner=resumed)
    done2 = m.completed("i2_assign")
    assert len(done2) == BUCKETS
    survivors = [b for b, r in done2.items() if r["run_id"] == killed.run_id]
    assert sorted(survivors) == sorted(done1)

    embs = read_embeddings(spark, sf_dir)
    cents = [
        list(r.centroid)
        for r in similarity.ivf_centroids(embs).orderBy("cell").collect()
    ]
    _assert_df_equal(
        result["assign"].select("vec_id", "cell"),
        similarity.cell_assignments(embs, cents).select("vec_id", "cell"),
    )
    _assert_df_equal(
        result["keepmap"].select("vec_id", "keep_id", "cell"),
        similarity.semantic_dedup(embs),
    )
    _assert_df_equal(
        result["quantized"].select("vec_id", "i", "q"),
        similarity.quantize_int8(embs),
    )


def test_retrieval_job_kill_and_resume(spark, tmp_path_factory):
    """Fourth pipeline on the generic StageRunner: the lexical-index
    build kills mid-tokenization, resumes without recomputing committed
    buckets, and indexed BM25/QLD over the job's outputs equal the
    fresh scorers."""
    from joern_spark.functions.localrel import local_df
    from joern_spark.job import run_retrieval_job
    from joern_spark.operators import textstats
    from joern_spark.sources.testdata import read_documents

    sf_dir = "/root/testdata/sf0.01"
    out = str(tmp_path_factory.mktemp("tix_out"))

    killed = StageRunner(spark, out, BUCKETS, fail_after_buckets=2)
    persisted = _persisted(spark)
    with pytest.raises(SimulatedKill):
        run_retrieval_job(spark, sf_dir, out, BUCKETS, runner=killed)
    assert _persisted(spark) <= persisted  # the cached input is dropped
    m = Manifest(f"{out}/_manifest")
    done1 = m.completed("t1_tf")
    assert len(done1) == 2

    resumed = StageRunner(spark, out, BUCKETS)
    result = run_retrieval_job(spark, sf_dir, out, BUCKETS, runner=resumed)
    done2 = m.completed("t1_tf")
    assert len(done2) == BUCKETS
    survivors = [b for b, r in done2.items() if r["run_id"] == killed.run_id]
    assert sorted(survivors) == sorted(done1)

    docs = read_documents(spark, sf_dir)
    q = local_df(
        spark,
        textstats.BM25_QUERIES,
        "query_id string, qtext string",
    )
    idx = {k: result[k] for k in ("tf", "dl", "dfreq", "cf", "stats")}
    for fresh, indexed in [
        (textstats.bm25_topk(docs, q), textstats.bm25_topk_indexed(idx, q)),
        (textstats.qld_topk(docs, q), textstats.qld_topk_indexed(idx, q)),
    ]:
        a = {(r.query_id, r.doc_id): (r.score, r.rank) for r in fresh.collect()}
        b = {(r.query_id, r.doc_id): (r.score, r.rank) for r in indexed.collect()}
        assert a == b and a
