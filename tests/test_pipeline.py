"""End-to-end pipeline tests: golden per-turn text equality under stable
(conv_id, turn_idx) ordering, reassembly, partition-count invariance, and
kill-and-restart resume (SURVEY.md §5 test plan items b/d/e)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from janet_spark import checkpoint as ckpt
from janet_spark.pipeline import extract_only, read_output, run_job
from janet_spark.reassemble import reassemble_conversations
from janet_spark.synthetic import expected_conversation_text, make_transcripts

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


@pytest.fixture(scope="module")
def fixtures(spark):
    t, e = make_transcripts(n_convs=12, skew_turns=120, base_turns=8, seed=42)
    tdf = spark.createDataFrame(t, schema=TRANSCRIPT_SCHEMA)
    return tdf, e


def test_per_turn_text_equality(spark, fixtures):
    tdf, expected = fixtures
    out = (
        extract_only(tdf.repartition(8))
        .select("conv_id", "turn_idx", "extracted_text", "ok", "blocks_kept")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = expected.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(out) == len(exp)
    merged = out.merge(exp, on=["conv_id", "turn_idx"], suffixes=("", "_exp"))
    bad = merged[merged["extracted_text"] != merged["extracted_text_exp"]]
    assert bad.empty, bad.head(5).to_dict("records")
    assert (merged["ok"] == merged["ok_exp"]).all()
    assert (merged["blocks_kept"] == merged["blocks_kept_exp"]).all()


def test_reassembly_golden(spark, fixtures):
    tdf, expected = fixtures
    extracted = extract_only(tdf.repartition(8))
    conv = (
        reassemble_conversations(extracted)
        .select("conv_id", "conv_text")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    golden = expected_conversation_text(expected).sort_values("conv_id").reset_index(drop=True)
    assert conv["conv_text"].tolist() == golden["conv_text"].tolist()


def test_partition_count_does_not_change_results(spark, fixtures):
    tdf, _ = fixtures

    def run(n):
        return (
            extract_only(tdf.repartition(n))
            .select(
                "conv_id", "turn_idx", "extracted_text", F.to_json("spans"), "ok"
            )
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(run(2), run(16))


def test_spans_point_into_original_payload(spark, fixtures):
    tdf, _ = fixtures
    out = extract_only(tdf.repartition(4)).alias("o")
    joined = (
        out.join(tdf.alias("t"), ["conv_id", "turn_idx"])
        .select("conv_id", "turn_idx", "o.extracted_text", "o.spans", "t.text", "t.tool")
        .filter(F.size("spans") > 0)
        .toPandas()
    )
    assert len(joined) > 0
    for _, r in joined.iterrows():
        for sp in r["spans"]:
            src = r["tool"] if sp["kind"] == "ocr" else r["text"]
            assert 0 <= sp["start"] <= sp["end"] <= len(src), (r["conv_id"], r["turn_idx"], sp)


def test_resume_after_injected_failure(spark, fixtures, tmp_path):
    tdf, expected = fixtures
    out_dir = str(tmp_path / "out")

    # clean run for the golden result
    clean_dir = str(tmp_path / "clean")
    run_job(spark, tdf, clean_dir, n_buckets=8)
    golden = (
        read_output(spark, clean_dir)
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(golden) == len(expected)

    # failed run: crash mid-commit
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(
            spark, tdf, out_dir, n_buckets=8, fail_after_n_buckets=3
        )
    done_after_crash = ckpt.completed_buckets(spark, out_dir)
    assert done_after_crash, "some buckets must have committed before the crash"
    assert len(done_after_crash) < 8

    # resumed run: must skip completed buckets and reprocess none of them
    summary = run_job(spark, tdf, out_dir, n_buckets=8)
    assert set(summary["resumed_skipping_buckets"]) == done_after_crash
    assert not (set(summary["buckets_committed"]) & done_after_crash)

    resumed = (
        read_output(spark, out_dir)
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(resumed, golden)


def _staging_dirs(out_dir: str) -> list[str]:
    return [d for d in os.listdir(out_dir) if d.startswith("_staging_")]


def test_lineage_stats_equal_committed_output_after_resume(spark, fixtures, tmp_path):
    """Lineage n_turns/n_ok of every bucket, written partly by a crashed
    run and partly by its resume, equal a groupBy over the committed
    output; each committed bucket dir holds one file."""
    import pyarrow.parquet as pq

    tdf, expected = fixtures
    out_dir = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tdf, out_dir, n_buckets=8, fail_after_n_buckets=3)
    run_job(spark, tdf, out_dir, n_buckets=8)

    lineage = pq.read_table(ckpt.lineage_dir(out_dir)).to_pandas()
    assert (lineage["status"] == "success").all()
    assert lineage["part_bucket"].is_unique
    got = {int(r.part_bucket): (r.n_turns, r.n_ok) for r in lineage.itertuples()}
    want = {
        r["part_bucket"]: (r["n_turns"], r["n_ok"])
        for r in read_output(spark, out_dir)
        .groupBy("part_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
        )
        .collect()
    }
    assert got == want
    assert sum(t for t, _ in got.values()) == len(expected)
    assert sum(o for _, o in got.values()) == int(expected["ok"].sum())

    ddir = ckpt.data_dir(out_dir)
    for name in os.listdir(ddir):
        files = [f for f in os.listdir(os.path.join(ddir, name)) if f.endswith(".parquet")]
        assert len(files) == 1, (name, files)


def test_input_touching_few_buckets_commits_only_those(spark, fixtures, tmp_path):
    """Only the buckets an input touches are committed; a rerun of it and
    an empty input run a staged write that commits nothing and leaves no
    staging dir."""
    tdf, _ = fixtures
    out_dir = str(tmp_path / "out")
    convs = sorted(r[0] for r in tdf.select("conv_id").distinct().collect())[:2]
    part = tdf.filter(F.col("conv_id").isin(convs))
    touched = {
        r[0] for r in part.select(ckpt.partition_bucket("conv_id", 16)).distinct().collect()
    }

    first = run_job(spark, part, out_dir, n_buckets=16)
    assert set(first["buckets_committed"]) == touched
    assert set(os.listdir(ckpt.data_dir(out_dir))) == {f"part_bucket={b}" for b in touched}
    assert not _staging_dirs(out_dir)

    for again in (part, part.limit(0)):
        s = run_job(spark, again, out_dir, n_buckets=16)
        assert s["buckets_committed"] == [] and s["n_turns"] == 0
        assert set(s["resumed_skipping_buckets"]) == touched
        assert not _staging_dirs(out_dir)
    assert set(os.listdir(ckpt.data_dir(out_dir))) == {f"part_bucket={b}" for b in touched}
    assert set(ckpt.completed_buckets(spark, out_dir)) == touched


def test_rerun_with_every_bucket_done_launches_no_spark_job(spark, fixtures, tmp_path):
    # read from files: a probe over an in-memory frame is evaluated
    # locally and would launch no job either way
    src = str(tmp_path / "in")
    fixtures[0].write.parquet(src)
    tdf = spark.read.parquet(src)
    out_dir = str(tmp_path / "out")
    assert len(run_job(spark, tdf, out_dir, n_buckets=2)["buckets_committed"]) == 2

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set[int]:
        # the status store is fed by the async listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup())

    before = job_ids()
    s = run_job(spark, tdf, out_dir, n_buckets=2)
    assert job_ids() == before
    assert s["buckets_committed"] == [] and s["resumed_skipping_buckets"] == [0, 1]


def test_failed_rows_flagged_not_dropped(spark, fixtures):
    tdf, expected = fixtures
    out = extract_only(tdf.repartition(4))
    n_failed = out.filter(~F.col("ok")).count()
    assert n_failed == int((~expected["ok"]).sum())
    assert n_failed > 0


def test_two_level_reassembly_multi_chunk(spark, fixtures):
    """The chunked reassembly must produce byte-identical conv_text when a
    conversation spans many level-1 chunks (chunk << n_turns) vs one chunk."""
    tdf, expected = fixtures
    extracted = extract_only(tdf.repartition(8))
    small = (
        reassemble_conversations(extracted, chunk=7)
        .select("conv_id", "conv_text", "n_turns", "all_ok")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    golden = (
        expected_conversation_text(expected)
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert small["conv_text"].tolist() == golden["conv_text"].tolist()
    one = (
        reassemble_conversations(extracted, chunk=10**9)
        .select("conv_id", "conv_text", "n_turns", "all_ok")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(small, one)


def test_skewed_conversation_end_to_end(spark, tmp_path):
    """SURVEY §5 test-plan item (e): a 10^4-turn conversation among uniform
    ones goes through the checkpointed job + chunked reassembly with exact
    turn count, ordering, and text preservation."""
    import pandas as pd

    n_sk = 10_000
    rows = [("conv-skew", i, "user", f"turn {i} body", "", pd.Timestamp("2024-01-01"))
            for i in range(n_sk)]
    for c in range(5):
        rows += [(f"conv-u{c}", i, "user", f"u{c} t{i}", "", pd.Timestamp("2024-01-01"))
                 for i in range(6)]
    tdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        schema=TRANSCRIPT_SCHEMA,
    ).repartition(8)  # scatter the skewed conv across partitions

    from janet_spark.pipeline import full_pipeline

    conv = full_pipeline(spark, tdf, str(tmp_path / "out"), n_buckets=4)
    got = {r["conv_id"]: r for r in conv.collect()}
    assert got["conv-skew"]["n_turns"] == n_sk
    # chunked reassembly (4096) splits this conv across 3 level-1 chunks;
    # ordering must survive: spot-check first, boundary, and last turns
    text = got["conv-skew"]["conv_text"].split("\n")
    assert text[0] == "turn 0 body"
    assert text[4095] == "turn 4095 body"
    assert text[4096] == "turn 4096 body"
    assert text[-1] == f"turn {n_sk - 1} body"
    assert all(got[f"conv-u{c}"]["n_turns"] == 6 for c in range(5))


def test_output_row_groups_clustered_by_conv(spark, tmp_path):
    """The committed output's parquet files are sorted by (conv_id,
    turn_idx) within each file, so per-row-group min/max stats are tight
    and a single-conversation read prunes row groups."""
    import glob

    import pyarrow.parquet as pq

    from janet_spark.pipeline import run_job
    from janet_spark.synthetic import make_transcripts

    pdf, _ = make_transcripts(n_convs=60, base_turns=6)
    out = str(tmp_path / "out")
    run_job(spark, spark.createDataFrame(pdf), out, n_buckets=4)
    files = glob.glob(f"{out}/data/part_bucket=*/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        pairs = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert pairs == sorted(pairs), f


def test_sft_job_commits_generation_and_resumes(spark, tmp_path):
    """run_sft_job writes seqs/loss_mask/render as ONE atomic generation
    (lineage row last), a rerun short-circuits on the committed
    generation without running Spark, and force=True rebuilds."""
    import os

    from janet_spark.conversations import (
        conv_loss_mask_frame,
        conv_training_pipeline_frame,
    )
    from janet_spark.derive import derived_transcripts
    from janet_spark.sft_job import committed_generation, run_sft_job, table_path

    tr = derived_transcripts(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "sft")
    s1 = run_sft_job(spark, tr, out, run_id="gen-1")
    assert s1["resumed"] is False
    for table in ("seqs", "loss_mask", "render"):
        assert os.path.isdir(table_path(out, table)), table
    # committed counts match the registered frames exactly
    assert s1["n_seqs"] == conv_training_pipeline_frame(tr).count()
    assert s1["n_mask_spans"] == conv_loss_mask_frame(tr).count()
    assert spark.read.parquet(table_path(out, "seqs")).count() == s1["n_seqs"]
    assert committed_generation(out)["run_id"] == "gen-1"
    # no staging debris
    assert not [d for d in os.listdir(out) if d.startswith("_staging")]

    # rerun: resumes on the lineage row, same counts, same run id
    s2 = run_sft_job(spark, tr, out, run_id="gen-2")
    assert s2["resumed"] is True and s2["run_id"] == "gen-1"
    assert s2["n_seqs"] == s1["n_seqs"]

    # force: rebuilds under the new run id
    s3 = run_sft_job(spark, tr, out, run_id="gen-3", force=True)
    assert s3["resumed"] is False and s3["run_id"] == "gen-3"
    assert committed_generation(out)["run_id"] == "gen-3"
    assert s3["n_seqs"] == s1["n_seqs"]


def test_sft_job_crash_mid_commit_is_invisible_then_recovers(spark, tmp_path):
    """A crash at any point before the lineage append leaves no committed
    generation, and the next run rebuilds cleanly."""
    import os

    import pytest as _pytest

    from janet_spark.derive import derived_transcripts
    from janet_spark.sft_job import committed_generation, run_sft_job

    tr = derived_transcripts(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "sft")
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_sft_job(spark, tr, out, run_id="gen-crash", fail_after_n_tables=1)
    # the crashed run is invisible: no lineage row, so no generation
    assert committed_generation(out) is None
    # recovery: a fresh run commits normally, cleans the crash debris,
    # and the counts are intact
    s = run_sft_job(spark, tr, out, run_id="gen-ok")
    assert s["resumed"] is False and s["run_id"] == "gen-ok"
    assert committed_generation(out)["run_id"] == "gen-ok"
    assert s["n_seqs"] > 0 and s["n_render_rows"] > 0
    assert not [d for d in os.listdir(out) if d.startswith("_staging")]


def test_sft_job_force_rebuild_crash_keeps_old_generation_consistent(
    spark, tmp_path
):
    """The round-3 advice scenario: a FORCE rebuild that crashes mid-commit
    must leave the OLD generation fully intact and self-consistent — never
    a mix of old and new tables under the standing lineage row. With the
    single-rename commit, a crash between the rename and the lineage
    append leaves an orphan gen dir that committed_generation never
    reports and the next run deletes."""
    import os

    import pytest as _pytest

    from janet_spark.derive import derived_transcripts
    from janet_spark.sft_job import (
        committed_generation,
        run_sft_job,
        table_path,
    )

    tr = derived_transcripts(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "sft")
    s1 = run_sft_job(spark, tr, out, run_id="gen-1")
    seqs_before = spark.read.parquet(table_path(out, "seqs")).count()
    mask_before = spark.read.parquet(table_path(out, "loss_mask")).count()

    # force rebuild crashes after the rename, before the lineage append
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_sft_job(
            spark, tr, out, run_id="gen-2", force=True, fail_before_lineage=True
        )
    # the committed view is still gen-1, and ALL THREE tables resolve to
    # gen-1's dirs — no mixed-generation state is reachable
    gen = committed_generation(out)
    assert gen["run_id"] == "gen-1"
    for table in ("seqs", "loss_mask", "render"):
        assert "gen=gen-1" in table_path(out, table)
    assert spark.read.parquet(table_path(out, "seqs")).count() == seqs_before
    assert spark.read.parquet(table_path(out, "loss_mask")).count() == mask_before

    # a rerun WITHOUT force resumes on gen-1 (it is genuinely committed)
    s2 = run_sft_job(spark, tr, out, run_id="gen-3")
    assert s2["resumed"] is True and s2["run_id"] == "gen-1"
    assert s2["n_seqs"] == s1["n_seqs"]

    # a force rerun repairs: the orphan gen-2 dir is gone, gen-4 commits
    s3 = run_sft_job(spark, tr, out, run_id="gen-4", force=True)
    assert s3["resumed"] is False and s3["run_id"] == "gen-4"
    assert committed_generation(out)["run_id"] == "gen-4"
    assert not os.path.isdir(os.path.join(out, "gen=gen-2"))
    assert s3["n_seqs"] == s1["n_seqs"]
