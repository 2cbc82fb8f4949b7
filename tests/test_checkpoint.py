"""A14 resumability gates (SURVEY.md §5.2): interrupted + resumed run must
equal the uninterrupted run, completed buckets must be skipped on resume,
and a changed input must invalidate stale checkpoints."""

from __future__ import annotations

import json
import os

import pytest

from kgpipe.fixtures.generator import materialize
from kgpipe.pipeline import run_from_dir, run_pipeline_checkpointed


def _triple_set(df):
    return {tuple(r) for r in
            df.select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}


@pytest.fixture(scope="module")
def fixture_dir():
    return materialize("unit")


@pytest.fixture(scope="module")
def plain_triples(spark, fixture_dir):
    return _triple_set(run_from_dir(spark, fixture_dir)["triples"])


def test_checkpointed_equals_plain(spark, fixture_dir, plain_triples, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ckpt-full"))
    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                                    stage_layout="linked")
    assert _triple_set(out["triples"]) == plain_triples
    # lineage manifests exist per stage with per-bucket rows
    for stage in ("linked", "raw_triples", "triples"):
        mpath = os.path.join(run_dir, stage, "manifest.jsonl")
        rows = [json.loads(line) for line in open(mpath)]
        assert {r["bucket"] for r in rows} == set(range(32))
        assert all(r["status"] == "done" and "rows_out" in r for r in rows)
    assert os.path.exists(os.path.join(run_dir, "metrics.json"))


def test_resume_skips_completed_buckets(spark, fixture_dir, plain_triples, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ckpt-resume"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    out2 = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    for stage, m in out2["metrics"].items():
        assert m["buckets_computed"] == 0, (stage, m)
        assert m["rows_computed"] == 0, (stage, m)
    assert _triple_set(out2["triples"]) == plain_triples


def test_crash_mid_stage_resumes_only_missing(spark, fixture_dir, plain_triples,
                                              tmp_path_factory):
    """Simulate a crash after some buckets of stage 1 committed: drop the
    last 10 manifest rows (data dirs stay on disk, as after a real kill).
    Resume must recompute exactly those buckets and produce equal triples."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-crash"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                              stage_layout="linked")

    mpath = os.path.join(run_dir, "linked", "manifest.jsonl")
    rows = [json.loads(line) for line in open(mpath)]
    dropped = {r["bucket"] for r in rows[-10:]}
    with open(mpath, "w") as f:
        for r in rows[:-10]:
            f.write(json.dumps(r) + "\n")
    # downstream stages also "not yet run" in the crash scenario
    import shutil
    shutil.rmtree(os.path.join(run_dir, "raw_triples"))
    shutil.rmtree(os.path.join(run_dir, "triples"))

    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                                    stage_layout="linked")
    m = out["metrics"]["linked"]
    assert m["buckets_computed"] == len(dropped)
    assert m["buckets_skipped"] == 32 - len(dropped)
    assert _triple_set(out["triples"]) == plain_triples


def test_changed_input_invalidates(spark, fixture_dir, tmp_path_factory, tmp_path):
    """A different input under the same run_dir must not reuse stale
    buckets (fingerprint mismatch wipes the stage)."""
    import shutil

    run_dir = str(tmp_path_factory.mktemp("ckpt-inval"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                              stage_layout="linked")

    # shrink the input: copy fixture, truncate transcripts to 40 convs
    alt = tmp_path / "alt_fixture"
    shutil.copytree(fixture_dir, alt)
    import pandas as pd
    t = pd.read_parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    keep = sorted(t["conv_id"].unique())[:5]
    t[t["conv_id"].isin(keep)].to_parquet(
        os.path.join(alt, "transcripts.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True)

    out = run_pipeline_checkpointed(spark, str(alt), run_dir,
                                    stage_layout="linked")
    got = out["triples"].select("conv_id").distinct().collect()
    assert {r.conv_id for r in got} <= set(keep)
    m = out["metrics"]["linked"]
    assert m["buckets_computed"] == 32  # full invalidation, nothing stale


def test_all_empty_stage_returns_empty_df(spark, fixture_dir, tmp_path_factory):
    """A stage whose every bucket produces zero rows writes no parquet
    files; reading it back must yield an empty DataFrame with the recorded
    schema, not an 'unable to infer schema' failure — and the same must
    hold on resume."""
    from pyspark.sql import functions as F

    from kgpipe.operators.checkpoint import CheckpointedRun
    from kgpipe.pipeline import read_transcripts

    t = read_transcripts(
        spark, os.path.join(fixture_dir, "transcripts.parquet"))
    run_dir = str(tmp_path_factory.mktemp("ckpt-empty"))

    def empty_fn(df):
        return df.filter(F.lit(False)).select("conv_id", "turn_idx", "text")

    for attempt in range(2):  # fresh run, then resume from manifests
        run = CheckpointedRun(spark, run_dir)
        s = run.stage("nothing", t, empty_fn, n_buckets=4, fingerprint="fp0")
        assert s.df.count() == 0
        assert set(s.df.columns) == {"conv_id", "turn_idx", "text"}
        if attempt == 1:
            assert s.computed_buckets == []  # resume skipped all buckets


def test_checkpointed_trained_labeler_and_model_invalidation(
        spark, fixture_dir, tmp_path_factory):
    """--trained-labeler must work through the checkpointed path (round-2
    review: the flag was silently ignored with --checkpoint-dir), and a
    different labeler model must invalidate the linked checkpoint."""
    import pandas as pd

    from kgpipe.operators.evaluate import evaluate_triples
    from kgpipe.operators.train import fit_perceptron, sample_texts

    cd = pd.read_parquet(os.path.join(fixture_dir, "candidate_dict.parquet"))
    model = fit_perceptron(
        sample_texts(os.path.join(fixture_dir, "transcripts.parquet"), 2000),
        cd)
    run_dir = str(tmp_path_factory.mktemp("ckpt-trained"))
    out = run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, labeler_model=model,
        stage_layout="linked")
    gold = spark.read.parquet(
        os.path.join(fixture_dir, "gold_triples.parquet"))
    m = evaluate_triples(out["triples"], gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m
    # switching to the gazetteer labeler must NOT reuse the trained-model
    # checkpoint: the linked stage recomputes under a different fingerprint
    out2 = run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                                     stage_layout="linked")
    assert out2["run"].metrics["linked"]["buckets_computed"] > 0


def test_lost_checkpoint_data_fails_loudly(spark, fixture_dir,
                                           tmp_path_factory):
    """A manifest that records rows while the data dir holds no parquet
    files is lost data — resume must raise, not fabricate an empty stage."""
    import shutil

    import pytest as _pytest

    run_dir = str(tmp_path_factory.mktemp("ckpt-lost"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                              stage_layout="linked")
    shutil.rmtree(os.path.join(run_dir, "linked", "data"))
    with _pytest.raises(RuntimeError, match="deleted or modified"):
        run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                                  stage_layout="linked")


def test_single_lost_bucket_fails_loudly(spark, fixture_dir,
                                         tmp_path_factory):
    """Deleting ONE bucket directory out-of-band (while others survive)
    must also raise on resume: a stage-level 'some files exist' check would
    silently return incomplete output (round-2 advice, medium)."""
    import glob
    import shutil

    import pytest as _pytest

    run_dir = str(tmp_path_factory.mktemp("ckpt-lost-bucket"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                              stage_layout="linked")
    bdirs = sorted(glob.glob(
        os.path.join(run_dir, "linked", "data", "_ckpt_bucket=*")))
    assert len(bdirs) > 1
    shutil.rmtree(bdirs[0])
    with _pytest.raises(RuntimeError, match="deleted or modified"):
        run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                                  stage_layout="linked")


def test_missing_schema_on_all_empty_stage_is_clear_error(
        spark, tmp_path_factory):
    """An all-empty completed stage whose _schema.json is missing (run_dir
    from a pre-schema version) must raise a clear remove-to-recompute
    error, not a bare FileNotFoundError (round-2 advice, low)."""
    import pytest as _pytest

    from kgpipe.operators.checkpoint import CheckpointedRun

    run_dir = str(tmp_path_factory.mktemp("ckpt-noschema"))
    run = CheckpointedRun(spark, run_dir)
    empty_in = spark.createDataFrame([], "conv_id string, x long")
    run.stage("s1", empty_in, lambda df: df.filter("x > 0"),
              n_buckets=2, fingerprint="fp1")
    os.remove(os.path.join(run_dir, "s1", "_schema.json"))
    run2 = CheckpointedRun(spark, run_dir)
    with _pytest.raises(RuntimeError, match="_schema.json"):
        run2.stage("s1", empty_in, lambda df: df.filter("x > 0"),
                   n_buckets=2, fingerprint="fp1")


# -- digest stage layout ----------------------------------------------------


def test_digest_layout_equals_plain(spark, fixture_dir, plain_triples,
                                    tmp_path_factory):
    """stage_layout='digests' stages the narrow fused per-turn digests
    instead of the text-bearing linked table; triples must equal the plain
    run exactly, with per-bucket manifests for both stages."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-digests"))
    out = run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, stage_layout="digests")
    assert _triple_set(out["triples"]) == plain_triples
    for stage in ("digests", "triples"):
        mpath = os.path.join(run_dir, stage, "manifest.jsonl")
        rows = [json.loads(line) for line in open(mpath)]
        assert {r["bucket"] for r in rows} == set(range(32))
    # the durable digest rows are NARROW: no text column is staged
    assert "text" not in out["digests"].columns
    assert set(out["digests"].columns) == {
        "conv_id", "turn_idx", "intra", "first_ent", "first_pred",
        "last_ent"}


def test_digest_layout_crash_resume(spark, fixture_dir, plain_triples,
                                    tmp_path_factory):
    """Crash after part of the digests stage committed: resume recomputes
    exactly the missing buckets and the final triples are identical."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-digests-crash"))
    run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, stage_layout="digests")

    mpath = os.path.join(run_dir, "digests", "manifest.jsonl")
    rows = [json.loads(line) for line in open(mpath)]
    dropped = {r["bucket"] for r in rows[-10:]}
    with open(mpath, "w") as f:
        for r in rows[:-10]:
            f.write(json.dumps(r) + "\n")
    import shutil
    shutil.rmtree(os.path.join(run_dir, "triples"))

    out = run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, stage_layout="digests")
    m = out["metrics"]["digests"]
    assert m["buckets_computed"] == len(dropped)
    assert m["buckets_skipped"] == 32 - len(dropped)
    assert _triple_set(out["triples"]) == plain_triples


def test_digest_layout_resume_skips_everything(spark, fixture_dir,
                                               plain_triples,
                                               tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ckpt-digests-skip"))
    run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, stage_layout="digests")
    out2 = run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, stage_layout="digests")
    for stage, m in out2["metrics"].items():
        assert m["buckets_computed"] == 0, (stage, m)
    assert _triple_set(out2["triples"]) == plain_triples


def test_default_layout_is_digests(spark, fixture_dir, plain_triples,
                                   tmp_path_factory):
    """The product default follows the product economics: calling
    run_pipeline_checkpointed (and the CLI) without --stage-layout stages
    the narrow digests, not the text-bearing linked table."""
    import inspect

    run_dir = str(tmp_path_factory.mktemp("ckpt-default"))
    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    assert _triple_set(out["triples"]) == plain_triples
    assert os.path.exists(os.path.join(run_dir, "digests", "manifest.jsonl"))
    assert not os.path.exists(os.path.join(run_dir, "linked"))

    # the library default and the CLI default must agree
    sig = inspect.signature(run_pipeline_checkpointed)
    assert sig.parameters["stage_layout"].default == "digests"
    import run_pipeline as cli
    cli_src = inspect.getsource(cli.main)
    assert '"--stage-layout", default="digests"' in cli_src


def test_stage_layout_and_manifest_planned_read(spark, fixture_dir,
                                                tmp_path_factory):
    """Every bucket dir of a computed stage holds exactly one parquet file
    (each bucket lands in one shuffle partition of the write), and the
    read-back is planned from the manifest: exactly the bucket files, with
    the recorded schema in the recorded column order, and the same rows a
    directory read of the stage returns."""
    import glob

    from pyspark.sql import types as T

    from kgpipe.operators.checkpoint import BUCKET_COL, CheckpointedRun

    run_dir = str(tmp_path_factory.mktemp("ckpt-layout"))
    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    for stage in ("digests", "triples"):
        data_dir = os.path.join(run_dir, stage, "data")
        bdirs = glob.glob(os.path.join(data_dir, f"{BUCKET_COL}=*"))
        assert bdirs
        for bdir in bdirs:
            files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
            assert len(files) == 1, (bdir, files)

        fp = json.loads(open(os.path.join(
            run_dir, stage, "manifest.jsonl")).readline())["fingerprint"]
        df = CheckpointedRun(spark, run_dir).load_committed(stage, fp)
        recorded = T.StructType.fromJson(json.load(open(
            os.path.join(run_dir, stage, "_schema.json"))))
        assert [(f.name, f.dataType) for f in df.schema.fields] == \
            [(f.name, f.dataType) for f in recorded.fields]
        assert sorted(os.path.realpath(f.replace("file://", ""))
                      for f in df.inputFiles()) == sorted(
            os.path.realpath(p) for p in
            glob.glob(os.path.join(data_dir, f"{BUCKET_COL}=*", "*.parquet")))
        by_dir = spark.read.parquet(data_dir).drop(BUCKET_COL)
        assert sorted(map(tuple, df.collect())) == \
            sorted(map(tuple, by_dir.select(*df.columns).collect()))
    assert out["metrics"]["triples"]["rows_out"] == out["triples"].count()
