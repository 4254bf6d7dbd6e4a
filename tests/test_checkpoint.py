"""Kill-and-resume: interrupted run + resume == uninterrupted run."""

import json
import os
import sys
import threading
import time

import pyspark.sql.functions as F
import pytest

from radarpipeline_spark.checkpoint import (
    CheckpointedFeatureRun,
    bucket_of,
    input_lineage_of,
)
from radarpipeline_spark.operators import feature_vector


def _norm(df):
    return df.select(
        F.concat_ws(
            "\x01",
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in sorted(df.columns)],
        ).alias("r")
    )


def test_kill_and_resume_identical(spark, tiny, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "interrupted")
    build = lambda df: feature_vector(df)  # noqa: E731

    # uninterrupted run
    full = CheckpointedFeatureRun(full_dir, n_buckets=8)
    res = full.run(spark, build, tiny)
    assert full.is_complete()
    # buckets commit concurrently: results still come back in bucket
    # order, and the manifest holds one whole line per bucket
    assert [r.bucket for r in res] == list(range(8))
    with open(full.manifest_path) as f:
        lines = f.readlines()
    assert len(lines) == 8 and all(line.endswith("\n") for line in lines)
    assert sorted(json.loads(line)["bucket"] for line in lines) == list(range(8))

    # interrupted: process 3 buckets, "crash", then resume
    part = CheckpointedFeatureRun(part_dir, n_buckets=8)
    part.run(spark, build, tiny, max_buckets=3)
    assert not part.is_complete()
    assert len(part.completed_buckets()) == 3
    resumed = CheckpointedFeatureRun(part_dir, n_buckets=8)
    res = resumed.run(spark, build, tiny)
    assert len(res) == 5  # only the missing buckets ran
    assert resumed.is_complete()

    a = _norm(full.read_output(spark))
    b = _norm(resumed.read_output(spark))
    assert a.count() == b.count() == tiny.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_manifest_lineage_and_metrics(spark, tiny, tmp_path):
    out = str(tmp_path / "m")
    run = CheckpointedFeatureRun(out, n_buckets=4)
    lineage = input_lineage_of(["/root/testdata/sf0.001"])
    results = run.run(spark, lambda df: feature_vector(df), tiny, input_lineage=lineage)
    assert sum(r.rows_out for r in results) == tiny.count()
    assert all(r.bytes_out > 0 for r in results)
    with open(os.path.join(out, "manifest.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    assert len(recs) == 4
    assert {r["bucket"] for r in recs} == {0, 1, 2, 3}
    assert all(r["input_lineage"] == lineage for r in recs)
    assert len({r["feature_schema_hash"] for r in recs}) == 1
    # rerun on a complete output is a no-op
    assert run.run(spark, lambda df: feature_vector(df), tiny) == []


def test_torn_manifest_line_recovers(spark, tiny, tmp_path):
    """A crash mid-append leaves a torn trailing line; the bucket must
    be treated as uncommitted and recomputed, not crash the run."""
    out = str(tmp_path / "torn")
    run = CheckpointedFeatureRun(out, n_buckets=4)
    run.run(spark, lambda df: feature_vector(df), tiny, max_buckets=2)
    with open(run.manifest_path, "a") as f:
        f.write('{"status": "committed", "bucket"')  # torn write
    resumed = CheckpointedFeatureRun(out, n_buckets=4)
    assert len(resumed.completed_buckets()) == 2
    res = resumed.run(spark, lambda df: feature_vector(df), tiny)
    assert len(res) == 2 and resumed.is_complete()
    assert resumed.read_output(spark).count() == tiny.count()


def test_failed_bucket_settles_cleans_and_resumes(spark, tiny, tmp_path):
    """One bucket's job fails: run re-raises it, leaves no tmp dir, keeps
    what committed, and a resume completes to the uninterrupted output."""
    out = str(tmp_path / "fail")

    def failing(df):
        fv = feature_vector(df)
        boom = F.raise_error(F.lit("bucket 2 boom"))
        return fv.withColumn(
            "conv_id", F.when(bucket_of("conv_id", 4) == 2, boom).otherwise(F.col("conv_id"))
        )

    run = CheckpointedFeatureRun(out, n_buckets=4)
    with pytest.raises(Exception, match="bucket 2 boom"):
        run.run(spark, failing, tiny)
    assert not [d for d in os.listdir(out) if d.startswith("_tmp_")]
    assert 2 not in run.completed_buckets()

    resumed = CheckpointedFeatureRun(out, n_buckets=4)
    res = resumed.run(spark, lambda df: feature_vector(df), tiny)
    assert 2 in {r.bucket for r in res} and resumed.is_complete()
    a = _norm(resumed.read_output(spark))
    b = _norm(feature_vector(tiny))
    assert a.count() == b.count() == tiny.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucket_jobs_carry_callers_job_group(spark, tiny, tmp_path):
    """Bucket jobs run on pool threads but stay in the caller's job
    group, so cancelJobGroup still reaches a run."""
    sc = spark.sparkContext
    sc.setJobGroup("ckpt", "checkpointed run")
    try:
        run = CheckpointedFeatureRun(str(tmp_path / "g"), n_buckets=4)
        run.run(spark, lambda df: feature_vector(df), tiny)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status store is fed by the async listener bus
    deadline = time.monotonic() + 10
    while len(sc.statusTracker().getJobIdsForGroup("ckpt")) < 4 * 2:
        assert time.monotonic() < deadline, sc.statusTracker().getJobIdsForGroup("ckpt")
        time.sleep(0.1)


def test_concurrent_manifest_appends_stay_whole(tmp_path):
    """Many threads appending after a torn line: the repair and the
    append are one critical section, so every record stays a whole line."""
    run = CheckpointedFeatureRun(str(tmp_path / "c"), n_buckets=1)
    os.makedirs(run.output_dir)
    with open(run.manifest_path, "w") as f:
        f.write('{"status": "committed", "bucket"')  # torn write
    n_threads, per_thread = 16, 40
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda t=t: [
                    run._append_manifest({"status": "committed", "bucket": t * per_thread + i})
                    for i in range(per_thread)
                ]
            )
            for t in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    with open(run.manifest_path) as f:
        lines = f.read().split("\n")
    assert lines[0] == '{"status": "committed", "bucket"' and lines[-1] == ""
    assert sorted(json.loads(x)["bucket"] for x in lines[1:-1]) == list(
        range(n_threads * per_thread)
    )
