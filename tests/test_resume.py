"""Resumability: kill the job after the first committed batch, restart,
and assert (a) output identical to an uninterrupted run, (b) committed
batches are not re-processed, (c) lineage metrics cover every partition.
"""

from __future__ import annotations

import os

import pytest

from pdfredact_spark.checkpoint import (
    KillSwitch,
    committed_batches,
    read_metrics,
    run_resumable,
)
from pdfredact_spark.fixtures import SSN_RULE, corpus
from pdfredact_spark.pipeline import docs_to_df


def _invariant(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_kill_and_resume_identical_output(spark, tmp_path):
    docs = corpus(60)
    df = docs_to_df(spark, docs)

    # Reference run, uninterrupted.
    ref_dir = str(tmp_path / "ref")
    ref = run_resumable(spark, df, ref_dir, [SSN_RULE], run_id="ref",
                        n_buckets=8, buckets_per_batch=2)
    ref_rows = _invariant(ref)
    assert len(ref_rows) == 60

    # Killed run: crashes after 1 committed batch.
    out_dir = str(tmp_path / "killed")
    with pytest.raises(KillSwitch):
        run_resumable(spark, df, out_dir, [SSN_RULE], run_id="r1",
                      n_buckets=8, buckets_per_batch=2, kill_after_batches=1)
    first = committed_batches(out_dir)
    assert len(first) == 1
    mtimes = {
        b: os.path.getmtime(os.path.join(out_dir, "_commits", f"batch-{b}.json"))
        for b in first
    }

    # Restart: resumes from the commit log.
    resumed = run_resumable(spark, df, out_dir, [SSN_RULE], run_id="r1",
                            n_buckets=8, buckets_per_batch=2)
    assert committed_batches(out_dir) == {0, 1, 2, 3}
    # the already-committed batch was NOT re-processed (manifest untouched)
    for b, t in mtimes.items():
        assert os.path.getmtime(os.path.join(out_dir, "_commits", f"batch-{b}.json")) == t

    assert _invariant(resumed) == ref_rows

    # Lineage metrics cover every bucket with sane counts.
    m = read_metrics(spark, out_dir)
    rows = m.collect()
    assert {r["partition_id"] for r in rows} == set(range(8))
    assert sum(r["n_docs"] for r in rows) == 60
    assert all(r["n_rule_hits"] >= r["n_docs"] for r in rows)  # >=1 SSN hit per doc
    assert all(r["bytes_processed"] > 0 for r in rows)
    assert all(r["doc_id_min"] <= r["doc_id_max"] for r in rows)


def test_resumable_flatten(spark, tmp_path):
    from pdfredact_spark.fixtures import SSN_RULE, corpus
    from pdfredact_spark.pipeline import docs_to_df

    docs = corpus(12)
    out = run_resumable(spark, docs_to_df(spark, docs), str(tmp_path / "f"),
                        [SSN_RULE], n_buckets=4, buckets_per_batch=2, flatten=True)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        kinds = {s["kind"] for s in r["spans"]}
        assert kinds == {"page", "media"}


def test_error_quarantine_readback(spark, tmp_path):
    from pdfredact_spark.checkpoint import read_errors
    from pdfredact_spark.fixtures import SSN_RULE, corpus, demo_doc
    from pdfredact_spark.pipeline import docs_to_df

    docs = corpus(10) + [demo_doc("rot-q", rotation_page1=90)]
    out_dir = str(tmp_path / "q")
    out = run_resumable(spark, docs_to_df(spark, docs), out_dir, [SSN_RULE],
                        n_buckets=4, buckets_per_batch=4)
    assert out.count() == 10  # rotated doc quarantined
    errs = read_errors(spark, out_dir).collect()
    assert [e["doc_id"] for e in errs] == ["rot-q"]
    assert "rotation" in errs[0]["error"].lower()


def test_resume_rejects_bucket_config_drift(spark, tmp_path):
    """A committed manifest records which buckets its batch covered;
    resuming under a different (n_buckets, buckets_per_batch) would skip
    batches that covered DIFFERENT data — must fail loudly, not drop or
    double documents."""
    import pytest

    from pdfredact_spark.checkpoint import run_resumable
    from pdfredact_spark.fixtures import SSN_RULE, corpus
    from pdfredact_spark.pipeline import docs_to_df

    out = str(tmp_path / "o")
    docs = docs_to_df(spark, corpus(12))
    run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)

    # same config resumes fine (no-op)
    run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)

    with pytest.raises(ValueError, match="resume with the original"):
        run_resumable(spark, docs, out, [SSN_RULE], n_buckets=16, buckets_per_batch=4)


def test_resume_rejects_manifest_missing_n_buckets(spark, tmp_path):
    """A manifest WITHOUT the n_buckets field (written before the drift
    guard existed) has an unverifiable modulus: defaulting it to the
    current run's value would pass exactly the drift case the guard is
    for — batch 0 covers [0,4) under both n_buckets=8 and 16 but the
    pmod assigns different documents (ADVICE r3). Must hard-fail."""
    import json
    import os

    import pytest

    from pdfredact_spark.checkpoint import run_resumable
    from pdfredact_spark.fixtures import SSN_RULE, corpus
    from pdfredact_spark.pipeline import docs_to_df

    out = str(tmp_path / "o")
    docs = docs_to_df(spark, corpus(12))
    run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)

    m_path = os.path.join(out, "_commits", "batch-0.json")
    with open(m_path) as f:
        manifest = json.load(f)
    del manifest["n_buckets"]
    with open(m_path, "w") as f:
        json.dump(manifest, f)

    with pytest.raises(ValueError, match="resume with the original"):
        run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)


def test_resume_rejects_rules_flatten_drift(spark, tmp_path):
    """Round-5 review: the bucket guard alone lets a killed job resume
    with a DIFFERENT rules file (or flatten toggled), silently mixing
    batches redacted under different configs. The manifest carries a
    rules+flatten fingerprint; any drift — including a manifest missing
    the field — must hard-fail. A stray non-manifest file in _commits/
    must be ignored, not crash the batch-id parse."""
    import os

    import pytest

    from pdfredact_spark.checkpoint import run_resumable
    from pdfredact_spark.fixtures import SSN_RULE, corpus
    from pdfredact_spark.model import Rule
    from pdfredact_spark.pipeline import docs_to_df

    out = str(tmp_path / "o")
    docs = docs_to_df(spark, corpus(12))
    run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)

    # a foreign file in _commits/ is ignored (previously: ValueError on
    # the int() parse wedged every later run)
    with open(os.path.join(out, "_commits", "batch-0 (copy).json"), "w") as f:
        f.write("{}")
    run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)

    other_rule = Rule(pattern="zz-never", is_regex=False)
    with pytest.raises(ValueError, match="fingerprint"):
        run_resumable(spark, docs, out, [other_rule], n_buckets=8, buckets_per_batch=4)
    with pytest.raises(ValueError, match="fingerprint"):
        run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8,
                      buckets_per_batch=4, flatten=True)

    # ADVICE r5: Rule.description never reaches the kernel, so a cosmetic
    # description edit in the rules file must NOT hard-fail resume
    import dataclasses

    relabeled = dataclasses.replace(SSN_RULE, description="relabeled only")
    run_resumable(spark, docs, out, [relabeled], n_buckets=8, buckets_per_batch=4)


def test_sample_frame_indices_rejects_empty_clip():
    """Round-5 review: n_frames=0 took the same silent vanishing-video
    path the k<1 guard documents — a real decoder's corrupt/empty clip
    must fail fast toward an error channel, not drop silently."""
    import pytest

    from pdfredact_spark.media import sample_frame_indices

    assert sample_frame_indices(1, 4) == [0]
    with pytest.raises(ValueError, match="n_frames"):
        sample_frame_indices(0, 4)


def test_resume_rejects_modified_committed_data(spark, tmp_path):
    """Round-7 cont. third pass: each manifest records its batch's
    parquet listing ([relpath, size]) at commit; every later run
    re-verifies it for every committed batch. Post-commit modification
    of a committed batch dir — a zombie runner's late file-moves (the
    run lease's one residual window), tampering, a partial restore —
    fails LOUDLY instead of silently mixing foreign rows or serving
    fewer. A pre-guard manifest (field absent) is unverifiable and
    equally hard-fails (the n_buckets precedent)."""
    import json

    docs = docs_to_df(spark, corpus(24))
    out = str(tmp_path / "o")
    args = dict(n_buckets=8, buckets_per_batch=4)
    run_resumable(spark, docs, out, [SSN_RULE], **args)
    # clean idempotent rerun passes the integrity check on every batch
    assert run_resumable(spark, docs, out, [SSN_RULE], **args).count() == 24

    base = os.path.join(out, "data", "batch=0")
    # (a) a zombie's EXTRA file lands after commit
    bucket_dir = next(
        os.path.join(base, d) for d in os.listdir(base) if d.startswith("bucket=")
    )
    stray = os.path.join(bucket_dir, "part-zombie.snappy.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"not really parquet")
    with pytest.raises(ValueError, match="do not match its committed manifest"):
        run_resumable(spark, docs, out, [SSN_RULE], **args)
    os.remove(stray)

    # (b) a committed file vanishes (the reproduced loss shape)
    victim = next(
        os.path.join(r, f)
        for r, _d, fs in os.walk(base) for f in sorted(fs)
        if f.endswith(".parquet")
    )
    payload = open(victim, "rb").read()
    os.remove(victim)
    with pytest.raises(ValueError, match="do not match its committed manifest"):
        run_resumable(spark, docs, out, [SSN_RULE], **args)
    with open(victim, "wb") as fh:
        fh.write(payload)  # restored: green again
    assert run_resumable(spark, docs, out, [SSN_RULE], **args).count() == 24

    # (c) raw/ (read_errors' source) is guarded too — the zombie
    # overwrites raw FIRST, so a kill there leaves data intact but the
    # error view silently truncated without this check
    raw_victim = next(
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(out, "raw", "batch=0"))
        for f in sorted(fs) if f.endswith(".parquet")
    )
    raw_payload = open(raw_victim, "rb").read()
    os.remove(raw_victim)
    with pytest.raises(ValueError, match="raw files do not match"):
        run_resumable(spark, docs, out, [SSN_RULE], **args)
    with open(raw_victim, "wb") as fh:
        fh.write(raw_payload)
    assert run_resumable(spark, docs, out, [SSN_RULE], **args).count() == 24

    # (d) pre-guard manifest: field absent -> unverifiable, hard error
    mpath = os.path.join(out, "_commits", "batch-0.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    del manifest["data_files"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="do not match its committed manifest"):
        run_resumable(spark, docs, out, [SSN_RULE], **args)


def test_pipelined_batches_keep_caller_job_group(spark, tmp_path):
    """Batches materialize on worker threads; every Spark job they start
    must still carry the caller's job group, or user job groups (and
    per-group attribution and cancelJobGroup) silently miss them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("resume-caller-group", "resume-caller-group")
    try:
        run_resumable(spark, docs_to_df(spark, corpus(24)), str(tmp_path / "o"),
                      [SSN_RULE], n_buckets=8, buckets_per_batch=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    # 4 batches x (raw write, data write, metrics write, error sample)
    assert len(tracker.getJobIdsForGroup("resume-caller-group")) >= 16


def _outputs(spark, out_dir, df):
    from pdfredact_spark.checkpoint import read_errors

    rows = sorted((r["doc_id"], r["spans"], r["bucket"], r["batch"]) for r in df.collect())
    metrics = sorted(tuple(r) for r in read_metrics(spark, out_dir).collect())
    errors = sorted(tuple(r) for r in read_errors(spark, out_dir).collect())
    return rows, metrics, errors


def test_pipelined_failure_cancels_in_flight_batch(spark, tmp_path, monkeypatch):
    """A batch whose materialize fails while the batch before it commits:
    the error reaches the caller, exactly the earlier batch is committed,
    the batch submitted after it is cancelled rather than left writing,
    and a rerun completes to the uninterrupted run's output."""
    import pdfredact_spark.checkpoint as checkpoint
    from pdfredact_spark.fixtures import demo_doc

    real = checkpoint._materialize

    def flaky(spark_, docs, out_dir, batch_id, *rest):
        if batch_id == 1:
            raise RuntimeError("batch 1 materialize failed")
        return real(spark_, docs, out_dir, batch_id, *rest)

    docs = docs_to_df(spark, corpus(40) + [demo_doc("rot-p", rotation_page1=90)])
    args = dict(run_id="r", n_buckets=8, buckets_per_batch=2)
    out = str(tmp_path / "o")
    monkeypatch.setattr(checkpoint, "_materialize", flaky)
    with pytest.raises(RuntimeError, match="batch 1 materialize failed"):
        # the hold parks batch 0's commit while batch 1 fails
        run_resumable(spark, docs, out, [SSN_RULE], _hold_before_commit_sec=1.0, **args)
    monkeypatch.undo()
    assert committed_batches(out) == {0}
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    # batch 2 was in flight when batch 1 failed: cancelled at its first
    # jobs, it never reached its metrics write
    assert not os.path.exists(os.path.join(out, "metrics", "batch=2"))

    resumed = run_resumable(spark, docs, out, [SSN_RULE], **args)
    ref_dir = str(tmp_path / "ref")
    ref = run_resumable(spark, docs, ref_dir, [SSN_RULE], **args)
    assert _outputs(spark, out, resumed) == _outputs(spark, ref_dir, ref)
