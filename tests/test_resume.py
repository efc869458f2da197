"""Resumability: kill the job after the first committed batch, restart,
and assert (a) output identical to an uninterrupted run, (b) committed
batches are not re-processed, (c) lineage metrics cover every partition.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

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
    fewer. A hidden file (a late task attempt's) is served by no read
    and passes. A pre-guard manifest (field absent) is unverifiable and
    equally hard-fails (the n_buckets precedent)."""
    import json

    from pdfredact_spark.fixtures import demo_doc

    docs = docs_to_df(spark, corpus(24) + [demo_doc("rot-t", rotation_page1=90)])
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
    # ... but a late task attempt's hidden file is never served: the
    # reader and the integrity check both skip it
    hidden = os.path.join(bucket_dir, ".part-zombie.parquet")
    with open(hidden, "wb") as fh:
        fh.write(b"not really parquet")
    assert run_resumable(spark, docs, out, [SSN_RULE], **args).count() == 24
    os.remove(hidden)

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

    # (c) the quarantined rows share data/ with the clean ones: a file
    # that loses its error row (the output intact, read_errors' view
    # silently truncated) fails the same check
    import pyarrow.parquet as pq

    err_file = next(
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(out, "data"))
        for f in sorted(fs)
        if f.endswith(".parquet")
        and pq.read_table(os.path.join(r, f)).column("error").null_count
        < pq.read_metadata(os.path.join(r, f)).num_rows
    )
    err_payload = open(err_file, "rb").read()
    table = pq.read_table(err_file)
    pq.write_table(table.filter(table.column("error").is_null()), err_file)
    with pytest.raises(ValueError, match="do not match its committed manifest"):
        run_resumable(spark, docs, out, [SSN_RULE], **args)
    with open(err_file, "wb") as fh:
        fh.write(err_payload)
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
    # at least each of the 4 batches' write
    assert len(tracker.getJobIdsForGroup("resume-caller-group")) >= 4


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


def test_resume_rejects_two_write_layout(spark, tmp_path):
    """An out_dir committed under the two-write layout (raw/ for every
    row, data/ for the clean ones, manifests listing ``raw_files``) has no
    quarantined rows in data/: resuming over it or reading its errors
    fails closed instead of serving a silently empty error view."""
    import json

    from pdfredact_spark.checkpoint import read_errors
    from pdfredact_spark.fixtures import demo_doc

    docs = docs_to_df(spark, corpus(12) + [demo_doc("rot-o", rotation_page1=90)])
    out = str(tmp_path / "o")
    args = dict(n_buckets=8, buckets_per_batch=4)
    run_resumable(spark, docs, out, [SSN_RULE], **args)
    mpath = os.path.join(out, "_commits", "batch-1.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    manifest["raw_files"] = []
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="two-write layout"):
        run_resumable(spark, docs, out, [SSN_RULE], **args)
    with pytest.raises(ValueError, match="two-write layout"):
        read_errors(spark, out)


def _jobs_of_group(sc, group: str) -> list[tuple[int, str | None]]:
    """(job id, description) of every job in ``group``, from the status
    store once the listener bus has delivered every event."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            desc = job.description()
            out.append((job.jobId(), desc.get() if desc.isDefined() else None))
    return out


def test_batch_jobs_carry_a_description_naming_run_and_batch(spark, tmp_path):
    """Each batch's Spark jobs are described as ``run_resumable <run_id>
    batch <k>/<n>``, set on the batch's own thread: the jobs stay in the
    caller's job group and the caller's own description is untouched."""
    from pdfredact_spark.fixtures import demo_doc

    sc = spark.sparkContext
    sc.setJobGroup("describe-group", "caller description")
    try:
        run_resumable(
            spark, docs_to_df(spark, corpus(24) + [demo_doc("rot-d", rotation_page1=90)]),
            str(tmp_path / "o"), [SSN_RULE], run_id="desc-run",
            n_buckets=8, buckets_per_batch=2,
        )
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = _jobs_of_group(sc, "describe-group")
    # one job per batch: its write, which also carries the error sample
    assert len(jobs) == 4
    assert {d for _j, d in jobs} == {f"run_resumable desc-run batch {k}/4" for k in range(4)}


def test_reads_serve_committed_batches_only(spark, tmp_path, monkeypatch):
    """A crash between a batch's write and its manifest commit leaves the
    batch's data and metrics files behind uncommitted: read_metrics and
    read_errors serve the committed batches only, and an out_dir with
    nothing committed reads as empty frames of the same schema."""
    import pdfredact_spark.checkpoint as checkpoint
    from pdfredact_spark.checkpoint import read_errors
    from pdfredact_spark.fixtures import demo_doc

    real = checkpoint._commit
    crash_at = [1]

    def crashing(out_dir, batch_id, manifest):
        if batch_id == crash_at[0]:
            raise KillSwitch(f"crashed before committing batch {batch_id}")
        real(out_dir, batch_id, manifest)

    docs = docs_to_df(
        spark, corpus(40) + [demo_doc(f"rot-{i}", rotation_page1=90) for i in range(16)])
    args = dict(n_buckets=8, buckets_per_batch=2)
    monkeypatch.setattr(checkpoint, "_commit", crashing)
    out = str(tmp_path / "o")
    with pytest.raises(KillSwitch):
        run_resumable(spark, docs, out, [SSN_RULE], **args)
    assert committed_batches(out) == {0}
    # batch 1 was written, metrics and error rows included, not committed
    written = spark.read.parquet(os.path.join(out, "data"))
    assert os.path.isdir(os.path.join(out, "metrics", "batch=1"))
    assert written.where("batch = 1 AND error IS NOT NULL").count() > 0

    metrics = read_metrics(spark, out).collect()
    clean0 = written.where("batch = 0 AND error IS NULL")
    assert {r["batch"] for r in metrics} == {0}
    assert sum(r["n_docs"] for r in metrics) == clean0.count() > 0
    errors = sorted(tuple(r) for r in read_errors(spark, out).collect())
    want = written.where("batch = 0 AND error IS NOT NULL").select("doc_id", "error")
    assert errors == sorted(tuple(r) for r in want.collect())
    with open(os.path.join(out, "_commits", "batch-0.json")) as fh:
        assert json.load(fh)["n_errors"] == len(errors) > 0

    crash_at[0] = 0
    empty = str(tmp_path / "e")
    with pytest.raises(KillSwitch):
        run_resumable(spark, docs, empty, [SSN_RULE], **args)
    assert committed_batches(empty) == set()
    assert os.path.isdir(os.path.join(empty, "metrics", "batch=0"))
    assert read_metrics(spark, empty).schema == read_metrics(spark, out).schema
    assert read_metrics(spark, empty).count() == 0
    assert read_errors(spark, empty).count() == 0


_NULLABLE_DOCS = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _manifest_errors(out_dir: str, batch_id: int) -> tuple[int, list[tuple]]:
    with open(os.path.join(out_dir, "_commits", f"batch-{batch_id}.json")) as fh:
        m = json.load(fh)
    return m["n_errors"], [(e["doc_id"], e["error"]) for e in m["errors"]]


def test_error_sample_is_first_rows_by_doc_id_across_tasks(spark, tmp_path):
    """One batch quarantines more docs than the manifest keeps, spread over
    seven write tasks: the manifest counts all of them and keeps the first
    100 in Spark's ``ORDER BY doc_id, error``. ``rot-007`` errs twice, once
    per error kind, so the error breaks a doc-id tie; the rows without a
    doc id come first, as Spark orders nulls first."""
    from pdfredact_spark.checkpoint import read_errors
    from pdfredact_spark.fixtures import demo_doc

    rot = [demo_doc(f"rot-{i * 37 % 150:03d}", rotation_page1=90) for i in range(150)]
    null_rows = spark.createDataFrame(
        [("rot-007", None), ("rot-120", None), (None, None),
         (None, [("text", "x", "", 200_000_720)])], _NULLABLE_DOCS)
    docs = docs_to_df(spark, corpus(30) + rot).unionByName(null_rows).repartition(7)
    out = str(tmp_path / "o")
    run_resumable(spark, docs, out, [SSN_RULE], n_buckets=4, buckets_per_batch=4)
    errors = read_errors(spark, out)
    first = [tuple(r) for r in errors.orderBy("doc_id", "error").limit(100).collect()]
    null, rotated = "ValueError: spans column is null", first[2][1]
    assert first[:2] == [(None, "ValueError: doc_id is null")] * 2
    assert first[9:11] == [("rot-007", rotated), ("rot-007", null)]
    assert _manifest_errors(out, 0) == (errors.count(), first) == (154, first)


def test_ruleless_run_samples_null_spans_rows(spark, tmp_path):
    """With no rules and no flatten there is no Python stage; the manifests
    still list the NULL-spans rows the pass-through quarantines."""
    from pdfredact_spark.checkpoint import read_errors

    docs = spark.createDataFrame(
        [("good", [("text", "x", "", 200_000_720)]), ("null-b", None), ("null-a", None)],
        _NULLABLE_DOCS,
    )
    out = str(tmp_path / "o")
    clean = run_resumable(spark, docs, out, [], n_buckets=2, buckets_per_batch=2)
    assert [r["doc_id"] for r in clean.collect()] == ["good"]
    null = "ValueError: spans column is null"
    assert _manifest_errors(out, 0) == (2, [("null-a", null), ("null-b", null)])
    assert sorted(tuple(r) for r in read_errors(spark, out).collect()) == [
        ("null-a", null), ("null-b", null)]


#: the metrics table's lineage columns as Spark SQL aggregates over one
#: bucket's clean rows: the oracle for read_metrics
_LINEAGE_SQL = {
    "doc_id_min": "min(doc_id)",
    "doc_id_max": "max(doc_id)",
    "n_docs": "count(1)",
    "n_spans": "sum(size(spans))",
    "n_rule_hits": "sum(n_rule_hits)",
    "bytes_processed":
        "sum(aggregate(spans, 0L, (acc, s) -> acc + length(s.text) + length(s.media_ref) + 8))",
}


@pytest.mark.parametrize("rules", [[], [SSN_RULE]], ids=["ruleless", "ssn"])
def test_metrics_equal_spark_aggregates_of_committed_rows(spark, tmp_path, rules):
    """read_metrics equals Spark's aggregates over the committed clean
    rows of data/. A NULL text or media_ref inside one span makes that
    doc's bytes term NULL, so the sum skips the doc (with rules, both are
    quarantined: a NULL text errs in the kernel, and the output cannot
    hold a NULL media_ref); ``length``
    counts characters, not UTF-8 bytes; an empty spans array adds 0; a
    bucket holding only error rows (NULL spans, NULL doc ids) gets no
    metrics row."""
    from pdfredact_spark.checkpoint import read_metrics
    from pdfredact_spark.fixtures import demo_doc

    def text(t, ref=""):
        return ("text", t, ref, 200_000_720)

    docs = spark.createDataFrame(
        [("empty", []), ("null-text", [text("a"), text(None)]), ("null-ref", [text("b", None)]),
         ("uni", [text("café ünï 😀", "m€dia")]), ("plain", [text("x"), text("yz")])]
        + [(f"err-{i}", None) for i in range(40)] + [(None, None), (None, [text("c")])],
        _NULLABLE_DOCS)
    docs = docs.unionByName(docs_to_df(spark, [demo_doc("rot-m", rotation_page1=90)]))
    out = str(tmp_path / "o")
    run_resumable(spark, docs, out, rules, n_buckets=8, buckets_per_batch=4)

    data = spark.read.parquet(os.path.join(out, "data"))
    names = list(_LINEAGE_SQL)
    want = (data.where("error IS NULL").groupBy("batch", "bucket")
            .agg(*(F.expr(e).alias(n) for n, e in _LINEAGE_SQL.items())))
    got = read_metrics(spark, out)
    assert (sorted(tuple(r) for r in got.select("batch", "bucket", *names).collect())
            == sorted(tuple(r) for r in want.select("batch", "bucket", *names).collect()))
    # the cases above really occurred
    clean_ids = {r["doc_id"] for r in data.where("error IS NULL").collect()}
    assert clean_ids == {"empty", "uni", "plain"} | (set() if rules else {"null-text", "null-ref", "rot-m"})
    error_only = data.groupBy("bucket").agg(F.count("error").alias("e"), F.count("*").alias("n"))
    assert error_only.where("e = n").count() > 0
    assert data.where("doc_id IS NULL").count() == 2


def test_null_span_kind_or_media_ref_is_quarantined_on_every_path(spark, tmp_path):
    """With rules, a doc whose span has a NULL kind or media_ref is an
    error row on redact_full's paths and in run_resumable alike. The
    output's span fields are non-nullable: redact_full used to fail the
    whole job (a JVM NullPointerException) on such a doc, while
    run_resumable, which writes the stage's batches itself, committed it
    as clean."""
    from pdfredact_spark.checkpoint import read_errors
    from pdfredact_spark.fixtures import mega_doc
    from pdfredact_spark.pipeline import redact_full

    big = mega_doc("mega-null-ref", n_spans=5000)  # > MEGA_SPAN_THRESHOLD
    big["spans"][7]["media_ref"] = None
    docs = spark.createDataFrame(
        [("null-ref", [("text", "b", None, 200_000_720)]),
         ("null-kind", [(None, "b", "", 200_000_720)]),
         ("ok", [("text", "b", "", 200_000_720)]),
         (big["doc_id"], [tuple(s.values()) for s in big["spans"]])],
        _NULLABLE_DOCS)
    err = "ValueError: span kind or media_ref is null"
    want = [("mega-null-ref", err), ("null-kind", err), ("null-ref", err)]
    for full in (redact_full(docs, [SSN_RULE]), redact_full(docs, [SSN_RULE], mega_split=True)):
        assert sorted(tuple(r) for r in full.where("error IS NOT NULL")
                      .select("doc_id", "error").collect()) == want
    out = str(tmp_path / "o")
    clean = run_resumable(spark, docs, out, [SSN_RULE], n_buckets=2, buckets_per_batch=2)
    assert [r["doc_id"] for r in clean.collect()] == ["ok"]
    assert sorted(tuple(r) for r in read_errors(spark, out).collect()) == want


def test_buffer_cap_splits_row_groups_without_changing_output(spark, tmp_path, monkeypatch):
    """With the batch tasks' buffer cap at 1 KB and a few docs per Arrow
    batch, the data files hold many row groups; rows, metrics, read_errors
    and the manifests' errors equal those of a run at the default cap,
    whose files hold one row group each."""
    import glob

    import pyarrow.parquet as pq

    import pdfredact_spark.checkpoint as checkpoint
    from pdfredact_spark.checkpoint import read_errors
    from pdfredact_spark.fixtures import demo_doc

    docs = docs_to_df(
        spark, corpus(60) + [demo_doc(f"rot-{i}", rotation_page1=90) for i in range(4)]
    ).repartition(2)

    def run(name):
        out = str(tmp_path / name)
        df = run_resumable(spark, docs, out, [SSN_RULE], n_buckets=8, buckets_per_batch=4)
        groups = [pq.ParquetFile(p).num_row_groups
                  for p in glob.glob(os.path.join(out, "data", "*", "*", "*.parquet"))]
        return groups, {
            "rows": sorted((r["doc_id"], str(r["spans"]), r["batch"], r["bucket"])
                           for r in df.collect()),
            "metrics": sorted(map(tuple, read_metrics(spark, out).collect())),
            "errors": sorted(map(tuple, read_errors(spark, out).collect())),
            "manifest_errors": [_manifest_errors(out, k) for k in (0, 1)],
        }

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        default_groups, default = run("default")
        monkeypatch.setattr(checkpoint, "_ROW_GROUP_BYTES", 1024)
        capped_groups, capped = run("capped")
    finally:
        spark.conf.set(key, before)
    assert capped == default
    assert len(default["rows"]) == 60 and default["errors"]
    assert set(default_groups) == {1}
    assert max(capped_groups) > 2


_RETRY_PROBE = r"""
import glob, json, os, sys
workdir = sys.argv[1]

import pyarrow.parquet as pq

import pdfredact_spark.checkpoint as checkpoint
from pdfredact_spark.checkpoint import read_errors, read_metrics, run_resumable
from pdfredact_spark.fixtures import SSN_RULE, corpus, demo_doc
from pdfredact_spark.pipeline import docs_to_df
from pdfredact_spark.session import get_spark

# local[2,2]: a task may fail once and be retried
spark = get_spark(master="local[2,2]", app_name="retry-probe", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
docs = docs_to_df(
    spark, corpus(60) + [demo_doc(f"rot-{i}", rotation_page1=90) for i in range(8)])


def run(name):
    out = os.path.join(workdir, name)
    df = run_resumable(spark, docs, out, [SSN_RULE], run_id="r",
                       n_buckets=8, buckets_per_batch=4)
    manifests, listed = {}, set()
    for path in sorted(glob.glob(os.path.join(out, "_commits", "batch-*.json"))):
        m = json.load(open(path))
        listed |= {os.path.join(f"batch={m['batch_id']}", f) for f, _size in m["data_files"]}
        for k in ("committed_at", "data_files", "stage_s"):
            del m[k]
        manifests[os.path.basename(path)] = m
    data = os.path.join(out, "data")
    on_disk = {os.path.relpath(os.path.join(r, f), data)
               for r, _d, fs in os.walk(data) for f in fs}
    return {
        "rows": sorted([r["doc_id"], [list(s) for s in r["spans"]], r["batch"], r["bucket"]]
                       for r in df.collect()),
        "metrics": sorted(list(r) for r in read_metrics(spark, out).collect()),
        "errors": sorted(list(r) for r in read_errors(spark, out).collect()),
        "manifests": manifests,
        "unlisted_files": sorted(on_disk - listed),
    }


clean = run("clean")
marker = os.path.join(workdir, "failed-once")
real = checkpoint._write_stage


def flaky(data_path, rules, flatten):
    stage = real(data_path, rules, flatten)

    def wrapped(batches):
        # the first task to finish fails once its stage has closed its
        # files: complete parquet files, on disk under hidden names
        for rb in stage(batches):
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                yield rb
                continue
            paths = [os.path.join(data_path, f"bucket={b}", "." + f) for b, f in
                     zip(rb.column("bucket").to_pylist(), rb.column("file").to_pylist())]
            rows = sum(pq.read_metadata(p).num_rows for p in paths)
            with os.fdopen(fd, "w") as fh:
                json.dump({"paths": paths, "rows": rows}, fh)
            raise RuntimeError("injected first-attempt failure")

    return wrapped


checkpoint._write_stage = flaky
retried = run("retried")
spark.stop()
failed = json.load(open(marker))
failed["left"] = [p for p in failed["paths"]
                  if os.path.exists(p) or os.path.exists(p.replace("/.part-", "/part-"))]
print(json.dumps({"failed": failed, "clean": clean, "retried": retried}))
"""


def test_batch_output_exact_under_task_retry(tmp_path):
    """A batch task that fails on its first attempt after closing its
    complete data files, and succeeds on retry, leaves rows, metrics,
    read_errors and manifests equal to a clean run's, and the batch dirs
    hold only the files the manifests list: the failed attempt's hidden
    files are gone. A subprocess: the retry needs a local[N,maxFailures]
    master of its own."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _RETRY_PROBE, str(tmp_path)],
        capture_output=True, text=True, timeout=420, cwd=repo,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    failed = got["failed"]
    assert failed["paths"] and failed["rows"] > 0  # the injected failure really ran
    assert failed["left"] == []
    assert got["retried"] == got["clean"]
    assert got["clean"]["unlisted_files"] == []
    assert len(got["clean"]["rows"]) == 60
    assert sum(m["n_errors"] for m in got["clean"]["manifests"].values()) == 8
