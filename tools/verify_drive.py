"""End-to-end verify drive for pdfredact_spark (flows 1-4 of the verify
skill + flow 6, the streaming sessionizer parity drive (round-3 verdict
#6) + flow 7, the compacting dedup ledger drive (round 5) + flow 8, the
kill-mid-CC resume drive over PDFREDACT_CC_WORKDIR (round 6) + flow 9,
a REAL SIGKILL of a separate driver process resumed by a fresh one
(round 6) + flow 10, a concurrent-compactor lease race between two real
driver processes on both storage backends (round 7)).

Run (from a cwd outside /root/repo so the zip, not the checkout, is
imported):
  cd /root/repo && zip -qr /tmp/pdfredact_spark.zip pdfredact_spark
  cd /tmp && spark-submit --master local[8] \
    --py-files /tmp/pdfredact_spark.zip \
    /root/repo/tools/verify_drive.py /tmp/verify_out
Expect the final line: VERIFY-DRIVE-OK
"""
import json
import os
import shutil
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

if len(sys.argv) != 2:
    print("usage: verify_drive.py <scratch_out_dir>", file=sys.stderr)
    sys.exit(2)
out_root = sys.argv[1]
# the scratch dir is recursively DELETED below: refuse an argument that
# points at an existing non-scratch directory (round-5 review — a typo'd
# data path would be rmtree'd before any validation)
if os.path.isdir(out_root) and not os.path.isfile(
    os.path.join(out_root, ".verify-drive-scratch")
):
    print(f"refusing to delete existing non-scratch dir {out_root}",
          file=sys.stderr)
    sys.exit(2)
shutil.rmtree(out_root, ignore_errors=True)
os.makedirs(out_root)
open(os.path.join(out_root, ".verify-drive-scratch"), "w").close()

spark = (
    SparkSession.builder.appName("verify-drive")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from pdfredact_spark.checkpoint import run_resumable
from pdfredact_spark.fixtures import SSN_RULE, corpus, demo_doc
from pdfredact_spark.pipeline import docs_to_df

# ---- flow 1+3: redaction correctness + error routing -----------------
docs = corpus(24)
docs.append(demo_doc("rot-doc", rotation_page1=90))
df = docs_to_df(spark, docs)
out1 = os.path.join(out_root, "run1")
# the clean output (data/ also holds the quarantined rows, for read_errors)
res = run_resumable(spark, df, out1, [SSN_RULE], n_buckets=4, buckets_per_batch=2)
n_docs = res.select("doc_id").distinct().count()
masked = res.select(
    "doc_id", F.explode("spans").alias("s")
).where(F.col("s.kind") == "mask")
n_masks = masked.count()
sample = masked.limit(3).collect()
print("FLOW1 docs:", n_docs, "masks:", n_masks)
for r in sample:
    print("  mask media_ref:", r["s"]["media_ref"])
assert n_docs == 24, n_docs  # rot-doc routed to errors, not data
assert n_masks > 0
err_listed = []
for f in sorted(os.listdir(out1 + "/_commits")):
    with open(os.path.join(out1, "_commits", f)) as fh:
        err_listed += [e["doc_id"] for e in json.load(fh).get("errors", [])]
print("FLOW3 errors:", err_listed)
assert err_listed == ["rot-doc"], err_listed

# ---- flow 2: kill after 1 batch, resume -------------------------------
from pdfredact_spark.checkpoint import KillSwitch

out2 = os.path.join(out_root, "run2")
try:
    run_resumable(spark, df, out2, [SSN_RULE], n_buckets=4,
                  buckets_per_batch=2, kill_after_batches=1)
    raise AssertionError("kill switch did not fire")
except KillSwitch as e:
    print("FLOW2 killed as requested:", e)
first_manifest = os.path.join(out2, "_commits", "batch-0.json")
mtime1 = os.path.getmtime(first_manifest)
# the in-flight batch 1 may have written its files before the kill; the
# reads serve the committed batch 0 only
from pdfredact_spark.checkpoint import committed_batches, read_errors, read_metrics

assert committed_batches(out2) == {0}, committed_batches(out2)
m_batches = {r["batch"] for r in read_metrics(spark, out2).collect()}
with open(first_manifest) as fh:
    committed_errs = sorted((e["doc_id"], e["error"]) for e in json.load(fh)["errors"])
errs2 = sorted((r["doc_id"], r["error"]) for r in read_errors(spark, out2).collect())
print("FLOW2 reads after kill: metrics batches", sorted(m_batches), "errors",
      [d for d, _e in errs2], "batch 1 files on disk:",
      os.path.isdir(os.path.join(out2, "metrics", "batch=1")))
assert m_batches == {0}, m_batches
assert errs2 == committed_errs, (errs2, committed_errs)
res2 = run_resumable(spark, df, out2, [SSN_RULE], n_buckets=4, buckets_per_batch=2)
assert os.path.getmtime(first_manifest) == mtime1, "resume rewrote batch 0"
n2 = res2.select("doc_id").distinct().count()
print("FLOW2 resumed docs:", n2)
assert n2 == 24, n2

# ---- flow 4: idempotent rerun on fully-committed dir ------------------
mtimes = {
    f: os.path.getmtime(os.path.join(out2, "_commits", f))
    for f in os.listdir(out2 + "/_commits")
}
run_resumable(spark, df, out2, [SSN_RULE], n_buckets=4, buckets_per_batch=2)
for f, m in mtimes.items():
    assert os.path.getmtime(os.path.join(out2, "_commits", f)) == m, f
print("FLOW4 idempotent rerun: manifests untouched")

# ---- flow 6 (verdict r3 #6): streaming sessionizer vs batch twin ------
# Misaligned-timestamp corpus: event times NOT aligned to any bin, split
# across two ingestion waves so an open session spans the wave boundary.
import datetime as dt

from pdfredact_spark.queries import q_gap_sessionize
from pdfredact_spark.streaming import sessionize_stream

base = dt.datetime(2024, 3, 1, 7, 13, 29)  # deliberately odd anchor
rows = []
eid = 0
for u in range(6):
    t = base + dt.timedelta(seconds=u * 977)
    for s in range(3):  # 3 sessions per user
        for e in range(4):
            rows.append((eid, t, u))
            eid += 1
            t += dt.timedelta(seconds=313 + 7 * ((eid + u) % 5))  # < gap
        t += dt.timedelta(seconds=1800 + 61 + (u * 13) % 97)  # > gap
sess_in = os.path.join(out_root, "sess_in")
# wave 1 = first 60% of events, wave 2 = rest (sessions straddle waves)
cut = int(len(rows) * 0.6)
schema = "event_id long, ts timestamp_ntz, user_id long"
spark.createDataFrame(rows[:cut], schema).coalesce(1).write.mode(
    "overwrite"
).parquet(os.path.join(sess_in, "w1.parquet"))
sess_out = os.path.join(out_root, "sess_out")
sessionize_stream(spark, sess_in + "/*", sess_out, gap_sec=1800.0)
spark.createDataFrame(rows[cut:], schema).coalesce(1).write.mode(
    "overwrite"
).parquet(os.path.join(sess_in, "w2.parquet"))
sessionize_stream(spark, sess_in + "/*", sess_out, gap_sec=1800.0)

stream_sessions = (
    spark.read.parquet(sess_out + "/sessions")
    .select("user_id", "session_start", "n_events")
    .collect()
)
got = sorted((r["user_id"], r["session_start"], r["n_events"]) for r in stream_sessions)

# batch twin: q_gap_sessionize over the same events table shape
ev_dir = os.path.join(out_root, "sess_batch")
spark.createDataFrame(rows, schema).withColumn(
    "ts", F.col("ts").cast("timestamp")
).write.mode("overwrite").parquet(os.path.join(ev_dir, "events.parquet"))
batch = q_gap_sessionize(spark, ev_dir).collect()
# stream emits only CLOSED sessions (last session per user stays open in
# state); batch sees all 3 per user -> compare the closed prefix
batch_by_user = {}
for r in sorted(batch, key=lambda r: (r["user_id"], r["session_id"])):
    batch_by_user.setdefault(r["user_id"], []).append(r["n_events"])
stream_by_user = {}
for u, start, n in got:
    stream_by_user.setdefault(u, []).append((start, n))
assert set(stream_by_user) == set(batch_by_user), (stream_by_user.keys())
for u, closed in stream_by_user.items():
    closed_counts = [n for _, n in sorted(closed)]
    assert closed_counts == batch_by_user[u][: len(closed_counts)], (
        u, closed_counts, batch_by_user[u])
    assert len(closed_counts) == len(batch_by_user[u]) - 1  # last stays open
# completeness: emitted + open_sessions() == the batch twin exactly
from pdfredact_spark.streaming import open_sessions

open_by_user = {
    r["user_id"]: r["n_events"] for r in open_sessions(spark, sess_out).collect()
}
for u, counts in batch_by_user.items():
    closed_counts = [n for _, n in sorted(stream_by_user[u])]
    assert closed_counts + [open_by_user[u]] == counts, (u, counts)
print("FLOW6 sessionizer: closed+open sessions == batch twin for",
      len(stream_by_user), "users")

# ---- flow 7 (round 5): compacting dedup ledger at the submit surface --
# Three ingestion waves with cross-wave duplicates, compacting after
# every wave: output must be exactly the first occurrence of each text,
# the compacted generation must advance with deltas absorbed, and the
# last wave's anti-join must have read a PRUNED compacted slice (no
# full scan) — the library-level soak's claims, demonstrated at the
# north rule's spark-submit run mode.
from pdfredact_spark.streaming import _read_ledger_meta, dedup_stream

dd_in = os.path.join(out_root, "dd_in")
dd_out = os.path.join(out_root, "dd_out")
dd_schema = "doc_id long, text string, lang string, source string, n_chars long"
dd_waves = [
    [(1, "w0-a"), (2, "w0-b"), (3, "w0-a")],
    [(4, "w0-b"), (5, "w1-c"), (6, "w1-d")],
    [(7, "w1-c"), (8, "w2-e"), (9, "w0-a")],
]
dd_metrics: list = []
for wv in dd_waves:
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in wv], dd_schema
    ).coalesce(1).write.mode("append").parquet(dd_in)
    wave_m: list = []
    # system-under-test call OUTSIDE the assert: with PYTHONOPTIMIZE the
    # assert is stripped and flow 7 would silently never run
    n_dd = dedup_stream(spark, dd_in, dd_out, compact_every=1,
                        target_rows_per_prefix=4, metrics=wave_m,
                        lease_ttl_sec=600)  # round-7: leased at the surface
    assert n_dd >= 1
    dd_metrics.append(wave_m)
dd_got = {r["text"]: r["doc_id"]
          for r in spark.read.parquet(dd_out + "/data").collect()}
assert dd_got == {"w0-a": 1, "w0-b": 2, "w1-c": 5, "w1-d": 6, "w2-e": 8}, dd_got
dd_meta = _read_ledger_meta(dd_out)
assert dd_meta is not None and dd_meta["gen"] >= 1 and dd_meta["n_rows"] == 5
last_wave = [m for m in dd_metrics[-1] if "compacted_full_scan" in m]
assert last_wave and not any(m["compacted_full_scan"] for m in last_wave)
assert all(m["compacted_prefixes_read"] >= 1 for m in last_wave)
print("FLOW7 dedup ledger: first-occurrence set exact, gen",
      dd_meta["gen"], "pruned reads", [m["compacted_prefixes_read"] for m in last_wave])

# ---- flow 8 (round 6): kill mid-CC, resume from a materialized round --
# The graded CC queries route their rounds through PDFREDACT_CC_WORKDIR
# (commit-log-adjacent, durable). Drive the same machinery at the
# spark-submit surface: a long chain (multiple star rounds), killed
# after 2 rounds, must leave a _SUCCESS-marked round on disk; the rerun
# must fast-forward from it (fewer rounds than a fresh run) and return
# exact labels; and a DIFFERENT edge set reusing the dir must be
# answered fresh (reuse-or-clean), never with stale components.
from pdfredact_spark.queries import _cc_work_dir, _connected_components

os.environ["PDFREDACT_CC_WORKDIR"] = os.path.join(out_root, "cc_work")
# The durable work_dir is leased (round-7 cont.); the KillSwitch below
# models SIGKILL and leaves the lease to EXPIRE, so the resume's
# blocking acquire waits out the ttl — keep it drive-sized.
os.environ["PDFREDACT_CC_LEASE_TTL"] = "5"
wd = _cc_work_dir("drive_cc")
assert wd is not None and wd.startswith(out_root)
cc_edges = spark.createDataFrame(
    [(i, i + 1) for i in range(300)], "src long, dst long"
)
try:
    _connected_components(cc_edges, work_dir=wd, _kill_after_rounds=2).collect()
    raise AssertionError("CC kill switch did not fire")
except KillSwitch as e:
    print("FLOW8 killed as requested:", e)
rounds_on_disk = [d for d in os.listdir(wd) if d.startswith("e_")]
assert rounds_on_disk, "no materialized round survived the kill"
resumed_rounds: list = []
labels = {
    (r["node"], r["label"])
    for r in _connected_components(
        cc_edges, work_dir=wd, _rounds=resumed_rounds
    ).collect()
}
assert labels == {(i, 0) for i in range(301)}
fresh_rounds: list = []
_connected_components(cc_edges, _rounds=fresh_rounds).collect()
assert len(resumed_rounds) < len(fresh_rounds), (resumed_rounds, fresh_rounds)
# reuse-or-clean: same dir, different edges -> fresh exact answer
other = spark.createDataFrame([(900, 901)], "src long, dst long")
lbl2 = {
    (r["node"], r["label"])
    for r in _connected_components(
        other, work_dir=wd, on_mismatch="clean"
    ).collect()
}
assert lbl2 == {(900, 900), (901, 900)}, lbl2
print("FLOW8 CC kill/resume: resumed in", len(resumed_rounds),
      "round(s) vs", len(fresh_rounds), "fresh; reuse-or-clean exact")

# ---- flow 9 (round 6): REAL SIGKILL of a separate driver, resume -----
# Flow 2 kills via an in-process exception (finally blocks still run).
# The strongest form of the north rule's resumability claim is a driver
# process killed dead mid-run — no cleanup code executes, the JVM dies
# with it — and a fresh process completing the job from the committed
# manifests without rewriting them.
import signal
import subprocess
import time as _time

import pdfredact_spark as _pkg

_pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(_pkg.__file__)))
_child_code = r"""
import sys
from pdfredact_spark.checkpoint import run_resumable
from pdfredact_spark.fixtures import SSN_RULE, corpus
from pdfredact_spark.pipeline import docs_to_df
from pdfredact_spark.session import get_spark

spark = get_spark(master="local[4]", app_name="kill-child", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
run_resumable(spark, docs_to_df(spark, corpus(48)), sys.argv[1], [SSN_RULE],
              n_buckets=16, buckets_per_batch=2)
print("CHILD-DONE", flush=True)
"""
out9 = os.path.join(out_root, "run9")
# Strip the parent gateway's env: a pyspark child inheriting
# PYSPARK_GATEWAY_PORT/SECRET attaches to THIS driver's JVM instead of
# launching its own (and dies on the handshake) — the child must be a
# fully independent driver for the SIGKILL to mean anything.
env9 = {k: v for k, v in os.environ.items()
        if not k.startswith("PYSPARK_GATEWAY")}
env9["PYTHONPATH"] = _pkg_root + os.pathsep + env9.get("PYTHONPATH", "")
child_log = open(os.path.join(out_root, "flow9-child.log"), "w")
# own session/process group: the kill must take the child's JVM (a
# grandchild) down WITH it — otherwise the orphan JVM's in-flight
# uncommitted batch write races the resume's writes to the same tree
# (round-6 review #2.2), and killing the whole driver process tree is
# also the realistic crash shape
child = subprocess.Popen(
    [sys.executable, "-c", _child_code, out9],
    env=env9, stdout=child_log, stderr=subprocess.STDOUT,
    start_new_session=True,
)
commits9 = os.path.join(out9, "_commits")
deadline = _time.time() + 240
def _flow9_fail(msg):
    child_log.flush()
    with open(child_log.name) as fh:
        tail = fh.read()[-2000:]
    raise AssertionError(f"{msg}; child log tail:\n{tail}")

while _time.time() < deadline:
    if child.poll() is not None:
        _flow9_fail(
            f"flow 9 child exited (rc={child.returncode}) before the kill landed"
        )
    if os.path.isdir(commits9) and any(
        f.startswith("batch-") and f.endswith(".json")
        for f in os.listdir(commits9)
    ):
        break
    _time.sleep(0.2)
else:
    os.killpg(os.getpgid(child.pid), signal.SIGKILL)
    _flow9_fail("flow 9 child never committed a manifest")
os.killpg(os.getpgid(child.pid), signal.SIGKILL)  # driver + its JVM, dead
child.wait()
pre_kill = {
    f: os.path.getmtime(os.path.join(commits9, f))
    for f in os.listdir(commits9)
    if f.startswith("batch-") and f.endswith(".json")
}
print("FLOW9 SIGKILLed child after", len(pre_kill), "committed manifest(s)")
from pdfredact_spark.checkpoint import run_resumable

res9 = run_resumable(spark, docs_to_df(spark, corpus(48)), out9, [SSN_RULE],
                     n_buckets=16, buckets_per_batch=2)
for f, m in pre_kill.items():
    assert os.path.getmtime(os.path.join(commits9, f)) == m, (
        f"resume rewrote pre-kill manifest {f}")
n9 = res9.select("doc_id").distinct().count()
assert n9 == 48, n9
print("FLOW9 resumed to", n9, "docs; pre-kill manifests untouched")

# ---- flow 10 (round 7): concurrent-compactor race, both backends ------
# Two REAL driver processes race to compact the same ledger under the
# storage-level lease. Driver A acquires and PARKS on the lease
# (_hold_lease_sec) before folding; the parent waits for the lease key
# to exist, then launches driver B — so B is guaranteed to meet a live
# foreign holder (or, at worst under extreme scheduling delay, the
# already-folded ledger). Exactly ONE fold must happen (meta gen 0,
# compacted_by == A's owner), B must no-op, and the ledger content must
# be intact. The storage-level atomicity (flock-serialized POSIX
# claim, cross-process conditional-PUT CAS) is pinned by unit tests
# and the multi-process stress harness (tools/lease_stress.py); this flow proves the PROTOCOL across process boundaries at the
# north rule's spark-submit run mode, on both storage backends.
from pdfredact_spark.catalog import LOCAL_LEDGER_STORAGE, ObjectStoreLedgerStorage

_compactor_code = r"""
import json, sys
from pdfredact_spark.catalog import LOCAL_LEDGER_STORAGE, ObjectStoreLedgerStorage
from pdfredact_spark.session import get_spark
from pdfredact_spark.streaming import _read_ledger_meta, compact_ledger

out_dir, backend, owner, hold = sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4])
st = LOCAL_LEDGER_STORAGE if backend == "posix" else ObjectStoreLedgerStorage()
spark = get_spark(master="local[2]", app_name=f"compactor-{owner}",
                  shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
ret = compact_ledger(spark, out_dir, target_rows_per_prefix=4, storage=st,
                     lease_ttl_sec=600, lease_owner=owner,
                     _hold_lease_sec=hold)
final = _read_ledger_meta(out_dir, st)
print("COMPACTOR-RESULT " + json.dumps({
    "owner": owner,
    "ret": ret,
    "i_folded": bool(final) and final.get("compacted_by") == owner,
}), flush=True)
spark.stop()
"""

# Shared scaffolding for the cross-process lease flows (10 and 11) —
# one copy so a future flow cannot drift from the established pattern
# (round-7 review: the first flow-11 cut had already dropped flow 10's
# post-loop lease assert).
def _spawn_driver(code: str, args: list, log_path: str) -> "subprocess.Popen":
    return subprocess.Popen(
        [sys.executable, "-c", code, *[str(a) for a in args]],
        env=env9, stdout=open(log_path, "w"), stderr=subprocess.STDOUT,
        start_new_session=True,
    )


def _wait_for_lease(child, lease_path: str, label: str) -> float:
    """Block until the child actually HOLDS the lease (the lease key
    exists on disk for both backends — the object store's keys are
    files here). Returns the observation time."""
    deadline = _time.time() + 240
    while _time.time() < deadline and not os.path.isfile(lease_path):
        if child.poll() is not None:
            raise AssertionError(
                f"{label}: driver exited rc={child.returncode} "
                f"before acquiring the lease")
        _time.sleep(0.2)
    assert os.path.isfile(lease_path), f"{label}: lease never appeared"
    return _time.time()


def _driver_result(child, log_path: str, prefix: str, label: str) -> dict:
    rc = child.wait(timeout=300)
    with open(log_path) as fh:
        body = fh.read()
    assert rc == 0, f"{label} rc={rc}:\n{body[-2000:]}"
    lines = [l for l in body.splitlines() if l.startswith(prefix)]
    assert lines, f"{label} printed no result:\n{body[-2000:]}"
    return json.loads(lines[-1][len(prefix):])


for backend in ("posix", "objectstore"):
    st10 = LOCAL_LEDGER_STORAGE if backend == "posix" else ObjectStoreLedgerStorage()
    in10 = os.path.join(out_root, f"dd10_in_{backend}")
    dd10 = os.path.join(out_root, f"dd10_{backend}")
    for wv in ([(1, "r7-a"), (2, "r7-b")], [(3, "r7-b"), (4, "r7-c")]):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in wv], dd_schema
        ).coalesce(1).write.mode("append").parquet(in10)
        dedup_stream(spark, in10, dd10, storage=st10)  # deltas only, no compact
    assert _read_ledger_meta(dd10, st10) is None
    lease10 = os.path.join(dd10, "compaction.lease")

    def _compactor(owner: str, hold: float) -> "subprocess.Popen":
        return _spawn_driver(
            _compactor_code, [dd10, backend, owner, hold],
            os.path.join(out_root, f"flow10-{backend}-{owner}.log"),
        )

    child_a = _compactor("racer-A", 30.0)
    _wait_for_lease(child_a, lease10, f"flow 10 ({backend}) racer-A")
    child_b = _compactor("racer-B", 0.0)
    reports = {
        name: _driver_result(
            ch, os.path.join(out_root, f"flow10-{backend}-{name}.log"),
            "COMPACTOR-RESULT ", f"flow 10 ({backend}) {name}",
        )
        for ch, name in ((child_b, "racer-B"), (child_a, "racer-A"))
    }
    assert reports["racer-A"]["i_folded"], reports
    assert not reports["racer-B"]["i_folded"], reports
    meta10 = _read_ledger_meta(dd10, st10)
    assert meta10 is not None and meta10["gen"] == 0, meta10  # exactly one fold
    assert meta10["compacted_by"] == "racer-A", meta10
    assert meta10["n_rows"] == 3, meta10
    # ledger intact after the race: fps match data, deltas absorbed
    got10 = {r["text"]: r["doc_id"]
             for r in spark.read.parquet(dd10 + "/data").collect()}
    assert got10 == {"r7-a": 1, "r7-b": 2, "r7-c": 4}, got10
    assert not [
        d for d in st10.list_dirs(os.path.join(dd10, "ledger", "batch=*"))
        if st10.has_parquet(d)
    ], "deltas not absorbed"
    # B met a live holder (blocked: ret is the pre-fold meta, None here)
    # unless extreme scheduling pushed it past A's fold — report which
    b_path = "blocked-during-hold" if reports["racer-B"]["ret"] is None \
        else "post-fold-no-op"
    print(f"FLOW10 [{backend}] lease race: one winner (racer-A), "
          f"racer-B {b_path}, ledger intact")

# ---- flow 11 (round 7 cont.): writer-vs-compactor across REAL drivers --
# Flow 10 races two compactors; this flow races the OTHER pair the
# round-7 lease claims cover: a live dedup_stream WRITER (micro-batch
# holding the out_dir lease across its ledger read + delta write) vs a
# foreign compactor process, both directions:
#   (a) writer holds (parked via _hold_writer_lease_sec) -> the foreign
#       compactor meets the live lease and no-ops (nothing folded, the
#       writer's delta lands intact after the compactor already left);
#   (b) a foreign compactor parks on the lease -> the writer's batch
#       BLOCKS (blocking acquire) and only drains after the release —
#       proven by wall-clock: the writer cannot finish before the
#       parked hold ends.
_writer_code = r"""
import json, sys
from pdfredact_spark.catalog import LOCAL_LEDGER_STORAGE, ObjectStoreLedgerStorage
from pdfredact_spark.session import get_spark
from pdfredact_spark.streaming import dedup_stream

in_dir, out_dir, backend, hold = (
    sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4]))
st = LOCAL_LEDGER_STORAGE if backend == "posix" else ObjectStoreLedgerStorage()
spark = get_spark(master="local[2]", app_name="leased-writer",
                  shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
n = dedup_stream(spark, in_dir, out_dir, storage=st, lease_ttl_sec=600,
                 lease_wait_sec=240, _hold_writer_lease_sec=hold)
rows = {r["text"]: r["doc_id"]
        for r in spark.read.parquet(out_dir + "/data").collect()}
print("WRITER-RESULT " + json.dumps({"n_batches": n, "rows": rows}),
      flush=True)
spark.stop()
"""

for backend in ("posix", "objectstore"):
    st11 = LOCAL_LEDGER_STORAGE if backend == "posix" else ObjectStoreLedgerStorage()
    # -- (a) parked writer excludes a foreign compactor ------------------
    in11 = os.path.join(out_root, f"dd11_in_{backend}")
    dd11 = os.path.join(out_root, f"dd11_{backend}")
    spark.createDataFrame(
        [(1, "w-a", "en", "s", 3), (2, "w-a", "en", "s", 3),
         (3, "w-b", "en", "s", 3)], dd_schema
    ).coalesce(1).write.mode("append").parquet(in11)
    lease11 = os.path.join(dd11, "compaction.lease")

    wlog_path = os.path.join(out_root, f"flow11-{backend}-writer.log")
    child_w = _spawn_driver(_writer_code, [in11, dd11, backend, 30.0],
                            wlog_path)
    _wait_for_lease(child_w, lease11, f"flow 11a ({backend}) writer")
    clog_path = os.path.join(out_root, f"flow11-{backend}-compactor.log")
    child_c = _spawn_driver(
        _compactor_code, [dd11, backend, "foreign-compactor", 0.0], clog_path)
    crep = _driver_result(child_c, clog_path, "COMPACTOR-RESULT ",
                          f"flow 11a ({backend}) compactor")
    wrep = _driver_result(child_w, wlog_path, "WRITER-RESULT ",
                          f"flow 11a ({backend}) writer")
    assert wrep["rows"] == {"w-a": 1, "w-b": 3}, wrep  # drain exact post-race
    if not crep["i_folded"]:
        # the normal path: the compactor met the live WRITER hold,
        # no-op'd, and the writer's delta survived it
        assert crep["ret"] is None, crep
        assert [d for d in st11.list_dirs(os.path.join(dd11, "ledger", "batch=*"))
                if st11.has_parquet(d)], "writer delta missing"
        c_path = "blocked-during-writer-batch"
    else:
        # extreme scheduling (flow-10 precedent): the compactor's JVM
        # start outlasted the writer's 30s hold and it folded the
        # already-released delta — a legal ordering, not an exclusion
        # failure; the drain-exactness assert above still graded the race
        c_path = "post-release-fold"
    print(f"FLOW11a [{backend}] parked writer vs real foreign compactor: "
          f"compactor {c_path}; drain exact")

    # -- (b) parked foreign compactor blocks the writer's batch ----------
    in11b = os.path.join(out_root, f"dd11b_in_{backend}")
    dd11b = os.path.join(out_root, f"dd11b_{backend}")
    for wv in ([(1, "x-a")], [(2, "x-a"), (3, "x-b")]):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in wv], dd_schema
        ).coalesce(1).write.mode("append").parquet(in11b)
    dedup_stream(spark, in11b, dd11b, storage=st11)  # seed deltas, no lease
    lease11b = os.path.join(dd11b, "compaction.lease")
    HOLD_B = 35.0
    child_a = _spawn_driver(
        _compactor_code, [dd11b, backend, "parked-compactor", HOLD_B],
        os.path.join(out_root, f"flow11b-{backend}-comp.log"),
    )
    # helper asserts the lease actually appeared (round-7 review: the
    # first cut fell through silently and failed later on a misleading
    # wall-clock message); compactor holds from (at latest) here
    t_held = _wait_for_lease(child_a, lease11b,
                             f"flow 11b ({backend}) parked compactor")
    spark.createDataFrame(
        [(4, "x-b", "en", "s", 3), (5, "x-c", "en", "s", 3)], dd_schema
    ).coalesce(1).write.mode("append").parquet(in11b)
    wlog2_path = os.path.join(out_root, f"flow11b-{backend}-writer.log")
    child_w2 = _spawn_driver(_writer_code, [in11b, dd11b, backend, 0.0],
                             wlog2_path)
    wrep2 = _driver_result(child_w2, wlog2_path, "WRITER-RESULT ",
                           f"flow 11b ({backend}) writer")
    t_done = _time.time()
    # the writer CANNOT have finished before the parked hold ended: its
    # batch's blocking acquire had to wait out the live foreign lease
    assert t_done - t_held >= HOLD_B - 1.0, (
        f"flow 11b ({backend}): writer finished {t_done - t_held:.1f}s after "
        f"the hold began — it cannot have blocked on the {HOLD_B}s hold")
    assert child_a.wait(timeout=120) == 0
    # post-release drain is exact: dup of the folded ledger not re-emitted
    assert wrep2["rows"] == {"x-a": 1, "x-b": 3, "x-c": 5}, wrep2
    meta11b = _read_ledger_meta(dd11b, st11)
    assert meta11b is not None and meta11b["compacted_by"] == "parked-compactor"
    print(f"FLOW11b [{backend}] writer batch blocked on a parked real "
          f"compactor ({t_done - t_held:.0f}s >= {HOLD_B:.0f}s), then "
          f"drained exact")

# ------------------------------------------------------------------ flow 12
# Batch run-lease (round-7 cont.): two REAL drivers race run_resumable on
# one out_dir, per backend. Without the lease this is the silent-loss
# scenario (journal: one driver commits the manifest, the other dies
# mid-overwrite of the same batch dir — resume then skips a half-written
# batch forever). With it: driver A parks before its FIRST commit with
# the lease held; driver B's blocking acquire waits out the hold
# (wall-clock proven), and B's committed_batches read — taken only AFTER
# acquiring — sees A's manifests, so B re-processes NOTHING (every
# manifest carries A's run_id) yet still returns the full corpus.
_runner_code = r"""
import json, sys, time
out_dir, backend, run_id, hold = (
    sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4]))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .appName("flow12-" + run_id).getOrCreate())
from pdfredact_spark.catalog import LedgerStorage, ObjectStoreLedgerStorage
from pdfredact_spark.checkpoint import run_resumable
from pdfredact_spark.fixtures import SSN_RULE, corpus
from pdfredact_spark.pipeline import docs_to_df
st = LedgerStorage() if backend == "posix" else ObjectStoreLedgerStorage()
docs = docs_to_df(spark, corpus(40))
out = run_resumable(
    spark, docs, out_dir, [SSN_RULE], run_id=run_id,
    n_buckets=8, buckets_per_batch=4,
    lease_ttl_sec=120.0, storage=st, _hold_before_commit_sec=hold,
)
n = out.select("doc_id").distinct().count()
print("RUNNER-RESULT " + json.dumps({"run_id": run_id, "n_docs": n}))
spark.stop()
"""

for backend in ("posix", "objectstore"):
    out12 = os.path.join(out_root, f"run12_{backend}")
    lease12 = os.path.join(out12, "run.lease")
    HOLD12 = 30.0
    alog12 = os.path.join(out_root, f"flow12-{backend}-A.log")
    child_a12 = _spawn_driver(
        _runner_code, [out12, backend, "run-A", HOLD12], alog12)
    t_held12 = _wait_for_lease(child_a12, lease12,
                               f"flow 12 ({backend}) runner-A")
    blog12 = os.path.join(out_root, f"flow12-{backend}-B.log")
    child_b12 = _spawn_driver(_runner_code, [out12, backend, "run-B", 0.0],
                              blog12)
    brep = _driver_result(child_b12, blog12, "RUNNER-RESULT ",
                          f"flow 12 ({backend}) runner-B")
    t_b_done = _time.time()
    arep = _driver_result(child_a12, alog12, "RUNNER-RESULT ",
                          f"flow 12 ({backend}) runner-A")
    assert arep["n_docs"] == 40 and brep["n_docs"] == 40, (arep, brep)
    # B cannot have finished before A's parked hold ended: its blocking
    # acquire (and post-acquire done-read) had to wait out the live lease
    assert t_b_done - t_held12 >= HOLD12 - 1.0, (
        f"flow 12 ({backend}): runner-B finished {t_b_done - t_held12:.1f}s "
        f"after the hold began — it cannot have blocked on the "
        f"{HOLD12:.0f}s hold")
    cdir12 = os.path.join(out12, "_commits")
    rids = set()
    for name in sorted(os.listdir(cdir12)):
        if name.endswith(".json"):
            with open(os.path.join(cdir12, name)) as fh:
                rids.add(json.load(fh)["run_id"])
    assert rids == {"run-A"}, rids  # the loser re-processed nothing
    print(f"FLOW12 [{backend}] batch run-lease: runner-B blocked "
          f"{t_b_done - t_held12:.0f}s >= {HOLD12:.0f}s behind parked "
          f"runner-A, then no-op'd (all manifests run-A); both drained "
          f"40 docs")

print("VERIFY-DRIVE-OK")
spark.stop()
