"""fx-13 skew probe, performance clause: with the shipped split sizing, a
mega-doc-laced corpus must not leave a dominating straggler task — max
task duration bounded relative to the median (event-log verified).

Runs in a SUBPROCESS: event logging is SparkContext-level configuration,
and getOrCreate inside the shared-session test process would silently
reuse (and then kill) the fixture session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

#: the probes import the package from the checkout this file is in
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import collections, glob, io, json, os, sys
workdir = sys.argv[1]
event_dir = os.path.join(workdir, "events")
os.makedirs(event_dir, exist_ok=True)

from pdfredact_spark.fixtures import SSN_RULE, corpus
from pdfredact_spark.pipeline import docs_to_df, redact
from pdfredact_spark.session import get_spark

spark = get_spark(
    master="local[8]", app_name="skew-probe", shuffle_partitions=16,
    extra={"spark.eventLog.enabled": "true",
           "spark.eventLog.dir": f"file://{event_dir}",
           "spark.eventLog.compress": "false",
           "spark.eventLog.rolling.enabled": "false",
           # the SHIPPED split sizing (bench/CLAUDE.md: ~1s of Python
           # work per task) — the property under test; with the 128m
           # default the whole corpus bin-packs into ~8 tasks and the
           # probe measures a different layout than production
           "spark.sql.files.maxPartitionBytes": "2m",
           "spark.sql.files.openCostInBytes": "2m"},
)
spark.sparkContext.setLogLevel("ERROR")
app_id = spark.sparkContext.applicationId
in_path = os.path.join(workdir, "corpus")
docs_to_df(spark, corpus(4000, mega_every=500)).repartition(64).write.parquet(in_path)
# the bench's own warm-up before its measured job: the corpus write runs
# no Python, so without it the redaction stage's first wave of tasks
# would carry the Python daemon's cold start, which every first-wave
# task pays whatever its data
from bench import _warm_python_workers
_warm_python_workers(spark)
df = spark.read.parquet(in_path)
out, _ = redact(df, [SSN_RULE])
out.write.mode("overwrite").parquet(os.path.join(workdir, "out"))
spark.stop()

by_stage = collections.defaultdict(list)
for f in glob.glob(f"{event_dir}/{app_id}*"):
    for line in open(f):
        e = json.loads(line)
        if e["Event"] == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            by_stage[e["Stage ID"]].append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
# dominant stage by TOTAL task time (round-6 review: by task count the
# probe graded the corpus-PREP write stage — 64 tiny tasks — while the
# redaction stage it documents had fewer, bigger tasks)
stage_id, durs = max(by_stage.items(), key=lambda kv: sum(kv[1]))
durs.sort()
print(json.dumps({"n_tasks": len(durs), "median": durs[len(durs) // 2], "max": durs[-1]}))
"""


def test_mega_corpus_task_balance(tmp_path):
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=_REPO,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    median, worst = stats["median"], stats["max"]
    # The property guarded: a mega doc must not create a runaway straggler
    # (the round-0 regression was 37s vs a 13s median). The mega task's
    # absolute floor is its JVM-side nested-parquet encode (~3s for a
    # 24k-span row on this host, measured; the Python stage is 0.27s), a
    # FIXED cost that doesn't shrink as the median does on a fast machine,
    # so the bound needs an absolute grace above that floor, not only a
    # multiple of the (machine-speed-scaled) median.
    assert worst <= max(4 * median, median + 4.0), stats


# --- round-5 adversarial soaks (round-4 verdict #5): one notch larger ---

_EVENT_TAIL = r"""
spark.stop()
import collections, glob, json
by_stage = collections.defaultdict(list)
for f in glob.glob(f"{event_dir}/{app_id}*"):
    for line in open(f):
        e = json.loads(line)
        if e["Event"] == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            by_stage[e["Stage ID"]].append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
# dominant stage by TOTAL task time, not task count (round-6 review):
# the many-task stage can be trivial setup; the straggler bound must
# grade where the work actually went
stage_id, durs = max(by_stage.items(), key=lambda kv: sum(kv[1]))
durs.sort()
out["straggler"] = {"n_tasks": len(durs), "median": durs[len(durs) // 2], "max": durs[-1]}
print(json.dumps(out))
"""

_HOT_PREFIX_PROBE = r"""
import hashlib, json, os, sys
workdir = sys.argv[1]
event_dir = os.path.join(workdir, "events")
os.makedirs(event_dir, exist_ok=True)
from pdfredact_spark.session import get_spark
from pdfredact_spark.streaming import _read_ledger_meta, dedup_stream

spark = get_spark(
    master="local[8]", app_name="hot-prefix-probe", shuffle_partitions=32,
    extra={"spark.eventLog.enabled": "true",
           "spark.eventLog.dir": f"file://{event_dir}",
           "spark.eventLog.compress": "false",
           "spark.eventLog.rolling.enabled": "false"},
)
spark.sparkContext.setLogLevel("ERROR")
app_id = spark.sparkContext.applicationId

# Mine texts so HALF of all fingerprints share md5 prefix 'a' — the
# hot-prefix ledger skew a content-farm source produces.
hot, cold, i = [], [], 0
while len(hot) < 5000 or len(cold) < 5000:
    t = f"doc body {i}"
    if hashlib.md5(t.encode()).hexdigest()[0] == "a":
        if len(hot) < 5000:
            hot.append(t)
    elif len(cold) < 5000:
        cold.append(t)
    i += 1
schema = "doc_id long, text string, lang string, source string, n_chars long"
in_dir, out_dir = os.path.join(workdir, "docs"), os.path.join(workdir, "dd")

w1 = [(j, t, "en", "s", len(t)) for j, t in enumerate(hot + cold)]
spark.createDataFrame(w1, schema).repartition(8).write.mode("append").parquet(in_dir)
m1 = []
dedup_stream(spark, in_dir, out_dir, compact_every=1,
             target_rows_per_prefix=16, metrics=m1)

# wave 2: small — 32 dups of hot docs, 32 fresh docs. Depth matters:
# at k=2 the 32 hot dups fan across all 16 'xa?' dirs and drag in ~half
# the ledger; at k=3 (target 16) the hot prefix itself splits 256 ways
# and the read is bounded by the batch's fps x ~per-dir rows again.
w2 = [(20000 + j, hot[j], "en", "s", 11) for j in range(32)]
w2 += [(21000 + j, f"fresh {j} xx", "en", "s", 10) for j in range(32)]
spark.createDataFrame(w2, schema).coalesce(1).write.mode("append").parquet(in_dir)
m2 = []
dedup_stream(spark, in_dir, out_dir, compact_every=1,
             target_rows_per_prefix=16, metrics=m2)

meta = _read_ledger_meta(out_dir)
n_out = spark.read.parquet(out_dir + "/data").count()
out = {
    "prefix_len": meta["prefix_len"],
    "ledger_rows": meta["n_rows"],
    "wave2_rows_read": sum(m.get("compacted_rows_read", 0) for m in m2),
    "wave2_full_scan": any(m.get("compacted_full_scan") for m in m2),
    "n_out": n_out,
}
""" + _EVENT_TAIL


def test_hot_prefix_ledger_skew(tmp_path):
    """One md5 prefix holds 50% of all ledger fingerprints (content-farm
    skew). The compacted layout must still (a) dedup correctly, (b) grow
    prefix depth past the 16-way layout, (c) keep a concentrated
    follow-up wave's ledger read a small pruned fraction of the ledger,
    (d) leave no dominating straggler task (event-log verified)."""
    res = subprocess.run(
        [sys.executable, "-c", _HOT_PREFIX_PROBE, str(tmp_path)],
        capture_output=True, text=True, timeout=420, cwd=_REPO,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["n_out"] == 10_032  # 10k wave-1 + 32 fresh, 32 dups dropped
    assert stats["prefix_len"] >= 3, stats
    assert not stats["wave2_full_scan"], stats
    # adaptive depth neutralizes the hot prefix because depth applies
    # WITHIN it too: at k=3 the hot half splits across 256 subdirs
    # (~20 rows each, 1.25x the global target), so a 64-doc wave reads
    # ~batch_fps x per-dir rows, not half the ledger (k=2 measured 53%)
    assert stats["wave2_rows_read"] < 0.2 * stats["ledger_rows"], stats
    st = stats["straggler"]
    assert st["max"] <= max(4 * st["median"], st["median"] + 4.0), st


_CC_STAR_PROBE = r"""
import json, os, sys
workdir = sys.argv[1]
event_dir = os.path.join(workdir, "events")
os.makedirs(event_dir, exist_ok=True)
from pdfredact_spark.session import get_spark
from pdfredact_spark.queries import _connected_components

spark = get_spark(
    master="local[8]", app_name="cc-star-probe", shuffle_partitions=32,
    extra={"spark.eventLog.enabled": "true",
           "spark.eventLog.dir": f"file://{event_dir}",
           "spark.eventLog.compress": "false",
           "spark.eventLog.rolling.enabled": "false"},
)
spark.sparkContext.setLogLevel("ERROR")
app_id = spark.sparkContext.applicationId

# one 10^4-node star (hub 7, spokes get ids above it so the hub is the
# label) + a 2-chain control component
N = 10_000
edges = [(7, 100 + i) for i in range(N)] + [(1, 2)]
df = spark.createDataFrame(edges, "src long, dst long").repartition(32)
rounds = []
labels = _connected_components(
    df, _rounds=rounds, work_dir=os.path.join(workdir, "cc")
)
from pyspark.sql import functions as F
agg = labels.groupBy("label").agg(F.count("*").alias("n")).collect()
sizes = {r["label"]: r["n"] for r in agg}
out = {"rounds": len(rounds), "sizes": {str(k): v for k, v in sizes.items()}}
""" + _EVENT_TAIL


def test_cc_hub_star_no_straggler(tmp_path):
    """A 10^4-spoke hub star is the worst-case grouped-min skew for the
    star-CC rounds (every spoke's min funnels through the hub's key).
    Must converge in O(1) composite rounds with correct labels and no
    dominating straggler task (event-log verified)."""
    res = subprocess.run(
        [sys.executable, "-c", _CC_STAR_PROBE, str(tmp_path)],
        capture_output=True, text=True, timeout=420, cwd=_REPO,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["sizes"] == {"7": 10_001, "1": 2}, stats
    assert stats["rounds"] <= 4, stats
    st = stats["straggler"]
    assert st["max"] <= max(4 * st["median"], st["median"] + 4.0), st
