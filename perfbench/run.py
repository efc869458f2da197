"""Repository benchmark: one closed-loop client (this process) driving one
workload of the pdfredact_spark engine at local[2].

    python3 perfbench/run.py --workload redact_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Workloads (see workloads.py):
  redact_bulk   read -> redact -> parquet, the graded bench's redaction leg
  resume_rules  leased run_resumable with a 10-rule mix and quarantined docs

A run sets Spark up twice, each a cold start: a fresh JVM, the
SparkSession on it, then the graded bench's Python-worker warm-up; the
median (the mean of the two) is ``setup_s``. The first set-up's JVM is
shut down before the second starts. A cold set-up costs ~12-15 s on a
shared 4-vCPU host. On the last session untimed warm-up ops first settle
the session (worker imports of the engine, JVM code generation and JIT,
first-use costs of the job): two on redact_bulk, whose short ops keep
getting faster over the first few, one on resume_rules. Then timed ops
run back to back while the next op and its check are expected to end
within ``--seconds`` (at least one), each checked outside its timed
region. ``docs_per_s`` is input docs over the median timed op: at the
committed ``--seconds 10`` three ~2.5 s ops on redact_bulk and one ~7 s
resumable run on resume_rules.
Two task slots, not four: on a shared 4-vCPU host, four Python workers
plus the JVM and this driver outnumber the cores, and op times then
follow the neighbours' load (session medians spread ~20% at local[4],
~6% at local[2], measured interleaved).
``--trace 1`` splits the window: an untraced half on the first
session, then a traced half on the second, with the Spark event log on,
followed by the per-layer probes. It prints the per-layer metrics,
including the tracing overhead (traced minus untraced).

Inputs are generated from ``--seed`` under ``.perfbench/`` in the
repository root, which the run deletes again; a traced run leaves its
spans in ``.perfbench/trace-<workload>-s<seed>.json``. The last stdout
line is one JSON object with keys correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[2]"
SETUPS = 2

# every metric a run prints, with its unit: end-to-end untraced, per-layer
# traced
END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "docs/s"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "fixtures.corpus_write_s": "s",
    "fixtures.corpus_bytes": "bytes",
    "fixtures.n_docs": "count",
    "kernel.redact_us_per_doc.r1": "us",
    "kernel.redact_us_per_doc.r10": "us",
    "kernel.redact_us_per_doc.r50": "us",
    "kernel.redact_ms_per_mega_doc": "ms",
    "kernel.locate_us_per_doc.r1": "us",
    "kernel.hits_per_doc.r1": "count",
    "kernel.hits_per_doc.r10": "count",
    "pipeline.scan_s": "s",
    "pipeline.boundary_s": "s",
    "pipeline.redact_noop_s": "s",
    "pipeline.redact_noop_jvmscan_s": "s",
    "pipeline.write_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.task_p50_s": "s",
    "pipeline.task_max_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.scheduler_delay_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.output_bytes": "bytes",
    "trace.overhead.docs_per_s": "docs/s",
    "trace.overhead.setup_s": "s",
    "host.burn_mops_pre": "Mops/s",
    "host.burn_mops_post": "Mops/s",
    "failed_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def prepare_environment(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and let
    the workers import the engine from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = tmp


def session_conf(work: str) -> dict:
    return {
        # bench.run_redaction's measured-job settings: ~1 split per corpus file
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.sql.files.openCostInBytes": "2m",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def run_loop(wl, spark, seconds: float, storage, group: str, tracer) -> dict:
    """Closed loop: op, check, next op, while the next op and its check are
    expected to end within ``seconds`` (at least one op), after the
    workload's untimed, unchecked warm-up ops. Returns per-op seconds and
    counts."""
    from harness import job_group

    op_s: list[float] = []
    attempted = failed = 0
    problems: list[str] = []
    for w in range(wl.warm_up_ops):
        t0 = time.perf_counter()
        with tracer.span("warm_up", group=group), job_group(spark, f"{group}-warm-up"):
            wl.op(spark, 0, storage)
        log(f"{group} warm-up op {w + 1}: {time.perf_counter() - t0:.2f}s")
    if tracer.enabled:  # the layer figures cover the timed ops only
        storage.reset()
        wl.reset_counters()
    t_end = time.perf_counter() + seconds
    last_s = 0.0  # the last op with its check: the next one is expected to take as long
    while attempted == 0 or time.perf_counter() + last_s <= t_end:
        attempted += 1
        k = attempted
        t_op = time.perf_counter()
        try:
            with tracer.span("op", op=k, group=group):
                with job_group(spark, f"{group}-op-{k}"):
                    dt = wl.op(spark, k, storage)
                op_s.append(dt)
                with job_group(spark, f"{group}-check-{k}"):
                    bad = wl.check(spark, k, storage)
        except Exception as e:  # noqa: BLE001 - an op that raises is a counted failure
            bad = [f"op {k} raised {type(e).__name__}: {str(e)[:300]}"]
            traceback.print_exc(file=sys.stderr)
        if bad:
            failed += 1
            problems.extend(bad)
            log(f"{group} op {k} FAILED: {bad}")
        else:
            log(f"{group} op {k}: {dt:.3f}s (op+check {time.perf_counter() - t_op:.2f}s)")
        last_s = time.perf_counter() - t_op
    return {"op_s": op_s, "attempted": attempted, "failed": failed, "problems": problems}


def docs_per_s(n_docs: int, op_s: list[float]) -> float:
    from harness import median

    return n_docs / median(op_s) if op_s else 0.0


def measure(args, wl, work: str, tracer, sampler) -> dict:
    """Set-ups, the closed loop(s) and, traced, the probes. Untraced, the
    last session runs the loop. Traced, the first runs the untraced half
    and the second, with the event log on, the traced half and the probes."""
    import harness
    import layers
    from pdfredact_spark.catalog import LedgerStorage
    from workloads import rule_list

    conf = session_conf(work)
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    storage = layers.counting_storage() if args.trace else LedgerStorage()
    rec: dict = {"setups": [], "phases": {}, "event_dir": event_dir}
    for s in range(SETUPS):
        last = s == SETUPS - 1
        traced = bool(args.trace) and last
        tracer.enabled = traced
        spark, start_s, warm_s = harness.start_session(
            MASTER, {**conf, **(harness.eventlog_conf(event_dir) if traced else {})},
            tracer, f"s{s}")
        if args.trace:
            sampler.watch(harness.jvm_pid())
        rec["setups"].append({"start_s": start_s, "warm_s": warm_s})
        log(f"setup {s}: start {start_s:.2f}s warm {warm_s:.2f}s")
        if not args.trace and last:
            rec["phases"]["untraced"] = run_loop(wl, spark, args.seconds, storage, "untraced", tracer)
        elif args.trace and s == SETUPS - 2:
            rec["phases"]["untraced"] = run_loop(
                wl, spark, args.seconds / 2, storage, "untraced", tracer)
        elif traced:
            rec["app_id"] = spark.sparkContext.applicationId
            rec["phases"]["traced"] = run_loop(
                wl, spark, args.seconds / 2, storage, "traced", tracer)
            with tracer.span("probes"):
                layer = layers.kernel_sweep(rule_list(), tracer)
                more, probe, problems = wl.trace_layers(spark, storage)
                layer.update(more)
            rec.update(layer=layer, probe=probe, probe_problems=problems)
        if not last:
            harness.shutdown_jvm()  # the next set-up launches a new JVM
    return rec


def layer_metrics(rec: dict, wl, fx: dict, sampler) -> dict:
    import harness

    groups = rec["eventlog"]
    empty = {"jobs": 0, "tasks": []}
    traced, untraced = rec["phases"]["traced"], rec["phases"]["untraced"]
    ops = [groups.get(f"traced-op-{k}", empty) for k in range(1, traced["attempted"] + 1)]
    tasks = harness.task_summary(ops)
    if wl.name == "resume_rules":  # an op there is one fresh run_resumable
        rec["probe"]["checkpoint.spark_jobs"] = tasks["jobs"]
    setup_traced, setup_untraced = rec["setups"][-1], rec["setups"][-2]
    values = {
        "session.start_s": setup_traced["start_s"],
        "session.warm_s": setup_traced["warm_s"],
        "session.peak_rss_mb": sampler.peak_bytes / 2**20,
        "fixtures.corpus_write_s": fx["write_s"],
        "fixtures.corpus_bytes": fx["bytes"],
        "fixtures.n_docs": fx["n_docs"],
        **rec["layer"],
        **{f"pipeline.{k}": tasks[k] for k in (
            "jobs", "tasks", "task_p50_s", "task_max_s", "gc_s", "scheduler_delay_s",
            "shuffle_write_bytes", "output_bytes")},
        "trace.overhead.docs_per_s":
            docs_per_s(wl.n_docs, traced["op_s"]) - docs_per_s(wl.n_docs, untraced["op_s"]),
        "trace.overhead.setup_s": sum(setup_traced.values()) - sum(setup_untraced.values()),
        "host.burn_mops_pre": rec["burn_pre"],
        "host.burn_mops_post": rec["burn_post"],
        "failed_frac": rec["failed"] / rec["attempted"],
    }
    return {k: (values[k], unit) for k, unit in PER_LAYER_UNITS.items()}


def run(args) -> dict:
    import harness
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_environment(work)
    tracer = harness.Tracer(enabled=False)
    burn_pre = harness.burn_mops()
    wl = WORKLOADS[args.workload](ROOT, work, args.seed, tracer)
    sampler = harness.TreeRssSampler()
    try:
        t0 = time.perf_counter()
        fx = wl.make_inputs()
        fx["write_s"] = time.perf_counter() - t0
        log(f"inputs: {fx['n_docs']} docs, {fx['bytes']} bytes in {fx['write_s']:.2f}s")
        rec = measure(args, wl, work, tracer, sampler)
        harness.shutdown_jvm()  # flushes the event log
        if args.trace:
            rec["eventlog"] = harness.read_eventlog(rec["event_dir"], rec["app_id"])
    finally:
        sampler.stop()
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    rec.update(burn_pre=burn_pre, burn_post=harness.burn_mops())
    phases = rec["phases"]
    rec["attempted"] = sum(p["attempted"] for p in phases.values())
    rec["failed"] = sum(p["failed"] for p in phases.values())
    if args.trace:
        rec["attempted"] += 1  # the probes count as one op
        rec["failed"] += bool(rec["probe_problems"])
        metrics = layer_metrics(rec, wl, fx, sampler)
    else:
        values = {
            "setup_s": harness.median([sum(x.values()) for x in rec["setups"]]),
            "docs_per_s": docs_per_s(wl.n_docs, phases["untraced"]["op_s"]),
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END_UNITS.items()}
    info = {
        "workload": args.workload, "seed": args.seed, "master": MASTER,
        "inputs": fx, "setups": rec["setups"], "phases": phases,
        "host.burn_mops_pre": burn_pre, "host.burn_mops_post": rec["burn_post"],
        "probe": rec.get("probe"), "probe_problems": rec.get("probe_problems"),
    }
    if args.trace:
        path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"info": info, "metrics": {k: v for k, (v, _u) in metrics.items()},
                       "spans": tracer.with_self_time()}, fh, indent=1)
        log(f"spans written to {path}")
    print(json.dumps({"info": info}))
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["redact_bulk", "resume_rules"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="corrupt one output and show the check counts it failed")
    args = ap.parse_args(argv)
    for need in ("bench.py", os.path.join("pdfredact_spark", "__init__.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a checkout of the repository")
            return 2
    sys.path[:0] = [ROOT]
    if args.self_test:
        import selftest

        return selftest.main(ROOT)
    if not args.workload:
        ap.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
