"""The two workloads. Each owns its inputs, one timed operation, the
output check for that operation, and the layer probes of its traced run.

An op is one closed-loop job: the next starts when the last one (and its
check) has finished. Checks run outside the timed region.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

import inputs
import layers
from harness import Tracer, job_group, median


def rule_list() -> list:
    """One fixed list; the bulk job uses its first rule, the resumable job
    its first 10 and the kernel sweep its first 1, 10 and 50."""
    from pdfredact_spark.fixtures import MULTI_RULES
    from pdfredact_spark.model import Rule

    return [
        *MULTI_RULES,
        Rule("Email:"),
        Rule("sensitive"),
        Rule("visible."),
        Rule("Page"),
        Rule("4532", fragment_aware=True),
        Rule(r"\d{4}", is_regex=True, fragment_aware=True),
        Rule("CONFIDENTIAL"),
        # 10 more literals that occur in the corpus
        *(Rule(w) for w in ("test", "document.", "contains", "information", "like",
                            "content", "More", "data:", "remain", "text")),
        # 30 that never match
        *(Rule(f"ACCT-{k:05d}") for k in range(15)),
        *(Rule(rf"ZQ{k}\d{{3}}", is_regex=True) for k in range(15)),
    ]


def _span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


class Workload:
    name = ""
    n_rules = 0
    warm_up_ops = 1  # untimed ops first: JVM code generation and JIT settle

    def __init__(self, root: str, work: str, seed: int, tracer: Tracer):
        self.root, self.work, self.seed, self.tracer = root, work, seed, tracer
        self.rules = rule_list()[: self.n_rules]
        self.corpus = os.path.join(work, "corpus")
        self.reset_counters()

    def reset_counters(self) -> None:
        """Start a phase: forget the figures earlier ops left behind."""
        self.run_s: list[float] = []  # whole run_resumable calls of the ops
        self.verify_s: list[float] = []  # checkpoint timings taken by check()
        self.read_back_s: list[float] = []
        self.resumable_runs = 0

    def make_inputs(self) -> dict:
        raise NotImplementedError

    def op(self, spark, k: int, storage) -> float:
        raise NotImplementedError

    def check(self, spark, k: int, storage) -> list[str]:
        raise NotImplementedError

    def trace_layers(self, spark, storage) -> tuple[dict, dict, list[str]]:
        """(per-layer metrics every workload has, metrics of layers only this
        workload's traced run measures, problems found)."""
        raise NotImplementedError


class RedactBulk(Workload):
    """The graded bench's redaction leg: read -> redact -> parquet write,
    one SSN rule, bench-shaped docs with a 20k-span mega doc every 2000."""

    name = "redact_bulk"
    n_rules = 1
    warm_up_ops = 2  # short ops: their times still fall over the first few

    def make_inputs(self) -> dict:
        from pdfredact_spark.kernel import redact_document

        idx = inputs.index_range(self.seed, inputs.BULK_DOCS)
        self.n_docs = len(idx)
        nbytes = inputs.write_docs(self.corpus, [inputs.bulk_doc(i) for i in idx],
                                   inputs.BULK_FILES)
        # content depends only on i mod 7 (mega docs are all alike), so the
        # expected mask total comes from 8 kernel runs
        masks = {}
        for i in list(idx[:7]) + [next(i for i in idx if i % inputs.MEGA_EVERY == 0)]:
            key = "mega" if i % inputs.MEGA_EVERY == 0 else i % 7
            masks[key] = redact_document(f"d{i:09d}", inputs.bulk_doc(i)["spans"], self.rules)[2]
        self.expected_masks = sum(
            masks["mega" if i % inputs.MEGA_EVERY == 0 else i % 7] for i in idx)
        rng = random.Random(self.seed)
        megas = [i for i in idx if i % inputs.MEGA_EVERY == 0]
        sample = rng.sample([i for i in idx if i % inputs.MEGA_EVERY], 6) + [rng.choice(megas)]
        self.expected_sample = {
            f"d{i:09d}": _span_tuples(
                redact_document(f"d{i:09d}", inputs.bulk_doc(i)["spans"], self.rules)[0])
            for i in sample
        }
        self.out = os.path.join(self.work, "out")
        return {"n_docs": self.n_docs, "bytes": nbytes}

    def op(self, spark, k, storage) -> float:
        from pdfredact_spark.pipeline import redact

        df = spark.read.parquet(self.corpus)
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.redact"):
            out, _errors = redact(df, self.rules)
        with self.tracer.span("pipeline.write"):
            out.write.mode("overwrite").parquet(self.out)
        return time.perf_counter() - t0

    def check(self, spark, k, storage) -> list[str]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        out = pq.read_table(self.out, columns=["doc_id", "spans"])
        kinds = pc.list_flatten(out["spans"]).combine_chunks().field("kind")
        masks = pc.sum(pc.equal(kinds, "mask")).as_py() or 0
        problems = []
        if out.num_rows != self.n_docs:
            problems.append(f"{out.num_rows} docs written, expected {self.n_docs}")
        if masks != self.expected_masks:
            problems.append(f"{masks} masks, kernel expects {self.expected_masks}")
        got = out.filter(pc.is_in(out["doc_id"], value_set=pa.array(list(self.expected_sample))))
        got = {r["doc_id"]: _span_tuples(r["spans"]) for r in got.to_pylist()}
        for doc_id, want in self.expected_sample.items():
            if got.get(doc_id) != want:
                problems.append(f"{doc_id}: spans differ from kernel.redact_document")
        return problems

    def trace_layers(self, spark, storage):
        per_layer = layers.pipeline_decomposition(
            spark, self.corpus, self.rules, self.out, self.tracer)
        return per_layer, {}, []


class ResumeRules(Workload):
    """A leased run_resumable (16 buckets in 4 batches) with the 10-rule
    mix over many short docs plus a seeded share of rotation-error docs;
    then a second run over the committed out_dir, read_metrics and
    read_errors. The bucket filter forces the JVM scan."""

    name = "resume_rules"
    n_rules = 10
    N_BUCKETS = 16
    BUCKETS_PER_BATCH = 4

    def make_inputs(self) -> dict:
        from pdfredact_spark.kernel import redact_document

        idx = inputs.index_range(self.seed, inputs.RESUME_DOCS)
        rotated = inputs.rotated_indices(self.seed, idx)
        self.n_docs = len(idx)
        self.n_rotated = len(rotated)
        nbytes = inputs.write_docs(
            self.corpus, [inputs.resume_doc(i, rotated) for i in idx], inputs.RESUME_FILES)
        hits = {i % 7: redact_document(f"d{i:09d}", inputs.resume_doc(i, set())["spans"],
                                       self.rules)[2] for i in idx[:7]}
        self.expected_hits = sum(hits[i % 7] for i in idx if i not in rotated)
        return {"n_docs": self.n_docs, "bytes": nbytes}

    def out_dir(self, k) -> str:
        return os.path.join(self.work, f"resume-{k}")

    def _run(self, spark, out_dir, run_id, storage):
        from pdfredact_spark.checkpoint import run_resumable

        self.resumable_runs += 1
        return run_resumable(
            spark, spark.read.parquet(self.corpus), out_dir, self.rules, run_id=run_id,
            n_buckets=self.N_BUCKETS, buckets_per_batch=self.BUCKETS_PER_BATCH,
            lease_ttl_sec=600.0, storage=storage)

    def op(self, spark, k, storage) -> float:
        for stale in (self.out_dir(k - 1), self.out_dir(k)):  # every run starts fresh
            shutil.rmtree(stale, ignore_errors=True)
        t_wall = time.time()
        t0 = time.perf_counter()
        self.last_out = self.out_dir(k)
        with self.tracer.span("checkpoint.run_resumable"):
            self._run(spark, self.last_out, f"op-{k}", storage)
        elapsed = time.perf_counter() - t0
        self.run_s.append(elapsed)
        # up to the last manifest commit: the manifest's mtime is its write
        manifests = glob.glob(os.path.join(self.out_dir(k), "_commits", "batch-*.json"))
        return max(os.path.getmtime(m) for m in manifests) - t_wall if manifests else elapsed

    def check(self, spark, k, storage) -> list[str]:
        from pdfredact_spark.checkpoint import committed_batches, read_errors, read_metrics

        out_dir = self.out_dir(k)
        problems = []
        n_batches = -(-self.N_BUCKETS // self.BUCKETS_PER_BATCH)
        if committed_batches(out_dir) != set(range(n_batches)):
            problems.append(f"committed batches {sorted(committed_batches(out_dir))}")
        manifests = sorted(glob.glob(os.path.join(out_dir, "_commits", "batch-*.json")))
        stamps = [os.path.getmtime(m) for m in manifests]
        with self.tracer.span("checkpoint.verify"):
            t0 = time.perf_counter()
            full = self._run(spark, out_dir, f"verify-{k}", storage)
            self.verify_s.append(time.perf_counter() - t0)
        if [os.path.getmtime(m) for m in manifests] != stamps:
            problems.append("rerun over a committed out_dir rewrote manifests")
        with self.tracer.span("checkpoint.read_back"):
            t0 = time.perf_counter()
            clean = full.count()
            quarantined = read_errors(spark, out_dir).count()
            m = read_metrics(spark, out_dir).selectExpr(
                "sum(n_docs) AS n_docs", "sum(n_rule_hits) AS hits").first()
            self.read_back_s.append(time.perf_counter() - t0)
        if clean + quarantined != self.n_docs:
            problems.append(f"clean {clean} + quarantined {quarantined} != {self.n_docs} input")
        if quarantined != self.n_rotated:
            problems.append(f"{quarantined} quarantined, {self.n_rotated} rotated docs generated")
        if m["n_docs"] != clean:
            problems.append(f"metrics table n_docs {m['n_docs']} != {clean} clean docs")
        if m["hits"] != self.expected_hits:
            problems.append(f"metrics table hits {m['hits']}, kernel expects {self.expected_hits}")
        return problems

    def trace_layers(self, spark, storage):
        from pdfredact_spark.pipeline import redact_full

        per_layer = layers.pipeline_decomposition(
            spark, self.corpus, self.rules, os.path.join(self.work, "leg-out"), self.tracer)
        with job_group(spark, "probe-redact-only"), self.tracer.span("checkpoint.redact_only"):
            t0 = time.perf_counter()
            redact_full(spark.read.parquet(self.corpus), self.rules).write.mode(
                "overwrite").parquet(os.path.join(self.work, "redact-only"))
            redact_only = time.perf_counter() - t0
        run_s = median(self.run_s)  # the traced ops: warm, as redact_only is
        out_dir = self.last_out
        n_runs = self.resumable_runs
        probe = {
            "checkpoint.run_s": run_s,
            "checkpoint.redact_only_s": redact_only,
            "checkpoint.overhead_s": run_s - redact_only,
            "checkpoint.batches_committed": len(
                glob.glob(os.path.join(out_dir, "_commits", "batch-*.json"))),
            "checkpoint.verify_s": median(self.verify_s),
            "checkpoint.read_back_s": median(self.read_back_s),
            "checkpoint.bytes_written_per_input_byte":
                layers.tree_bytes(out_dir) / layers.tree_bytes(self.corpus),
            "catalog.lease_ops": storage.ops / n_runs,
            "catalog.lease_s": storage.busy_s / n_runs,
            "catalog.lease_failed": storage.failed,
        }
        stream, problems = layers.streaming_probe(spark, self.root, self.work, self.tracer)
        return per_layer, {**probe, **stream}, problems


WORKLOADS = {w.name: w for w in (RedactBulk, ResumeRules)}
