"""The three workloads: their ops, set-up and result checks.

Every op is ``fn(ctx, tracer) -> value``. It opens a ``construct`` span
around the call into the package and an ``execute`` span around the
action that consumes the result; ``value`` is what the workload's
``check`` later compares against its reference.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import digest


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def query_op(name: str, where: str):
    """A registered query run into the noop sink; its value is the digest."""

    def fn(ctx, tr):
        from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import QUERIES

        with tr.span("construct", "construct"):
            df = QUERIES[name](ctx.spark, ctx.dirs[where])
        with tr.span("execute", "execute"):
            return digest.noop_digest(df)

    return fn


class Workload:
    name = ""
    clients = 1
    fixture = "base"  # which input set the timed ops read
    inputs: tuple[str, ...] = ("base",)  # input sets made during set-up
    op_names: tuple[str, ...] = ()
    #: Per-layer metrics that read 0 by design on this workload, and why.
    not_applicable: dict[str, str] = {}

    def ops(self):
        return [(n, query_op(n, self.fixture)) for n in self.op_names]

    def prepare(self, ctx) -> None:
        """Set-up after the inputs exist, before the warm-up pass."""

    #: Warm-up threads. Read-only ops warm up concurrently: their first
    #: calls are mostly planning and one-time work (class loading, codegen,
    #: Python worker start, index builds) and overlap well.
    warmup_threads = 4

    def warmup(self, ctx, run_op, ops=None) -> dict:
        """Run every op once; return ``op name -> value``."""
        from concurrent.futures import ThreadPoolExecutor

        ops = ops or self.ops()
        with ThreadPoolExecutor(self.warmup_threads) as pool:
            recs = list(pool.map(lambda op: run_op(*op), ops))
        for rec in recs:
            if rec["error"]:
                raise RuntimeError(f"warm-up {rec['op']}: {rec['error']}")
        return {rec["op"]: rec["value"] for rec in recs}

    def after_op(self, ctx, name: str, rec: dict) -> None:
        """Bookkeeping after an op, outside its timing."""

    def references(self, ctx, recs: list[dict]) -> dict:
        """``op name -> expected value`` for the timed records ``recs``, plus
        ``"<op>@<where>" -> None`` (passed) or a message for extra checks."""
        from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import ORACLES

        oracle = ctx.oracle(self.fixture)
        return {n: oracle.digest(ctx.spark, ORACLES[n]) for n in self.op_names}

    def check(self, refs: dict, rec: dict) -> bool:
        return rec["value"] == refs[rec["op"]]


class EtlJobs(Workload):
    """The reference's job chain with real sinks, one client."""

    name = "etl_jobs"
    not_applicable = {
        "operators.py_*": "no op runs a Python kernel",
    }
    op_names = (
        "structuring_job",
        "outbound_pipeline",
        "deep_prospect_pipeline",
        "nested_document_json",
    )

    def ops(self):
        return [
            ("structuring_job", self._structuring),
            ("outbound_pipeline", self._outbound),
            ("deep_prospect_pipeline", self._written("deep_prospect_pipeline")),
            ("nested_document_json", self._written("nested_document_json")),
        ]

    def _structuring(self, ctx, tr):
        from glue_job_to_write_structured_data_on_s3_full_code_spark import jobs

        date = self.dates[self._turn % len(self.dates)]
        self._turn += 1
        with tr.span("construct", "construct"):
            summary = jobs.structuring_job(
                ctx.spark, ctx.dirs["base"], self.structured, date, table="structured_prospects"
            )
        with tr.span("execute", "execute"):
            row = summary.collect()[0]
        self.last_output = os.path.join(self.structured, f"dataset_date={date}")
        return ("rows", int(row["rows_in_partition"]))

    def _outbound(self, ctx, tr):
        from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.outbound import (
            outbound_pipeline,
        )

        with tr.span("construct", "construct"):
            summary = outbound_pipeline(ctx.spark, ctx.dirs["base"], self.outbound, "bench")
        with tr.span("execute", "execute"):
            r = summary.collect()[0]
        self.last_output = self._bench_partition
        return (
            "reconcile",
            bool(r["reconciled"]),
            int(r["src_count"]),
            int(r["src_minus_tgt"]),
            int(r["tgt_minus_src"]),
        )

    def _written(self, name):
        def fn(ctx, tr):
            from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import QUERIES

            out = os.path.join(ctx.work, "etl", "out", name)
            with tr.span("construct", "construct"):
                df = QUERIES[name](ctx.spark, ctx.dirs["base"])
            with tr.span("execute", "execute"):
                watched, obs = digest.observe(df)
                watched.write.mode("overwrite").parquet(out)
                value = digest.observed(df, obs)
            self.last_output = out
            return value

        return fn

    def prepare(self, ctx) -> None:
        from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.outbound import (
            outbound_pipeline,
        )

        root = os.path.join(ctx.work, "etl")
        self.structured = os.path.join(root, "structured")
        self.outbound = os.path.join(root, "outbound")
        self._bench_partition = os.path.join(self.outbound, "docstore", "job_run_id=bench")
        rng = np.random.default_rng([ctx.seed, 0xE71])
        days = sorted(rng.choice(np.arange(28), 2, replace=False) + 1)
        self.dates = [f"2024-03-{d:02d}" for d in days]
        self._turn = 0
        # The document store starts with a seeded ~90% of the leadids, so
        # each outbound run anti-joins against it and appends the rest.
        full = os.path.join(root, "outbound_full")
        outbound_pipeline(ctx.spark, ctx.dirs["base"], full, "full").collect()
        docs = ctx.spark.read.parquet(os.path.join(full, "docstore")).drop("job_run_id")
        kept = docs.where(F.pmod(F.xxhash64("leadid", F.lit(ctx.seed)), F.lit(10)) != 0)
        kept.withColumn("job_run_id", F.lit("prefill")).write.partitionBy("job_run_id").parquet(
            os.path.join(self.outbound, "docstore")
        )
        self.expected_new = docs.count() - kept.count()
        shutil.rmtree(full)

    #: The jobs share the session's partition-overwrite conf, which
    #: ``overwrite_partition`` toggles; warm them up one at a time.
    warmup_threads = 1

    def warmup(self, ctx, run_op, ops=None) -> dict:
        ops = dict(self.ops())
        for _ in self.dates[1:]:  # every date of the cycle exists before timing
            run_op("structuring_job", ops["structuring_job"])
        return super().warmup(ctx, run_op)

    def after_op(self, ctx, name, rec) -> None:
        if rec.get("traced"):
            rec["final_output_bytes"] = dir_bytes(self.last_output)
        if name == "outbound_pipeline":
            shutil.rmtree(self._bench_partition, ignore_errors=True)
        if name == "structuring_job":
            # Each reference job run starts with a fresh catalog view. In one
            # long session the table's cached file listing goes stale once a
            # later run re-overwrites a partition, and the job's own count
            # then fails with FILE_NOT_EXIST.
            ctx.spark.catalog.refreshTable("structured_prospects")

    def references(self, ctx, recs) -> dict:
        from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import ORACLES

        oracle = ctx.oracle("base")
        refs = {
            n: oracle.digest(ctx.spark, ORACLES[n])
            for n in ("deep_prospect_pipeline", "nested_document_json")
        }
        refs["structuring_job"] = ("rows", oracle.rows(ORACLES["flagship_prospect_pipeline"]))
        refs["outbound_pipeline"] = ("reconcile", True, self.expected_new, 0, 0)
        return refs


class CurationX10(Workload):
    """Corpus curation at ten times the documents and embeddings.

    Eight of the registry's curation queries, chosen so a pass stays near
    a quarter of a minute on four cores: the CPU-heavy n-gram, MinHash and
    embedding operators, the connected-components rounds of entity
    resolution, and the Python kernels (phash, BPE). ``simhash_fingerprint``,
    ``incremental_corpus_dedup`` and ``ngram_contamination_check`` are left
    out: they exercise the same operators as ``minhash_lsh_dedup``,
    ``semantic_dedup`` and ``duplicated_ngram_spans``.
    """

    name = "curation_x10"
    fixture = "x10"
    inputs = ("base", "x10")
    not_applicable = {
        "sources.output_bytes, write_s, catalog_*, write_amp": "read-only: noop sink, no catalog",
    }
    op_names = (
        "minhash_lsh_dedup",
        "semantic_dedup",
        "duplicated_ngram_spans",
        "pretraining_data_pipeline",
        "entity_resolution_pipeline",
        "embedding_cosine_topk",
        "multimodal_phash_dedup",
        "token_count_bpe",
    )
    #: Two x10 oracles are too costly to run in every run: ``semantic_dedup``'s
    #: quadratic self-join runs out of DuckDB temp disk, and
    #: ``multimodal_phash_dedup``'s per-pixel SQL takes about 33 s on four
    #: cores. Both are checked against their oracle on the sf0.1 warm-up
    #: results, and every x10 repetition in a run must give the same digest
    #: as the first. Every other op is checked against its oracle on the
    #: x10 inputs.
    BASE_CHECKED = ("semantic_dedup", "multimodal_phash_dedup")

    def warmup(self, ctx, run_op, ops=None) -> dict:
        # Warm up on the sf0.1 inputs: the timed passes then find every code
        # path loaded and compiled, for a fraction of an x10 pass.
        self.warm = super().warmup(ctx, run_op, [(n, query_op(n, "base")) for n in self.op_names])
        return self.warm

    def references(self, ctx, recs) -> dict:
        from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import ORACLES

        refs = {}
        for n in self.op_names:
            if n in self.BASE_CHECKED:
                refs[n] = next((r["value"] for r in recs if r["op"] == n and r["value"]), None)
                want = ctx.oracle("base").digest(ctx.spark, ORACLES[n])
                got = self.warm[n]
                refs[f"{n}@sf0.1"] = None if got == want else f"{got} != {want}"
            else:
                refs[n] = ctx.oracle("x10").digest(ctx.spark, ORACLES[n])
        return refs


class IndexServing(Workload):
    """Read-only retrieval probes from four client threads on one session.

    Four clients keep query planning in the one session saturated; with
    two, one window held too few requests for a steady tail latency within
    the run budget."""

    name = "index_serving"
    clients = 4
    not_applicable = {
        "operators.py_*": "no op runs a Python kernel",
        "sources.output_bytes, staged_bytes, write_s, catalog_*, write_amp": (
            "read-only: indexes are built during set-up, probes use the noop sink"
        ),
    }
    op_names = (
        "gen_ivf_probe",
        "gen_ivf_rollback_probe",
        "embedding_ivf_indexed_topk",
        "embedding_ivf_compacted_probe",
        "embedding_cosine_topk",
        "bm25_retrieval",
        "hybrid_retrieval_rrf",
        "rag_retrieval_pipeline",
    )


WORKLOADS = {w.name: w for w in (EtlJobs, CurationX10, IndexServing)}
