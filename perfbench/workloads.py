"""The benchmark's workloads, driven through the package's public API.

Each workload generates its inputs from the seed (``prepare``), sets up
(``setup``, repeated and timed by the runner), runs any untimed step the
timed loop must start from (``prime``), then runs one unit of its closed
loop per ``step``. Every output is checked; an op that raises or fails
its check is recorded as failed.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
from stats import median
from tracing import OpStages, StageReader, Tracer


@dataclass
class Env:
    """What a workload needs from the run: the live session, the tracer,
    the stage reader (traced runs only) and a scratch directory."""

    spark: object
    tracer: Tracer
    reader: StageReader | None
    work: str
    cores: int
    traced_ops: int = 0  # numbers each traced op's job group and spans


@dataclass
class Op:
    """One timed call into the program, or a round of them (``parts``)."""

    kind: str
    traced: bool = False
    ok: bool = True
    wall: float = 0.0
    trace_s: float = 0.0  # tracing work around the op: job group, marks, stage reads
    stages: OpStages | None = None
    parts: list[Op] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def add(self, part: Op) -> None:
        self.parts.append(part)
        self.wall += part.wall
        self.trace_s += part.trace_s
        self.ok = self.ok and part.ok
        if part.stages is not None:
            self.stages = part.stages if self.stages is None else _merge(self.stages, part.stages)


def _merge(a: OpStages, b: OpStages) -> OpStages:
    return OpStages(a.jobs + b.jobs, a.stages + b.stages, a.missing + b.missing)


class timed_op:
    """Times the enclosed call. When the op is traced, tags its Spark jobs
    with a job group, records its spans, and reads its stages right after
    it. An exception inside marks the op failed and is not re-raised."""

    def __init__(self, env: Env, op: Op, roles: bool = False):
        self.env, self.op, self.roles = env, op, roles

    def __enter__(self) -> Op:
        env, op = self.env, self.op
        env.tracer.enabled = op.traced
        if op.traced:
            t = time.perf_counter()
            env.traced_ops += 1
            env.tracer.op = env.traced_ops
            env.spark.sparkContext.setJobGroup(f"perfbench-{env.traced_ops}", op.kind)
            self.mark = env.reader.mark()
            op.trace_s += time.perf_counter() - t
        self.t0 = time.perf_counter()
        return op

    def __exit__(self, exc_type, exc, tb) -> bool:
        op = self.op
        op.wall += time.perf_counter() - self.t0
        if op.traced:
            t = time.perf_counter()
            op.stages = self.env.reader.read(self.mark, roles=self.roles)
            self.env.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            op.trace_s += time.perf_counter() - t
        self.env.tracer.enabled = False
        if exc is not None:
            traceback.print_exception(exc_type, exc, tb, file=sys.stderr)
            op.ok = False
        return True


def _traced(ops: list[Op], kinds=None) -> list[Op]:
    """Traced ops, or the traced parts of the given kinds."""
    if kinds is None:
        return [o for o in ops if o.traced and o.stages is not None]
    return [p for o in ops for p in o.parts if p.kind in kinds and p.traced and p.stages is not None]


def _stage_median(ops: list[Op], fn) -> float:
    return median([fn(o.stages) for o in ops])


def engine_metrics(ops: list[Op]) -> dict[str, float]:
    """Spark engine totals per op, median over traced ops. The gap between
    task time and JVM CPU time is time in Python workers or waiting."""
    t = _traced(ops)
    return {
        "spark.task_s": _stage_median(t, lambda s: s.total("task_s")),
        "spark.jvm_cpu_s": _stage_median(t, lambda s: s.total("jvm_cpu_s")),
        "spark.gc_s": _stage_median(t, lambda s: s.total("gc_s")),
        "spark.spill_bytes": _stage_median(t, lambda s: s.total("spill_bytes")),
        "spark.shuffle_read_bytes": _stage_median(t, lambda s: s.total("shuffle_read_bytes")),
    }


# ----------------------------------------------------------------- MR jobs


class MRApps:
    """``read_whole_files`` + ``run_job`` + ``write_text_output``
    (n_reduce=10) with the reference apps ``wc`` (many emits per key) and
    ``indexer`` (few emits per key, sort inside reduce) over a handful of
    whole Zipf text files. Each job's sorted output must equal
    ``run_sequential``'s on the same inputs."""

    APPS = ("wc", "indexer")
    N_FILES = 3
    WORDS_PER_FILE = 6_000
    VOCAB = 300
    N_REDUCE = 10
    LAYER_METRICS = (
        "mr.wc_job_s",
        "mr.indexer_job_s",
        "mr.read_inputs_task_s",
        "mr.map_task_s",
        "mr.reduce_task_s",
        "mr.sink_task_s",
        "mr.reduce_tasks",
        "mr.map_output_records",
        "mr.distinct_keys",
        "mr.emits_per_key",
        "mr.shuffle_write_bytes",
    )

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, work: str) -> None:
        from mapreduce_framework_spark.mr import APPS, run_sequential

        self.paths = gen.zipf_corpus(
            self.seed, os.path.join(work, "mr_in"), self.N_FILES, self.WORDS_PER_FILE, self.VOCAB
        )
        self.warm_paths = gen.zipf_corpus(self.seed + 1, os.path.join(work, "mr_warm"), 2, 200, 50)
        docs = []
        for p in self.paths:
            with open(p, encoding="ascii") as fh:
                docs.append((os.path.basename(p), fh.read()))
        # the reference check: distributed output == mrsequential's
        self.expected = {app: sorted(run_sequential(docs, *APPS[app])) for app in self.APPS}
        self.out = {app: os.path.join(work, f"mr_out_{app}") for app in self.APPS}

    def _job(self, env: Env, app: str, paths: list[str], out: str, observation=None) -> None:
        from mapreduce_framework_spark.mr import APPS, read_whole_files, run_job, write_text_output

        with env.tracer.span("mr.read_whole_files"):
            inputs = read_whole_files(env.spark, paths)
        with env.tracer.span("mr.run_job"):
            result = run_job(inputs, *APPS[app], n_reduce=self.N_REDUCE, observation=observation)
        with env.tracer.span("mr.write_text_output"):
            write_text_output(result, out)

    def warmup(self, env: Env) -> None:
        self._job(env, "wc", self.warm_paths, os.path.join(env.work, "mr_warm_out"))

    def run(self, env: Env, app: str, traced: bool) -> Op:
        from pyspark.sql import Observation

        from mapreduce_framework_spark.mr import read_text_output

        op = Op(app, traced=traced)
        obs = Observation() if traced else None
        with timed_op(env, op, roles=True):
            self._job(env, app, self.paths, self.out[app], obs)
        op.ok = op.ok and read_text_output(self.out[app]) == self.expected[app]
        if traced and op.ok:
            op.extra["map_output_records"] = obs.get["map_output_records"]
        return op

    def layer_metrics(self, rounds: list[Op]) -> dict[str, float]:
        """Per round (one wc job + one indexer job), median over rounds."""

        def per_round(fn) -> float:
            return median(
                [
                    sum(fn(p) for p in r.parts if p.kind in self.APPS)
                    for r in rounds
                    if r.traced and r.stages is not None
                ]
            )

        distinct = sum(len(self.expected[a]) for a in self.APPS)
        emits = per_round(lambda p: p.extra.get("map_output_records", 0))
        m = {
            f"mr.{app}_job_s": median([p.wall for r in rounds for p in r.parts if p.kind == app])
            for app in self.APPS
        }
        m.update(
            {
                "mr.map_output_records": emits,
                "mr.distinct_keys": float(distinct),
                "mr.emits_per_key": emits / distinct,
                "mr.shuffle_write_bytes": per_round(
                    lambda p: p.stages.total("shuffle_write_bytes")
                ),
                # reduce parallelism after AQE, per job
                "mr.reduce_tasks": per_round(
                    lambda p: sum(s.num_tasks for s in p.stages.ran() if s.role == "reduce")
                )
                / len(self.APPS),
            }
        )
        for role in ("read_inputs", "map", "reduce", "sink"):
            m[f"mr.{role}_task_s"] = per_round(lambda p, r=role: p.stages.total("task_s", r))
        return m


# ---------------------------------------------------------- registry queries


def _norm_cell(v):
    """Engine-neutral form of one result cell (Spark and DuckDB surface
    the same number as different Python types)."""
    import datetime as dt
    from decimal import Decimal

    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", "nan" if v != v else v)
    if isinstance(v, (int, Decimal)):
        return ("num", str(Decimal(v).normalize()))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("ts", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("arr", tuple(_norm_cell(x) for x in v))
    return (type(v).__name__, v)


def normalized(rows, columns: list[str]) -> list[tuple]:
    """Rows with columns sorted by name and cells normalised, in a
    canonical row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)


class RegistryQueries:
    """Read-only registered query builders (all-JVM Catalyst plans, no
    writes) on a seeded star schema. Every execution must equal the
    query's first execution, which must equal the registry's DuckDB
    oracle; the oracle is run once per run, outside the timed loop."""

    QUERIES = (
        "q01_wordcount",
        "q12_join_revenue_per_nation",
        "q57_asof_join",
    )
    SF = 0.05
    LAYER_METRICS = (
        "operators.build_s",
        "operators.exec_s",
        "operators.jobs_per_query",
        "catalog.input_bytes",
        "operators.shuffle_write_bytes",
        *(f"query.{q}_s" for q in QUERIES),
    )

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, work: str) -> None:
        from mapreduce_framework_spark.registry import all_queries

        self.sf_dir = os.path.join(work, "tables")
        self.tables = gen.analytics_tables(self.seed, self.sf_dir, self.SF)
        specs = all_queries()
        self.specs = {n: specs[n] for n in self.QUERIES}
        self.first_rows: dict[str, list[tuple]] = {}

    def run(self, env: Env, name: str, traced: bool) -> Op:
        op = Op(name, traced=traced)
        with timed_op(env, op):
            with env.tracer.span("operators.build"):
                df = self.specs[name].builder(env.spark, self.sf_dir)
            with env.tracer.span("operators.exec"):
                rows = df.collect()
        if op.ok:
            got = normalized(rows, df.columns)
            op.ok = self.first_rows.setdefault(name, got) == got
        return op

    def check_oracle(self, rounds: list[Op]) -> None:
        """Check each query's first result against its DuckDB oracle; a
        mismatch fails every execution of that query."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.QUERIES:
                res = con.execute(self.specs[name].oracle)
                want = normalized(res.fetchall(), [d[0] for d in res.description])
                if self.first_rows.get(name) != want:
                    print(f"perfbench: {name} differs from its DuckDB oracle", file=sys.stderr)
                    for r in rounds:
                        for p in r.parts:
                            if p.kind == name:
                                p.ok = r.ok = False
        finally:
            con.close()

    def layer_metrics(self, env: Env, rounds: list[Op]) -> dict[str, float]:
        t = _traced(rounds, self.QUERIES)
        m = {
            "operators.build_s": median(env.tracer.durations("operators.build")),
            "operators.exec_s": median(env.tracer.durations("operators.exec")),
            "operators.jobs_per_query": _stage_median(t, lambda s: s.jobs),
            "catalog.input_bytes": _stage_median(t, lambda s: s.total("input_bytes")),
            "operators.shuffle_write_bytes": _stage_median(
                t, lambda s: s.total("shuffle_write_bytes")
            ),
        }
        for name in self.QUERIES:
            m[f"query.{name}_s"] = median([p.wall for r in rounds for p in r.parts if p.kind == name])
        return m


class BatchMix:
    """Batch traffic: MR jobs through ``mr.runner`` and analytics queries
    through the registry, in one closed loop. One op is one round: a wc
    job, an indexer job and one run of each query, in a seed-shuffled
    order; a round always completes."""

    name = "batch_mix"
    unit = "round: wc job + indexer job + one run of each query"
    LAYER_METRICS = MRApps.LAYER_METRICS + RegistryQueries.LAYER_METRICS

    def __init__(self, seed: int):
        self.mr = MRApps(seed)
        self.queries = RegistryQueries(seed)
        self.rng = random.Random(seed)

    def prepare(self, work: str) -> None:
        self.mr.prepare(work)
        self.queries.prepare(work)

    def setup(self, env: Env) -> None:
        with env.tracer.span("session.warmup"):
            self.mr.warmup(env)

    def prime(self, env: Env) -> None:
        # one round before timing, so the timed rounds run warm (JIT, codegen,
        # Python workers); its query results are the reference every later
        # execution must equal
        (r,) = self.step(env, False)
        if not r.ok:
            raise RuntimeError("batch_mix: the priming round failed its checks")

    def step(self, env: Env, traced: bool) -> list[Op]:
        tasks = [(self.mr, a) for a in self.mr.APPS] + [(self.queries, q) for q in self.queries.QUERIES]
        self.rng.shuffle(tasks)
        r = Op("round", traced=traced)
        for part, name in tasks:
            r.add(part.run(env, name, traced))
        return [r]

    def finish(self, env: Env, ops: list[Op]) -> None:
        self.queries.check_oracle(ops)

    def layer_metrics(self, env: Env, ops: list[Op]) -> dict[str, float]:
        return {**self.mr.layer_metrics(ops), **self.queries.layer_metrics(env, ops)}


# ------------------------------------------------------------- dedup_ingest


class DedupIngest:
    """``make_full_cascade_ingest_batch_fn`` (exact -> MinHash -> semantic)
    fed fixed-size seeded batches the way ``foreachBatch`` calls it. The
    codebook is fitted at set-up; batch 0 (empty index) seeds the index
    before timing; four manifest-addressed roots (fingerprints,
    signatures, cells, decisions) grow over the run and are compacted
    every ``COMPACT_EVERY`` batches.
    One op is one batch."""

    name = "dedup_ingest"
    unit = "batch"
    BATCH_DOCS = 100
    DIM = 128
    COMPACT_EVERY = 2
    CODEBOOK_K = 8
    CODEBOOK_ROWS = 500
    CODEBOOK_ITERS = 1
    ROOTS = ("fp", "sig", "sem", "dec")
    SCHEMA = "doc_id bigint, text string, embedding array<double>"
    LAYER_METRICS = (
        "ingest.docs_per_s",
        "ingest.jobs_per_batch",
        "ingest.stages_per_batch",
        "ingest.task_s_per_batch",
        "ingest.busy_share",
        "ingest.rejected.exact",
        "ingest.rejected.near_dup",
        "ingest.rejected.semantic",
        "ingest.admitted",
        "ingest.planted_dup_recall",
        *(f"storage.index_bytes.{r}" for r in ROOTS),
        *(f"storage.index_files.{r}" for r in ROOTS),
        "storage.compaction_batch_s",
        "storage.index_bytes_per_input_byte",
    )

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, work: str) -> None:
        self.stream = gen.DedupStream(self.seed, self.BATCH_DOCS, self.DIM)
        self.batch0 = self.stream.batch(0)
        self.codebook_rows = self.stream.codebook_corpus(self.CODEBOOK_ROWS)
        self.n_setups = 0
        self.next_batch = 1
        self.planted = self.rejected_planted = 0

    def _frame(self, spark, b: gen.Batch):
        return spark.createDataFrame(list(zip(b.doc_ids, b.texts, b.embeddings)), self.SCHEMA)

    def setup(self, env: Env) -> None:
        from mapreduce_framework_spark.pipeline.codebook import fit_codebook
        from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
        from mapreduce_framework_spark.streaming.ingest import make_full_cascade_ingest_batch_fn

        spark = env.spark
        self.n_setups += 1
        base = os.path.join(env.work, f"ingest_{self.n_setups}")
        self.roots = {r: os.path.join(base, r) for r in self.ROOTS}
        embs = spark.createDataFrame(self.codebook_rows, "vec_id bigint, embedding array<double>")
        with env.tracer.span("codebook.fit"):
            cents = fit_codebook(embs, k=self.CODEBOOK_K, iters=self.CODEBOOK_ITERS)
            cents = cents.localCheckpoint(eager=True)
        self.apply_batch = make_full_cascade_ingest_batch_fn(
            spark,
            self.roots["fp"],
            self.roots["sig"],
            self.roots["sem"],
            self.roots["dec"],
            cents,
            JACCARD_THRESHOLD,
            compact_every=self.COMPACT_EVERY,
        )

    def prime(self, env: Env) -> None:
        self.apply_batch(self._frame(env.spark, self.batch0), 0)
        if not self._check(self.batch0):
            raise RuntimeError("dedup_ingest: batch 0 failed its checks")
        self.input_bytes = self.batch0.input_bytes()

    def _compacted_through(self) -> list[int]:
        from mapreduce_framework_spark.storage import read_index_manifest

        return [read_index_manifest(r)["compacted_through"] for r in self.roots.values()]

    def _check(self, b: gen.Batch) -> bool:
        """Every exact re-fetch is rejected as 'exact' against its original
        and no unique doc is rejected; planted edits and paraphrases only
        count toward recall."""
        import pyarrow.parquet as pq

        from mapreduce_framework_spark.streaming.ingest import delta_dir

        rows = pq.read_table(
            delta_dir(self.roots["dec"], b.batch_id),
            columns=["doc_id", "admitted", "matched_id", "tier"],
        ).to_pylist()
        dec = {r["doc_id"]: r for r in rows}
        if sorted(dec) != sorted(b.doc_ids):
            return False
        planted = {**b.exact, **b.edit, **b.para}
        self.planted += len(planted)
        self.rejected_planted += sum(not dec[d]["admitted"] for d in planted)
        return all(dec[d]["admitted"] for d in b.unique) and all(
            dec[d]["tier"] == "exact" and dec[d]["matched_id"] == orig
            for d, orig in b.exact.items()
        )

    def step(self, env: Env, traced: bool) -> list[Op]:
        b = self.stream.batch(self.next_batch)
        self.next_batch += 1
        frame = self._frame(env.spark, b)
        before = self._compacted_through()
        op = Op("batch", traced=traced)
        with timed_op(env, op):
            with env.tracer.span("streaming.ingest.apply_batch"):
                self.apply_batch(frame, b.batch_id)
        if op.ok:
            op.ok = self._check(b)
            op.extra["compacted"] = self._compacted_through() != before
            self.input_bytes += b.input_bytes()
        return [op]

    def finish(self, env: Env, ops: list[Op]) -> None:
        pass

    def index_sizes(self) -> dict[str, tuple[int, int]]:
        """(bytes on disk, parquet files) per root."""
        out = {}
        for name, root in self.roots.items():
            total = files = 0
            for dirpath, _dirs, names in os.walk(root):
                for n in names:
                    total += os.path.getsize(os.path.join(dirpath, n))
                    files += n.endswith(".parquet")
            out[name] = (total, files)
        return out

    def layer_metrics(self, env: Env, ops: list[Op]) -> dict[str, float]:
        from mapreduce_framework_spark.streaming.ingest import admission_report

        report = {
            r["outcome"]: r["n_docs"]
            for r in admission_report(env.spark, self.roots["dec"]).collect()
        }
        sizes = self.index_sizes()
        t = _traced(ops)
        m = {
            "ingest.docs_per_s": self.BATCH_DOCS * len(ops) / sum(o.wall for o in ops),
            "ingest.jobs_per_batch": _stage_median(t, lambda s: s.jobs),
            "ingest.stages_per_batch": _stage_median(t, lambda s: len(s.ran())),
            "ingest.task_s_per_batch": _stage_median(t, lambda s: s.total("task_s")),
            "ingest.busy_share": median(
                [o.stages.total("task_s") / (o.wall * env.cores) for o in t]
            ),
            "ingest.admitted": float(report.get("admitted", 0)),
            "ingest.planted_dup_recall": self.rejected_planted / self.planted,
            "storage.compaction_batch_s": median([o.wall for o in ops if o.extra.get("compacted")]),
            "storage.index_bytes_per_input_byte": sum(b for b, _ in sizes.values())
            / self.input_bytes,
        }
        for tier in ("exact", "near_dup", "semantic"):
            m[f"ingest.rejected.{tier}"] = float(report.get(tier, 0))
        for name, (nbytes, nfiles) in sizes.items():
            m[f"storage.index_bytes.{name}"] = float(nbytes)
            m[f"storage.index_files.{name}"] = float(nfiles)
        return m


WORKLOADS = {w.name: w for w in (BatchMix, DedupIngest)}
