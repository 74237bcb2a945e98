"""The workloads: crawl_batch and upload_small.

Each workload object is built once per run (one fresh process, one JVM):

- ``setup()``     one repetition of the set-up; repeated, the median is
                  ``setup_s``. Idempotent: every repetition rebuilds the
                  inputs from the seed.
- ``prepare()``   untimed: ground truth for the correctness gate.
- ``measure(s)``  untimed warm-up, then closed-loop operations for ``s``
                  seconds → ``Ops``.
- ``traced(t)``   warm-up, one untraced and one traced operation, isolated
                  layer calls → (per-layer metrics, operations).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import harness
import loadgen
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))

#: the seven row-level classes the synthetic generator labels
ROW_CLASSES = (
    "URL_MALFORMED",
    "KEY_EMPTY",
    "WARC_TS_INVALID",
    "WARC_TS_UNLIKELY",
    "LANG_UNKNOWN",
    "TEXT_EMPTY",
    "TEXT_EXTRACTION_MISMATCH",
)
#: label of the second row of a duplicated url → one RECORD_NOT_UNIQUELY_IDENTIFIED
DUP_LABEL = "URL_DUPLICATE"
#: the generator's drift fixture month, and the engine's floor on rows per
#: drift window (windows with fewer rows are never flagged)
DRIFT_MONTH = "2022-07"
DRIFT_MIN_ROWS = 30
#: the generator places its labelled rows on id % 997 slots
SLOT_MOD = 997
#: incremental split: history is every row before this instant (and the
#: null-timestamp rows); the rest is the appended window (~8 % of rows)
NEW_FROM = "2024-07-01 00:00:00"
#: the load generator's warm-up and timed load end well inside a run
LOADGEN_TIMEOUT_S = 120

#: per-layer metrics a workload's traced run reports as 0 when it does not
#: reach the layer
SERVING_METRICS = ("serving.submit_s", "serving.queue_s", "serving.polls_per_job")
INCREMENTAL_METRICS = (
    "incremental.run_s",
    "incremental.spark_jobs",
    "checkpoint.read_s",
    "checkpoint.write_s",
    "checkpoint.files_written",
    "checkpoint.bytes_written",
)


@dataclass
class Op:
    seconds: float
    rows: int
    ok: bool
    client: int = 0
    detail: str = ""


@dataclass
class Ops:
    ops: list[Op] = field(default_factory=list)

    def summary(self) -> dict:
        """Closed-loop throughput from the median latency (clients ÷ median
        verdict time): a median keeps one stalled operation from moving a
        run's figures, where a count over the window would not."""
        lat = [o.seconds for o in self.ops]
        p50 = statistics.median(lat)
        clients = len({o.client for o in self.ops})
        return {
            "verdict_p50_s": p50,
            "docs_per_s": clients * statistics.median(o.rows for o in self.ops) / p50,
            "jobs_per_s": clients / p50,
            "verdict_quartiles_s": harness.quartiles(lat),
            "verdict_tail": harness.tail(lat),
        }


def seeded_pages(spark, n_rows: int, words_scale: int, seed: int):
    """The generator's table, with a seed-keyed 15/16 row subset in a
    seed-keyed row order within each partition (the program's generator
    ignores its own seed)."""
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    h = F.xxhash64(F.lit(seed), F.col("html"))
    return (
        synth_pages(spark, n_rows, words_scale=words_scale)
        .where(F.pmod(h, F.lit(16)) != 0)
        .sortWithinPartitions(h)
    )


def label_counts(df) -> dict[str | None, int]:
    """expected_issue → rows; the None key counts the unlabelled rows."""
    return {r["expected_issue"]: r["count"] for r in df.groupBy("expected_issue").count().collect()}


def recall(found: dict, expected: dict) -> float:
    """Recall over the seven row-level classes, from the report's counts."""
    hit = sum(min(found.get(c, 0), expected.get(c, 0)) for c in ROW_CLASSES)
    want = sum(expected.get(c, 0) for c in ROW_CLASSES)
    return hit / want if want else 1.0


def until(deadline: float, step) -> None:
    """Run ``step`` back to back; the last one starts before ``deadline``."""
    while True:
        step()
        if time.perf_counter() >= deadline:
            return


def layer_metrics(spark, pages) -> dict:
    """Isolated forced calls of the lazy operator layers on ``pages``. The
    engine fuses some of these scans, so these times overstate the in-run
    cost."""
    from gbif_data_validator_spark.operators.metrics import (
        issue_counts_by_partition,
        partitioned_profile,
    )
    from gbif_data_validator_spark.operators.record_checks import (
        partition_id_col,
        run_record_checks,
    )
    from gbif_data_validator_spark.operators.sampling import distinct_first_samples
    from gbif_data_validator_spark.operators.uniqueness import uniqueness_violations
    from gbif_data_validator_spark.sources.lang_dim import lang_dim

    m: dict = {}
    n_docs = pages.count()

    rc = run_record_checks(pages, check_extraction=True, lang_dim=lang_dim(spark))
    rows, m["record_checks.s"] = harness.timed(rc.collect)
    nodes = tracing.plan_metrics(rc)
    m["record_checks.violation_rows"] = len(rows)
    m["record_checks.broadcast_mb"] = (
        tracing.metric_sum(nodes, "BroadcastExchangeExec", "dataSize") / 1e6
    )
    m["extraction.py_s"] = tracing.metric_sum(nodes, "PythonExec", "pythonTotalTime") / 1e3
    m["extraction.py_boot_s"] = tracing.metric_sum(nodes, "PythonExec", "pythonBootTime") / 1e3
    m["extraction.py_bytes_per_doc"] = (
        tracing.metric_sum(nodes, "PythonExec", "pythonDataSent") / max(n_docs, 1)
    )

    # the engine's rollup call: ObjectHashAggregate reports no peak memory,
    # so this layer reports aggregation time and shuffle volume
    work = pages.withColumn("_partition_id", partition_id_col(F.col("warc_ts"), 1, F.col("url")))
    prof = partitioned_profile(
        work,
        "_partition_id",
        drift_metric=F.when(F.col("warc_ts").isNotNull(), F.length(F.col("text"))),
    )
    _, m["profile.s"] = harness.timed(prof.collect)
    nodes = tracing.plan_metrics(prof)
    m["profile.agg_s"] = tracing.metric_sum(nodes, "AggregateExec", "aggTime") / 1e3
    m["profile.shuffle_mb"] = (
        tracing.metric_sum(nodes, "ShuffleExchangeExec", "shuffleBytesWritten") / 1e6
    )

    uq = uniqueness_violations(pages)
    _, m["uniqueness.s"] = harness.timed(uq.collect)
    nodes = tracing.plan_metrics(uq)
    m["uniqueness.shuffle_mb"] = (
        tracing.metric_sum(nodes, "ShuffleExchangeExec", "shuffleBytesWritten") / 1e6
    )
    m["uniqueness.agg_peak_mb"] = tracing.metric_sum(nodes, "AggregateExec", "peakMemory") / 1e6

    # report accounting over materialised violations, as in the engine
    violations = rc.unionByName(uq).persist()
    violations.count()
    try:
        t0 = time.perf_counter()
        issue_counts_by_partition(violations).collect()
        distinct_first_samples(violations, 10).collect()
        m["report.s"] = time.perf_counter() - t0
    finally:
        violations.unpersist()
    return m


def wrap_engine(tracer: tracing.Tracer) -> None:
    """Spans around the eager public calls reached inside a real run."""
    from gbif_data_validator_spark.plans import checkpoint, engine

    tracer.wrap(engine.ValidationEngine, "run", "engine.run")
    tracer.wrap(engine, "preflight", "preflight")
    for fn in (
        "read_checkpoints",
        "completed_partitions",
        "completed_partitions_all_runs",
        "latest_validators",
        "latest_window_profiles",
        "latest_window_sketches",
        "ensure_partition_scheme",
    ):
        tracer.wrap(checkpoint, fn, "checkpoint.read." + fn)
    for fn in ("append_checkpoints", "append_sketches", "append_profiles"):
        tracer.wrap(checkpoint, fn, "checkpoint.write." + fn)


def run_metrics(tracer: tracing.Tracer, run: dict) -> dict:
    return {
        "engine.run_s": run["end"] - run["start"],
        "engine.self_s": tracer.self_time(run),
        "preflight.s": tracer.total_under(run, "preflight"),
    }


class Workload:
    name = ""

    def __init__(self, spark, run_dir: str, seed: int) -> None:
        self.spark = spark
        self.dir = os.path.join(run_dir, self.name)
        self.seed = seed
        self.context: dict = {}
        os.makedirs(self.dir, exist_ok=True)

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
class CrawlBatch(Workload):
    """One caller, closed loop, default EngineConfig over one large table."""

    name = "crawl_batch"
    N_ROWS = 40_000
    WORDS_SCALE = 4
    WARMUP_OPS = 1
    GROUP = "perfbench-traced"

    def setup(self) -> None:
        path = os.path.join(self.dir, "pages")
        seeded_pages(self.spark, self.N_ROWS, self.WORDS_SCALE, self.seed).write.mode(
            "overwrite"
        ).parquet(path)
        self.table = self.spark.read.parquet(path)
        self.pages = self.table.drop("expected_issue")

    def prepare(self) -> None:
        self.expected = label_counts(self.table)
        self.n_rows = sum(self.expected.values())
        self.context.update(rows=self.n_rows, words_scale=self.WORDS_SCALE)
        self.recalls: list[float] = []

    def op(self) -> Op:
        from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

        t0 = time.perf_counter()
        rep = ValidationEngine(self.spark, EngineConfig()).run(self.pages)
        dt = time.perf_counter() - t0
        self.report = rep
        r = recall(rep.issue_counts, self.expected)
        self.recalls.append(r)
        exact = all(rep.issue_counts.get(c, 0) == self.expected.get(c, 0) for c in ROW_CLASSES)
        ok = rep.n_rows == self.n_rows and exact
        return Op(dt, self.n_rows, ok, detail="" if ok else json.dumps(rep.issue_counts))

    def measure(self, seconds: float) -> Ops:
        # JIT, codegen caches, Python workers
        warm = [self.op() for _ in range(self.WARMUP_OPS)]
        self.context["warmup_s"] = [round(o.seconds, 3) for o in warm]
        ops = Ops()
        self.recalls = []
        until(time.perf_counter() + seconds, lambda: ops.ops.append(self.op()))
        self.context["violation_recall"] = min(self.recalls)
        return ops

    def traced(self, tracer: tracing.Tracer) -> tuple[dict, list[Op]]:
        from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

        # the baseline run (run_id "A") over the table's history, which the
        # incremental run below builds on, doubles as the warm-up
        wd = os.path.join(self.dir, "work")
        ts = F.col("warc_ts")
        history = self.pages.where(ts.isNull() | (ts < F.lit(NEW_FROM).cast("timestamp")))
        ValidationEngine(self.spark, EngineConfig(work_dir=wd, run_id="A")).run(history)
        sc = self.spark.sparkContext
        plain = self.op()
        wrap_engine(tracer)
        sc.setJobGroup(self.GROUP, "traced operation")
        try:
            traced = self.op()
        finally:
            tracer.unwrap_all()
            sc.setLocalProperty("spark.jobGroup.id", None)
        m = run_metrics(tracer, tracer.named("engine.run")[-1])
        m["engine.spark_jobs"] = tracing.jobs_in_group(self.spark, self.GROUP)
        m["trace.overhead_s"] = traced.seconds - plain.seconds
        inc, inc_op = self.incremental(tracer, wd, (self.report.n_rows, self.report.issue_counts))
        m.update(inc)
        m.update(layer_metrics(self.spark, self.pages))
        m.update(dict.fromkeys(SERVING_METRICS, 0))  # no job server here
        return m, [plain, traced, inc_op]

    def incremental(self, tracer: tracing.Tracer, wd: str, want: tuple) -> tuple[dict, Op]:
        """The checkpoint layer: one traced incremental run over the whole
        table against the baseline in ``wd``, whose report must equal the
        from-scratch one."""
        from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

        group = self.GROUP + "-incremental"
        before = harness.tree_files(wd)
        cfg = EngineConfig(work_dir=wd, run_id="B", baseline_run_id="A")
        sc = self.spark.sparkContext
        wrap_engine(tracer)
        sc.setJobGroup(group, "traced incremental operation")
        try:
            rep, dt = harness.timed(ValidationEngine(self.spark, cfg).run, self.pages)
        finally:
            tracer.unwrap_all()
            sc.setLocalProperty("spark.jobGroup.id", None)
        new = {p: s for p, s in harness.tree_files(wd).items() if p not in before}
        run = tracer.named("engine.run")[-1]
        ok = (rep.n_rows, rep.issue_counts) == want
        detail = "" if ok else json.dumps({"incremental": [rep.n_rows, rep.issue_counts],
                                          "from_scratch": list(want)})
        return {
            "incremental.run_s": dt,
            "incremental.spark_jobs": tracing.jobs_in_group(self.spark, group),
            "checkpoint.read_s": tracer.total_under(run, "checkpoint.read."),
            "checkpoint.write_s": tracer.total_under(run, "checkpoint.write."),
            "checkpoint.files_written": len(new),
            "checkpoint.bytes_written": sum(new.values()),
        }, Op(dt, rep.n_rows, ok, detail=detail)


# ---------------------------------------------------------------------------
class UploadSmall(Workload):
    """Closed-loop HTTP clients submitting distinct small tables to the
    job server and polling each job's status until it is terminal."""

    name = "upload_small"
    #: a table is two 997-row slot periods: every labelled duplicate keeps
    #: its partner inside the same table
    TABLE_ROWS = 2 * SLOT_MOD
    N_TABLES = 24
    CLIENTS = 2
    WARMUP_ROUNDS = 5
    POLL_S = 0.02

    def setup(self) -> None:
        from gbif_data_validator_spark.serving import ValidationServer
        from gbif_data_validator_spark.sources.synthetic import synth_pages

        self.close()
        self.root = os.path.join(self.dir, "tables")
        # every seed validates the same 24 id windows (the same mix of
        # drift and duplicate fixtures); the seed sets the submission order
        # and each table's row order
        order = (
            self.spark.range(self.N_TABLES)
            .orderBy(F.xxhash64(F.lit(self.seed), F.col("id")))
            .collect()
        )
        self.windows = [r["id"] for r in order]
        rid = F.regexp_extract(
            F.col("html").cast("string"), r"<title>Page (\d+)</title>", 1
        ).cast("long")
        (
            synth_pages(self.spark, self.N_TABLES * self.TABLE_ROWS)
            .withColumn("_w", F.floor(rid / self.TABLE_ROWS))
            .sortWithinPartitions(F.xxhash64(F.lit(self.seed), F.col("html")))
            .write.mode("overwrite")
            .partitionBy("_w")
            .parquet(self.root)
        )
        self.paths = [os.path.join(self.root, f"_w={w}") for w in self.windows]
        self.server = ValidationServer(self.spark, os.path.join(self.dir, "jobs")).start()

    def close(self) -> None:
        srv = getattr(self, "server", None)
        if srv is not None:
            srv.stop()
            self.server = None

    def prepare(self) -> None:
        labels = self.spark.read.parquet(self.root)
        by_w: dict[int, dict[str, int]] = {}
        for r in labels.groupBy("_w", "expected_issue").count().collect():
            if r["expected_issue"] is not None:
                by_w.setdefault(r["_w"], {})[r["expected_issue"]] = r["count"]
        drift_rows = {
            r["_w"]: r["count"]
            for r in labels.where(F.date_format("warc_ts", "yyyy-MM") == DRIFT_MONTH)
            .groupBy("_w")
            .count()
            .collect()
        }
        self.expected = {}
        for w in self.windows:
            lab = by_w.get(w, {})
            exp = {c: lab[c] for c in ROW_CLASSES if lab.get(c)}
            if lab.get(DUP_LABEL):
                exp["RECORD_NOT_UNIQUELY_IDENTIFIED"] = lab[DUP_LABEL]
            if drift_rows.get(w, 0) >= DRIFT_MIN_ROWS:
                exp["DRIFT_WINDOW"] = 1
            self.expected[w] = exp
        self.context.update(
            table_rows=self.TABLE_ROWS, tables=len(self.windows), clients=self.CLIENTS
        )
        self._next = 0

    # -- clients -----------------------------------------------------------
    def check(self, table: int, job: dict, client: int = 0) -> Op:
        """A job's verdict against its table's labels."""
        w = self.windows[table]
        ok = (
            job["status"] == "FINISHED"
            and job["n_rows"] == self.TABLE_ROWS
            and job["issue_counts"] == self.expected[w]
        )
        detail = "" if ok else json.dumps({"window": w, "status": job["status"],
                                          "got": job["issue_counts"],
                                          "want": self.expected[w],
                                          "error": job["error"]})
        return Op(job["seconds"], self.TABLE_ROWS, ok, client, detail)

    def one_job(self, tracer: tracing.Tracer | None = None) -> tuple[Op, dict]:
        """One job on the next table from this process (traced run)."""
        i = self._next % len(self.paths)
        self._next += 1
        job = loadgen.one_job(
            self.server.port, self.paths[i], self.POLL_S, tracer.span if tracer else None
        )
        return self.check(i, job), {**job, "table": i}

    def measure(self, seconds: float) -> Ops:
        """Warm-up rounds (one job per client each) and the timed load, both
        from the load-generator process."""
        spec = {"port": self.server.port, "paths": self.paths, "clients": self.CLIENTS,
                "poll_s": self.POLL_S, "warmup_rounds": self.WARMUP_ROUNDS,
                "seconds": seconds}
        # run() kills and waits for the child on timeout and on the run's
        # own watchdog (SystemExit raised while it waits)
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "loadgen.py"), json.dumps(spec)],
            capture_output=True, text=True, timeout=LOADGEN_TIMEOUT_S,
        )
        if out.returncode != 0:
            raise RuntimeError(f"load generator exited {out.returncode}: {out.stderr[-2000:]}")
        res = json.loads(out.stdout)
        self.context["warmup_s"] = [round(j["seconds"], 3) for j in res["warmup"]]
        self.context["windows"] = [self.windows[j["table"]] for j in res["warmup"] + res["jobs"]]
        return Ops([self.check(j["table"], j, j["client"]) for j in res["jobs"]])

    def traced(self, tracer: tracing.Tracer) -> tuple[dict, list[Op]]:
        from gbif_data_validator_spark.plans.jobs import JobRunner

        self.one_job()  # warm-up
        plain, _ = self.one_job()
        wrap_engine(tracer)
        tracer.wrap(JobRunner, "submit", "serving.submit")
        tracer.wrap(JobRunner, "status", "serving.status")
        try:
            traced, info = self.one_job(tracer)
        finally:
            tracer.unwrap_all()
        m = run_metrics(tracer, tracer.named("engine.run")[-1])
        m["engine.spark_jobs"] = tracing.jobs_in_group(self.spark, f"gdv-job-{info['job_id']}")
        m["serving.submit_s"] = info["submit_s"]
        m["serving.queue_s"] = info["queue_s"]
        m["serving.polls_per_job"] = info["polls"]
        m["trace.overhead_s"] = traced.seconds - plain.seconds
        m.update(layer_metrics(self.spark, self.spark.read.parquet(self.paths[info["table"]])))
        m.update(dict.fromkeys(INCREMENTAL_METRICS, 0))  # jobs run without a work_dir
        return m, [plain, traced]


WORKLOADS = {w.name: w for w in (CrawlBatch, UploadSmall)}
