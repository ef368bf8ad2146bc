"""The workloads: what each sets up, times and checks.

Each workload is a closed loop with one client: one Spark job or one
query in flight at a time. ``iterate`` is one timed unit; the harness
in ``run.py`` repeats it for the run's seconds.
Correctness is checked outside the timed section, against expected
output that does not come from the program under test: the DuckDB
``oracle_sql()`` texts and the closed-form text of the page template.

Row digests are multiset-safe: a row count plus the sum of a 60-bit
md5 prefix per row, so identical rows (which the hot-conversation knob
produces) cannot cancel out as they would under an XOR fold.
"""
from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from decimal import Decimal

from perfbench import gen
from perfbench.sparkstats import GroupStats

# (conv_id, turn_idx, status, text) → 60-bit int, the same on both sides
ROW_SEP = "\x1f"


def row_key(conv_id, turn_idx, status, text) -> str:
    return ROW_SEP.join((conv_id, str(turn_idx), status or "", text or ""))


def digest_of(keys) -> tuple[int, int]:
    """(rows, sum of md5 prefixes) of an iterable of row keys."""
    n = total = 0
    for k in keys:
        n += 1
        total += gen.md5_int(k)
    return n, total


def spark_row_hash():
    from pyspark.sql import functions as F

    key = F.concat_ws(
        ROW_SEP,
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.coalesce(F.col("status"), F.lit("")),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")


def spark_digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"), F.sum(spark_row_hash()).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def count_failures(spark_df, expected_keys) -> int:
    """Failed rows: the expected rows the output lacks, as a multiset
    (a missing row, an error status and a wrong text each count once),
    or the rows it has in excess, whichever is more."""
    got = Counter(
        int(r["h"]) for r in spark_df.select(spark_row_hash().alias("h")).collect()
    )
    want = Counter(gen.md5_int(k) for k in expected_keys)
    missing = sum((want - got).values())
    return max(missing, sum(got.values()) - sum(want.values()))


def oracle_results(sf_dir: str, names) -> dict:
    """name → (columns, rows) of ``oracle_sql()[name]`` run by DuckDB
    over the generated documents table."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
        )
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            out[name] = (rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def rekey(conv_id: str, rep: int) -> str:
    """The oracle's replica-0 conversation id as replica ``rep``'s."""
    prefix = "conv-0-"
    if not conv_id.startswith(prefix):
        raise ValueError(f"unexpected oracle conv_id {conv_id!r}")
    return f"conv-{rep}-" + conv_id[len(prefix):]


class Workload:
    """Interface the harness drives; see the module docstring."""

    name = ""
    n_docs = 0  # rows of the generated documents table
    rows_per_iter = 0  # input rows one iteration consumes
    extracts = False  # whether an iteration runs extract_articles over every row
    warmup = 0  # untimed warm units between the cold unit and the timed ones
    min_warm = 2  # warm units an untraced run times at least

    def __init__(self, seed: int, work_dir: str, tracer):
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.sf_dir = os.path.join(work_dir, "sf")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def generate(self) -> None:
        gen.write_documents(self.seed, self.n_docs, self.sf_dir)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def iterate(self, spark, i: int) -> None:
        """One timed unit."""
        raise NotImplementedError

    def unit_seconds(self, walls: list[float], units: list[int]) -> float:
        """Wall time of a typical warm unit: the median over ``units``."""
        return statistics.median(walls[k] for k in units)

    def expect(self, spark) -> None:
        """Untimed: compute the expected output, after the timed loop."""

    def verify(self, spark, i: int) -> None:
        """Untimed check of iteration ``i``'s output."""

    def layer_metrics(self, spark, traced: list[int]) -> dict:
        return {}

    def fail(self, msg: str) -> None:
        self.problems.append(msg)


def udf_metrics(stats: GroupStats, n_iters: int) -> dict:
    per = 1.0 / max(n_iters, 1)
    return {
        "udf.bytes_to_python": stats.python["bytes_to_python"] * per,
        "udf.bytes_from_python": stats.python["bytes_from_python"] * per,
        "udf.python_total_s": stats.python["python_total_s"] * per,
        "udf.python_boot_s": stats.python["python_boot_s"] * per,
        "udf.task_skew": stats.task_skew(),
    }


# synthetic_transcripts' default, which the extract_fulltext oracle mirrors
TURNS_PER_CONV = 4


class Crash(RuntimeError):
    """The failure the job is made to hit before a commit group."""


class JobResume(Workload):
    """``ExtractionJob`` over skewed transcripts with hostile pages:
    crash before a seeded commit group, resume in a new job, audit."""

    name = "job_resume"
    extracts = True
    # 2,000 synthetic turns: enough that extract_article, not the job's
    # per-Spark-job fixed cost, takes about half of a unit's wall time
    n_docs = 500
    replication = 4
    # two units per crash position: their median leaves out a unit the
    # VM's host slowed down
    min_warm = 4
    hot_fraction = 0.05
    n_buckets = 6
    buckets_per_commit = 2

    def generate(self):
        super().generate()
        self.hostile = gen.hostile_pages(self.seed)
        self.n_groups = self.n_buckets // self.buckets_per_commit

    def setup(self, spark):
        from newspaper_spark.sources.transcripts import (
            EPOCH,
            TRANSCRIPT_SCHEMA,
            synthetic_transcripts,
        )

        t = synthetic_transcripts(
            spark,
            self.sf_dir,
            replication=self.replication,
            skew_hot_fraction=self.hot_fraction,
        )
        hostile = spark.createDataFrame(
            [(c, turn, "tool", html, "browser", EPOCH) for c, turn, html, _ in self.hostile],
            TRANSCRIPT_SCHEMA,
        )
        # the job repartitions by (bucket, salt) itself
        self.input = t.unionByName(hostile).persist()
        self.rows_per_iter = self.input.count()
        self.runs = {}
        self.commit_groups = {}

    def expect(self, spark):
        from pyspark.sql import functions as F

        # rows the hot knob routes to conv-hot: the knob's own predicate
        # over (doc_id, rep), evaluated on the generated ids
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        pairs = docs.select("doc_id").crossJoin(
            spark.range(self.replication).select(F.col("id").alias("rep"))
        )
        pct = int(self.hot_fraction * 100)
        hot = {
            (r["doc_id"], r["rep"])
            for r in pairs.filter(
                (F.abs(F.xxhash64(F.col("doc_id"), F.col("rep"), F.lit(7))) % 100) < pct
            ).collect()
        }
        keys = []
        _, rows = oracle_results(self.sf_dir, ["extract_fulltext"])["extract_fulltext"]
        for c, turn, text in rows:
            # conv-0-<doc_id // turns_per_conv>, turn = doc_id % turns_per_conv
            doc_id = int(c[len("conv-0-"):]) * TURNS_PER_CONV + turn
            for rep in range(self.replication):
                conv = "conv-hot" if (doc_id, rep) in hot else rekey(c, rep)
                keys.append(row_key(conv, turn, "ok", text))
        keys += [row_key(c, turn, "ok", exp) for c, turn, _, exp in self.hostile]
        self.expected = keys
        self.expected_digest = digest_of(keys)

    def _job(self, spark, out_dir):
        from newspaper_spark.plans.job import ExtractionJob

        return ExtractionJob(
            spark, out_dir, n_buckets=self.n_buckets,
            buckets_per_commit=self.buckets_per_commit,
        )

    def iterate(self, spark, i):
        """Iteration 0, the cold one, runs the job without a crash: its
        output is the reference every resumed output must equal. Later
        iterations crash before a commit group and resume."""
        from newspaper_spark.plans.job import audit_output

        out_dir = os.path.join(self.work, f"job-{i}")
        shutil.rmtree(out_dir, ignore_errors=True)
        crash_before = gen.crash_group(self.seed, self.n_groups, i)
        seen = []

        def crash(group):
            seen.append(group)
            if i > 0 and len(seen) == crash_before + 1:
                raise Crash(f"injected before commit group {crash_before}")

        try:
            manifest = self._job(spark, out_dir).run(self.input, fail_injector=crash)
            if i > 0:
                self.fail(f"iteration {i}: the injected crash did not happen")
        except Crash:
            with self.tracer.span("plans.job.resume"):
                manifest = self._job(spark, out_dir).run(
                    self.input, fail_injector=seen.append
                )
            seen.pop(crash_before)  # the group the crash stopped
        with self.tracer.span("plans.job.audit_output"):
            audit = audit_output(spark, out_dir)
        self.runs[i] = (out_dir, manifest, audit)
        self.commit_groups[i] = len(seen)

    def verify(self, spark, i):
        from newspaper_spark.plans.job import read_output

        out_dir, manifest, audit = self.runs.pop(i)
        self.attempted += len(self.expected)
        out = read_output(spark, out_dir)
        digest = spark_digest(out)
        if i == 0:
            self.reference_digest = digest
        elif digest != self.reference_digest:
            self.fail(f"iteration {i}: resumed output differs from the no-crash output")
        if digest != self.expected_digest:
            bad = count_failures(out, self.expected)
            self.failed += bad
            self.fail(f"iteration {i}: {bad} turns differ from the expected output")
        rows = sum(b["rows"] for b in manifest["buckets"].values())
        if rows != self.rows_per_iter:
            self.fail(f"iteration {i}: manifest has {rows} rows, input {self.rows_per_iter}")
        if not audit["ok"]:
            self.fail(f"iteration {i}: audit_output mismatches {audit['mismatches'][:3]}")
        if self.commit_groups[i] != self.n_groups:
            self.fail(
                f"iteration {i}: {self.commit_groups[i]} commit groups ran, "
                f"want {self.n_groups}"
            )
        shutil.rmtree(out_dir, ignore_errors=True)

    def layer_metrics(self, spark, traced):
        stats = GroupStats(spark, [f"it{i}" for i in traced])
        n = max(len(traced), 1)
        out = udf_metrics(stats, len(traced))
        out.update(
            {
                "job.spark_jobs": stats.spark_jobs / n,
                "job.stages": stats.stages / n,
                "job.shuffle_bytes": stats.shuffle_bytes / n,
                "job.output_bytes": stats.output_bytes / n,
                "job.commit_groups": sum(self.commit_groups[i] for i in traced) / n,
                "job.audit_s": self.tracer.total_seconds("plans.job.audit_output") / n,
                "job.resume_s": self.tracer.total_seconds("plans.job.resume") / n,
            }
        )
        return out


# queries() entries each sweep runs, in order: two queries bound by
# per-job fixed cost (15 and 20 Spark jobs a sweep), neither
# of which calls extract_articles
QUERIES = ("paragraph_dedup", "dsir")


class Queries(Workload):
    """A fixed list of ``__spark_entry__.queries()``, each collected
    inside ``cache.tracking_scope()``; one iteration is one sweep over
    the list, and the first sweep is the cold one. Every collected
    result is compared with its DuckDB oracle after the loop."""

    name = "queries"
    # per-job fixed cost sets most of a sweep's time (35 Spark jobs,
    # 4.1 s over 2,000 documents, 3.4 s over 250), but over 250 the
    # sweeps spread three times as much from run to run, so 2,000
    n_docs = 2000
    # the first two warm sweeps are still up to a fifth slower while the
    # JIT compiles: leave them out, then take each query's median over
    # at least four, so that a burst of host load in one sweep does not
    # count
    warmup = 2
    min_warm = 4

    def setup(self, spark):
        import __spark_entry__ as entry

        self.rows_per_iter = len(QUERIES) * spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).count()
        self.fns = entry.queries()
        self.times = {q: {} for q in QUERIES}
        self.results = {}

    def iterate(self, spark, i):
        from newspaper_spark import cache

        sc = spark.sparkContext
        for q in QUERIES:
            sc.setJobGroup(f"it{i}.{q}", q)
            t0 = time.perf_counter()
            try:
                with cache.tracking_scope():
                    with self.tracer.span("queries.plan_build"):
                        df = self.fns[q](spark, self.sf_dir)
                    if self.tracer.enabled:
                        with self.tracer.span("queries.catalyst"):
                            df._jdf.queryExecution().executedPlan()
                    self.results[i, q] = (df.columns, df.collect())
            except Exception as e:  # a query that raises is a failed query
                self.results[i, q] = None
                self.fail(f"sweep {i}: query {q} raised {type(e).__name__}: {e}")
            self.times[q][i] = time.perf_counter() - t0

    def unit_seconds(self, walls, units):
        """The sum over the queries of each one's median time in ``units``:
        a burst of host load that slows one query of a sweep does not
        move the others' medians."""
        return sum(statistics.median(self.times[q][k] for k in units) for q in QUERIES)

    def expect(self, spark):
        self.expected = {
            q: rows_of(*res) for q, res in oracle_results(self.sf_dir, QUERIES).items()
        }

    def verify(self, spark, i):
        for q in QUERIES:
            self.attempted += 1
            got = self.results.pop((i, q))
            if got is None:
                self.failed += 1
            elif rows_of(*got) != self.expected[q]:
                self.failed += 1
                self.fail(f"sweep {i}: query {q} differs from its oracle")

    def layer_metrics(self, spark, traced):
        n = max(len(traced), 1)
        out = {
            "queries.plan_build_s": self.tracer.total_seconds("queries.plan_build") / n,
            "queries.catalyst_s": self.tracer.total_seconds("queries.catalyst") / n,
        }
        total = GroupStats(spark, [f"it{i}.{q}" for i in traced for q in QUERIES])
        out.update(
            {
                "queries.spark_jobs": total.spark_jobs / n,
                "queries.stages": total.stages / n,
                "queries.tasks": total.tasks / n,
                "queries.shuffle_bytes": total.shuffle_bytes / n,
                "queries.executor_cpu_s": total.executor_cpu_s / n,
            }
        )
        untraced = [i for i in self.times[QUERIES[0]] if i > self.warmup and i not in traced]
        for q in QUERIES:
            warm = [self.times[q][i] for i in untraced]
            out[f"queries.{q}.warm_s"] = statistics.median(warm) if warm else 0.0
            out[f"queries.{q}.spark_jobs"] = (
                GroupStats(spark, [f"it{i}.{q}" for i in traced]).spark_jobs / n
            )
        return out


def rows_of(columns, rows) -> list:
    """Rows as tuples in sorted-column order, sorted, for an exact
    compare (no float formatting)."""
    order = sorted(range(len(columns)), key=lambda k: columns[k])

    def sort_key(row):
        return tuple(
            (0, 0) if v is None
            else (1, v) if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)
            else (2, str(v))
            for v in row
        )

    return sorted((tuple(r[k] for k in order) for r in rows), key=sort_key)


WORKLOADS = {w.name: w for w in (JobResume, Queries)}
