"""Set-up, timed ``ExtractionJob.run`` calls and the correctness gate
for one workload."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.pipeline.job import ExtractionJob
from pdf_parser_spark.session import get_spark
from pdf_parser_spark.sources.turns import TURNS_SCHEMA

from . import corpus
from .host import RssSampler, descendants, wait_gone

SETUP_REPS = 3
MIN_JOBS = 3
MAX_JOBS = 12
N_BUCKETS = 64  # ExtractionJob's default
# resume_tail: buckets [0, PRECOMMITTED) are committed before the timed
# run, which then resumes the remaining 16
PRECOMMITTED = 48


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # corpus.build kind
    n_convs: int  # a multiple of 100
    resume: bool


WORKLOADS = {w.name: w for w in (
    Workload("fixture_mix", "fixture", 2000, resume=False),
    Workload("distinct_flate", "distinct", 400, resume=False),
    Workload("resume_tail", "fixture", 2000, resume=True),
)}


def _bucket():
    """A turn's bucket, as pipeline/job.py assigns it."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS))


def _warm(batches):
    """Import the kernel in every Python worker before anything is timed."""
    import pdf_parser_spark.kernel.extract  # noqa: F401
    yield from batches


@dataclass
class JobResult:
    job: ExtractionJob
    job_s: float
    turns: int
    bytes: int
    rss_mb: float
    run_id: str


@dataclass
class Bench:
    """One workload on one SparkSession, with every directory it writes
    under ``work_dir``."""
    workload: Workload
    seed: int
    work_dir: str
    cores: int
    spark: object = None
    session_s: float = 0.0
    setups: list[dict] = field(default_factory=list)
    checked: int = 0
    failed: int = 0
    _jobs: int = 0

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        """Start Spark and warm the Python workers, generate the corpus,
        then write it (and pre-commit, for ``resume_tail``)
        ``SETUP_REPS`` times. The JVM cannot be relaunched inside one
        process, so every set-up shares the one Spark start-up; the
        corpus generation stands for data that exists before the job
        and is not part of set-up."""
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores)
        (self.spark.range(self.cores * 4, numPartitions=self.cores)
         .mapInArrow(_warm, "id long")
         .write.format("noop").mode("overwrite").save())
        self.session_s = time.perf_counter() - t0
        w = self.workload
        t0 = time.perf_counter()
        table = corpus.build(w.kind, corpus.first_conv(self.seed, w.n_convs),
                             w.n_convs)
        texts = table.column("text").to_pylist()
        self.gold = {(c, t): (md5, broken) for c, t, md5, broken in zip(
            *(table.column(n).to_pylist()
              for n in ("conv_id", "turn_idx", "gold_md5", "broken")))}
        self.stats = {
            "generate_s": time.perf_counter() - t0,
            "turns": table.num_rows,
            "bytes": sum(map(len, texts)),
            "distinct_payloads": len(set(texts)),
            "broken": sum(table.column("broken").to_pylist()),
        }
        self.stats["pending"] = self.stats["turns"]
        for rep in range(SETUP_REPS):
            t1 = time.perf_counter()
            self._materialize(rep, table)
            t2 = time.perf_counter()
            if w.resume:
                self._precommit(rep)
            self.setups.append({"materialize_s": t2 - t1,
                                "precommit_s": time.perf_counter() - t2})

    @property
    def setup_s(self) -> float:
        """Spark start-up plus the median corpus write and pre-commit."""
        return self.session_s + statistics.median(
            [s["materialize_s"] + s["precommit_s"] for s in self.setups])

    def _path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def _materialize(self, rep: int, table) -> None:
        self.corpus_dir = self._path(f"corpus-{rep}")
        self.spark.createDataFrame(table).write.parquet(self.corpus_dir)
        if rep:
            shutil.rmtree(self._path(f"corpus-{rep - 1}"))
        self.corpus = self.spark.read.parquet(self.corpus_dir)
        self.turns = self.corpus.select(*TURNS_SCHEMA.fieldNames())

    def _precommit(self, rep: int) -> None:
        self.template = (self._path(f"tpl-out-{rep}"),
                         self._path(f"tpl-lineage-{rep}"))
        job = ExtractionJob(self.spark, *self.template, n_buckets=N_BUCKETS)
        m = job.run(self.turns.filter(_bucket() < PRECOMMITTED))
        self.stats["pending"] = self.stats["turns"] - m["turns"]
        if rep:
            for d in (f"tpl-out-{rep - 1}", f"tpl-lineage-{rep - 1}"):
                shutil.rmtree(self._path(d))

    def todo(self) -> DataFrame:
        """The turns the timed job extracts (pending buckets only for
        ``resume_tail``)."""
        if not self.workload.resume:
            return self.turns
        return self.turns.filter(_bucket() >= PRECOMMITTED)

    # -------------------------------------------------------------- jobs

    def new_job(self) -> ExtractionJob:
        """A job over fresh output and lineage directories; for
        ``resume_tail`` they start as copies of the pre-committed ones."""
        self._jobs += 1
        out = self._path(f"out-{self._jobs}")
        lineage = self._path(f"lineage-{self._jobs}")
        if self.workload.resume:
            shutil.copytree(self.template[0], out)
            shutil.copytree(self.template[1], lineage)
        return ExtractionJob(self.spark, out, lineage, n_buckets=N_BUCKETS)

    def run_job(self, job: ExtractionJob) -> JobResult:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            m = job.run(self.turns)
            job_s = time.perf_counter() - t0
        return JobResult(job, job_s, m["turns"], m["bytes"], rss.peak_mb,
                         m["run_id"])

    def check(self, res: JobResult) -> None:
        """Collect every committed row to the driver and compare it with
        the golden outcomes; count the turns that are missing,
        duplicated, carry the wrong text, or whose parse_error does not
        match the injected breakage. The committed rows must cover the
        whole corpus, so for ``resume_tail`` pre-committed plus resumed
        rows are checked together."""
        rows = (res.job.read_output()
                .select("conv_id", "turn_idx", F.md5("text").alias("md5"),
                        F.col("parse_error").isNotNull().alias("err"))
                .toArrow().to_pylist())
        counts, got = Counter(), {}
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            counts[key] += 1
            got.setdefault(key, (r["md5"], r["err"]))
        bad = sum(counts[key] != 1 or got.get(key) != self.gold.get(key)
                  for key in counts.keys() | self.gold.keys())
        self.failed += bad + abs(res.turns - self.stats["pending"])
        self.checked += self.stats["turns"]

    def drop(self, job: ExtractionJob) -> None:
        shutil.rmtree(job.output_dir, ignore_errors=True)
        shutil.rmtree(job.lineage_dir, ignore_errors=True)

    def timed_job(self, check: bool = True) -> JobResult:
        """Run, check and delete one job."""
        job = self.new_job()
        res = self.run_job(job)
        if check:
            self.check(res)
        self.drop(job)
        return res

    def warm_up(self) -> None:
        """One discarded job: the first job in a JVM runs cold."""
        self.timed_job(check=False)

    def measure(self, seconds: float) -> list[JobResult]:
        """One discarded warm-up job, then jobs until ``seconds`` of job
        time have passed (at least ``MIN_JOBS``)."""
        self.warm_up()
        results: list[JobResult] = []
        while len(results) < MIN_JOBS or (
                sum(r.job_s for r in results) < seconds
                and len(results) < MAX_JOBS):
            results.append(self.timed_job())
        return results

    def close(self) -> None:
        """Stop Spark and wait for the JVM and the Python workers it
        started to exit."""
        gateway = SparkContext._gateway
        started = descendants(gateway.proc.pid) if gateway else set()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on EOF from us
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_gone(started, timeout=60)


def end_to_end(bench: Bench, results: list[JobResult]) -> dict:
    med = statistics.median
    return {
        "job_s": med([r.job_s for r in results]),
        "turns_per_s": med([r.turns / r.job_s for r in results]),
        "mb_per_s": med([r.bytes / 1e6 / r.job_s for r in results]),
        "setup_s": bench.setup_s,
        "worker_rss_peak_mb": med([r.rss_mb for r in results]),
    }
