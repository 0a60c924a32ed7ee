"""Closed-loop batch workload over the engine's query registry.

One client runs the workload's queries one after another: the next
query is built only after the previous result is complete.  Each
execution is the builder call ``REGISTRY[name](spark, sf_dir)`` (which
may run eager jobs of its own) plus one action that hashes every output
column and returns a single row, so no column can be pruned away and no
bulk data is collected to the driver.

Set-up runs each query once untimed, collects its result and checks it
against the query's DuckDB oracle (``streaming_spark.oracle.compare``);
the same pass fills session memos, bucketed tables and the schema cache
and absorbs the first-execution extra job.  Every timed execution must
reproduce that pass's row count and content hash.
"""

from __future__ import annotations

import random
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_spark.oracle import compare, duckdb_connection
from streaming_spark.queries import ORACLES, REGISTRY

# The batch workload's queries.  Relational operators (scan, codegen,
# shuffle, broadcast; no Python) sit beside the stream() operator in each
# wire shape and one builder-heavy curation pipeline, so an optimisation
# of the Python boundary or of the builder moves its own group and leaves
# the relational group as the in-workload bypass (per-query counters in
# the traced run show which).
RELATIONAL = [
    "q_grouped_agg",         # hash aggregate
    "q_revenue_by_nation",   # star join, broadcast dimensions
    "q_overlap_join",        # interval join, BASELINE.md's external anchor
    "q_overlap_join_large",  # interval join shuffling both sides
    "q_bucketed_join",       # exchange-free bucketed join
    "q_asof_join",           # union + carry-forward point-in-time join
    "q_session_window",      # event-time session windows
]
STREAM_BOUNDARY = [
    "q_identity_roundtrip",        # in-process Arrow round trip, bandwidth-bound
    "q_chunk_count_total",         # pandas chunks reduced to one row
    "q_arrow_pipe",                # Arrow stream to a child process
    "q_tsv_pipe",                  # TSV through RDD.pipe
    "q_df_roundtrip",              # R data.frame protocol round trip
    "multimodal_resize_pipeline",  # per-row fan-out
]
# eager jobs in the builder (signatures, banding, staging), then a short
# action; no DuckDB oracle, so the warm pass's result is the reference
CURATION = ["dedup_minhash_lsh"]
QUERIES = RELATIONAL + STREAM_BOUNDARY + CURATION


def _normalized(df: DataFrame) -> list:
    """Columns with floating values rounded to 6 places and -0.0 folded,
    so the hash is stable under summation-order noise."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 6) + F.lit(0.0)
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: F.round(x.cast("double"), 6) + F.lit(0.0))
        cols.append(c)
    return cols


def content_hash(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent sum of per-row xxhash64) in one
    action returning one row."""
    h = F.xxhash64(*_normalized(df)).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


@dataclass
class Execution:
    query: str
    pass_no: int
    build_s: float
    action_s: float
    ok: bool
    error: str | None = None

    @property
    def total_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class BatchResult:
    setup_s: float = 0.0
    setup_failures: list[str] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    executions: list[Execution] = field(default_factory=list)


class BatchWorkload:
    """Runs the batch workload on an existing session.

    Every build and action runs under its own Spark job group
    (``p<pass>:<query>:build|action``), so a traced run can attribute
    Spark's counters.  ``tracer``, when given, also records a span around
    each pass, execution, build and action; untraced runs pass ``None``.
    """

    def __init__(self, spark: SparkSession, sf_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = list(QUERIES)
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.expected: dict[str, tuple[int, int] | None] = {}

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group, interruptOnCancel=False)

    def warm_and_verify(self, result: BatchResult) -> float:
        """Untimed first execution of every query.  Returns the seconds
        spent in oracle checks, which set-up time excludes."""
        con = duckdb_connection(self.sf_dir)
        oracle_s = 0.0
        for name in self.queries:
            self._group(f"warm:{name}:build")
            try:
                df = REGISTRY[name](self.spark, self.sf_dir)
                self._group(f"warm:{name}:action")
                pdf = df.toPandas()
                expected = content_hash(df)
                t0 = time.perf_counter()
                problems = []
                if expected[0] != len(pdf):
                    problems.append(f"hash action saw {expected[0]} rows, collect saw {len(pdf)}")
                if name in ORACLES:
                    problems += compare(pdf, con.execute(ORACLES[name]).fetchdf())
                oracle_s += time.perf_counter() - t0
            except Exception:  # a failing query stays in the workload
                result.setup_failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                self.expected[name] = None
                continue
            if problems:
                result.setup_failures.append(f"{name}: {problems}")
                self.expected[name] = None
            else:
                self.expected[name] = expected
        con.close()
        self._group("idle")
        return oracle_s

    def execute(self, name: str, pass_no: int) -> Execution:
        tr = self.tracer
        t0 = time.perf_counter()
        t1 = t0
        try:
            self._group(f"p{pass_no}:{name}:build")
            if tr:
                tr.begin("build", name)
            df = REGISTRY[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if tr:
                tr.end()
                tr.begin("action", name)
            self._group(f"p{pass_no}:{name}:action")
            got = content_hash(df)
            t2 = time.perf_counter()
            if tr:
                tr.end()
        except Exception as exc:  # counted as a failed execution
            t2 = time.perf_counter()
            if tr:
                tr.end()
            return Execution(name, pass_no, t1 - t0, t2 - t1, False, repr(exc)[:500])
        want = self.expected.get(name)
        ok = want is not None and got == want
        err = None if ok else f"got {got}, verified {want}"
        return Execution(name, pass_no, t1 - t0, t2 - t1, ok, err)

    def run(self, result: BatchResult, seconds: float) -> None:
        """Timed passes until ``seconds`` have elapsed (at least one)."""
        t_end = time.perf_counter() + seconds
        pass_no = 0
        while pass_no == 0 or time.perf_counter() < t_end:
            order = self.queries[:]
            self.rng.shuffle(order)
            if self.tracer:
                self.tracer.begin_pass(pass_no)
            t0 = time.perf_counter()
            for name in order:
                if self.tracer:
                    self.tracer.begin("execution", name)
                result.executions.append(self.execute(name, pass_no))
                if self.tracer:
                    self.tracer.end()
            result.passes.append(time.perf_counter() - t0)
            if self.tracer:
                self.tracer.end_pass()
            pass_no += 1
        self._group("idle")

