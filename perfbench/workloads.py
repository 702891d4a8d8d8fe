"""The benchmark's workloads. Each one drives ``quickwit_spark`` through its
public functions, times fixed numbers of operations, checks every output
against a DuckDB oracle outside the timed region, and fills ``run.e2e``;
with ``--trace 1`` it also fills ``run.layers`` from spans recorded around
the calls into each layer and from Spark's status store."""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import ExitStack, contextmanager
from time import perf_counter

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs, oracles
from perfbench.common import (
    JobGroup,
    RssSampler,
    Spans,
    dir_stats,
    geomean,
    median,
    start_spark,
    stop_spark,
    summary,
)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, root: str, t_start: float):
        self.args = args
        self.root = root
        self.t_start = t_start
        self.work = os.path.join(root, "perfbench", ".work")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.corrupt = bool(args.corrupt_oracle)
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.setup = {"generate_s": 0.0, "session_s": 0.0, "warm_s": 0.0}
        self.rss = RssSampler()

    # -- set-up ------------------------------------------------------------

    def n_ops(self, nominal_s: float, minimum: int) -> int:
        """A fixed operation count for the run length (never adapted to
        the speeds observed in this run)."""
        return max(minimum, round(self.args.seconds / nominal_s))

    def generate(self, fn):
        t = perf_counter()
        path, generated = fn()
        self.setup["generate_s"] += perf_counter() - t
        self.detail.setdefault("inputs", []).append({"path": os.path.relpath(path, self.root),
                                                     "generated": generated})
        return path

    def start_session(self) -> None:
        t = perf_counter()
        self.spark = start_spark(self.work, self.cpus)
        self.setup["session_s"] += perf_counter() - t

    def warm(self, fn):
        """Run a warm-up step; it counts in set-up time even when it runs
        after ``setup_done`` (a leaf's first run, just before its timed
        runs)."""
        t = perf_counter()
        result = fn()
        seconds = perf_counter() - t
        self.setup["warm_s"] += seconds
        if "setup_s" in self.e2e:
            self.e2e["setup_s"] += seconds
        return result

    def setup_done(self) -> None:
        self.e2e["setup_s"] = perf_counter() - self.t_start
        self.mark("setup_done")

    def mark(self, phase: str) -> None:
        """Record when a phase ended, in seconds since process start."""
        self.detail.setdefault("timeline", {})[phase] = perf_counter() - self.t_start

    def finish(self) -> None:
        for k, v in self.setup.items():
            self.layers[f"setup.{k}"] = v
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        self.mark("stopped")

    def out_dir(self, name: str) -> str:
        path = os.path.join(self.work, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- operations ----------------------------------------------------------

    def attempt(self, label: str, fn):
        """(seconds, result) of one operation; an exception counts it as
        failed and returns (seconds, None)."""
        t = perf_counter()
        try:
            result = fn()
        except Exception:  # an operation failure is reported, not fatal
            self.outcome(label, [traceback.format_exc(limit=4)])
            return perf_counter() - t, None
        return perf_counter() - t, result

    def outcome(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.append(f"{label}: {'; '.join(problems)}")
            print(f"[perfbench] FAILED {label}: {'; '.join(problems)}", file=sys.stderr)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _cfg():
    from quickwit_spark.pipeline.runner import PipelineConfig

    return PipelineConfig()


def ingest_bulk(run: Run) -> None:
    """run_pipeline over one table as a single commit, into a fresh out dir
    per pass. The traced run adds the per-layer probes: a traced bulk pass,
    forced DAG prefixes, the routing kernel, small time-sliced commits with
    a janitor cycle, a search mix over the index they build, and one bulk
    pass at local[1]."""
    from quickwit_spark.pipeline.runner import run_pipeline

    a, cfg = run.args, _cfg()
    turns = a.turns or 100_000
    passes = run.n_ops(nominal_s=3.5, minimum=3)
    src = run.generate(lambda: inputs.transcripts(run.work, turns, a.seed, run.cpus))
    warm_src = run.generate(
        lambda: inputs.transcripts(run.work, max(1000, turns // 5), a.seed, run.cpus))
    run.start_session()
    # a cold pass over a fifth of the table, then one over the whole table:
    # after the cold pass alone the next pass is still about 1.4x slower
    run.warm(lambda: run_pipeline(run.spark, warm_src, run.out_dir("bulk-warm"), cfg))
    run.warm(lambda: run_pipeline(run.spark, src, run.out_dir("bulk-warm"), cfg))
    run.setup_done()

    samples = []
    for i in range(passes):
        out = run.out_dir(f"bulk-{i}")
        seconds, res = run.attempt(f"bulk pass {i}", lambda: run_pipeline(run.spark, src, out, cfg))
        samples.append((seconds, res, out))

    run.mark("measured")
    oracle = oracles.IngestOracle(src)
    want = oracle.expected()
    if run.corrupt:
        want["valid"] += 1
    max_turn = oracle.con.sql(f"SELECT max(turn_idx) FROM {oracle.src}").fetchone()[0]
    last_delta = {"turn_range": (None, max_turn + 1)}  # run_pipeline's single chunk

    def check(label: str, res, out: str) -> None:
        problems = [] if len(res) == 1 else [f"{len(res)} commits, want 1"]
        if res and res[0]["num_valid"] != want["valid"]:
            problems.append(f"num_valid {res[0]['num_valid']} want {want['valid']}")
        problems += oracles.ingest_mismatches(oracle, want, out, cfg.source_id, last_delta)
        run.outcome(label, problems)

    for i, (_s, res, out) in enumerate(samples):
        if res is not None:
            check(f"bulk pass {i}", res, out)

    run.mark("checked")
    ok = [(s, res[0]["num_valid"]) for s, res, _o in samples if res]
    if not ok:
        raise RuntimeError("every bulk pass failed")
    med = median([s for s, _n in ok])
    run.e2e["op_geomean_ms"] = geomean([s for s, _n in ok]) * 1e3
    run.e2e["throughput_per_s"] = median([n for _s, n in ok]) / med
    run.detail["passes_s"] = summary([s for s, _n in ok])

    if not a.trace:
        return
    input_bytes = dir_stats(os.path.join(src, "transcripts.parquet"))[0]
    spans, groups = Spans(), []
    out = run.out_dir("bulk-traced")
    with ExitStack() as stack:
        _commit_tracing(run, spans, groups, stack)
        traced_s, res = run.attempt("bulk traced pass", lambda: run_pipeline(run.spark, src, out, cfg))
    if res:
        check("bulk traced pass", res, out)
        jobs = groups[-1].jobs
        L = run.layers
        L["runner.shuffle_write_bytes_per_turn"] = (
            sum(j["shuffle_write_bytes"] for j in jobs) / res[0]["num_valid"])
        L["runner.spill_bytes"] = sum(j["spill_bytes"] for j in jobs)
        L["runner.stored_bytes_per_input_byte"] = dir_stats(out)[0] / input_bytes
        L["trace.overhead_share"] = traced_s / med - 1
        run.detail["bulk_traced_jobs"] = jobs
    _stage_prefixes(run, src)
    _siphash(run, src)
    index = _small_commits(run, src, oracle, want)
    if index:
        _search(run, index, src)
    _scaling(run, src, run.e2e["throughput_per_s"])


def _write_label(_writer, path, *_a, **_k) -> str:
    parts = str(path).split(os.sep)
    for key in ("sinks", "quarantine", "_lineage", "_metrics"):
        if any(p == key or p.startswith(f"{key}=") for p in parts):
            return f"write:{key}"
    return "write:other"


def _commit_tracing(run: Run, spans: Spans, groups: list, stack: ExitStack) -> None:
    """Wrap run_chunk (a span and a job group per commit) and the calls it
    makes into the writer, reader, collect and checkpoint layers."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from quickwit_spark.pipeline import runner
    from quickwit_spark.pipeline.checkpoint import CheckpointStore

    def group(*_a, **_k):
        groups.append(JobGroup(run.spark, "commit"))
        return groups[-1]

    stack.enter_context(spans.wrap(runner, "run_chunk", group))
    stack.enter_context(spans.patch(runner, "run_chunk", "run_chunk"))
    stack.enter_context(spans.patch(DataFrameWriter, "parquet", _write_label))
    stack.enter_context(spans.patch(DataFrameReader, "parquet", "read"))
    stack.enter_context(spans.patch(DataFrame, "collect", "collect"))
    stack.enter_context(spans.patch(CheckpointStore, "current", "checkpoint.current"))


def _checkpoint_ms(current, out_dir: str, source_id: str) -> float:
    """Median of 5 calls of ``current``, the unwrapped
    ``CheckpointStore.current``, so no span adds to the time."""
    from quickwit_spark.pipeline.checkpoint import CheckpointStore

    store = CheckpointStore(out_dir)
    times = []
    for _ in range(5):
        t = perf_counter()
        current(store, source_id)
        times.append((perf_counter() - t) * 1e3)
    return median(times)


def _time_slices(src: str, k: int) -> list[dt.datetime]:
    """k+1 boundaries splitting the table into k time-ordered slices of
    equal turn counts."""
    ts = pq.read_table(os.path.join(src, "transcripts.parquet"), columns=["ts"]).column("ts")
    us = np.sort(ts.cast("int64").to_numpy())
    cuts = [int(us[i * len(us) // k]) for i in range(k)] + [int(us[-1]) + 1]
    epoch = dt.datetime(1970, 1, 1)
    return [epoch + dt.timedelta(microseconds=c) for c in cuts]


def _slice_sql(bounds: list[dt.datetime]) -> str:
    whens = " ".join(
        f"WHEN ts < TIMESTAMP '{b.isoformat(sep=' ')}' THEN {i}"
        for i, b in enumerate(bounds[1:]))
    return f"CASE {whens} END"


def _small_commits(run: Run, src: str, oracle, want: dict, k: int = 4) -> str | None:
    """The table as ``k`` equal, time-ordered slices, each published by
    run_chunk with a contiguous checkpoint delta, then one janitor cycle
    (merge + GC). Fills runner.*, checkpoint.* and janitor.*; returns the
    index directory, or None when a commit failed."""
    from pyspark.sql import functions as F

    from quickwit_spark.pipeline import janitor, runner
    from quickwit_spark.pipeline.checkpoint import CheckpointStore

    cfg, spark, current = _cfg(), run.spark, CheckpointStore.current
    bounds = _time_slices(src, k)
    table = spark.read.parquet(os.path.join(src, "transcripts.parquet"))
    tenants = spark.read.parquet(os.path.join(src, "tenants.parquet"))
    want_slices = oracle.valid_counts(_slice_sql(bounds))
    out = run.out_dir("small")
    spans, groups, commits = Spans(), [], []
    with ExitStack() as stack:
        _commit_tracing(run, spans, groups, stack)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            part = table.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
            delta = {"ts_slice": (None if i == 0 else i, i + 1)}
            _s, m = run.attempt(f"commit {i}", lambda part=part, i=i, delta=delta: runner.run_chunk(
                spark, part, tenants, out, cfg, f"c{i:04d}", delta))
            commits.append(m)
            if m is not None:
                run.outcome(f"commit {i}", [] if m["num_valid"] == want_slices[i] else
                            [f"num_valid {m['num_valid']} want {want_slices[i]}"])
            if i == 0:
                run.layers["checkpoint.current_ms_first"] = _checkpoint_ms(
                    current, out, cfg.source_id)
    if any(m is None for m in commits):
        return None
    L = run.layers
    L["checkpoint.current_ms_last"] = _checkpoint_ms(current, out, cfg.source_id)
    starts = [i for i, r in enumerate(spans.records) if r["name"] == "run_chunk"]

    def child_time(names: tuple[str, ...]) -> float:
        return median([sum(r["end"] - r["start"] for r in spans.records
                           if r["parent"] == c and r["name"] in names) for c in starts])

    L["runner.commit_s"] = median(spans.durations("run_chunk"))
    L["runner.jobs_per_commit"] = median([len(g.jobs) for g in groups])
    L["runner.sink_write_s"] = child_time(("write:sinks",))
    L["runner.quarantine_write_s"] = child_time(("write:quarantine",))
    L["runner.outcome_count_s"] = child_time(("collect",))
    L["runner.lineage_s"] = child_time(("read", "write:_lineage"))
    L["runner.metrics_agg_s"] = child_time(("write:_metrics",))
    sinks = os.path.join(out, "sinks")
    L["runner.files_per_commit"] = median(
        [dir_stats(os.path.join(sinks, d))[1] for d in os.listdir(sinks)])
    L["checkpoint.current_calls_per_commit"] = sum(
        r["name"] == "checkpoint.current" and r["parent"] in starts for r in spans.records) / k
    run.detail["commit_jobs"] = [g.jobs for g in groups]

    before = dir_stats(sinks)[0]
    with spans.patch(janitor, "merge_splits", "janitor.merge_splits"):
        cycle_s, summ = run.attempt("janitor cycle", lambda: janitor.janitor_cycle(
            spark, out, merge_factor=k // 2, max_merge_factor=k // 2, tag_fields=cfg.tag_fields))
    if summ is None:
        return None
    problems = oracles.ingest_mismatches(oracle, want, out, cfg.source_id, {"ts_slice": (k - 1, k)})
    if not summ["merge"]["groups"]:
        problems.append("janitor merged nothing")
    run.outcome("janitor cycle", problems)
    merged = summ["merge"]["merged"]
    L["janitor.cycle_s"] = cycle_s
    L["janitor.merge_splits_s"] = sum(spans.durations("janitor.merge_splits"))
    L["janitor.commits_merged"] = sum(len(g) for g in summ["merge"]["groups"])
    L["janitor.bytes_rewritten_per_byte"] = sum(
        dir_stats(os.path.join(sinks, f"commit={m}"))[0] for m in merged) / before
    return out


def _stage_prefixes(run: Run, src: str, reps: int = 2) -> None:
    """stages.*: forced prefixes of the DAG (every column written to the
    noop sink), reported as the time each stage adds to the prefix before
    it (a difference of medians, so it can read slightly below zero)."""
    from quickwit_spark.pipeline.stages import (
        enrich_stage,
        fingerprint_col,
        parse_stage,
        route_stage,
    )

    cfg, spark = _cfg(), run.spark
    t = spark.read.parquet(os.path.join(src, "transcripts.parquet"))
    d = spark.read.parquet(os.path.join(src, "tenants.parquet"))
    parsed = parse_stage(t)
    enriched = enrich_stage(parsed, d)
    routed = route_stage(enriched, cfg.partition_expr, cfg.max_num_partitions)
    printed = routed.withColumn("fingerprint", fingerprint_col("msg"))
    prev = 0.0
    for name, df in (("parse", parsed), ("enrich", enriched), ("route", routed),
                     ("fingerprint", printed)):
        times = []
        for _ in range(reps):
            tt = perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(perf_counter() - tt)
        run.layers[f"stages.{name}_s"] = median(times) - prev
        prev = median(times)


def _siphash(run: Run, src: str, reps: int = 3) -> None:
    """routing.siphash_rows_per_s: the routing kernel called directly on the
    input's tenant ids (the Python side of the pandas/Arrow boundary)."""
    from quickwit_spark.routing import RoutingExpr

    text = pq.read_table(os.path.join(src, "transcripts.parquet"), columns=["text"])
    tenants = text.column("text").to_pandas().str.extract(r"tenant=([\w-]+)")[0].dropna()
    expr = RoutingExpr(_cfg().partition_expr)
    times = []
    for _ in range(reps):
        t = perf_counter()
        expr.eval_hash_columns({"tenant_id": tenants})
        times.append(perf_counter() - t)
    run.layers["routing.siphash_rows_per_s"] = len(tenants) / median(times)


def _scaling(run: Run, src: str, tps_all: float) -> None:
    """ingest_bulk.scaling_eff_1to4: one bulk pass at local[1] against the
    local[cpus] throughput, (T_cpus / T_1) / cpus."""
    from quickwit_spark.pipeline.runner import run_pipeline

    cfg = _cfg()
    stop_spark(run.spark, keep_jvm=True)
    run.spark = start_spark(run.work, 1)
    seconds, res = run.attempt("bulk pass local[1]",
                               lambda: run_pipeline(run.spark, src, run.out_dir("bulk-1"), cfg))
    if res:
        run.outcome("bulk pass local[1]", [])
        run.layers["ingest_bulk.scaling_eff_1to4"] = (
            tps_all / (res[0]["num_valid"] / seconds)) / run.cpus


# ---------------------------------------------------------------------------
# search (traced ingest_bulk runs only)
# ---------------------------------------------------------------------------

FIELD_TYPES = {"level": "raw", "tier": "raw", "sink": "raw", "tenant_id": "raw",
               "role": "raw", "msg": "text", "ts": "datetime", "latency_ms": "numeric"}
_PHRASES = ("connection refused", "disk almost full", "request completed", "cache miss")


def search_requests(seed: int, lo: float, hi: float, rounds: int = 2) -> list[tuple[dict, str]]:
    """A seeded mix of distinct native requests with the SQL predicate of
    their expected hits: a term query sorted by ts, a time-bounded
    date_histogram, terms on sink with cardinality on tenant_id, and a
    phrase on msg. Every date_histogram and, by coin flip, about a third of
    the others are time-bounded."""
    rng = random.Random(seed)
    out = []

    def window(req: dict, always: bool = False) -> dict:
        if always or rng.random() < 0.5:
            span = (hi - lo) * rng.uniform(0.15, 0.3)
            start = int(rng.uniform(lo, hi - span))
            req.update(start_timestamp=start, end_timestamp=int(start + span))
        return req

    for _ in range(rounds):
        level = rng.choice(("ERROR", "WARN", "DEBUG"))
        out.append((window({"query": f"level:{level}", "max_hits": 10, "sort_by": "ts"}),
                    f"level = '{level}'"))
        out.append((window({"query": "*", "max_hits": 0, "aggs": {"h": {"date_histogram": {
            "field": "ts", "fixed_interval": "1d"}}}}, always=True), "TRUE"))
        tier = rng.choice(("free", "pro", "enterprise"))
        out.append((window({"query": f"tier:{tier}", "max_hits": 0, "aggs": {"s": {
            "terms": {"field": "sink"},
            "aggs": {"c": {"cardinality": {"field": "tenant_id"}}}}}}),
            f"tier = '{tier}'"))
        phrase = rng.choice(_PHRASES)
        out.append((window({"query": f'msg:"{phrase}"', "max_hits": 5}),
                    f"lower(msg) LIKE '%{phrase}%'"))
    return out


def _search(run: Run, out: str, src: str) -> None:
    from quickwit_spark import api
    from quickwit_spark.operators.query import QueryCompiler
    from quickwit_spark.pipeline import janitor

    ts = pq.read_table(os.path.join(src, "transcripts.parquet"), columns=["ts"]).column("ts")
    us = ts.cast("int64").to_numpy()
    lo, hi = us.min() / 1e6, us.max() / 1e6
    total = len(os.listdir(os.path.join(out, "sinks")))
    spans, kept, latencies, jobs, parse_ms = Spans(), [], [], [], []

    def record_kept(result):
        kept.append(len(result) / total)

    with ExitStack() as stack:
        stack.enter_context(spans.patch(janitor, "prune_splits", "prune", on_result=record_kept))
        stack.enter_context(spans.patch(QueryCompiler, "parse", "parse"))
        stack.enter_context(spans.patch(api, "run_es_aggs", "aggs"))
        for i, (req, where) in enumerate(search_requests(run.args.seed, lo, hi)):
            label = f"search {i} {req['query']}"
            first = len(spans.records)
            with JobGroup(run.spark, "search") as group:
                seconds, res = run.attempt(
                    label, lambda req=req: api.quickwit_search_index(run.spark, out, req, FIELD_TYPES))
            if res is None:
                continue
            latencies.append(seconds)
            jobs.append(len(group.jobs))
            parse_ms.append(sum(spans.durations("parse", first)) * 1e3)
            hist = "h" in req.get("aggs", {})
            hits, buckets = oracles.search_expected(
                out, where, req.get("start_timestamp"), req.get("end_timestamp"), hist)
            problems = [] if res["num_hits"] == hits else [f"num_hits {res['num_hits']} want {hits}"]
            if hist:
                got = {int(b["key"]): b["doc_count"]
                       for b in res["aggregations"]["h"]["buckets"] if b["doc_count"]}
                if got != buckets:
                    problems.append("date_histogram buckets differ")
            run.outcome(label, problems)
    if not latencies:
        return
    L = run.layers
    L["janitor.prune_splits_ms"] = median(spans.durations("prune")) * 1e3
    L["janitor.splits_kept_ratio"] = sum(kept) / len(kept)
    L["query.parse_ms"] = median(parse_ms)
    L["aggs.run_es_aggs_ms"] = median(spans.durations("aggs")) * 1e3
    L["search.jobs_per_request"] = median(jobs)
    L["search.latency_p50_ms"] = median(latencies) * 1e3
    L["search.latency_max_ms"] = max(latencies) * 1e3
    run.detail["search_s"] = summary(latencies)


# ---------------------------------------------------------------------------
# leaves
# ---------------------------------------------------------------------------


@contextmanager
def _term_index_in(work: str):
    """Relocate the build-once term index that ``index_bm25`` caches under a
    fixed ``/tmp`` path (``postings.cached_index_path``) into ``work``: a
    run writes only inside its checkout."""
    from quickwit_spark.operators import postings

    original = postings.cached_index_path
    root = os.path.join(work, "term-index")
    os.makedirs(root, exist_ok=True)
    postings.cached_index_path = lambda sf_dir, tag="term_index": os.path.join(
        root, os.path.basename(original(sf_dir, tag)))
    try:
        yield
    finally:
        postings.cached_index_path = original


def leaf_queries(run: Run) -> None:
    """The bench.HEADLINE registry leaves, each fully materialised with
    collect()."""
    with _term_index_in(run.work):
        _leaf_queries(run)


def _leaf_queries(run: Run) -> None:
    import bench
    import __spark_entry__ as entry

    leaves = bench.HEADLINE
    a = run.args
    sf = a.sf or 0.01
    reps = run.n_ops(nominal_s=10.0, minimum=1)
    tables = run.generate(lambda: inputs.tables(run.work, sf, a.seed))
    run.start_session()
    spark, registry = run.spark, entry.queries()

    def one(name: str):
        df = registry[name](spark, tables)
        return df.columns, [tuple(r) for r in df.collect()]

    run.setup_done()
    # each leaf runs once untimed (its plans compile, its Python workers
    # start; set-up time), then ``reps`` timed runs back to back
    times: dict[str, list[float]] = {n: [] for n in leaves}
    results = []
    for name in leaves:
        try:
            run.warm(lambda name=name: one(name))
        except Exception:  # the timed runs that follow report the failure
            traceback.print_exc(limit=2)
        for p in range(reps):
            seconds, res = run.attempt(f"{name} run {p}", lambda name=name: one(name))
            if res is not None:
                times[name].append(seconds)
                results.append((name, p, res))

    run.mark("measured")
    oracle = oracles.LeafOracle(run.root, tables, entry.oracle_sql())
    if run.corrupt:
        oracle.add_wrong_row(leaves[0])
    for name, p, (cols, rows) in results:
        problem = oracle.mismatch(name, cols, rows)
        run.outcome(f"{name} run {p}", [problem] if problem else [])

    run.mark("checked")
    run.detail["oracle_tolerated"] = oracle.tolerated
    per_leaf = {n: median(v) for n, v in times.items() if v}
    if not per_leaf:
        raise RuntimeError("every leaf failed")
    run.e2e["op_geomean_ms"] = geomean(per_leaf.values()) * 1e3
    run.e2e["throughput_per_s"] = len(per_leaf) / sum(per_leaf.values())
    run.detail["leaf_s"] = {n: summary(v) for n, v in times.items() if v}

    if not a.trace:
        return
    L = run.layers
    L["leaf.suite_s"] = sum(per_leaf.values())
    traced_total = 0.0
    for name in leaves:
        L[f"leaf.{name}_s"] = per_leaf.get(name, 0.0)
        with JobGroup(spark, name) as group:
            seconds, res = run.attempt(f"{name} traced", lambda name=name: one(name))
        if res is not None:
            problem = oracle.mismatch(name, *res)
            run.outcome(f"{name} traced", [problem] if problem else [])
            traced_total += seconds
            L[f"leaf.{name}.shuffle_bytes"] = group.total("shuffle_write_bytes")
    L["trace.overhead_share"] = traced_total / L["leaf.suite_s"] - 1


WORKLOADS = {"ingest_bulk": ingest_bulk, "leaf_queries": leaf_queries}


def env_info(root: str) -> dict:
    import subprocess

    import pyarrow
    import pyspark

    rev = None
    if os.path.isdir(os.path.join(root, ".git")):  # an exported source tree has none
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_revision": rev,
        "loadavg": os.getloadavg(),
        "time": time.time(),
    }
