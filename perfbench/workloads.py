"""The benchmark's three workloads. Each is a closed loop with one client:
an op starts only after the previous one returned.

* ``analyst``: the relational registry keys over one warm lake, passes in a
  fixed key order into the noop sink (``spark.catalog.clearCache()``
  before each op, as ``bench.py`` does).
* ``corpus``: the text, dedup and vector keys, one cold pass per freshly
  generated corpus; results are collected and checked.
* ``lake_maintenance``: weekly cycles of fold (snapshot stream), ingest
  (corpus ingest stream), index (apply-log registry key) and read
  (``vacancy.domain``) over state that every fold rewrites.

A workload fills a ``Result``: per-op latencies by kind, pass walls, and
the ops attempted and failed.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import checks
import gen

#: bench.HEADLINE minus its nine text and dedup keys.
ANALYST_KEYS = (
    "flagship_region_share",
    "pricing_summary",
    "star_join_3way",
    "shipping_priority",
    "local_supplier_volume",
    "market_share",
    "product_type_profit",
    "min_cost_supplier",
    "returned_item_report",
    "waiting_suppliers",
    "large_order_customers",
    "customer_order_distribution",
    "snapshot_merge",
    "asof_state_at_date",
    "top_n_per_group",
    "pivot_by_year",
    "skill_freq",
    "tumbling_window_count",
    "interval_join_attribution",
    "sliding_window_avg",
    "order_gap_days",
    "moving_sum_value",
    "ntile_quartiles",
    "price_percentiles",
    "lake_dpp_star_join",
)

#: bench.HEADLINE's text and dedup keys plus five pipeline keys.
CORPUS_KEYS = (
    "tfidf_top_terms",
    "corpus_prep_stats",
    "sequence_pack",
    "doc_chunk_overlap",
    "exact_dedup",
    "ngram_jaccard_dedup",
    "minhash_lsh_dedup",
    "simhash_near_dup",
    "cosine_topk",
    "containment_dedup",
    "corpus_keep_list",
    "semantic_dedup",
    "boilerplate_strip",
    "ann_ivfpq_index_serve",
)

#: The index op alternates between these driver-contract keys.
INDEX_KEYS = ("ann_apply_log_replay", "ann_apply_log_ivf2")

_TINY = gen.Sizes(lineitem=6000, orders=1500, customer=150, part=200, supplier=10,
                  events=1000, documents=120, embeddings=60)

#: Generated lake sizes per workload; ``tiny`` is the smoke-test scale.
WORKLOAD_SIZES = {
    "analyst": gen.Sizes(lineitem=60_000, orders=15_000, customer=1_500, part=2_000, supplier=100,
                         events=10_000, documents=500, embeddings=200),
    "corpus": gen.Sizes(lineitem=600, orders=150, customer=15, part=20, supplier=10,
                        events=100, documents=600, embeddings=400),
    "lake_maintenance": gen.Sizes(lineitem=600, orders=150, customer=15, part=20, supplier=10,
                                  events=100, documents=50, embeddings=300),
}
#: Nominal pass times on a 4-core host: a run of ``--seconds`` makes
#: ``round(seconds / nominal)`` passes (2, 1 and 2 at 12 s).
ANALYST_PASS_S = 6.0
CORPUS_PASS_S = 12.0
LAKE_CYCLE_S = 6.0
#: analyst: untimed noop passes after the checked one
ANALYST_WARMUP_PASSES = 2
#: Corpus documents of the JIT warm-up input (same seed, own stream).
CORPUS_WARMUP_DOCS = 200
#: lake_maintenance: live vacancies per snapshot, documents per ingest
#: batch, untimed warm-up weeks.
LAKE_LIVE = 20_000
LAKE_BATCH_DOCS = 300
LAKE_WARMUP_WEEKS = 2


@dataclass
class Result:
    """What one workload run measured."""

    latencies: dict[str, list[float]] = field(default_factory=dict)
    passes: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    setup_parts: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)

    def all_latencies(self) -> list[float]:
        return [x for v in self.latencies.values() for x in v]


class Ctx:
    """Shared state of a run: the session, the registry, the tracer (None
    untraced), the work directory and the run's length."""

    def __init__(self, spark, queries, oracle_sql, parity, tracer, work: str, seed: int,
                 seconds: float, tiny: bool) -> None:
        self.spark = spark
        self.queries = queries
        self.oracle_sql = oracle_sql
        self.parity = parity
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tiny = tiny
        self.result = Result()
        #: (progress dicts, ids of the streams the benchmark started)
        self.stream_progress: tuple[list, set] = ([], set())
        #: () -> {derived-layout _SUCCESS path: mtime}; set by the runner
        self.layout_markers = dict
        #: derived layouts (re)built during the timed phase
        self.layout_rebuilds = 0

    def input_dir(self, name: str) -> str:
        """A directory for generated inputs. Its name carries the process
        id because the engine tags derived layouts with it."""
        return os.path.join(self.work, f"pbw{os.getpid()}_{name}_{self.seed}")

    def oracle_cache(self, lake: str, names) -> "checks.OracleCache":
        """Oracle results for ``names`` on ``lake``, computed now."""
        cache = checks.OracleCache(self.parity, lake)
        for name in names:
            cache.execute(self.oracle_sql[name])
        return cache

    # -- tracing helpers -------------------------------------------------

    def span(self, layer: str):
        return nullcontext() if self.tracer is None else self.tracer.span(layer)

    def sizes(self, workload: str) -> gen.Sizes:
        return _TINY if self.tiny else WORKLOAD_SIZES[workload]

    # -- op bookkeeping --------------------------------------------------

    def op(self, kind: str, fn, timed: bool = True, check=None) -> float:
        """Run ``fn()`` as one op: clear the cache, time it, count it.
        ``check(value)``, run after the clock stops, returns None or a
        failure reason; a raised exception also counts as failed."""
        self.spark.catalog.clearCache()
        if self.tracer is not None:
            self.tracer.op = (self.tracer.op or 0) + 1
        problem = None
        with self.span("bench.op"):
            t0 = time.perf_counter()
            try:
                value = fn()
            except Exception:  # noqa: BLE001 - a failed op is a measurement
                problem = traceback.format_exc(limit=3).strip().splitlines()[-1]
            dur = time.perf_counter() - t0
        if problem is None and check is not None:
            try:
                problem = check(value)
            except Exception:  # noqa: BLE001
                problem = traceback.format_exc(limit=3).strip().splitlines()[-1]
        r = self.result
        r.attempted += 1
        print(f"perfbench op {kind} {dur:.3f}s", file=sys.stderr, flush=True)
        if problem:
            r.failed += 1
            print(f"FAILED op {kind}: {problem}", flush=True)
        if timed:
            r.latencies.setdefault(kind, []).append(dur)
        return dur

    def timed_passes(self, one_pass, nominal_pass_s: float) -> None:
        """The timed phase: ``round(seconds / nominal_pass_s)`` passes, at
        least one. ``one_pass(i)`` returns its ops' summed latency (the
        pass time). The pass count depends on ``seconds`` only, so it is
        the same on every run and every commit; the phase lasts about
        ``seconds`` when a pass takes its nominal time. Untimed work inside
        a pass (inputs, oracles, checks) is not part of the pass time."""
        markers = self.layout_markers()
        with self.span("bench.timed"):
            for i in range(max(1, int(self.seconds / nominal_pass_s + 0.5))):
                self.result.passes.append(one_pass(i))
        after = self.layout_markers()
        self.layout_rebuilds = sum(1 for p, m in after.items() if markers.get(p) != m)


def _run_key(ctx: Ctx, name: str, lake: str, sink: str):
    """Build a registry key's plan and run it into ``sink`` ("noop" or
    "collect"). Returns the collected pandas frame or None."""
    with ctx.span("plans.build"):
        df = ctx.queries[name](ctx.spark, lake)
    with ctx.span("execute"):
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
            return None
        return df.toPandas()


def _checked_op(ctx: Ctx, kind: str, oracles, name: str, lake: str, timed: bool = True) -> float:
    """One op that collects registry key ``name`` and checks the result
    against its oracle."""
    return ctx.op(
        kind,
        lambda: _run_key(ctx, name, lake, "collect"),
        timed,
        check=lambda pdf: oracles.check(ctx.spark, name, ctx.oracle_sql[name], pdf),
    )


# ---------------------------------------------------------------------------
# analyst
# ---------------------------------------------------------------------------


def analyst(ctx: Ctx) -> None:
    lake = ctx.input_dir("analyst")
    gen.write_lake(lake, ctx.seed, ctx.sizes("analyst"))
    oracles = ctx.oracle_cache(lake, ANALYST_KEYS)
    # Warm-up: one pass checking every key's result against its oracle,
    # then untimed passes like the timed ones: on a 4-core host pass times
    # fall by ~10% over the first four passes while the JIT warms. Every
    # pass runs the keys in one fixed order; a seeded order per run gave
    # each run its own JIT history and doubled the spread between seeds.
    t0 = time.perf_counter()
    for name in ANALYST_KEYS:
        _checked_op(ctx, f"check:{name}", oracles, name, lake, timed=False)
    for _ in range(ANALYST_WARMUP_PASSES):
        for name in ANALYST_KEYS:
            ctx.op(f"warmup:{name}", lambda n=name: _run_key(ctx, n, lake, "noop"), timed=False)
    ctx.result.setup_parts["warmup_s"] = time.perf_counter() - t0

    def one_pass(_i: int) -> float:
        return sum(ctx.op(name, lambda n=name: _run_key(ctx, n, lake, "noop")) for name in ANALYST_KEYS)

    ctx.timed_passes(one_pass, ANALYST_PASS_S)
    oracles.close()


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _corpus_lake(ctx: Ctx, tag: str, seed_parts: tuple[int, ...], docs: int | None = None) -> str:
    lake = ctx.input_dir(f"corpus_{tag}")
    sizes = ctx.sizes("corpus")
    if docs is not None:
        sizes = gen.Sizes(**{**sizes.__dict__, "documents": docs, "embeddings": max(40, docs // 4)})
    gen.write_lake(lake, _derived_seed(ctx.seed, *seed_parts), sizes)
    return lake


def _derived_seed(*parts: int) -> int:
    """A derived seed; stable across processes (no Python hash())."""
    h = 0
    for p in parts:
        h = (h * 1_000_003 + p + 1) % (1 << 62)
    return h


def corpus(ctx: Ctx) -> None:
    # JIT warm-up on a small corpus from the same seed: every key once.
    warm = _corpus_lake(ctx, "warm", (1,), docs=_TINY.documents if ctx.tiny else CORPUS_WARMUP_DOCS)
    t0 = time.perf_counter()
    for name in CORPUS_KEYS:
        ctx.op(f"warmup:{name}", lambda n=name: _run_key(ctx, n, warm, "noop"), timed=False)
    ctx.result.setup_parts["warmup_s"] = time.perf_counter() - t0
    docs = ctx.sizes("corpus").documents

    def one_pass(i: int) -> float:
        # untimed: a fresh corpus and its oracle answers
        lake = _corpus_lake(ctx, f"p{i}", (2, i))
        oracles = ctx.oracle_cache(lake, CORPUS_KEYS)
        took = sum(_checked_op(ctx, name, oracles, name, lake) for name in CORPUS_KEYS)
        oracles.close()
        return took

    ctx.timed_passes(one_pass, CORPUS_PASS_S)
    r = ctx.result
    r.extra["docs_per_s"] = docs * len(r.passes) / sum(r.passes)


# ---------------------------------------------------------------------------
# lake_maintenance
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def lake_maintenance(ctx: Ctx) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from vacancy_analyser_spark.schemas import VACANCY_SCHEMA
    from vacancy_analyser_spark.streaming.ingest import corpus_ingest_stream
    from vacancy_analyser_spark.streaming.snapshot_stream import (
        ParquetStateStore,
        start_snapshot_merge_stream,
    )
    from vacancy_analyser_spark.vacancy import domain

    spark = ctx.spark
    lake = ctx.input_dir("lake")
    gen.write_lake(lake, ctx.seed, ctx.sizes("lake_maintenance"))
    oracles = ctx.oracle_cache(lake, INDEX_KEYS)
    snap_root = os.path.join(ctx.work, "snapshots")
    store = ParquetStateStore(os.path.join(ctx.work, "state"))
    snap_ckpt = os.path.join(ctx.work, "ckpt_snap")
    docs_src = os.path.join(ctx.work, "doc_batches")
    corpus_dir = os.path.join(ctx.work, "corpus")
    docs_ckpt = os.path.join(ctx.work, "ckpt_docs")
    os.makedirs(docs_src, exist_ok=True)
    by_name = {f.name: f for f in VACANCY_SCHEMA.fields}
    snap_schema = T.StructType([by_name[c] for c in gen.VACANCY_COLUMNS])
    feed = gen.VacancyFeed(ctx.seed, 400 if ctx.tiny else LAKE_LIVE)
    docs = gen.DocFeed(ctx.seed, 40 if ctx.tiny else LAKE_BATCH_DOCS)
    r = ctx.result
    progress: list[dict] = []
    own_queries: set[str] = set()
    acc = {"snap_rows": 0, "fold_s": 0.0, "landed": 0, "written": 0, "last": None}

    def run_stream(q) -> None:
        own_queries.add(str(q.id))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress.extend(q.recentProgress)

    def week(i: int, timed: bool) -> float:
        date, snap = feed.next_week()
        snap_file = os.path.join(snap_root, f"snapshot_date={date.isoformat()}", "part-0.parquet")
        gen.write_table(snap, snap_file)
        batch_file = os.path.join(docs_src, f"batch-{i:05d}.parquet")
        gen.write_table(docs.next_batch(), batch_file)
        corpus_before = _dir_bytes(corpus_dir) if os.path.isdir(corpus_dir) else 0

        def fold():
            with ctx.span("streaming.fold"):
                run_stream(start_snapshot_merge_stream(spark, snap_root, store, snap_ckpt, snap_schema))

        def ingest():
            stream = spark.readStream.schema("doc_id bigint, text string").parquet(docs_src)
            with ctx.span("streaming.ingest"):
                run_stream(
                    corpus_ingest_stream(stream, corpus_dir)
                    .option("checkpointLocation", docs_ckpt)
                    .trigger(availableNow=True)
                    .start()
                )

        key = INDEX_KEYS[i % len(INDEX_KEYS)]
        as_of = (date - dt.timedelta(weeks=1)).isoformat()

        def read():
            """Live IT vacancies per area, and vacancies live a week ago."""
            with ctx.span("vacancy.read"):
                state = spark.read.parquet(store.current_path)
                live = state.filter(F.col("removed_at").isNull())
                it = domain.it_specializations_only(domain.typed_from_flat(live))
                areas = {row["area_id"]: row["count"] for row in it.groupBy("area_id").count().collect()}
                d = F.lit(as_of).cast("date")
                n_as_of = state.filter(
                    (F.col("added_at") <= d) & (F.col("removed_at").isNull() | (F.col("removed_at") > d))
                ).count()
            return areas, n_as_of

        def read_check(got):
            want = checks.read_expected(store.current_path, as_of)
            return None if got == want else f"got {got}, want {want}"

        fold_s = ctx.op("fold", fold, timed)
        took = fold_s + ctx.op("ingest", ingest, timed)
        took += _checked_op(ctx, "index", oracles, key, lake, timed)
        took += ctx.op("read", read, timed, check=read_check)
        if timed:
            acc["snap_rows"] += snap.num_rows
            acc["fold_s"] += fold_s
            acc["landed"] += os.path.getsize(snap_file) + os.path.getsize(batch_file)
            acc["written"] += (_dir_bytes(store.current_path) if store.exists() else 0) + max(
                0, _dir_bytes(corpus_dir) - corpus_before
            )
            acc["last"] = date
        return took

    t0 = time.perf_counter()
    for i in range(1 if ctx.tiny else LAKE_WARMUP_WEEKS):
        week(i, timed=False)
    r.setup_parts["warmup_s"] = time.perf_counter() - t0
    n_warm = feed.week
    ctx.timed_passes(lambda i: week(n_warm + i, timed=True), LAKE_CYCLE_S)

    # final state and corpus against their DuckDB recomputations
    r.attempted += 2
    bad = checks.lifecycle_mismatches(snap_root, store.current_path)
    if bad:
        r.failed += 1
        print(f"FAILED check lifecycle: {bad} rows differ from the DuckDB recomputation", flush=True)
    problems = checks.corpus_problems(corpus_dir, os.path.join(docs_src, "*.parquet"))
    if problems:
        r.failed += 1
        print(f"FAILED check corpus: {'; '.join(problems)}", flush=True)
    oracles.close()

    r.extra["rows_per_s"] = acc["snap_rows"] / acc["fold_s"] if acc["fold_s"] else 0.0
    r.extra["write_amp"] = acc["written"] / acc["landed"] if acc["landed"] else 0.0
    ctx.stream_progress = (progress, own_queries)
    if ctx.tracer is not None:
        import pyarrow.parquet as pq

        st = pq.read_table(store.current_path, columns=["updated_at", "removed_at"]).to_pandas()
        last = acc["last"]
        changed = ((st["updated_at"] == last) | (st["removed_at"] == last)).sum()
        r.extra["state_rows"] = len(st)
        r.extra["merge_useful_share"] = float(changed) / len(st) if len(st) else 0.0
        r.extra["state_write_bytes"] = acc["written"]


WORKLOADS = {"analyst": analyst, "corpus": corpus, "lake_maintenance": lake_maintenance}
