"""Generation-synchronous crawl frontier engine (BASELINE.json north_rule).

Scheduling semantics (shared, by construction, with the sequential oracle in
``oracle.py`` — crawl order and seen set must match EXACTLY at any
parallelism):

* the frontier holds (url, url_hash, host, next_fetch_time, depth); a URL's
  ``next_fetch_time`` is the generation in which it was discovered
  (politeness clock in ticks, not wall time — deterministic);
* each generation: dedupe candidates by url_hash (min url / host /
  next_fetch_time / depth), drop already-seen, robots-gate, then per host
  schedule at most ``host_budget`` URLs in (next_fetch_time, url_hash, url)
  order;
* the global crawl order within a generation is (next_fetch_time, url_hash,
  url) — ordering is DEFINED BY DATA, never by task scheduling;
* scheduled docs are parsed (the §2 extraction kernel); out-links are the
  extracted Beteiligungen company names resolved through the CD page-index
  dictionary;
* disallowed URLs enter the seen set (decision made) without a fetch-log row;
* every generation commits frontier/seen/fetch_log, its seen-index run and
  lineage/metrics to the state store — resume reads the latest committed
  generation.

Scale shape (what keeps per-generation cost proportional to the GENERATION,
never to the accumulated crawl state):

* the frontier is split into **deferred** (validated-unseen, robots-allowed,
  over politeness budget last generation) and **pending** (links discovered
  last generation, not yet validated). Only PENDING rows are checked against
  the seen set — a deferred row cannot have become seen (only scheduling or
  a robots-disallow marks seen, and both remove a URL from deferral) — so
  the seen check is O(new links), not O(frontier);
* the seen check is ONE probe that never shuffles the seen set:
  ``bloom.probe_seen`` cogroups pending candidates with their shard's rows
  of every live seen-index run (bloom/cuckoo fast path + exact sorted-hash
  resolution, task-local). The live runs after generation g cover exactly
  generations 0..g (the binary-counter invariant in ``bloom``): bootstrap
  writes R_0, and generation g writes R_g = its seen delta merged with the
  runs of generations g - lowbit(g) + 1 .. g - 1 (``bloom.merge_run``),
  built next to the parse and committed with the generation — so upkeep
  grows with the delta, and ``run()`` never reads the ``seen`` table;
* the politeness queue is a SALTED repartition-by-host-hash + two-phase
  top-k (hot CD volumes split across ``n_salts`` slices, then a per-host
  re-rank over <= budget*n_salts survivors; hosts within budget bypass both
  windows), and the global sequence is a range-partitioned sort with
  per-partition offsets — no single-partition window anywhere;
* deferred rows carry a WAKE GENERATION (their politeness rank bounds the
  earliest generation they could be scheduled — per-host order is fixed
  and arrivals are monotone, so the bound is exact-conservative): rows
  sleep outside the merge/window passes until their wake, making the
  per-generation scheduling cost O(awake + new links) instead of
  O(accumulated frontier); re-discovered sleeping URLs are woken by a
  broadcast semi/anti join so the scheduled sequence stays byte-identical
  (at 10^10, store the sleep tier wake-bucket-partitioned in Iceberg and
  let partition pruning skip unripe buckets entirely);
* state flows between generations through eager in-memory localCheckpoints
  of the already-cached next-gen frames (a block copy, not a recompute) —
  that is the plan-truncation point, so NOTHING durable sits on the
  critical path;
* commits PIPELINE fully: every table write (frontier snapshot, seen delta,
  seen-index run, fetch_log, lineage, metrics) drains on a thread pool
  while the next generation computes — background jobs tagged into a
  separate FAIR scheduler pool so they share the cluster with (never
  head-block) the critical path — and a generation's manifest record is
  appended only once ALL of its writes landed (resume only ever sees
  fully-committed generations, so every run ``live_run_gens`` names at
  resume is whole).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fixtures
from ..operators import extract as X
from . import bloom
from .canonicalize import canonicalize_udf, host_of, url_hash64
from .robots import apply_robots
from .storage import StateStore

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("host", T.StringType()),
    T.StructField("next_fetch_time", T.LongType()),
    T.StructField("depth", T.IntegerType()),
])

SEEN_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("generation", T.IntegerType()),
])

_FCOLS = [f.name for f in FRONTIER_SCHEMA.fields]

# frontier snapshots carry the deferred/pending split flag plus, for
# deferred rows, the wake generation (earliest generation the row could
# possibly be scheduled — see _schedule_tagged's _delay bound). Rows sleep
# outside the per-generation scheduling until their wake generation, so
# the politeness windows run over O(generation) rows instead of the whole
# accumulated frontier.
FRONTIER_SNAP_SCHEMA = T.StructType(
    list(FRONTIER_SCHEMA.fields) + [T.StructField("validated", T.BooleanType()),
                                    T.StructField("wake_gen", T.LongType())])


def live_run_gens(gen: int) -> list[int]:
    """Generations whose seen-index runs are live after generation ``gen``:
    0, and ``gen`` with 0, 1, 2, ... of its lowest set bits cleared —
    ``popcount(gen) + 1`` runs (see ``bloom``)."""
    out = [0]
    while gen:
        out.append(gen)
        gen &= gen - 1
    return sorted(out)


def _with_identity(df: DataFrame) -> DataFrame:
    canon = canonicalize_udf(F.col("url"))
    return (df.withColumn("url", canon)
            .withColumn("url_hash", url_hash64("url"))
            .withColumn("host", host_of("url")))


def seeds_frontier(spark: SparkSession,
                   seeds: list[dict] | DataFrame) -> DataFrame:
    """Seed rows at generation 0. ``seeds`` is a list[{"url": ...}]
    (in-memory seed lists) or a DataFrame with a ``url`` column
    (distributed seed sets — sitemap discovery, recrawl epochs — never
    collected into Python)."""
    if isinstance(seeds, DataFrame):
        df = seeds.select("url")
    else:
        df = spark.createDataFrame(
            [(s["url"],) for s in seeds],
            T.StructType([T.StructField("url", T.StringType())]))
    return (_with_identity(df)
            .withColumn("next_fetch_time", F.lit(0).cast("long"))
            .withColumn("depth", F.lit(0))
            .select(_FCOLS))


def carry_seen_for_recrawl(seen: DataFrame, stale_urls: DataFrame) -> DataFrame:
    """Epoch-boundary seen-set carry: the previous epoch's seen set minus
    the stale URLs a freshness pass (``sitemaps.freshness_recrawl``)
    flagged for refetch. Feed the result as ``CrawlEngine.bootstrap(seeds=
    stale_urls, seen=carry)`` — within an epoch the seen set stays
    append-only; "forgetting" happens only here, as one anti-join at the
    boundary (the compaction moment a 10^10-row seen set gets rewritten
    anyway). Stale URLs run through the same canonicalize+hash as every
    frontier row, and ``generation`` resets to 0 (it records the adding
    generation WITHIN an epoch)."""
    stale = _with_identity(stale_urls.select("url")).select("url_hash")
    return (seen.join(stale, "url_hash", "left_anti")
            .withColumn("generation", F.lit(0).cast("int"))
            .select([f.name for f in SEEN_SCHEMA.fields]))


def global_sequence(df: DataFrame, order_cols: list[str], start: int,
                    out_col: str = "scheduled_seq") -> tuple[DataFrame, int]:
    """Deterministic global rank without a single-partition window:
    range-partitioned sort, then per-partition offsets (one tiny count per
    partition) applied in a single order-preserving ``mapInPandas`` pass —
    no second shuffle (the old row_number-over-_pid window re-exchanged the
    scheduled set by partition id). Returns (df, n_rows) — the count comes
    free from the offsets pass. The materialized sorted input stays cached
    and is exposed as ``result._ordered_cache`` for the caller to unpersist.
    """
    # range width follows the session's CURRENT shuffle width — inside the
    # crawl loop that is the generation-size-derived _auto_width (width
    # tracks ~rows/2000), so width//8 targets ~16k rows per range task:
    # sorting 16k rows is trivial per task, and FEWER, LARGER range
    # partitions cut the per-generation job latency. At n_parts == 1 the
    # RangePartitioner computes no bounds at all (rangeBounds is empty for
    # <= 1 partition), so the separate range-SAMPLING job disappears —
    # one fewer job per small generation.
    n_parts = max(1, int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")) // 8)
    ordered = (df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
               .sortWithinPartitions(*[F.col(c) for c in order_cols])
               .withColumn("_pid", F.spark_partition_id())
               .persist())
    counts = {r["_pid"]: r["n"] for r in
              ordered.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    if not total:
        out = ordered.drop("_pid").withColumn(
            out_col, F.lit(start).cast("long"))
        out._ordered_cache = ordered
        return out, 0
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    base_fields = list(df.schema.fields)
    schema = T.StructType(base_fields + [T.StructField(out_col, T.LongType())])
    cols = [f.name for f in base_fields] + [out_col]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        done, base = 0, None
        for pdf in batches:
            if not len(pdf):
                continue
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.copy()
            pdf[out_col] = np.arange(base + done, base + done + len(pdf),
                                     dtype="int64")
            done += len(pdf)
            yield pdf[cols]

    out = ordered.mapInPandas(assign, schema)
    out._ordered_cache = ordered
    return out, total


def crawl_delay_budgets(delays: DataFrame, gen_seconds: int,
                        host_budget: int) -> DataFrame:
    """robots.txt ``Crawl-delay`` -> per-host politeness budgets: a host
    whose group asks for ``crawl_delay`` seconds between fetches gets
    ``min(host_budget, max(1, floor(gen_seconds / crawl_delay)))`` fetches
    per generation — the delay mapped onto the crawl's logical clock
    (generation g spans ``gen_seconds`` of wall time; see
    ``sitemaps.freshness_recrawl`` for the same clock). Plain IEEE double
    division + floor, so the sequential oracle computes the identical
    integer in Python. Input: ``robots.parse_crawl_delay`` rows
    ``(host, crawl_delay)``; output: ``(host, budget)`` for
    ``CrawlEngine.bootstrap(host_budgets=...)``."""
    b = F.floor(F.lit(float(gen_seconds)) / F.col("crawl_delay"))
    return (delays.filter(F.col("crawl_delay") > 0)
            .groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))
            .select("host",
                    F.least(F.lit(host_budget),
                            F.greatest(F.lit(1), b))
                    .cast("int").alias("budget")))


def _schedule_tagged(candidates: DataFrame, host_budget: int,
                     n_salts: int = 8,
                     budgets: DataFrame | None = None
                     ) -> tuple[DataFrame, list[DataFrame]]:
    """Per-host politeness top-k, two-phase: (host, salt) slices first (the
    salted repartition that splits hot CD volumes), then a per-host re-rank
    over at most budget*n_salts survivors.

    Hosts whose candidate count is within budget bypass BOTH windows —
    top-k over <=k rows is the identity, and the per-host re-rank would
    otherwise sort the bulk of the frontier in one task per host (there
    are only a handful of CD-volume hosts: the single worst scaling
    bottleneck). The count split changes the physical plan only; the
    scheduled set is identical for any budget.

    Returns the FULL candidate set tagged with ``_sched`` plus, for
    unscheduled rows, ``_delay`` — a LOWER bound on how many generations
    must pass before the row can possibly be scheduled. Politeness order
    per host is fixed (next_fetch_time, url_hash, url) and new arrivals
    always sort AFTER every existing frontier row of their host (their
    next_fetch_time is the discovery generation, strictly greater), so a
    row with >= r-1 rows ahead of it needs ceil(r/budget)-1 more
    generations at maximum consumption: ``_delay`` = floor((r-1)/budget)
    computed from the exact per-host rank where known (the re-rank phase)
    and from the salt-slice rank otherwise (slice rank <= true rank, so
    the bound stays conservative — rows only ever wake EARLY). The caller
    turns ``_delay`` into an absolute ``wake_gen`` and lets far-future
    rows sleep outside the per-generation scheduling entirely.

    ``budgets`` (host, budget) overrides the global ``host_budget`` per
    host, capped at it (the Crawl-delay plane, ``crawl_delay_budgets``).
    Broadcast: only delay-declaring hosts carry rows — a sliver of the
    host space even at 10^10 URLs — and every rank comparison simply
    reads the per-row ``_budget`` column, so the plan shape (count
    bypass, salted slices, re-rank) is unchanged.
    Second return value: internal caches for the caller to unpersist."""
    order = [F.asc("next_fetch_time"), F.asc("url_hash"), F.asc("url")]
    if budgets is None:
        with_b = candidates.withColumn(
            "_budget", F.lit(host_budget).cast("int"))
    else:
        with_b = (candidates
                  .join(F.broadcast(budgets.select(
                      "host", F.col("budget").cast("int").alias("_hb"))),
                      "host", "left")
                  .withColumn("_budget",
                              F.least(F.coalesce("_hb", F.lit(host_budget)),
                                      F.lit(host_budget)).cast("int"))
                  .drop("_hb"))
    host_counts = with_b.groupBy("host").agg(F.count("*").alias("_hc"))
    with_counts = with_b.join(F.broadcast(host_counts), "host")
    under = (with_counts.filter(F.col("_hc") <= F.col("_budget")).drop("_hc")
             .withColumn("_sched", F.lit(True))
             .withColumn("_delay", F.lit(0)))
    over = with_counts.filter(F.col("_hc") > F.col("_budget")).drop("_hc")

    def delay_of(rank_col: str):
        return F.floor((F.col(rank_col) - 1) / F.col("_budget")) \
            .cast("int")

    salted = over.withColumn(
        "salt", F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int"))
    w1 = Window.partitionBy("host", "salt").orderBy(*order)
    r1 = salted.withColumn("_r1", F.row_number().over(w1)).persist()
    cut1 = (r1.filter(F.col("_r1") > F.col("_budget"))
            .withColumn("_sched", F.lit(False))
            .withColumn("_delay", delay_of("_r1"))
            .drop("_r1", "salt"))
    w2 = Window.partitionBy("host").orderBy(*order)
    r2 = (r1.filter(F.col("_r1") <= F.col("_budget"))
          .withColumn("_r2", F.row_number().over(w2)))
    topk = (r2.filter(F.col("_r2") <= F.col("_budget"))
            .drop("_r1", "_r2", "salt").withColumn("_sched", F.lit(True))
            .withColumn("_delay", F.lit(0)))
    cut2 = (r2.filter(F.col("_r2") > F.col("_budget"))
            .withColumn("_sched", F.lit(False))
            .withColumn("_delay", delay_of("_r2"))
            .drop("_r1", "_r2", "salt"))
    tagged = (under.unionByName(topk).unionByName(cut1).unionByName(cut2)
              .drop("_budget"))
    return tagged, [r1]


def schedule_generation(candidates: DataFrame, host_budget: int,
                        n_salts: int = 8,
                        budgets: DataFrame | None = None) -> DataFrame:
    """The scheduled subset only (see ``_schedule_tagged``)."""
    tagged, cached = _schedule_tagged(candidates, host_budget, n_salts,
                                      budgets=budgets)
    out = tagged.filter(F.col("_sched")).drop("_sched", "_delay")
    for c in cached:  # single-use path: let the pruned branches recompute
        c.unpersist()
    return out


def page_index_df(spark: SparkSession, n_docs: int) -> DataFrame:
    """CD page index as a DATAFRAME, synthesized distributively (no
    O(n_docs) driver loop — at the 10^10 design point the index itself is
    big data): company name -> canonical URL, min doc index wins."""
    partitions = max(2, min(64, n_docs // 4096 or 2))
    base = spark.range(0, n_docs, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = [int(i) for i in pdf["id"]]
            yield pd.DataFrame({
                "name": [fixtures.company_name(i) for i in idx],
                "url": [fixtures.url_for(i) for i in idx],
            })

    raw = base.mapInPandas(
        gen, T.StructType([T.StructField("name", T.StringType()),
                           T.StructField("url", T.StringType())]))
    # min-doc-wins dedupe rule (fixtures.url_for is monotone in doc index)
    return raw.groupBy("name").agg(F.min("url").alias("url"))


def discover_links(parsed: DataFrame, page_index: DataFrame) -> DataFrame:
    """Out-links from CONTENT: the parse pass already emitted the
    Beteiligungen target names (``link_names`` — no second JSON pass over
    record_json); resolve them with a JOIN against the page-index DataFrame.
    The index side is cached pre-partitioned on ``name`` by the engine, so
    only the (generation-sized) names side shuffles."""
    names = parsed.select(F.col("doc_id").alias("src_doc_id"),
                          F.explode("link_names").alias("name"))
    return names.join(page_index, "name").select("src_doc_id", "url")


def _doc_id_from_url():
    return F.regexp_extract("url", r"cd(\d{4}/\d+)\.html$", 1)


def resolve_docs(scheduled: DataFrame, docs_slim: DataFrame) -> DataFrame:
    """'Fetch': map scheduled URLs to the (slimmed) docs store. URL ->
    doc_id is the synthesis rule (akf://cdYYYY/NNNN.html <-> YYYY/NNNN).
    The SCHEDULED side broadcasts (a generation's keys are tiny next to the
    store) so the multi-TB docs side never shuffles — at generation sizes
    where the key set outgrows broadcast, drop the hint and let AQE pick."""
    keys = (scheduled.withColumn("doc_id", _doc_id_from_url())
            .select("url_hash", "doc_id"))
    return docs_slim.join(F.broadcast(keys), "doc_id")


class CrawlEngine:
    def __init__(self, spark: SparkSession, state_dir: str, n_docs: int,
                 host_budget: int = 4, n_shards: int = 16, n_salts: int = 4,
                 catalog: str | None = None, namespace: str = "crawl"):
        self.spark = spark
        self.store = StateStore(spark, state_dir, catalog=catalog,
                                namespace=namespace)
        self.n_docs = n_docs
        self.host_budget = host_budget
        self.n_shards = n_shards
        self.n_salts = n_salts
        # (generation, phase_label, seconds) per _generation pass, read by
        # the benchmark and the scaling/phase-evidence scripts
        self.phase_log: list[tuple[int, str, float]] = []
        self._pool = ThreadPoolExecutor(max_workers=8)
        # generation -> live seen-index run (see live_run_gens)
        self._runs: dict[int, DataFrame] = {}
        # Crawl-delay per-host budgets (loaded from the gen-0 store table
        # by run(); None = global host_budget everywhere)
        self._budgets: DataFrame | None = None
        # engine-lifetime caches: slimmed doc store + page index survive
        # across run() calls so steady-state generations never pay the
        # one-time materialization again. Strong reference to the caller's
        # docs frame — id()-keying could alias a recycled address.
        self._docs_ref: DataFrame | None = None
        self._docs_slim: DataFrame | None = None
        self._index: DataFrame | None = None
        # async cache-warm futures for the two frames above (run() submits,
        # the first generation's parse drains)
        self._warm_futs: list = []

    def _submit_bg(self, fn, *args):
        """Submit a BACKGROUND Spark job (durable writes)
        tagged into the ``crawl_background`` scheduler pool. With
        ``spark.scheduler.mode=FAIR`` and no allocation file, pools are
        created on demand and the ROOT pool schedules fairly BETWEEN pools
        — without the per-thread pool tag all jobs land in the single
        default pool, whose internal order is FIFO, and a long write job
        would head-block the next generation's critical-path stages. Pool
        worker threads are reused, so the tag is (re)set per job; critical-
        path submissions (``_submit_fg``) reset it to the default pool."""
        def job():
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "crawl_background")
            return fn(*args)
        return self._pool.submit(job)

    def _submit_fg(self, fn, *args):
        """Critical-path submission (e.g. localCheckpoint fan-out that the
        loop immediately waits on): default pool, fair-shared against the
        background pool."""
        def job():
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", None)
            return fn(*args)
        return self._pool.submit(job)

    def _drain_warm(self) -> None:
        """Wait for the async cache warm-up (surfacing its errors)."""
        futs, self._warm_futs = self._warm_futs, []
        for f in futs:
            f.result()

    def close(self) -> None:
        self._pool.shutdown(wait=True)
        for df in (self._docs_slim, self._index, *self._runs.values()):
            if df is not None:
                df.unpersist()
        self._docs_ref = self._docs_slim = self._index = None
        self._runs = {}

    # -- state access -------------------------------------------------------

    def _empty(self, schema) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _read_seen(self) -> DataFrame:
        """Union of all committed per-generation seen deltas (append-only),
        via the store so parquet and Iceberg backends read identically."""
        return (self.store.read_all("seen", schema=SEEN_SCHEMA)
                .select([f.name for f in SEEN_SCHEMA.fields]))

    def bootstrap(self, seeds, robots_rules: list[dict],
                  seen: DataFrame | None = None,
                  host_budgets: DataFrame | None = None) -> None:
        # seeds (see ``seeds_frontier``) are PENDING (validated=False: not
        # yet seen-checked / robots-gated — re-validation is idempotent).
        # Writing the flag at gen 0 keeps the frontier schema identical
        # across generations, which the Iceberg backend requires
        # (overwritePartitions does no schema evolution).
        #
        # ``seen`` seeds the gen-0 seen delta: the EPOCH-BOUNDARY carry.
        # A recrawl epoch starts from the previous epoch's seen set minus
        # the stale URLs (``carry_seen_for_recrawl``), so refetches flow
        # through the ordinary probe/schedule path with no tombstone logic
        # in the append-only within-epoch machinery. The gen-0 delta (the
        # carry, or nothing) is indexed into run R_0 at once, so every
        # generation probes runs, the first one included.
        frontier = (seeds_frontier(self.spark, seeds)
                    .withColumn("validated", F.lit(False))
                    .withColumn("wake_gen", F.lit(None).cast("long")))
        self.store.write("frontier", frontier, 0)
        # repartition(1) forces a schema-bearing part file for an empty
        # table — a zero-partition write would leave an unreadable directory
        if seen is None:
            self.store.write("seen",
                             self._empty(SEEN_SCHEMA).repartition(1), 0)
            run0 = self._empty(bloom.SHARD_SCHEMA).repartition(1)
        else:
            self.store.write(
                "seen", seen.select([f.name for f in SEEN_SCHEMA.fields]), 0)
            run0 = bloom.build_shards(
                self.store.read("seen", 0, schema=SEEN_SCHEMA), self.n_shards)
        self.store.write("bloom_shards", run0, 0)
        # ``host_budgets`` (host, budget — see crawl_delay_budgets) is
        # politeness DATA: persisted once here, read back by every run()
        # and resume, never a constructor arg, so wake_gen bounds derived
        # under it can never meet a different budgets table.
        if host_budgets is not None:
            self.store.write("budgets",
                             host_budgets.select("host", "budget"), 0)
        self.store.write("robots", self.spark.createDataFrame(
            robots_rules, "host string, rule string, allow boolean"), 0)
        self.store.commit(0, ["frontier", "seen", "bloom_shards", "robots"],
                          {"bootstrap": True, "host_budget": self.host_budget,
                           "n_salts": self.n_salts, "n_shards": self.n_shards})

    def _auto_width(self, last_scheduled: int | None) -> int:
        """Shuffle width derived from generation row counts. The old
        cluster-width FLOOR existed "so the parse stage keeps every core
        busy", but parse parallelism actually comes from the cached docs
        store's own partitioning (resolve_docs is a broadcast join on the
        store side — no shuffle reaches parse), so scheduling frames were
        paying cores-wide task overhead for generation-sized data. Width
        now grows with the generation (small generations get small
        shuffles ON ANY CLUSTER — the frames are generation-sized, not
        corpus-sized) and still scales to 4x cluster width for large
        generations. With AQE disabled in run(), this IS the adaptive
        coalescing for the scheduling plane."""
        cores = self.spark.sparkContext.defaultParallelism
        if not last_scheduled:
            return cores
        return max(8, min(4 * cores, last_scheduled // 2000 + 8))

    # -- seen-index runs -----------------------------------------------------

    def _load_runs(self, start_gen: int) -> None:
        """Adopt the live runs of the committed generation ``start_gen``."""
        for df in self._runs.values():
            df.unpersist()
        self._runs = {g: self.store.read("bloom_shards", g,
                                         schema=bloom.SHARD_SCHEMA).persist()
                      for g in live_run_gens(start_gen)}

    def _drain_commits(self, pending: list[dict], block: bool) -> None:
        """Commit generations IN ORDER once all their write-behind futures
        landed; a generation's caches are only released here (background
        writes may still be reading them)."""
        while pending:
            entry = pending[0]
            if not block and not all(f.done() for f in entry["futures"]):
                return
            for f in entry["futures"]:
                f.result()  # surface write failures before the commit record
            self.store.commit(entry["gen"], ["frontier", "seen", "fetch_log",
                                             "bloom_shards"], entry["stats"])
            for df in entry["cached"]:
                df.unpersist()
            pending.pop(0)

    # -- main loop ------------------------------------------------------------

    def run(self, docs: DataFrame, generations: int) -> dict:
        """Run ``generations`` crawl generations from the latest checkpoint.
        Returns summary metrics. Resumable: re-invoking continues."""
        start_gen = self.store.latest_generation()
        if start_gen is None:
            raise RuntimeError("bootstrap() first")
        stats0 = self.store.latest_stats()
        # Runs keep the shard_id they were built with and are never
        # re-keyed, so a probe under another n_shards would cogroup
        # candidates with the wrong rows and miss seen URLs.
        if stats0.get("n_shards") != self.n_shards:
            raise ValueError(
                f"the store's seen-index runs are sharded with n_shards="
                f"{stats0.get('n_shards')}; this engine has n_shards="
                f"{self.n_shards}")
        prev_shuffle = self.spark.conf.get("spark.sql.shuffle.partitions")
        # The engine is its own adaptive manager: shuffle width is derived
        # per generation from the last scheduled count (_auto_width), skew
        # is handled structurally (salted politeness slices, uniform
        # md5-derived url_hash keys), and join sides are chosen explicitly
        # (broadcast keys / cogrouped shards). On top of that, AQE only
        # re-plans each of the ~dozen per-generation materializations into
        # extra query-stage jobs — measured 10-15% of generation wall in
        # pure orchestration latency (interleaved ABAB, 64k and 8k legs).
        prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        robots = self.store.read("robots", 0)
        # Crawl-delay budgets are bootstrap-time DATA (written once at gen
        # 0), so resume always schedules under the exact budgets in force
        # when wake_gen values were derived; only the GLOBAL budget is a
        # constructor arg, and the manifest check below covers it.
        self._budgets = (self.store.read("budgets", 0)
                         if self.store.exists("budgets", 0) else None)
        totals = {"urls_scheduled": 0, "docs_parsed": 0, "wall_ms": 0}
        # slim the store ONCE per engine: flat (doc_id, doc_text, n_media)
        # columns cache and join far cheaper than nested span structs
        # (see X.slim_docs); the page index caches PRE-PARTITIONED on the
        # join key so per-generation link resolution never re-shuffles it
        if self._docs_slim is None or docs is not self._docs_ref:
            # a warm-up still counting the old caches must finish before
            # they are unpersisted or replaced
            self._drain_warm()
            for df in (self._docs_slim, self._index):
                if df is not None:
                    df.unpersist()
            self._docs_ref = docs
            self._docs_slim = X.slim_docs(docs).persist()
            width = self.spark.sparkContext.defaultParallelism
            self._index = (page_index_df(self.spark, self.n_docs)
                           .repartition(width, "name").persist())
            # warm both engine-lifetime caches ASYNCHRONOUSLY: their first
            # consumer is gen-1's parse, but gen-1's schedule phase —
            # generation-sized frames, latency-bound, cores mostly idle —
            # runs first, so the store-wide slim/index scans back-fill
            # under it (guide §2.6) instead of serializing into the first
            # parse. _generation drains the futures before resolve_docs,
            # so no job ever races the caches' first materialization.
            self._warm_futs = [self._submit_bg(self._docs_slim.count),
                               self._submit_bg(self._index.count)]
        self._load_runs(start_gen)
        deferred, pending_links = self._load_frontier(start_gen)
        # Persisted wake_gen values are lower bounds derived from
        # floor((rank-1)/host_budget) — valid ONLY under the budget in force
        # when they were written. Resuming with a LARGER budget would make
        # sleeping rows wake too late and silently diverge from the
        # sequential oracle. The manifest records the budget per commit; on
        # mismatch every deferred row wakes at the next generation — one
        # un-tiered, frontier-proportional scheduling pass, exact by
        # construction, after which fresh wake_gen values are derived under
        # the new budget.
        if stats0.get("host_budget") != self.host_budget:
            deferred = deferred.withColumn("wake_gen", F.lit(0).cast("long"))
        seq_end = int(stats0.get("seq_end", 0))
        last_sched = stats0.get("urls_scheduled")
        pending_commits: list[dict] = []
        try:
            for gen in range(start_gen + 1, start_gen + 1 + generations):
                t0 = time.time()
                self._drain_commits(pending_commits, block=False)
                self.spark.conf.set("spark.sql.shuffle.partitions",
                                    str(self._auto_width(last_sched)))
                stats, deferred, pending_links, futures, cached = \
                    self._generation(gen, deferred, pending_links, robots,
                                     self._docs_slim, seq_end, self._index)
                seq_end += stats["urls_scheduled"]
                stats["seq_end"] = seq_end
                stats["wall_ms"] = int((time.time() - t0) * 1000)
                # the manifest records the politeness params in force when
                # this generation's wake_gen values were derived — resume
                # validates against them (see run() budget-change handling),
                # and the shard count its runs are keyed by
                stats["host_budget"] = self.host_budget
                stats["n_salts"] = self.n_salts
                stats["n_shards"] = self.n_shards
                pending_commits.append({"gen": gen, "stats": stats,
                                        "futures": futures, "cached": cached})
                totals["urls_scheduled"] += stats["urls_scheduled"]
                totals["docs_parsed"] += stats["docs_parsed"]
                totals["wall_ms"] += stats["wall_ms"]
                last_sched = stats["urls_scheduled"]
                if stats["urls_scheduled"] == 0:
                    break
        finally:
            # a generation that raised before draining the cache warm-up
            # must not leave its count jobs running (nor mask the error)
            wait(self._warm_futs)
            try:
                self._drain_commits(pending_commits, block=True)
            finally:
                self.spark.conf.set("spark.sql.shuffle.partitions",
                                    prev_shuffle)
                self.spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        return totals

    def _load_frontier(self, gen: int) -> tuple[DataFrame, DataFrame]:
        fr = self.store.read("frontier", gen, schema=FRONTIER_SNAP_SCHEMA)
        deferred = fr.filter(F.col("validated")).select(*_FCOLS, "wake_gen")
        return deferred, fr.filter(~F.col("validated")).select(_FCOLS)

    def _generation(self, gen: int, deferred: DataFrame,
                    pending: DataFrame, robots: DataFrame, docs: DataFrame,
                    seq_start: int, index: DataFrame):
        _t = time.time()

        def _mark(label):
            nonlocal _t
            now = time.time()
            self.phase_log.append((gen, label, now - _t))
            _t = now

        cached: list[DataFrame] = []

        # 0. wake tier: only deferred rows whose wake generation has come
        # can possibly be scheduled (the _schedule_tagged rank bound), so
        # the rest SLEEP outside this generation's merge/window passes —
        # two filters over the cached checkpoint, no shuffle. Scheduling
        # cost becomes O(awake + new links), not O(accumulated frontier).
        awake = deferred.filter(F.col("wake_gen") <= gen).select(_FCOLS)
        asleep = deferred.filter(F.col("wake_gen") > gen)

        # 1+2. NEW candidates only: dedupe + exact seen-probe against every
        # live run fused into one cogroup shuffle. (Deferred rows are
        # validated-unseen by construction — see module docstring — and
        # skip all of this.)
        runs = reduce(DataFrame.unionByName,
                      [self._runs[g] for g in sorted(self._runs)])
        new_cand = (bloom.probe_seen(pending, runs, self.n_shards, dedupe=True)
                    .filter(~F.col("seen_asof")).drop("seen_asof"))

        # 3. robots gate (broadcast prefix rules) on the new candidates;
        # persisted — feeds scheduling AND the seen delta
        gated = apply_robots(new_cand, robots).persist()
        cached.append(gated)
        allowed_new = gated.filter(F.col("allowed")).drop("allowed")
        disallowed = gated.filter(~F.col("allowed")).drop("allowed")

        # 4. merge with the AWAKE deferred frontier; min-reduce dedupe
        # (a re-discovered deferred URL keeps its earlier next_fetch_time —
        # field-wise min is associative, so deferred's pre-reduced row
        # composes exactly with this generation's copies). A re-discovered
        # SLEEPING URL must wake NOW: its fresh copy alone would
        # queue-jump (the sleeping twin's earlier position is invisible to
        # the windows), so sleeping rows matching a new link join the
        # merge (semi) and leave the sleep tier (anti) — both broadcast
        # joins on the generation-sized new-link keys, the frontier-scale
        # side never shuffles.
        new_keys = allowed_new.select("url_hash")
        woken_dups = (asleep.join(F.broadcast(new_keys), "url_hash",
                                  "left_semi").select(_FCOLS))
        asleep_kept = asleep.join(F.broadcast(new_keys), "url_hash",
                                  "left_anti")
        merged_in = (awake.unionByName(allowed_new.select(_FCOLS))
                     .unionByName(woken_dups))
        merged = (merged_in.groupBy("url_hash")
                  .agg(F.min("url").alias("url"),
                       F.min("host").alias("host"),
                       F.min("next_fetch_time").alias("next_fetch_time"),
                       F.min("depth").alias("depth"))
                  .select(_FCOLS).persist())
        cached.append(merged)

        # 5. politeness schedule: one tagged pass yields the scheduled set
        # AND the deferred leftovers (no frontier-scale anti-join)
        tagged, sched_cached = _schedule_tagged(merged, self.host_budget,
                                                self.n_salts,
                                                budgets=self._budgets)
        cached.extend(sched_cached)
        tagged = tagged.persist()
        cached.append(tagged)
        scheduled_pre = tagged.filter(F.col("_sched")).drop("_sched", "_delay")
        # unscheduled rows re-enter deferral with their wake generation;
        # still-sleeping rows carry straight through untouched
        deferred_next = asleep_kept.select(*_FCOLS, "wake_gen").unionByName(
            tagged.filter(~F.col("_sched"))
            .withColumn("wake_gen", F.lit(gen) + F.col("_delay").cast("long"))
            .select(*_FCOLS, "wake_gen"))
        scheduled, n_scheduled = global_sequence(
            scheduled_pre, ["next_fetch_time", "url_hash", "url"], seq_start)
        cached.append(scheduled._ordered_cache)
        scheduled = scheduled.persist()
        cached.append(scheduled)
        _mark("schedule+sequence")

        # seen is APPEND-ONLY: only this generation's delta is written, and
        # run R_gen absorbs it plus the live runs newer than
        # gen - lowbit(gen) (the older ones stay live untouched).
        # deferred_next, newly_seen and the run depend only on the
        # schedule-phase caches (tagged / gated / scheduled), NOT on the
        # parse output, so their localCheckpoints are submitted NOW and run
        # concurrently with the parse job below (guide §2.6: the checkpoint
        # jobs back-fill executors the parse stage leaves idle) instead of
        # serializing after it. Only pending_next — derived from parsed —
        # must wait. These jobs may race the parse job on materializing the
        # ``scheduled`` cache; duplicated partitions are computed from the
        # cached sort (cheap) and the cache layer keeps one copy.
        newly_seen = (scheduled.select("url_hash", "url")
                      .unionByName(disallowed.select("url_hash", "url"))
                      .withColumn("generation", F.lit(gen)))
        cut = gen - (gen & -gen)
        fold = [g for g in self._runs if g > cut]
        run = bloom.merge_run(newly_seen, [self._runs[g] for g in fold],
                              [r for g, r in self._runs.items() if g <= cut],
                              self.n_shards)
        ck_early = [self._submit_fg(df.localCheckpoint)
                    for df in (deferred_next, newly_seen, run)]

        # 6. fetch + parse + discover (docs side stays put: broadcast keys);
        # the crawl-plane parse ships only link names + lineage + counts.
        # Drain the async cache-warm first (run() submitted it; by now the
        # schedule phase has been covering its wall) so the parse job reads
        # fully-cached docs/index frames instead of racing their first
        # materialization.
        try:
            self._drain_warm()
            fetched = resolve_docs(scheduled, docs)
            parsed = X.extract_for_crawl(
                fetched.select("doc_id", "doc_text")).persist()
            cached.append(parsed)
            # the one action that materializes parse
            n_parsed = parsed.count()
            _mark("parse")

            links = discover_links(parsed, index)
            pending_next = (_with_identity(links.select("url").distinct())
                            .withColumn("next_fetch_time",
                                        F.lit(gen).cast("long"))
                            .withColumn("depth", F.lit(gen))
                            .select(_FCOLS))

            # 7. truncate next-gen state IN MEMORY (eager localCheckpoint of
            # the cached plans: a block copy, not a recompute) so NOTHING
            # durable sits on the critical path — every table write drains
            # in the background and the commit record waits for all of them
            # (_drain_commits), so resume only ever sees complete
            # generations. deferred_next/newly_seen checkpoints were
            # submitted BEFORE the parse job (see above) and have been
            # running alongside it; only pending_next starts here.
            # Checkpoint blocks are freed by the ContextCleaner when the
            # Python refs die (each generation replaces the previous trio);
            # heap pressure triggers the JVM GC that drives it, so
            # steady-state storage stays bounded.
            pending_ck = pending_next.localCheckpoint()
        finally:
            # a raising parse must not leave the early checkpoints running
            wait(ck_early)

        fetch_log_new = (scheduled
                         .withColumn("doc_id", _doc_id_from_url())
                         .select("scheduled_seq", "url_hash", "url", "doc_id")
                         .withColumn("generation", F.lit(gen)))
        lineage = X.lineage_table(parsed).withColumn("generation", F.lit(gen))
        metrics = (X.metrics_table(parsed)
                   .groupBy("category")
                   .agg(F.sum("call_count").alias("call_count"))
                   .withColumn("generation", F.lit(gen)))
        deferred_ck, seen_ck, run_ck = [f.result() for f in ck_early]
        frontier_snapshot = (
            deferred_ck.withColumn("validated", F.lit(True))
            .unionByName(pending_ck.withColumn("validated", F.lit(False))
                         .withColumn("wake_gen", F.lit(None).cast("long"))))
        futures = [self._submit_bg(self.store.write, name, df, gen)
                   for name, df in (("seen", seen_ck),
                                    ("bloom_shards", run_ck),
                                    ("frontier", frontier_snapshot),
                                    ("fetch_log", fetch_log_new),
                                    ("lineage", lineage),
                                    ("metrics", metrics))]
        _mark("state writes")

        for g in fold:
            self._runs.pop(g).unpersist()
        self._runs[gen] = run_ck
        return ({"urls_scheduled": n_scheduled, "docs_parsed": n_parsed},
                deferred_ck, pending_ck, futures, cached)

    # -- results -------------------------------------------------------------

    def fetch_log(self) -> DataFrame:
        """Union of all committed per-generation log deltas."""
        return self.store.read_all("fetch_log")

    def seen(self) -> DataFrame:
        return self._read_seen()
