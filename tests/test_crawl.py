"""Crawl-engine correctness: exact crawl-order + seen-set match vs the
sequential oracle, order invariance across parallelism, bloom/cuckoo
prefilter exactness, robots gating, checkpoint/resume (BASELINE.json:2,14)."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from akf_cdparser_spark import fixtures
from akf_cdparser_spark.crawl import bloom, frontier
from akf_cdparser_spark.crawl.canonicalize import canonicalize_url, hash64_py
from akf_cdparser_spark.crawl.frontier import CrawlEngine
from akf_cdparser_spark.crawl.oracle import crawl_oracle
from akf_cdparser_spark.operators import extract as X

N_DOCS = 120
SEEDS = fixtures.seed_urls(6, N_DOCS)
ROBOTS = fixtures.robots_rules(N_DOCS)
HOST_BUDGET = 3
GENERATIONS = 4


def _run_engine(spark, tmp_path, n_salts=4):
    engine = CrawlEngine(spark, str(tmp_path), N_DOCS,
                         host_budget=HOST_BUDGET, n_salts=n_salts)
    engine.bootstrap(SEEDS, ROBOTS)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    totals = engine.run(docs, GENERATIONS)
    log = sorted(
        (r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
        for r in engine.fetch_log().collect())
    seen = {r.url_hash: r.url for r in engine.seen().collect()}
    return totals, log, seen


@pytest.fixture(scope="module")
def oracle_result():
    return crawl_oracle(N_DOCS, SEEDS, ROBOTS, HOST_BUDGET, GENERATIONS)


@pytest.fixture(scope="module")
def engine_result(spark, tmp_path_factory):
    return _run_engine(spark, tmp_path_factory.mktemp("crawl_a"))


def test_crawl_order_exact_match(engine_result, oracle_result):
    _, log, _ = engine_result
    expected = [(seq, h, url, doc_id, gen)
                for seq, h, url, doc_id, gen in oracle_result["fetch_log"]]
    assert [(r[0], r[1], r[2], r[3], r[4]) for r in log] == expected


def test_seen_set_exact_match(engine_result, oracle_result):
    _, _, seen = engine_result
    assert seen == oracle_result["seen"]


def test_throughput_counters(engine_result, oracle_result):
    totals, log, _ = engine_result
    assert totals["urls_scheduled"] == len(oracle_result["fetch_log"]) == len(log)
    assert totals["docs_parsed"] > 0


@pytest.mark.parametrize("width", [3, 24])
def test_order_invariant_across_parallelism(spark, tmp_path_factory,
                                            engine_result, monkeypatch,
                                            width):
    """Same fetch_log with a different salt count and shuffle layout —
    ordering is defined by data, not by task scheduling. run() sets the
    shuffle width from ``_auto_width`` every generation (8 for every crawl
    here), so the width is pinned there: 3 and 24 give 1 and 3 range
    partitions in the global sequence."""
    _, log_a, seen_a = engine_result
    used = []
    generation = CrawlEngine._generation

    def spy(self, *args):
        used.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return generation(self, *args)

    monkeypatch.setattr(CrawlEngine, "_auto_width", lambda self, last: width)
    monkeypatch.setattr(CrawlEngine, "_generation", spy)
    _, log_b, seen_b = _run_engine(
        spark, tmp_path_factory.mktemp(f"crawl_w{width}"), n_salts=7)
    assert used == [str(width)] * GENERATIONS
    assert log_a == log_b
    assert seen_a == seen_b


def test_resume_from_checkpoint(spark, tmp_path_factory, oracle_result):
    """2 generations, then resume for 2 more == 4 straight generations."""
    path = tmp_path_factory.mktemp("crawl_resume")
    engine = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine.run(docs, 2)
    engine2 = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine2.run(docs, 2)
    log = sorted((r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
                 for r in engine2.fetch_log().collect())
    assert [(r[0], r[1], r[2], r[3], r[4]) for r in log] == \
        oracle_result["fetch_log"]


def test_raising_parse_leaves_no_jobs_and_resumes_exact(
        spark, tmp_path_factory, oracle_result, monkeypatch):
    """A generation whose parse raises: run() surfaces that exception, no
    Spark job outlives it (the early checkpoints, submitted just before
    the parse, are drained), and a fresh engine then resumes byte-exact.
    The checkpoint submissions are delayed, so they are still pending
    when the parse raises."""
    class ParseFailed(RuntimeError):
        pass

    def fail(_docs):
        raise ParseFailed("injected parse failure")

    path = tmp_path_factory.mktemp("crawl_parse_raises")
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    engine.run(docs, 1)
    submit_fg, early = engine._submit_fg, []

    def delayed_fg(fn, *args):
        def late(*a):
            time.sleep(1.0)
            return fn(*a)
        early.append(submit_fg(late, *args))
        return early[-1]

    with monkeypatch.context() as m:
        m.setattr(X, "extract_for_crawl", fail)
        m.setattr(engine, "_submit_fg", delayed_fg)
        with pytest.raises(ParseFailed):
            engine.run(docs, GENERATIONS - 1)
    assert early and all(f.done() for f in early)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    engine.close()

    engine2 = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine2.run(docs, GENERATIONS - 1)
    log = sorted((r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
                 for r in engine2.fetch_log().collect())
    assert log == oracle_result["fetch_log"]
    assert {r.url_hash: r.url for r in engine2.seen().collect()} == \
        oracle_result["seen"]
    engine2.close()


def test_resume_with_larger_budget_stays_exact(spark, tmp_path_factory):
    """ADVICE r4 (medium): persisted wake_gen values are lower bounds only
    under the budget they were derived with — resuming with a LARGER budget
    used to wake sleeping rows too late and silently diverge. The manifest
    now records host_budget per commit; on mismatch resume coalesces every
    wake_gen to 0 (one un-tiered generation, exact by construction). Oracle:
    the same sequential crawl with a per-generation budget schedule."""
    path = tmp_path_factory.mktemp("crawl_budget_change")
    engine = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine.run(docs, 3)
    engine.close()
    # the divergence is only possible if rows are actually sleeping past
    # the resume point under the OLD budget's wake bound
    snap = spark.read.parquet(str(path / "frontier" / "gen=3"))
    assert snap.filter("validated AND wake_gen > 4").count() > 0, \
        "no rows asleep past gen 4 — scenario vacuous"
    engine2 = CrawlEngine(spark, str(path), N_DOCS,
                          host_budget=2 * HOST_BUDGET)
    engine2.run(docs, 2)
    log = sorted((r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
                 for r in engine2.fetch_log().collect())
    mixed = crawl_oracle(
        N_DOCS, SEEDS, ROBOTS,
        lambda gen: HOST_BUDGET if gen <= 3 else 2 * HOST_BUDGET, 5)
    assert [(r[0], r[1], r[2], r[3], r[4]) for r in log] == \
        mixed["fetch_log"]
    assert {r.url_hash: r.url for r in engine2.seen().collect()} == \
        mixed["seen"]


def test_resume_with_other_n_shards_raises(spark, tmp_path):
    """Seen-index runs keep the shard_id they were built with, so a resume
    under another n_shards would probe the wrong rows and re-crawl seen
    URLs; the manifest records n_shards and run() refuses the mismatch
    before it reads or writes any generation."""
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine = CrawlEngine(spark, str(tmp_path), N_DOCS, host_budget=HOST_BUDGET,
                         n_shards=8)
    engine.bootstrap(SEEDS, ROBOTS)
    engine.run(docs, 2)
    engine.close()
    for n_shards in (4, 16):
        other = CrawlEngine(spark, str(tmp_path), N_DOCS,
                            host_budget=HOST_BUDGET, n_shards=n_shards)
        with pytest.raises(ValueError, match="n_shards=8"):
            other.run(docs, 1)
        other.close()
    resumed = CrawlEngine(spark, str(tmp_path), N_DOCS,
                          host_budget=HOST_BUDGET, n_shards=8)
    resumed.run(docs, 1)
    resumed.close()
    assert resumed.store.latest_generation() == 3


def test_robots_disallowed_never_fetched(engine_result):
    _, log, seen = engine_result
    fetched_urls = {r[2] for r in log}
    for url in fetched_urls:
        from akf_cdparser_spark.crawl.robots import robots_allowed_py
        assert robots_allowed_py(url, ROBOTS), url
    # disallowed URLs land in seen (decision made) but never in the log
    disallowed_in_seen = [u for u in seen.values()
                          if not __import__(
                              "akf_cdparser_spark.crawl.robots",
                              fromlist=["robots_allowed_py"]
                          ).robots_allowed_py(u, ROBOTS)]
    for u in disallowed_in_seen:
        assert u not in fetched_urls


def test_bloom_prefilter_never_false_negative(spark):
    """Bloom/cuckoo may say 'maybe' for unseen URLs, never 'no' for seen."""
    hashes = [(hash64_py(fixtures.url_for(i)),) for i in range(400)]
    seen = spark.createDataFrame(hashes, "url_hash long")
    shards = bloom.build_shards(seen, n_shards=8)
    cand = spark.createDataFrame(
        [(hash64_py(fixtures.url_for(i)),) for i in range(800)],
        "url_hash long")
    tagged = bloom.prefilter_candidates(cand, shards, n_shards=8)
    rows = {r.url_hash: r.maybe_seen for r in tagged.collect()}
    for i in range(400):
        assert rows[hash64_py(fixtures.url_for(i))] is True  # no false negatives


def test_bloom_odd_shard_sizes(spark):
    """Shard sizes whose bit count is not byte-aligned must still probe
    exactly (regression: build used n*12 bits, probe used len(blob)*8 —
    the off-by-<8 shift produced silent false negatives and re-crawls)."""
    hashes = [(hash64_py(fixtures.url_for(i)),) for i in range(171)]
    seen = spark.createDataFrame(hashes, "url_hash long")
    shards = bloom.build_shards(seen, n_shards=1)
    tagged = bloom.prefilter_candidates(seen, shards, n_shards=1)
    assert all(r.maybe_seen for r in tagged.collect())


def test_cuckoo_never_loses_a_fingerprint():
    """A displaced fingerprint goes to the overflow list, never dropped —
    membership is EXACT for inserted items (the bloom.py:6-7 invariant:
    'definitely unseen' may never be wrong for a seen URL)."""
    rng = np.arange(1, 20001, dtype=np.int64) * 2_654_435_761 % (1 << 60)
    blob = bloom._build_cuckoo(rng)
    table, overflow = bloom._split_cuckoo(blob)
    hits = bloom._cuckoo_contains(table, rng, overflow)
    assert hits.all()  # zero false negatives, even past table capacity


def test_cuckoo_spill_on_churn(spark):
    """merge_run spills a shard to cuckoo when its delta grew it by more
    than the churn threshold over its size in all live runs before the
    delta (the folded runs' members plus the kept runs' n_items)."""
    hashes = [(hash64_py(fixtures.url_for(i)),) for i in range(600)]
    old = bloom.build_shards(
        spark.createDataFrame(hashes[:300], "url_hash long"), n_shards=4)
    delta = spark.createDataFrame(hashes[300:], "url_hash long")
    big_keep = spark.createDataFrame(
        [(s, None, None, 1000, "bloom2") for s in range(4)],
        bloom.SHARD_SCHEMA)
    # ~75 new hashes per shard over ~1075 before them: calm
    calm = bloom.merge_run(delta, [old], [big_keep], n_shards=4).collect()
    assert {r.kind for r in calm} == {"bloom2"}
    # ~75 new over ~75 before them: churned
    churned = bloom.merge_run(delta, [old], [], n_shards=4)
    rows = churned.collect()
    assert {r.kind for r in rows} == {"cuckoo2"}
    assert sorted(h for r in rows
                  for h in np.frombuffer(r.exact, dtype=np.int64)) == \
        sorted(h for (h,) in hashes)
    assert all(r.n_items == len(r.exact) // 8 for r in rows)
    # spilled shards still answer membership exactly
    cand = spark.createDataFrame(
        [(hash64_py(fixtures.url_for(i)),) for i in range(1200)],
        "url_hash long")
    verdict = {r.url_hash: r.seen_asof
               for r in bloom.probe_seen(cand, churned, n_shards=4).collect()}
    assert [verdict[hash64_py(fixtures.url_for(i))] for i in range(1200)] \
        == [True] * 600 + [False] * 600


def test_canonicalize_rules():
    assert canonicalize_url("HTTP://Example.COM:80//a/./b/../c/?b=2&a=1#frag") \
        == "http://example.com/a/c?a=1&b=2"
    assert canonicalize_url("https://x.de:443/path/") == "https://x.de/path"
    assert canonicalize_url("akf://cd2005/0003.html") == "akf://cd2005/0003.html"


def test_url_doc_roundtrip_beyond_9999():
    """Doc ids grow past 4 digits at scale; URL<->doc_id mapping must stay
    bijective (regression: \\d{4} regexes silently truncated 5-digit ids)."""
    for i in (0, 42, 9999, 10000, 123456):
        url = fixtures.url_for(i)
        assert fixtures.doc_index_from_url(url) == i


def test_exhausted_frontier_then_resume(spark, tmp_path_factory):
    """Run PAST frontier exhaustion (a generation that schedules nothing
    commits an empty seen delta — a part-less parquet dir that only reads
    back under the explicit schema), then resume: no crash, no new URLs,
    log unchanged."""
    path = tmp_path_factory.mktemp("crawl_exhaust")
    engine = CrawlEngine(spark, str(path), N_DOCS, host_budget=N_DOCS)
    engine.bootstrap(SEEDS, ROBOTS)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine.run(docs, 30)  # generous: exhausts well before 30
    log1 = sorted((r.scheduled_seq, r.url) for r in engine.fetch_log().collect())
    engine.close()
    engine2 = CrawlEngine(spark, str(path), N_DOCS, host_budget=N_DOCS)
    totals2 = engine2.run(docs, 2)
    assert totals2["urls_scheduled"] == 0
    log2 = sorted((r.scheduled_seq, r.url) for r in engine2.fetch_log().collect())
    assert log2 == log1
    # the empty-delta generations still wrote readable runs, which the
    # resume loaded and the next empty generation folded
    _assert_live_runs(engine2._runs, engine2.store.latest_generation(),
                      _seen_gens(engine2))
    engine2.close()


def _run_members(run) -> list[int]:
    """Sorted url_hashes of a seen-index run; checks n_items per row."""
    members = []
    for r in run.collect():
        exact = np.frombuffer(r.exact, dtype=np.int64)
        assert r.n_items == len(exact)
        members.extend(exact.tolist())
    return sorted(members)


def _seen_gens(engine) -> list[tuple[int, int]]:
    return [(r.url_hash, r.generation) for r in engine.seen().collect()]


def _assert_live_runs(runs: dict, gen: int, seen: list) -> None:
    """After generation ``gen`` the engine holds popcount(gen)+1 runs whose
    members are the seen hashes of generations 0..gen, each in exactly one
    run."""
    assert sorted(runs) == frontier.live_run_gens(gen)
    assert len(runs) == bin(gen).count("1") + 1
    members = sorted(h for run in runs.values() for h in _run_members(run))
    assert members == sorted(h for h, g in seen if g <= gen)


def test_seen_runs_binary_counter(spark, tmp_path):
    """The seen-index runs follow the binary counter after every
    generation of one run() (1..6) and across a resume at an even (6) and
    at an odd (7) generation: the live runs are R_0 plus one run per set
    bit of the generation, and together they hold exactly the seen set."""
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine = CrawlEngine(spark, str(tmp_path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    for first, n_gens in ((1, 6), (7, 1), (8, 1)):
        snaps = []
        generation = engine._generation

        def spy(gen, *args, engine=engine, generation=generation,
                snaps=snaps):
            assert sorted(engine._runs) == frontier.live_run_gens(gen - 1)
            out = generation(gen, *args)
            snaps.append((gen, dict(engine._runs)))
            return out

        engine._generation = spy
        engine.run(docs, n_gens)
        engine._generation = generation
        seen = _seen_gens(engine)
        assert [g for g, _ in snaps] == list(range(first, first + n_gens))
        for gen, runs in snaps:
            _assert_live_runs(runs, gen, seen)
        engine.close()
        engine = CrawlEngine(spark, str(tmp_path), N_DOCS,
                             host_budget=HOST_BUDGET)
    engine.close()


def test_run_never_reads_seen_table(spark, tmp_path, monkeypatch):
    """run() answers "seen?" from the seen-index runs alone: a spy on every
    StateStore read sees the runs read and the seen table never, on a
    first run and on a resume."""
    from akf_cdparser_spark.crawl.storage import StateStore

    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine = CrawlEngine(spark, str(tmp_path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    reads = []
    for name in ("read", "read_all", "exists"):
        def spy(self, table, *args, _orig=getattr(StateStore, name),
                **kwargs):
            reads.append(table)
            return _orig(self, table, *args, **kwargs)
        monkeypatch.setattr(StateStore, name, spy)
    engine.run(docs, 3)
    engine.close()
    resumed = CrawlEngine(spark, str(tmp_path), N_DOCS,
                          host_budget=HOST_BUDGET)
    resumed.run(docs, 1)
    resumed.close()
    assert "bloom_shards" in reads and "seen" not in reads


def test_checkpoint_storage_bounded(spark, tmp_path_factory):
    """ROADMAP #4 / VERDICT r3 #8: the per-generation localCheckpoint trio
    (deferred/pending/seen) must not accumulate storage blocks — each
    generation's Python refs replace the previous one's and the
    ContextCleaner evicts the orphaned checkpoint RDDs. Run 20 generations
    in 4 batches and assert the stored-RDD count is FLAT across batches
    (steady state), not monotonically growing."""
    import gc
    import time

    def stored_rdd_count():
        gc.collect()  # drop Python-side DataFrame refs ...
        spark.sparkContext._jvm.System.gc()  # ... then let the cleaner run
        time.sleep(2)
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    path = tmp_path_factory.mktemp("crawl_ckpt")
    n_docs = 2000
    engine = CrawlEngine(spark, str(path), n_docs, host_budget=8, n_salts=2)
    engine.bootstrap(fixtures.seed_urls(100, n_docs),
                     fixtures.robots_rules(n_docs))
    docs = X.docs_dataframe(spark, n_docs, partitions=8)
    counts = []
    for _batch in range(4):
        totals = engine.run(docs, generations=5)
        assert totals["urls_scheduled"] > 0  # frontier still live
        counts.append(stored_rdd_count())
    engine.close()
    # steady state: later batches hold no more blocks than the first
    # (+small slack for in-flight background writes at sample time)
    assert counts[-1] <= counts[0] + 6, counts
    assert counts[-2] <= counts[0] + 6, counts


def test_wake_tiering_off_control_mode_exact(spark, tmp_path_factory,
                                             oracle_result, monkeypatch):
    """The untiered control (the measurement control for the tier's
    benefit: every deferred row re-enters every generation's merge/window
    passes) must produce the identical fetch_log — the tier is an
    optimization, never a semantic switch. Zeroing ``_delay`` gives
    wake_gen = gen, so every deferred row is awake next generation."""
    schedule = frontier._schedule_tagged

    def untiered(*args, **kwargs):
        tagged, cached = schedule(*args, **kwargs)
        return tagged.withColumn("_delay", F.lit(0)), cached

    monkeypatch.setattr(frontier, "_schedule_tagged", untiered)
    path = tmp_path_factory.mktemp("crawl_notier")
    engine = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine.run(docs, GENERATIONS)
    log = sorted((r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
                 for r in engine.fetch_log().collect())
    engine.close()
    assert [(r[0], r[1], r[2], r[3], r[4]) for r in log] == \
        oracle_result["fetch_log"]
    snap = spark.read.parquet(str(path / "frontier" / f"gen={GENERATIONS}"))
    assert snap.filter("validated").count() > 0
    assert snap.filter(f"validated AND wake_gen <> {GENERATIONS}").count() == 0
    # phase log populated for the evidence scripts
    assert any(label == "schedule+sequence" for _g, label, _s in
               engine.phase_log)


def test_wake_tier_active_and_resume_exact(spark, tmp_path_factory,
                                           oracle_result):
    """(a) The wake tier actually engages: with budget 3 and deep host
    queues, some deferred rows sleep past the next generation. (b) A fresh
    engine resumes from that snapshot, sleeping rows and all, EXACTLY:
    final log and seen set still match the oracle."""
    path = tmp_path_factory.mktemp("crawl_wake")
    engine = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine.bootstrap(SEEDS, ROBOTS)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine.run(docs, 3)
    engine.close()

    snap = spark.read.parquet(str(path / "frontier" / "gen=3"))
    assert snap.filter("validated AND wake_gen > 4").count() > 0, \
        "sleep tier never engaged — wake bound vacuous"

    engine2 = CrawlEngine(spark, str(path), N_DOCS, host_budget=HOST_BUDGET)
    engine2.run(docs, GENERATIONS - 3)
    log = sorted(
        (r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
        for r in engine2.fetch_log().collect())
    seen = {r.url_hash: r.url for r in engine2.seen().collect()}
    engine2.close()
    expected = [(seq, h, url, doc_id, gen)
                for seq, h, url, doc_id, gen in oracle_result["fetch_log"]]
    assert [(r[0], r[1], r[2], r[3], r[4]) for r in log] == expected
    assert seen == oracle_result["seen"]


def test_canonicalize_idempotent_property():
    """Idempotence is load-bearing: a canonicalized URL that is later
    re-discovered must canonicalize to ITSELF, or the url_hash dedupe plane
    splits one URL into two frontier rows. Property-checked over composed
    adversarial URLs (case, default ports, dot segments, duplicate slashes,
    unsorted query, fragments)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seg = st.sampled_from(["a", "B", "tief", ".", "..", "", "x-y_z", "%2F"])
    pair = st.sampled_from(["a=1", "b=2", "Z=9", "k", ""])

    @st.composite
    def urls(draw):
        scheme = draw(st.sampled_from(["http", "HTTP", "https", "akf"]))
        host = draw(st.sampled_from(
            ["Example.COM", "cd2005", "x.de", "A.b.C"]))
        port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
        path = "/".join(draw(st.lists(seg, max_size=6)))
        q = "&".join(draw(st.lists(pair, max_size=4)))
        frag = draw(st.sampled_from(["", "#frag", "#"]))
        sep = draw(st.sampled_from(["/", "//", ""]))
        return f"{scheme}://{host}{port}{sep}{path}" + \
            (f"?{q}" if q else "") + frag

    @given(urls())
    @settings(max_examples=300, deadline=None)
    def check(u):
        once = canonicalize_url(u)
        assert canonicalize_url(once) == once, (u, once)

    check()


def test_parse_robots_txt_groups_and_precedence():
    """Standard robots.txt -> rules table: comments, case-insensitive
    directives, multi-UA group heads, longest-UA-token group selection,
    empty Disallow = allow-all."""
    from akf_cdparser_spark.crawl.robots import parse_robots_txt

    body = """
# global rules
User-agent: *
Disallow: /private/
Allow: /private/ok

User-Agent: akf-crawler
user-agent: akf
DISALLOW: /cd2005/
allow: /cd2005/index.html

User-agent: other
Disallow:
"""
    star = parse_robots_txt("akf://cd", body, user_agent="somebody-else")
    assert star == [
        {"host": "akf://cd", "rule": "/private/", "allow": False},
        {"host": "akf://cd", "rule": "/private/ok", "allow": True}]
    # longest matching UA token wins ('akf-crawler' over 'akf' over '*')
    mine = parse_robots_txt("akf://cd", body, user_agent="AKF-Crawler/1.0")
    assert mine == [
        {"host": "akf://cd", "rule": "/cd2005/", "allow": False},
        {"host": "akf://cd", "rule": "/cd2005/index.html", "allow": True}]
    # empty Disallow group: no rules -> default allow
    assert parse_robots_txt("akf://cd", body, user_agent="other") == []


def test_robots_tie_break_is_order_independent(spark):
    """Two equal-length conflicting rules: allow wins the tie (REP), in
    BOTH rule orders, in the Spark plan AND the sequential twin — the
    collect_list arrival order must not decide crawlability."""
    from akf_cdparser_spark.crawl.robots import apply_robots, robots_allowed_py

    url = "akf://cd/a/page.html"
    cand = spark.createDataFrame([(url, "akf://cd")], "url string, host string")
    r_allow = {"host": "akf://cd", "rule": "/a/", "allow": True}
    r_deny = {"host": "akf://cd", "rule": "/a/", "allow": False}
    for rules in ([r_allow, r_deny], [r_deny, r_allow]):
        robots = spark.createDataFrame(rules)
        got = apply_robots(cand, robots).select("allowed").head()[0]
        assert got is True
        assert robots_allowed_py(url, rules) is True
    # longest prefix still beats the tie rule
    rules = [r_allow, {"host": "akf://cd", "rule": "/a/page", "allow": False}]
    robots = spark.createDataFrame(rules)
    assert apply_robots(cand, robots).select("allowed").head()[0] is False
    assert robots_allowed_py(url, rules) is False


def test_parsed_robots_feed_apply_robots(spark):
    """End-to-end: a parsed real-format robots.txt gates candidates exactly
    as the sequential twin says it should."""
    from akf_cdparser_spark.crawl.robots import (apply_robots,
                                                 parse_robots_txt,
                                                 robots_allowed_py)

    body = "User-agent: *\nDisallow: /secret/\nAllow: /secret/press/\n"
    rules = parse_robots_txt("akf://cd", body)
    urls = ["akf://cd/index.html", "akf://cd/secret/a.html",
            "akf://cd/secret/press/b.html"]
    cand = spark.createDataFrame([(u, "akf://cd") for u in urls],
                                 "url string, host string")
    got = {r.url: r.allowed
           for r in apply_robots(cand, spark.createDataFrame(rules)).collect()}
    assert got == {u: robots_allowed_py(u, rules) for u in urls}
    assert got["akf://cd/index.html"] and not got["akf://cd/secret/a.html"]
    assert got["akf://cd/secret/press/b.html"]


def test_robots_wildcard_rules_rfc9309(spark):
    """RFC 9309 path patterns: '*' spans any octets, a TRAILING '$'
    anchors the end (elsewhere it is a literal), regex metachars in rules
    stay literal, and plain rules keep prefix semantics. Spark gate ==
    sequential twin on every (url, ruleset) combination, both rule
    orders."""
    from akf_cdparser_spark.crawl.robots import apply_robots, robots_allowed_py

    host = "akf://cd"
    urls = [
        f"{host}/a/page.html",
        f"{host}/a/page.html?x=1",
        f"{host}/b/deep/page.pdf",
        f"{host}/b/page.pdfx",
        f"{host}/c/file.v1+tag/x",
        f"{host}/c/file.v1xtag/x",
        f"{host}/d/end",
        f"{host}/d/end/more",
    ]
    rulesets = {
        "star-ext": [
            {"host": host, "rule": "/*.pdf$", "allow": False}],
        "star-mid": [
            {"host": host, "rule": "/a/*.html", "allow": False},
            {"host": host, "rule": "/a/", "allow": True}],
        "literal-meta": [  # '.', '+' in the rule are literal octets
            {"host": host, "rule": "/c/file.v1+tag/", "allow": False}],
        "anchor": [
            {"host": host, "rule": "/d/end$", "allow": False}],
        "star-vs-prefix-precedence": [  # longer (wild) rule wins
            {"host": host, "rule": "/b/", "allow": True},
            {"host": host, "rule": "/b/*/page*", "allow": False}],
    }
    for name, rules in rulesets.items():
        for order in (rules, rules[::-1]):
            cand = spark.createDataFrame([(u, host) for u in urls],
                                         "url string, host string")
            got = {r.url: r.allowed
                   for r in apply_robots(
                       cand, spark.createDataFrame(order)).collect()}
            want = {u: robots_allowed_py(u, order) for u in urls}
            assert got == want, (name, got, want)
    # semantic spot checks through the twin
    rs = rulesets
    assert not robots_allowed_py(f"{host}/b/deep/page.pdf", rs["star-ext"])
    assert robots_allowed_py(f"{host}/b/page.pdfx", rs["star-ext"])  # $ anchors
    assert not robots_allowed_py(f"{host}/a/page.html?x=1", rs["star-mid"])
    assert not robots_allowed_py(f"{host}/c/file.v1+tag/x", rs["literal-meta"])
    assert robots_allowed_py(f"{host}/c/file.v1xtag/x", rs["literal-meta"])
    assert not robots_allowed_py(f"{host}/d/end", rs["anchor"])
    assert robots_allowed_py(f"{host}/d/end/more", rs["anchor"])
    assert not robots_allowed_py(f"{host}/b/deep/page.pdf",
                                 rs["star-vs-prefix-precedence"])


def test_sitemap_parse_and_seed_crawl(spark, tmp_path):
    """Sitemap ingestion end-to-end: parse_sitemaps handles urlset /
    sitemapindex / loc-less blocks / padded locs, and sitemap_seeds
    bootstraps a crawl that is BYTE-IDENTICAL to the same seeds given as
    a literal list (the sitemap channel injects candidates without
    touching seen-set or ordering semantics)."""
    from akf_cdparser_spark.crawl.frontier import CrawlEngine
    from akf_cdparser_spark.crawl.sitemaps import parse_sitemaps, sitemap_seeds

    n_docs = 60
    seed_ids = [0, 12, 24, 36, 48]
    locs = "".join(
        f"<url><loc> {fixtures.url_for(i)} </loc>"
        f"<lastmod>2005-0{1 + k % 9}-02</lastmod></url>"
        for k, i in enumerate(seed_ids))
    sm = spark.createDataFrame(
        [("akf://cd",
          f'<urlset>\n{locs}<url><lastmod>2005-01-01</lastmod></url></urlset>'),
         ("akf://cd", '<sitemapindex><sitemap>'
                      '<loc>akf://cd/sitemap-2.xml</loc></sitemap>'
                      '</sitemapindex>')],
        "host string, xml string")
    parsed = parse_sitemaps(sm)
    assert parsed.filter("kind = 'sitemap'").count() == 1
    got_urls = sorted(r.url for r in parsed.filter("kind = 'url'").collect())
    assert got_urls == sorted(fixtures.url_for(i) for i in seed_ids)
    assert parsed.filter("lastmod IS NULL AND kind = 'url'").count() == 0

    seeds_df = sitemap_seeds(sm)
    seeds = [{"url": r.url, "seq": k}
             for k, r in enumerate(seeds_df.orderBy("url").collect())]
    lit_seeds = [{"url": fixtures.url_for(i), "seq": k}
                 for k, i in enumerate(sorted(seed_ids,
                                              key=fixtures.url_for))]
    logs = []
    for tag, sd in (("sitemap", seeds), ("literal", lit_seeds)):
        engine = CrawlEngine(spark, str(tmp_path / tag), n_docs,
                             host_budget=10, n_salts=2)
        engine.bootstrap(sd, fixtures.robots_rules(n_docs))
        engine.run(X.docs_dataframe(spark, n_docs, partitions=4), 2)
        logs.append(sorted(
            (r.scheduled_seq, r.url) for r in engine.fetch_log().collect()))
        engine.close()
    assert logs[0] == logs[1] and logs[0]


def test_w3c_lastmod_unix_forms(spark):
    """The deterministic W3C-datetime parser vs Python's datetime on every
    form (date-only, Z, +/-hh:mm, fractional seconds, lowercase t) and the
    drop paths (garbage, month 13, day 0, hour 24, empty)."""
    from datetime import datetime, timezone

    from akf_cdparser_spark.crawl.sitemaps import w3c_lastmod_unix

    cases = ["2005-01-01", "1999-12-31", "2004-02-29", "1970-01-01",
             "2005-07-16T19:20+01:00", "2005-07-16t19:20:30Z",
             "2005-07-16T19:20:30.45-06:30", "2038-01-19T03:14:08Z",
             "not-a-date", "2005-13-01", "2005-01-00", "2005-07-16T24:00Z",
             ""]

    def py(s):
        import re
        m = re.match(
            r"^(\d{4})-(\d{2})-(\d{2})(?:[Tt](\d{2}):(\d{2})"
            r"(?::(\d{2})(?:\.\d+)?)?(Z|[+-]\d{2}:\d{2})?)?$", s)
        if not m:
            return None
        y, mo, d = int(m[1]), int(m[2]), int(m[3])
        hh, mi, ss = int(m[4] or 0), int(m[5] or 0), int(m[6] or 0)
        if not (1 <= mo <= 12 and 1 <= d <= 31 and hh <= 23 and mi <= 59
                and ss <= 60):
            return None
        tz, off = m[7], 0
        if tz and tz != "Z":
            off = ((1 if tz[0] == "+" else -1)
                   * (int(tz[1:3]) * 3600 + int(tz[4:6]) * 60))
        base = datetime(y, mo, d, tzinfo=timezone.utc).timestamp()
        return int(base) + hh * 3600 + mi * 60 + ss - off

    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {r.s: r.ts
           for r in df.select("s", w3c_lastmod_unix("s").alias("ts")).collect()}
    assert got == {c: py(c) for c in cases}


def test_recrawl_epoch_exact(spark, tmp_path, monkeypatch):
    """Freshness recrawl closed end-to-end: epoch 1 crawls, a sitemap
    lastmod pass flags a third of the fetched URLs stale, epoch 2
    bootstraps with seeds=stale + seen=(epoch-1 seen minus stale) — and
    its fetch log + final seen set match the sequential oracle given the
    same initial seen, byte-for-byte. Within-epoch seen state stays
    append-only; forgetting happens only at the boundary anti-join. The
    carried seen set is run R_0, which generation 1 probes as its only
    live run."""
    from akf_cdparser_spark.crawl.frontier import (CrawlEngine,
                                                   carry_seen_for_recrawl)
    from akf_cdparser_spark.crawl.sitemaps import freshness_recrawl

    n_docs = 60
    seeds = fixtures.seed_urls(4, n_docs)
    robots = fixtures.robots_rules(n_docs)
    docs = X.docs_dataframe(spark, n_docs, partitions=4)
    epoch0, gen_seconds = 1104537600, 2592000  # 2005-01-01, 30-day gens

    e1 = CrawlEngine(spark, str(tmp_path / "epoch1"), n_docs,
                     host_budget=3, n_salts=2)
    e1.bootstrap(seeds, robots)
    e1.run(docs, 2)
    fetch1 = e1.fetch_log()
    fetched = [r.url for r in sorted(fetch1.collect(),
                                     key=lambda r: r.scheduled_seq)]
    stale_urls = sorted({u for k, u in enumerate(fetched) if k % 3 == 0})
    locs = "".join(f"<url><loc>{u}</loc><lastmod>2005-12-31</lastmod></url>"
                   for u in stale_urls)
    sm = spark.createDataFrame([("akf://cd", f"<urlset>{locs}</urlset>")],
                               "host string, xml string")
    stale = freshness_recrawl(
        sm, fetch1.select("url", F.col("generation").alias("gen")),
        gen_seconds=gen_seconds, epoch0=epoch0)
    assert sorted(r.url for r in stale.select("url").collect()) == stale_urls
    assert stale.filter(F.col("recrawl_gen") <= 2).count() == 0

    carry = carry_seen_for_recrawl(e1.seen(), stale.select("url"))
    e2 = CrawlEngine(spark, str(tmp_path / "epoch2"), n_docs,
                     host_budget=3, n_salts=2)
    e2.bootstrap(stale.select("url"), robots, seen=carry)
    e1.close()
    entry = []
    generation = e2._generation

    def spy(gen, *args):
        entry.append((gen, sorted(e2._runs), _run_members(e2._runs[0])))
        return generation(gen, *args)

    monkeypatch.setattr(e2, "_generation", spy)
    e2.run(docs, 3)
    carried = sorted(r.url_hash for r in carry.collect())
    assert carried and entry[0] == (1, [0], carried)
    log2 = sorted((r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
                  for r in e2.fetch_log().collect())
    seen2 = {r.url_hash: r.url for r in e2.seen().collect()}
    e2.close()

    o1 = crawl_oracle(n_docs, seeds, robots, 3, 2)
    stale_hashes = {hash64_py(canonicalize_url(u)) for u in stale_urls}
    init = {h: u for h, u in o1["seen"].items() if h not in stale_hashes}
    o2 = crawl_oracle(n_docs, [{"url": u} for u in stale_urls], robots, 3, 3,
                      initial_seen=init)
    assert log2 == o2["fetch_log"]
    assert seen2 == o2["seen"]
    # epoch 2 actually refetched the stale URLs
    assert stale_hashes <= {h for _, h, *_ in log2}


def test_parse_crawl_delay_group_selection():
    """Crawl-delay extraction follows the same longest-UA-token group
    selection as the rules; invalid / absent / non-positive values emit
    nothing; the last directive in a group wins; rules are unaffected."""
    from akf_cdparser_spark.crawl.robots import (parse_crawl_delay,
                                                 parse_robots_txt)

    txt = ("User-agent: *\nCrawl-delay: 10\nDisallow: /tmp\n\n"
           "User-agent: akfbot\nCrawl-delay: 2.5\nAllow: /x\n")
    assert parse_crawl_delay("h", txt) == [{"host": "h", "crawl_delay": 10.0}]
    assert parse_crawl_delay("h", txt, user_agent="AkfBot/1.0") == [
        {"host": "h", "crawl_delay": 2.5}]
    assert parse_crawl_delay("h", "User-agent: *\nCrawl-delay: soon") == []
    assert parse_crawl_delay("h", "User-agent: *\nCrawl-delay: -1") == []
    assert parse_crawl_delay("h", "User-agent: *\nDisallow: /x") == []
    two = ("User-agent: *\nCrawl-delay: 4\nCrawl-delay: 8\n\n"
           "User-agent: other\nDisallow: /")
    assert parse_crawl_delay("h", two) == [{"host": "h", "crawl_delay": 8.0}]
    assert parse_robots_txt("h", txt) == [
        {"host": "h", "rule": "/tmp", "allow": False}]


def test_crawl_delay_budgets_engine_oracle_exact(spark, tmp_path):
    """Per-host Crawl-delay politeness end-to-end: delays map to budgets
    (min(global, floor(gen_seconds/delay))), the engine schedules under
    them — including across a resume, which re-reads the gen-0 budgets
    table — and the fetch log + seen set stay byte-exact vs the
    sequential oracle given the same {host: budget} map. The throttled
    hosts genuinely change the crawl (differs from the unthrottled run)
    and never exceed their budget in any generation."""
    from collections import Counter

    from akf_cdparser_spark.crawl.frontier import (CrawlEngine,
                                                   crawl_delay_budgets)
    from akf_cdparser_spark.crawl.robots import parse_crawl_delay

    gen_seconds = 2592000
    delays = (parse_crawl_delay(
        "akf://cd1999", "User-agent: *\nCrawl-delay: 2592000")      # -> 1
        + parse_crawl_delay(
        "akf://cd2001", "User-agent: *\nCrawl-delay: 1296000.0"))   # -> 2
    ddf = spark.createDataFrame(delays, "host string, crawl_delay double")
    budgets = crawl_delay_budgets(ddf, gen_seconds, HOST_BUDGET)
    got = {r.host: r.budget for r in budgets.collect()}
    assert got == {"akf://cd1999": 1, "akf://cd2001": 2}

    engine = CrawlEngine(spark, str(tmp_path), N_DOCS,
                         host_budget=HOST_BUDGET, n_salts=4)
    engine.bootstrap(SEEDS, ROBOTS, host_budgets=budgets)
    docs = X.docs_dataframe(spark, N_DOCS, partitions=8)
    engine.run(docs, 2)
    engine.close()
    resumed = CrawlEngine(spark, str(tmp_path), N_DOCS,
                          host_budget=HOST_BUDGET, n_salts=4)
    resumed.run(docs, GENERATIONS - 2)
    log = sorted((r.scheduled_seq, r.url_hash, r.url, r.doc_id, r.generation)
                 for r in resumed.fetch_log().collect())
    seen = {r.url_hash: r.url for r in resumed.seen().collect()}
    resumed.close()

    o = crawl_oracle(N_DOCS, SEEDS, ROBOTS, HOST_BUDGET, GENERATIONS,
                     host_budgets=got)
    assert log == o["fetch_log"]
    assert seen == o["seen"]
    plain = crawl_oracle(N_DOCS, SEEDS, ROBOTS, HOST_BUDGET, GENERATIONS)
    assert log != plain["fetch_log"]
    import re

    per_gen_host = Counter()
    for _seq, _h, url, _d, gen in log:
        host = re.match(r"^([a-z0-9+.\-]+://[^/]+)", url).group(1)
        per_gen_host[(gen, host)] += 1
    for (gen, host), n in per_gen_host.items():
        assert n <= got.get(host, HOST_BUDGET)
