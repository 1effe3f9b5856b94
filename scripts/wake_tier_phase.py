#!/usr/bin/env python
"""Wake-generation tiering: schedule-phase evidence (VERDICT r4 #7).

Runs the crawl engine with the wake tier ON and OFF (the control mode —
identical output, pre-tier frontier-proportional scheduling) at two corpus
sizes and prints the per-generation `schedule+sequence` phase wall from
``CrawlEngine.phase_log`` as a markdown table for BENCH/BASELINE.md.

Usage:
    PYTHONPATH=. python scripts/wake_tier_phase.py [--docs 64000,240000]
                                                   [--gens 5] [--cpus 32]
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def untiered():
    """The tier-OFF control: every unscheduled row gets ``_delay`` 0, so
    its wake generation is the current one and it re-enters the next
    generation's merge/window passes."""
    from pyspark.sql import functions as F

    from akf_cdparser_spark.crawl import frontier

    schedule = frontier._schedule_tagged

    def zero_delay(*args, **kwargs):
        tagged, cached = schedule(*args, **kwargs)
        return tagged.withColumn("_delay", F.lit(0)), cached

    frontier._schedule_tagged = zero_delay
    try:
        yield
    finally:
        frontier._schedule_tagged = schedule


def run_mode(spark, n_docs: int, gens: int, tiering: bool,
             budget: int | None = None):
    from akf_cdparser_spark import fixtures
    from akf_cdparser_spark.crawl.frontier import CrawlEngine
    from akf_cdparser_spark.operators import extract as X

    with tempfile.TemporaryDirectory() as state_dir, \
            (contextlib.nullcontext() if tiering else untiered()):
        engine = CrawlEngine(spark, state_dir, n_docs,
                             host_budget=budget or max(40, n_docs // 14),
                             n_shards=16, n_salts=4)
        engine.bootstrap(fixtures.seed_urls(max(50, n_docs // 10), n_docs),
                         fixtures.robots_rules(n_docs))
        docs = X.docs_dataframe(spark, n_docs)
        totals = engine.run(docs, generations=gens)
        phases = [(g, lbl, round(s, 2)) for g, lbl, s in engine.phase_log
                  if lbl == "schedule+sequence"]
        engine.close()
    return totals, phases


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="64000,240000")
    ap.add_argument("--gens", type=int, default=5)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # the tier's target shape is a SMALL per-host budget (the synthetic
    # corpus has 7 hosts, so the bench-sized budget schedules ~half the
    # frontier per generation and almost nothing ever sleeps — the
    # real-web shape is millions of hosts with single-digit budgets,
    # i.e. deferred >> scheduled). Default: bench shape.
    ap.add_argument("--budget", type=int, default=None)
    args = ap.parse_args()

    from akf_cdparser_spark.session import get_spark
    spark = get_spark(app_name="wake_tier_phase",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=max(8, int(args.cpus)))

    sizes = [int(x) for x in args.docs.split(",")]
    print("| corpus docs | gen | schedule wall, tier ON (s) | "
          "tier OFF (s) | OFF/ON |")
    print("|---|---|---|---|---|")
    for n in sizes:
        # ABBA ordering: each mode runs twice, first and last alternating,
        # so neither mode systematically absorbs warm-up or host drift;
        # per-generation BEST of the two runs per mode (shared-host noise
        # inflates, never deflates)
        legs = [(True, {}), (False, {}), (False, {}), (True, {})]
        by_mode: dict[bool, dict[int, float]] = {True: {}, False: {}}
        for tiering, _ in legs:
            _, phases = run_mode(spark, n, args.gens, tiering, args.budget)
            for g, _l, s in phases:
                cur = by_mode[tiering].get(g)
                by_mode[tiering][g] = s if cur is None or s < cur else cur
        for g in sorted(set(by_mode[True]) | set(by_mode[False])):
            a, b = by_mode[True].get(g), by_mode[False].get(g)
            ratio = round(b / a, 2) if a and b else ""
            print(f"| {n} | {g} | {a} | {b} | {ratio} |", flush=True)


if __name__ == "__main__":
    main()
