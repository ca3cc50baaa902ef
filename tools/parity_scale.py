#!/usr/bin/env python
"""Golden parity at larger fixture scale than the unit suite (40 docs):
build an N-doc world, run the sequential oracle AND the Spark engine,
compare crawl ordering + URL-seen + extractions exactly.

Usage: python tools/parity_scale.py [n_docs] [--bloom]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    tier = sys.argv[2] if len(sys.argv) > 2 else ""

    from crawler_spark.oracle.crawler import run_oracle
    from crawler_spark.oracle.fixtures import build_world
    from crawler_spark.plans.store import SnapshotStore
    from crawler_spark.session import get_spark
    from crawler_spark.sources.fetch import FixtureFetcher
    from crawler_spark.sources.fixtures_io import read_table, write_world
    from crawler_spark.streaming.rounds import CrawlEngine

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("parity_scale")
    # budget scales with corpus so the round count stays ~10-15 (the
    # oracle uses the same politeness table — parity is unaffected)
    world = build_world(n_docs=n_docs, seed=42, budget=max(2, n_docs // 12))

    t0 = time.perf_counter()
    oracle = run_oracle(world)
    t_oracle = time.perf_counter() - t0

    fixture_dir = tempfile.mkdtemp(prefix="parity_world_")
    write_world(spark, world, fixture_dir)
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="parity_store_"))
    engine = CrawlEngine(
        spark=spark,
        store=store,
        fetcher=FixtureFetcher(
            pages={u: (p.body, p.fail_rounds, p.latency_ms) for u, p in world.pages.items()}
        ),
        robots=read_table(spark, fixture_dir, "robots"),
        politeness=read_table(spark, fixture_dir, "politeness"),
        use_bloom=(tier == "--bloom"),
    )
    t0 = time.perf_counter()
    engine.init_frontier(read_table(spark, fixture_dir, "seeds"))
    engine.run(max_rounds=200)
    t_engine = time.perf_counter() - t0

    got_order = [
        tuple(r)
        for r in engine.crawl_log()
        .orderBy("round", "host", "host_rank")
        .select("round", "host", "host_rank", "url", "depth", "success", "attempt")
        .collect()
    ]
    want_order = [
        (o["round"], o["host"], o["host_rank"], o["url"], o["depth"], o["success"], o["attempt"])
        for o in sorted(oracle.crawl_order, key=lambda o: o["seq"])
    ]
    got_seen = {r["url"] for r in engine.url_seen().collect()}
    got_ext = {
        (r["page_url"], r["caption"], r["img_url"], r["img_order"])
        for r in engine.extractions().collect()
    }
    want_ext = {
        (e["page_url"], e["caption"], e["img_url"], e["img_order"])
        for e in oracle.extractions
    }

    result = {
        "n_docs": n_docs,
        "tier": tier or "exact",
        "crawl_events": len(want_order),
        "urls_seen": len(oracle.url_seen),
        "extractions": len(want_ext),
        "ordering_match": got_order == want_order,
        "seen_match": got_seen == oracle.url_seen,
        "extractions_match": got_ext == want_ext,
        "oracle_sec": round(t_oracle, 2),
        "engine_sec": round(t_engine, 2),
        "rounds": len(engine.metrics),
    }
    print(json.dumps(result))
    ok = result["ordering_match"] and result["seen_match"] and result["extractions_match"]
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
