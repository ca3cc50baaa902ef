#!/usr/bin/env python3
"""Crawl benchmark: seed list → frontier rounds → pages → image+caption
table, through the shipped ``CrawlEngine``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run: a cold set-up (timed as ``setup_s``: Spark start, then a
warm-up crawl of small inputs from another seed), then whole crawl
passes until ``--seconds`` have been spent measuring (at least one).
Each pass builds a fresh snapshot store and runs ``init_frontier`` →
``run`` (one round, then a restart: a new engine over the same store
resumes the crawl until the frontier is exhausted) → ``build_documents``
→ ``materialize_images``, then checks the committed tables against the
workload's independent expectation. The last stdout line is the JSON
result; ``--trace 1`` instruments the run and reports per-layer metrics
instead of end-to-end ones. Run from the repository root; writes only
under ``.bench_out/``, which it removes when done.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["golden-fixture", "bulk-synthetic", "http-html"]
RESTART_AFTER = 1  # rounds the first engine runs before the restart
PASS_CAP_S = 140  # no new pass once the run could overrun 180 s
WARMUP_SCALE = 1 / 8  # warm-up inputs, as a share of the measured ones
WARMUP_SEED_OFFSET = 1_000_000  # warm-up inputs come from another seed
# Spare timed calls of the two stages whose samples vary most, one call
# taking 1-2 s: the machine's speed drifts over seconds, so a single
# sample moves by a fifth or more. seed_s is the median of the pass's
# own seeding and SEED_SPARES seedings of throwaway stores, all before
# the crawl (on bulk-synthetic a seeding after the crawl runs up to a
# fifth slower); images_per_s uses the median of the pass's own
# materialize_images and IMAGE_SPARES more on the crawled store, each
# committing another version of the images table with the same rows.
# documents_s is the pass's own call, which varies less from run to
# run. Every spare call adds 1-3 s to each of the 48 runs of a full
# measurement, whose time budget is nearly used up.
SEED_SPARES = 1
IMAGE_SPARES = 2

E2E_UNITS = {
    "setup_s": "s",
    "seed_s": "s",
    "crawl_pages_per_s": "pages/s",
    "round_p50_s": "s",
    "documents_s": "s",
    "images_per_s": "images/s",
    "end_to_end_s": "s",
    "store_bytes": "bytes",
    "store_files": "files",
}
LAYER_UNITS = {
    "spark.jobs_per_round": "count",
    "spark.tasks_per_round": "count",
    "spark.shuffle_bytes_per_round": "bytes",
    "store.commit_s": "s",
    "store.commit_calls": "count",
    "store.commit_upsert_s": "s",
    "store.read_s": "s",
    "store.compact_s": "s",
    "store.files_per_round": "files",
    "store.bytes_per_round": "bytes",
    "store.frontier_versions": "count",
    "fetch.batch_s": "s",
    "fetch.batches": "count",
    "fetch.rows_per_batch": "rows",
    "http.requests": "count",
    "http.server_busy_s": "s",
    "http.requests_per_page": "ratio",
    "canonical.absolutize_ms_per_page": "ms",
    "html.to_md_ms_per_page": "ms",
    "html.head_parse_ms_per_page": "ms",
    "dedup.bloom_update_s": "s",
    "dedup.bloom_probe_s": "s",
    "politeness.hosts_per_round": "count",
    "politeness.max_host_share": "ratio",
    **{f"images.decode_ms.{f}": "ms" for f in ["ppm", "bmp", "png", "qjpg", "jpg", "gif"]},
    "images.bytes_in": "bytes",
    "trace.end_to_end_s": "s",
}


def phase(name: str) -> None:
    """Progress on stderr: seconds since process start at each phase."""
    print(f"[{time.perf_counter() - T_START:7.2f} s] {name}", file=sys.stderr, flush=True)


def timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run_dir: str):
    """Spark sized to the machine it runs on: local[nproc], nproc shuffle
    partitions, a quarter of RAM (1-8 GiB) for the Spark driver; scratch
    space inside the run directory."""
    from crawler_spark.session import get_spark

    cores = nproc()
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{max(1, min(8, int(ram_gib // 4)))}g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


class Server:
    """The http-html site in its own process (perfbench/server.py)."""

    def __init__(self, seed: int, docs: int, log_path: str, env: dict):
        self.log_path = log_path
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.server", "--seed", str(seed),
             "--docs", str(docs), "--log", log_path],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        line = self.proc.stdout.readline().decode().split()
        if len(line) != 2 or line[0] != "PORT":
            self.stop()
            raise RuntimeError("http server did not start")
        self.port = int(line[1])

    def stop(self) -> list[dict]:
        """Close stdin (the server's stop signal), wait, read its log."""
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if not os.path.exists(self.log_path):
            return []
        with open(self.log_path) as f:
            return [json.loads(line) for line in f if line.strip()]


def prepare(name: str, seed: int, work: str, env: dict, scale: float = 1.0):
    """→ (inputs, table paths, server or None)."""
    from perfbench import inputs as wl

    server = None
    if name == "golden-fixture":
        inp = wl.golden_fixture(seed, scale)
    elif name == "bulk-synthetic":
        inp = wl.bulk_synthetic(seed, scale)
    else:
        docs = int(wl.HTTP_DOCS * scale)
        server = Server(seed, docs, os.path.join(work, "server.jsonl"), env)
    try:
        if server:
            inp = wl.http_html(seed, server.port, docs)
        return inp, wl.write_inputs(inp, os.path.join(work, "inputs")), server
    except BaseException:
        if server:
            server.stop()
        raise


def collect(spark, store_root: str, inp, quarantined: int, documents: dict, server_log):
    """Committed tables → checks.Output (outside every timed region)."""
    from pyspark.sql import functions as F

    from crawler_spark.plans.store import SnapshotStore
    from perfbench.checks import Output, pixel_sample

    st = SnapshotStore(spark, store_root)
    images = st.read("images")
    sample = pixel_sample(inp.images)
    return Output(
        crawl_log=[tuple(r) for r in st.read("crawl_log").select(
            "round", "host", "host_rank", "url", "depth", "success", "attempt").collect()],
        frontier={r[0]: (bool(r[1]), int(r[2])) for r in st.read("frontier").select(
            "url", "completed", "attempts").collect()},
        extractions=[tuple(r) for r in st.read("extractions").select(
            "page_url", "caption", "img_url", "img_order").collect()],
        metrics={int(r[0]): tuple(int(x) for x in r[1:]) for r in st.read("metrics").select(
            "round", "scheduled", "fetched_ok", "failed", "discovered").collect()},
        images={r[0]: (bool(r[1]), int(r[2] or 0), int(r[3] or 0), r[4]) for r in images.select(
            "img_url", "decode_ok", "w", "h", "caption").collect()},
        image_bytes={r[0]: bytes(r[1]) for r in images.filter(
            F.col("img_url").isin(sample)).select("img_url", "bytes").collect()},
        quarantined=quarantined,
        documents=documents,
        server_log=None if server_log is None else [
            (r["host"], r["path"], r["status"]) for r in server_log],
    )


def crawl_pass(spark, inp, paths: dict, work: str, traced: bool, server,
               warmup: bool = False) -> dict:
    """One whole crawl on a fresh store. → timings, samples, verdict.

    ``warmup``: the set-up's pass, unchecked: seeding, one round, then
    documents and images on the same engine; no spare calls and no
    restart. Each stage of the crawl runs once; a second round would add
    5-10 s to every run's set-up. Without documents and images here, the
    measured pass's seedings and build_documents run a quarter to a half
    slower and vary more."""
    from crawler_spark.operators.images_pipeline import BYTE_STORE_SCHEMA
    from crawler_spark.plans.store import SnapshotStore
    from crawler_spark.sources.fixtures_io import POLITENESS_SCHEMA, ROBOTS_SCHEMA, SEED_SCHEMA
    from crawler_spark.streaming.rounds import CrawlEngine
    from perfbench import trace as tr
    from perfbench.checks import check

    store_root = os.path.join(work, "store")
    spool = os.path.join(work, "spool")
    os.makedirs(spool)
    seeds = spark.read.schema(SEED_SCHEMA).parquet(paths["seeds"])
    robots = spark.read.schema(ROBOTS_SCHEMA).parquet(paths["robots"])
    politeness = spark.read.schema(POLITENESS_SCHEMA).parquet(paths["politeness"])
    byte_store = spark.read.schema(BYTE_STORE_SCHEMA).parquet(paths["byte_store"])
    tracer = tr.Tracer()
    fetcher = tr.SpanFetcher(inp.fetcher, spool) if traced else inp.fetcher
    rounds: list[dict] = []  # one entry per run_round call

    def engine():
        store = (tr.TracedStore(spark, store_root, tracer=tracer) if traced
                 else SnapshotStore(spark, store_root))
        eng = CrawlEngine(spark=spark, store=store, fetcher=fetcher, robots=robots,
                          politeness=politeness, **inp.engine_kwargs)
        if traced and eng.bloom:
            eng.bloom = tr.TimedBloom(eng.bloom, tracer)
        inner = eng.run_round

        def run_round(rnd, *a, **kw):
            rec = {"round": rnd}
            if traced:
                tracer.rnd = rnd
                spark.sparkContext.setJobGroup(f"bench-{id(rounds)}-{rnd}", "crawl round")
            t0 = time.perf_counter()
            m = inner(rnd, *a, **kw)
            rec["s"] = time.perf_counter() - t0
            rec["m"] = m
            phase(f"round {rnd}: {m.get('scheduled', 0)} scheduled")
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                tracer.rnd = 0
                rec["jobs"], rec["tasks"], rec["shuffle"] = tr.job_counts(
                    spark, f"bench-{id(rounds)}-{rnd}")
                rec["files"], rec["bytes"] = tr.dir_size(store_root)
                rec["chain"] = store.delta_chain("frontier")
                if isinstance(eng.bloom, tr.TimedBloom):
                    eng.bloom.release()
            rounds.append(rec)
            return m

        eng.run_round = run_round
        return eng

    def spare_seeding(i: int) -> float:
        """Seed a throwaway store; → wall time of init_frontier."""
        spare_root = os.path.join(work, f"seed-spare{i}")
        spare = CrawlEngine(spark=spark, store=SnapshotStore(spark, spare_root),
                            fetcher=inp.fetcher, robots=robots, politeness=politeness,
                            **inp.engine_kwargs)
        s = timed(spare.init_frontier, seeds)
        shutil.rmtree(spare_root)
        return s

    seed_times = []
    if not warmup:
        # the first seeding after the warm-up still runs part cold,
        # 1.2-4x as long as the later ones: untimed
        spare_seeding(0)
        seed_times += [spare_seeding(i + 1) for i in range(SEED_SPARES)]
    t_e2e = time.perf_counter()
    first = engine()
    seed_times.append(timed(first.init_frontier, seeds))
    phase("seeded")
    files0, bytes0 = tr.dir_size(store_root)
    t = time.perf_counter()
    first.run(max_rounds=RESTART_AFTER)
    last = first
    if not warmup:
        last = engine()  # restart: a new engine resumes from the store
        last.run(max_rounds=1000)
    crawl_s = time.perf_counter() - t
    t = time.perf_counter()
    documents = last.build_documents()
    documents_s = time.perf_counter() - t
    phase("documents built")
    t = time.perf_counter()
    counts = last.materialize_images(byte_store)
    images_s = time.perf_counter() - t
    phase("images materialized")
    end_to_end_s = time.perf_counter() - t_e2e
    if warmup:
        if server:
            server.stop()
        return {"end_to_end_s": end_to_end_s}
    store_files, store_bytes = tr.dir_size(store_root)
    image_times = [images_s] + [timed(last.materialize_images, byte_store)
                                for _ in range(IMAGE_SPARES)]

    server_log = server.stop() if server else None
    phase("crawl pass done")
    out = collect(spark, store_root, inp, first.quarantined, documents, server_log)
    phase("outputs collected")
    verdict = check(inp, out)
    phase("outputs checked")
    busy = [r for r in rounds if r["m"].get("scheduled", 0) > 0]
    pages_ok = sum(r["m"]["fetched_ok"] for r in busy)
    res = {
        "verdict": verdict,
        "e2e": {
            "seed_s": statistics.median(seed_times),
            "crawl_pages_per_s": pages_ok / crawl_s,
            "documents_s": documents_s,
            "images_per_s": counts["decode_ok"] / statistics.median(image_times),
            "end_to_end_s": end_to_end_s,
            "store_bytes": store_bytes,
            "store_files": store_files,
        },
        "round_s": [r["s"] for r in busy],
        "seed_times": seed_times,
        "image_times": image_times,
    }
    if traced:
        res["layers"] = pass_layers(spark, tr, tracer, busy, out, server_log, spool,
                                    store_root, files0, bytes0, pages_ok, end_to_end_s)
    return res


def pass_layers(spark, tr, tracer, busy, out, server_log, spool, store_root,
                files0, bytes0, pages_ok, end_to_end_s) -> dict:
    """Per-layer numbers of one traced pass; per-round ones are medians
    over the rounds that scheduled work."""
    from collections import Counter

    from pyspark.sql import functions as F

    from crawler_spark.plans.store import SnapshotStore

    med = statistics.median
    rnds = [r["round"] for r in busy]
    files = [files0] + [r["files"] for r in busy]
    sizes = [bytes0] + [r["bytes"] for r in busy]
    spans = tr.read_spool(spool)
    per_round_hosts = {}
    for rnd, host, *_ in out.crawl_log:
        per_round_hosts.setdefault(rnd, Counter())[host] += 1
    log = server_log or []
    images_in = SnapshotStore(spark, store_root).read("images").agg(
        F.sum(F.length("bytes"))).first()[0]
    return {
        "spark.jobs_per_round": med(r["jobs"] for r in busy),
        "spark.tasks_per_round": med(r["tasks"] for r in busy),
        "spark.shuffle_bytes_per_round": med(r["shuffle"] for r in busy),
        "store.commit_s": med(tracer.per_round("store.commit", rnds)),
        "store.commit_calls": med(tracer.count_per_round(
            {"store.commit", "store.commit_upsert"}, rnds)),
        "store.commit_upsert_s": med(tracer.per_round("store.commit_upsert", rnds)),
        "store.read_s": med(tracer.per_round("store.read", rnds)),
        "store.compact_s": sum(tracer.per_round("store.compact", rnds)),
        "store.files_per_round": med(b - a for a, b in zip(files, files[1:])),
        "store.bytes_per_round": med(b - a for a, b in zip(sizes, sizes[1:])),
        "store.frontier_versions": max(r["chain"] for r in busy),
        "fetch.batch_s": sum(s["t1"] - s["t0"] for s in spans),
        "fetch.batches": len(spans),
        "fetch.rows_per_batch": statistics.mean(s["rows"] for s in spans) if spans else 0,
        "http.requests": len(log),
        "http.server_busy_s": sum(r["t1"] - r["t0"] for r in log),
        "http.requests_per_page": len(log) / pages_ok if server_log is not None else 0,
        "dedup.bloom_update_s": tracer.total("dedup.bloom_update"),
        "dedup.bloom_probe_s": tracer.total("dedup.bloom_probe"),
        "politeness.hosts_per_round": med(len(c) for c in per_round_hosts.values()),
        "politeness.max_host_share": med(
            max(c.values()) / sum(c.values()) for c in per_round_hosts.values()),
        "images.bytes_in": int(images_in or 0),
        "trace.end_to_end_s": end_to_end_s,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="End-to-end crawl benchmark.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import crawler_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        print(f"crawler_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    # stray output of the JVM and workers goes to stderr: stdout
    # carries only the result line
    result_fd = os.dup(1)
    os.dup2(2, 1)
    run_dir = os.path.join(
        ROOT, ".bench_out", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    os.environ.update(
        PYTHONPATH=env["PYTHONPATH"],
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # every JVM this run starts (launcher and driver): temp files in
        # the run directory, no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    )
    spark = server = None
    try:
        spark = start_spark(run_dir)
        phase("spark up")
        setup_s = time.perf_counter() - T_START
        # warm-up: seeding, one round, documents and images of other,
        # small inputs through the same engine configuration, so the
        # measured passes run on a JIT-compiled JVM and started Python
        # workers (the first pass in a process takes about twice as
        # long). Its crawl time is part of set-up; its input generation
        # is not.
        work = os.path.join(run_dir, "warmup")
        os.makedirs(work)
        inp, paths, server = prepare(
            args.workload, args.seed + WARMUP_SEED_OFFSET, work, env, WARMUP_SCALE)
        phase("warm-up inputs made")
        setup_s += crawl_pass(spark, inp, paths, work, False, server, warmup=True)[
            "end_to_end_s"]
        server = inp = None
        phase("warm-up crawl done")
        passes = []
        inp = paths = None
        t_meas = time.perf_counter()
        while True:
            work = os.path.join(run_dir, f"pass{len(passes)}")
            os.makedirs(work)
            if inp is None or args.workload == "http-html":
                # the site is served afresh per pass, so its log holds
                # exactly that pass's requests
                inp, paths, server = prepare(args.workload, args.seed, work, env)
                phase("inputs made")
            passes.append(crawl_pass(spark, inp, paths, work, bool(args.trace), server))
            server = None
            print(f"pass {len(passes)}: " + json.dumps(
                {k: round(v, 4) for k, v in passes[-1]["e2e"].items()})
                + " init_frontier: " + " ".join(f"{s:.3f}" for s in passes[-1]["seed_times"])
                + " materialize_images: "
                + " ".join(f"{s:.3f}" for s in passes[-1]["image_times"]),
                file=sys.stderr)
            spent = time.perf_counter() - t_meas
            last = spent / len(passes)
            if spent >= args.seconds or time.perf_counter() - T_START + last > PASS_CAP_S:
                break
        if args.trace:
            from perfbench.trace import layer_timings

            layers = {k: statistics.median(p["layers"][k] for p in passes)
                      for k in passes[0]["layers"]}
            layers.update(layer_timings(inp))
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            e2e = {k: statistics.median(p["e2e"][k] for p in passes) for k in passes[0]["e2e"]}
            e2e["setup_s"] = setup_s
            e2e["round_p50_s"] = statistics.median(s for p in passes for s in p["round_s"])
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        phase("measured")
    finally:
        if server is not None:
            server.stop()
        if spark is not None:
            jvm = getattr(spark.sparkContext._gateway, "proc", None)
            spark.stop()
            if jvm is not None:
                # the JVM exits once its stdin closes; wait for it, so
                # that no process of the run outlives it
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("stopped")
    for p in passes:
        for problem in p["verdict"].problems:
            print(f"check: {problem}", file=sys.stderr)
    result = {
        "correct": all(p["verdict"].correct for p in passes),
        "attempted": sum(p["verdict"].attempted for p in passes),
        "failed": sum(p["verdict"].failed for p in passes),
        "metrics": metrics,
    }
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
