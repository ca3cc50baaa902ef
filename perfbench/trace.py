"""The traced run's instruments, all outside the engine: they wrap the
objects the engine is handed (store, fetcher, bloom tier) or call a
layer's public functions directly.

Driver-side spans stay in memory (``Tracer.spans``) until the run ends.
Fetch spans happen in Spark's Python workers, so ``SpanFetcher`` appends
one line per ``fetch_batch`` call to a per-process spool file that the
Spark driver reads after the crawl.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError

from crawler_spark.plans.store import SnapshotStore
from crawler_spark.sources.fetch import FETCH_RESULT_FIELDS


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    rnd: int
    parent: str | None = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    rnd: int = 0  # the round the engine is in; 0 = seeding / post-crawl
    _stack: list[str] = field(default_factory=list)

    def timed(self, name: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), self.rnd, parent))

    def per_round(self, name: str, rounds: list[int]) -> list[float]:
        """Summed seconds of the top-level ``name`` spans in each of
        ``rounds`` (a commit nested in a compaction is not counted)."""
        tot = dict.fromkeys(rounds, 0.0)
        for s in self.spans:
            if s.name == name and s.rnd in tot and s.parent is None:
                tot[s.rnd] += s.dur
        return [tot[r] for r in rounds]

    def count_per_round(self, names: set[str], rounds: list[int]) -> list[int]:
        n = dict.fromkeys(rounds, 0)
        for s in self.spans:
            if s.name in names and s.rnd in n and s.parent is None:
                n[s.rnd] += 1
        return [n[r] for r in rounds]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)


@dataclass
class TracedStore(SnapshotStore):
    """SnapshotStore whose public calls leave spans. A commit made inside
    ``compact`` (or a first ``commit_upsert``) records that caller as its
    parent, so per-call totals never count a nested commit twice."""

    tracer: Any = None

    def read(self, table, version=None):
        return self.tracer.timed("store.read", super().read, table, version)

    def commit(self, table, df, mode="overwrite", lineage=None, partition_by=None):
        return self.tracer.timed(
            "store.commit", super().commit, table, df, mode, lineage, partition_by
        )

    def commit_upsert(self, table, updates, key, lineage=None):
        return self.tracer.timed(
            "store.commit_upsert", super().commit_upsert, table, updates, key, lineage
        )

    def compact(self, table, lineage=None, partition_by=None):
        return self.tracer.timed("store.compact", super().compact, table, lineage, partition_by)

    def delta_chain(self, table: str) -> int:
        """Merge-on-read delta files the next read of ``table`` resolves."""
        snaps = self.versions(table)
        if not snaps or snaps[-1].get("mode") != "delta":
            return 0
        return len(snaps[-1].get("delta_paths", snaps[-1]["paths"]))


@dataclass
class SpanFetcher:
    """Fetcher wrapper: times each ``fetch_batch`` call inside the Spark
    Python worker and appends ``{"t0", "t1", "rows"}`` to
    ``<spool_dir>/fetch-<pid>.jsonl``. Forwards the fetcher contract
    (``BODY_KIND``, ``RESULT_FIELDS``) unchanged."""

    inner: Any
    spool_dir: str

    @property
    def BODY_KIND(self):  # noqa: N802 — fetcher-contract name
        return getattr(self.inner, "BODY_KIND", "auto")

    @property
    def RESULT_FIELDS(self):  # noqa: N802 — fetcher-contract name
        return getattr(self.inner, "RESULT_FIELDS", FETCH_RESULT_FIELDS)

    def fetch_batch(self, pdf):
        t0 = time.time()
        out = self.inner.fetch_batch(pdf)
        rec = {"t0": t0, "t1": time.time(), "rows": len(pdf)}
        with open(os.path.join(self.spool_dir, f"fetch-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        return out


def read_spool(spool_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name)) as f:
            out += [json.loads(line) for line in f if line.strip()]
    return out


class TimedBloom:
    """Wrapper around ``engine.bloom``. ``update`` commits eagerly, so
    its span is its wall time. ``filter_unseen`` only builds a plan; to
    time the probe, the wrapper caches the candidates, materializes
    them outside the span, then runs the probe to completion inside it.
    The cache is released by ``release()`` after the round."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self._cached = []

    def update(self, keys, key_col: str = "url_key") -> None:
        self.tracer.timed("dedup.bloom_update", self.inner.update, keys, key_col)

    def filter_unseen(self, candidates, seen, key_col: str = "url_key", url_col: str = "url"):
        cand = candidates.cache()
        self._cached.append(cand)
        cand.count()
        self.tracer.timed("dedup.bloom_probe", lambda: self.inner.probe(cand, key_col).count())
        return self.inner.filter_unseen(cand, seen, key_col, url_col)

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, shuffle write bytes) of the Spark jobs run under
    job group ``group``, from the status tracker and status store."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    tasks = shuffle = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in list(info.stageIds) if info else []:
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
            try:
                attempts = store.stageData(
                    sid, False, getattr(store, "stageData$default$3")(), False,
                    getattr(store, "stageData$default$5")(),
                )
            except Py4JJavaError:  # stage skipped (its output was reused): nothing written
                continue
            for i in range(attempts.size()):
                shuffle += attempts.apply(i).shuffleWriteBytes()
    return len(jobs), tasks, shuffle


def dir_size(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for d, _subdirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def ms_per_call(fn, items) -> float:
    """Median milliseconds of ``fn(*item)`` over ``items``."""
    times = []
    for it in items:
        t0 = time.perf_counter()
        fn(*it)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times) if times else 0.0


def layer_timings(inp) -> dict[str, float]:
    """Direct, timed calls into the per-page and per-image layers on the
    workload's own bodies and bytes. Layers a workload's pages never
    reach (HTML conversion of markdown bodies) read 0."""
    from crawler_spark.canonical import absolutize_html, absolutize_md
    from crawler_spark.functions.html import base_href, html_to_md, page_directives, social_image
    from crawler_spark.functions.images import decode_image

    out = {}
    if inp.fetcher.BODY_KIND == "html":
        absolute = [(absolutize_html(b, u),) for u, b in inp.bodies]
        out["canonical.absolutize_ms_per_page"] = ms_per_call(absolutize_html, [(b, u) for u, b in inp.bodies])
        out["html.to_md_ms_per_page"] = ms_per_call(html_to_md, absolute)
        out["html.head_parse_ms_per_page"] = ms_per_call(
            lambda b: (page_directives(b, None), social_image(b), base_href(b)),
            [(b,) for _, b in inp.bodies],
        )
    else:
        out["canonical.absolutize_ms_per_page"] = ms_per_call(absolutize_md, [(b, u) for u, b in inp.bodies])
        out["html.to_md_ms_per_page"] = 0.0
        out["html.head_parse_ms_per_page"] = 0.0
    by_fmt: dict[str, list] = {}
    for _url, _iid, data, fmt in inp.byte_store:
        if len(by_fmt.setdefault(fmt, [])) < 40:
            by_fmt[fmt].append((data, fmt))
    for fmt, items in sorted(by_fmt.items()):
        out[f"images.decode_ms.{fmt}"] = ms_per_call(decode_image, items)
    return out
