"""Correctness checks: the engine's end state against the workload's
independent expectation (``perfbench.inputs``).

Pure Python over collected rows (no Spark), so the benchmark's own
tests can feed them perturbed outputs. An operation is one expected
page or image; it fails when any part of its end state differs. Rows
the expectation does not know (an extra URL, image or extraction) count
as failed operations too. Whole-crawl properties (golden crawl order,
per-round metrics, politeness budgets, server-log totals) are problems
of the run rather than of one operation and make ``correct`` false.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from crawler_spark.functions import images as im

PSNR_MIN_DB = 40.0


@dataclass
class Output:
    """The engine's end state, collected from its snapshot store."""

    #: (round, host, host_rank, url, depth, success, attempt)
    crawl_log: list[tuple]
    #: url → (completed, attempts)
    frontier: dict[str, tuple[bool, int]]
    #: (page_url, caption, img_url, img_order)
    extractions: list[tuple]
    #: round → (scheduled, fetched_ok, failed, discovered)
    metrics: dict[int, tuple]
    #: img_url → (decode_ok, w, h, caption)
    images: dict[str, tuple]
    #: img_url → committed bytes, for the pixel-check sample
    image_bytes: dict[str, bytes]
    quarantined: int
    documents: dict[str, int]
    #: http-html only: (host, path, status) per request the server saw
    server_log: list[tuple] | None = None


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and not self.problems

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(what)


def pixel_sample(images: dict, per_fmt: int = 4) -> list[str]:
    """Deterministic sample of image URLs for the pixel check."""
    out = []
    for fmt in sorted({e.fmt for e in images.values()}):
        out += sorted(u for u, e in images.items() if e.fmt == fmt)[:per_fmt]
    return out


def _log_projection(log_key: str, row: tuple) -> tuple:
    rnd, _host, rank, _url, _depth, success, attempt = row
    if log_key == "full":
        return (rnd, rank, success, attempt)
    return (success, attempt)


def check_pages(inp, out: Output, v: Verdict) -> None:
    """Per page: crawl-log rows, completion flag + attempts, and the
    extracted (caption, img_url, img_order) set."""
    logs: dict[str, list] = {}
    for row in sorted(out.crawl_log, key=lambda r: (r[0], r[1], r[2])):
        logs.setdefault(row[3], []).append(_log_projection(inp.log_key, row))
    pairs: dict[str, set] = {}
    for page, cap, img, order in out.extractions:
        pairs.setdefault(page, set()).add((cap, img, order))
    bad = [
        u for u, e in inp.pages.items()
        if logs.get(u, []) != e.log
        or out.frontier.get(u) != (e.completed, e.attempts)
        or pairs.get(u, set()) != e.pairs
    ]
    v.attempted += len(inp.pages)
    v.fail(len(bad), f"{len(bad)} pages differ from the expectation, e.g. {bad[:3]}")
    extra = (set(out.frontier) | set(logs) | set(pairs)) - set(inp.pages)
    v.fail(len(extra), f"{len(extra)} unexpected URLs, e.g. {sorted(extra)[:3]}")
    if out.quarantined != inp.quarantined:
        v.problems.append(f"quarantined {out.quarantined} != {inp.quarantined}")


def check_images(inp, out: Output, v: Verdict) -> None:
    """Per image: decoded, dimensions of the source, first-wins caption;
    for a sample, the committed bytes decode to the source pixels
    (exact for lossless codecs, PSNR ≥ 40 dB for lossy ones)."""
    bad = []
    for u, e in inp.images.items():
        got = out.images.get(u)
        if got is None or got != (True, e.w, e.h, e.caption):
            bad.append(u)
    for u in pixel_sample(inp.images):
        e, data = inp.images[u], out.image_bytes.get(u)
        if data is None:
            bad.append(u)
            continue
        try:
            arr = im.decode_image(data, e.fmt)
        except Exception as exc:  # a committed payload that fails to decode
            bad.append(f"{u} ({type(exc).__name__})")
            continue
        if arr.shape != e.pixels.shape:
            bad.append(u)
        elif e.fmt in im.LOSSY_FMTS:
            if im.psnr(arr, e.pixels) < PSNR_MIN_DB:
                bad.append(u)
        elif not np.array_equal(arr, e.pixels):
            bad.append(u)
    bad = sorted(set(bad))
    v.attempted += len(inp.images)
    v.fail(len(bad), f"{len(bad)} images differ from the expectation, e.g. {bad[:3]}")
    extra = set(out.images) - set(inp.images)
    v.fail(len(extra), f"{len(extra)} unexpected images, e.g. {sorted(extra)[:3]}")


def check_golden(inp, out: Output, v: Verdict) -> None:
    """Whole-crawl parity with ``oracle.crawler.run_oracle``: the global
    crawl order and the per-round metrics."""
    oracle = inp.extra["oracle"]
    want = [
        (o["round"], o["host"], o["host_rank"], o["url"], o["depth"], o["success"], o["attempt"])
        for o in sorted(oracle.crawl_order, key=lambda o: o["seq"])
    ]
    if sorted(out.crawl_log, key=lambda r: (r[0], r[1], r[2])) != want:
        v.problems.append("crawl order differs from the oracle's")
    want_m = {
        m["round"]: (m["scheduled"], m["fetched_ok"], m["failed"], m["discovered"])
        for m in oracle.metrics
        if m["scheduled"]
    }
    if out.metrics != want_m:
        v.problems.append("per-round metrics differ from the oracle's")


def check_bulk(inp, out: Output, v: Verdict) -> None:
    """Closed-form totals and the politeness budget of every host in
    every round."""
    per = Counter((r[0], r[1]) for r in out.crawl_log)
    budgets, default = inp.extra["budgets"], inp.extra["default_budget"]
    over = [k for k, n in per.items() if n > budgets.get(k[1], default)]
    if over:
        v.problems.append(f"{len(over)} (round, host) groups over budget, e.g. {over[:3]}")
    ok = sum(m[1] for m in out.metrics.values())
    if ok != len(inp.pages):
        v.problems.append(f"fetched_ok {ok} != {len(inp.pages)} pages")
    disc = sum(m[3] for m in out.metrics.values())
    if disc != inp.extra["children"]:
        v.problems.append(f"discovered {disc} != {inp.extra['children']} chapters")


def check_http(inp, out: Output, v: Verdict) -> None:
    """Server-side evidence: each expected URL requested exactly once
    and answered 200, nothing under the robots-disallowed prefix, and
    two totals reached by independent paths agree — requests = the
    engine's scheduled rows, 200 responses = its fetched_ok."""
    port, private = inp.extra["port"], inp.extra["private_prefix"]
    seen = Counter(f"http://{h}:{port}{p}" for h, p, _ in out.server_log)
    bad = [u for u in inp.pages if seen.get(u) != 1]
    v.fail(len(bad), f"{len(bad)} pages not requested exactly once, e.g. {bad[:3]}")
    extra = set(seen) - set(inp.pages)
    v.fail(len(extra), f"{len(extra)} unexpected requests, e.g. {sorted(extra)[:3]}")
    if any(p.startswith(private + "/") for _, p, _ in out.server_log):
        v.problems.append("a robots-disallowed path was requested")
    scheduled = sum(m[0] for m in out.metrics.values())
    ok = sum(m[1] for m in out.metrics.values())
    if len(out.server_log) != scheduled:
        v.problems.append(f"server saw {len(out.server_log)} requests, engine scheduled {scheduled}")
    n200 = sum(1 for *_, s in out.server_log if s == 200)
    if n200 != ok:
        v.problems.append(f"server answered {n200} x 200, engine fetched_ok {ok}")


WORKLOAD_CHECKS = {
    "golden-fixture": check_golden,
    "bulk-synthetic": check_bulk,
    "http-html": check_http,
}


def check(inp, out: Output) -> Verdict:
    v = Verdict()
    check_pages(inp, out, v)
    check_images(inp, out, v)
    WORKLOAD_CHECKS[inp.name](inp, out, v)
    if not out.documents.get("sentences"):
        v.problems.append("build_documents produced no sentences")
    return v
