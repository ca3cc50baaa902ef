"""Each correctness check of the benchmark passes on the expected output
and fails on a perturbed one (a dropped crawl-log row, an extra URL, a
swapped caption, …). Pure Python: no Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy

import pytest

from perfbench import inputs as wl
from perfbench.checks import Output, check, pixel_sample


@pytest.fixture(scope="module")
def golden():
    return wl.golden_fixture(0)


@pytest.fixture(scope="module")
def bulk():
    mp = pytest.MonkeyPatch()
    mp.setattr(wl, "BULK_SEEDS", 300)
    mp.setattr(wl, "BULK_HOSTS", 40)
    mp.setattr(wl, "BULK_IMAGES", 60)
    mp.setattr(wl, "BULK_POOL_PER_FMT", 2)
    try:
        yield wl.bulk_synthetic(7)
    finally:
        mp.undo()


@pytest.fixture(scope="module")
def http():
    return wl.http_html(7, port=8080)


def expected_output(inp) -> Output:
    """The output a correct engine commits, built from the expectation."""
    if inp.name == "golden-fixture":
        oracle = inp.extra["oracle"]
        log = [(o["round"], o["host"], o["host_rank"], o["url"], o["depth"], o["success"],
                o["attempt"]) for o in oracle.crawl_order]
        metrics = {m["round"]: (m["scheduled"], m["fetched_ok"], m["failed"], m["discovered"])
                   for m in oracle.metrics if m["scheduled"]}
    else:
        log = [(1, e.host, i + 1, u, 0, True, 1) for i, (u, e) in enumerate(inp.pages.items())]
        n = len(inp.pages)
        metrics = {1: (n, n, 0, inp.extra.get("children", 0))}
    stored = {r[0]: r[2] for r in inp.byte_store}
    server_log = None
    if inp.name == "http-html":
        prefix = f"http://{{}}:{inp.extra['port']}"
        server_log = [(e.host, u[len(prefix.format(e.host)):], 200) for u, e in inp.pages.items()]
    return Output(
        crawl_log=log,
        frontier={u: (e.completed, e.attempts) for u, e in inp.pages.items()},
        extractions=[(u, c, img, o) for u, e in inp.pages.items() for c, img, o in e.pairs],
        metrics=metrics,
        images={u: (True, e.w, e.h, e.caption) for u, e in inp.images.items()},
        image_bytes={u: stored[u] for u in pixel_sample(inp.images)},
        quarantined=inp.quarantined,
        documents={"sentences": 10, "footnotes": 0, "headings": 3},
        server_log=server_log,
    )


def perturbed(inp, fn) -> Output:
    out = copy.deepcopy(expected_output(inp))
    fn(out)
    return out


@pytest.fixture(params=["golden", "bulk", "http"])
def workload(request):
    return request.getfixturevalue(request.param)


def test_expected_output_passes(workload):
    v = check(workload, expected_output(workload))
    assert v.correct, v.problems
    assert v.attempted == len(workload.pages) + len(workload.images)


def _first_ok_row(out):
    return next(i for i, r in enumerate(out.crawl_log) if r[5])


def test_dropped_crawl_log_row_fails(workload):
    v = check(workload, perturbed(workload, lambda o: o.crawl_log.pop(_first_ok_row(o))))
    assert not v.correct and v.failed >= 1


def test_extra_url_fails(workload):
    def add(o):
        o.frontier["http://extra.test/x"] = (True, 1)

    v = check(workload, perturbed(workload, add))
    assert not v.correct and v.failed == 1


def test_swapped_caption_fails(workload):
    def swap(o):
        rows = sorted(o.extractions)
        a = rows[0]
        b = next(r for r in rows if r[0] != a[0] and r[1] != a[1])  # another page's
        o.extractions.remove(a)
        o.extractions.remove(b)
        o.extractions += [(a[0], b[1], a[2], a[3]), (b[0], a[1], b[2], b[3])]

    v = check(workload, perturbed(workload, swap))
    assert not v.correct and v.failed == 2


def test_completion_flag_fails(workload):
    def flip(o):
        u = next(iter(o.frontier))
        done, attempts = o.frontier[u]
        o.frontier[u] = (not done, attempts)

    v = check(workload, perturbed(workload, flip))
    assert not v.correct and v.failed == 1


def test_image_state_fails(workload):
    urls = sorted(workload.images)

    def damage(o):
        ok, w, h, cap = o.images[urls[0]]
        o.images[urls[0]] = (False, w, h, cap)  # not decoded
        ok, w, h, cap = o.images[urls[1]]
        o.images[urls[1]] = (ok, w + 1, h, cap)  # wrong width
        o.images[urls[2]] = o.images[urls[2]][:3] + (o.images[urls[3]][3],)  # caption

    v = check(workload, perturbed(workload, damage))
    assert not v.correct and v.failed == 3


def test_missing_and_extra_image_fail(workload):
    def damage(o):
        o.images.pop(sorted(o.images)[0])
        o.images["http://extra.test/i.png"] = (True, 1, 1, "x")

    v = check(workload, perturbed(workload, damage))
    assert not v.correct and v.failed == 2


def test_pixel_mismatch_fails(workload):
    sample = pixel_sample(workload.images)
    lossless = next(u for u in sample if workload.images[u].fmt in ("png", "bmp", "ppm"))
    other = next(u for u in sample if u != lossless
                 and workload.images[u].fmt == workload.images[lossless].fmt
                 and out_bytes(workload, u) != out_bytes(workload, lossless))

    def swap(o):
        o.image_bytes[lossless] = o.image_bytes[other]

    v = check(workload, perturbed(workload, swap))
    assert not v.correct and v.failed >= 1


def out_bytes(inp, url):
    return next(r[2] for r in inp.byte_store if r[0] == url)


def test_no_documents_fails(workload):
    v = check(workload, perturbed(workload, lambda o: o.documents.update(sentences=0)))
    assert not v.correct


def test_quarantine_count_fails(workload):
    v = check(workload, perturbed(workload, lambda o: setattr(o, "quarantined", o.quarantined + 1)))
    assert not v.correct


# ------------------------------------------------------ workload-specific
def test_golden_crawl_order_fails(golden):
    def reorder(o):
        rows = sorted(o.crawl_log, key=lambda r: (r[0], r[1], r[2]))
        a, b = rows[0], rows[1]  # same round, two hosts: swap their URLs
        o.crawl_log = [(a[0], a[1], a[2], b[3]) + a[4:], (b[0], b[1], b[2], a[3]) + b[4:]] + rows[2:]

    v = check(golden, perturbed(golden, reorder))
    assert not v.correct
    assert "crawl order differs from the oracle's" in v.problems


def test_golden_round_metrics_fail(golden):
    def bump(o):
        r = min(o.metrics)
        s, ok, f, d = o.metrics[r]
        o.metrics[r] = (s, ok, f, d + 1)

    v = check(golden, perturbed(golden, bump))
    assert v.problems == ["per-round metrics differ from the oracle's"]


def test_golden_retry_row_dropped_fails(golden):
    """Dropping one failed attempt leaves the page's final state alone
    but breaks its attempt history."""
    def drop(o):
        o.crawl_log.pop(next(i for i, r in enumerate(o.crawl_log) if not r[5]))

    v = check(golden, perturbed(golden, drop))
    assert not v.correct and v.failed >= 1


def test_bulk_budget_violation_fails(bulk):
    def crowd(o):  # one more row than the dominant host's budget, in one round
        o.crawl_log += [(9, wl.BULK_DOMINANT, i, f"http://{wl.BULK_DOMINANT}/z{i}", 0, True, 1)
                        for i in range(wl.BULK_DOMINANT_BUDGET + 1)]

    v = check(bulk, perturbed(bulk, crowd))
    assert any("over budget" in p for p in v.problems)


def test_bulk_totals_fail(bulk):
    def miscount(o):
        s, ok, f, d = o.metrics[1]
        o.metrics[1] = (s, ok - 1, f + 1, d - 1)

    v = check(bulk, perturbed(bulk, miscount))
    assert any(p.startswith("fetched_ok") for p in v.problems)
    assert any(p.startswith("discovered") for p in v.problems)


def test_http_disallowed_request_fails(http):
    def leak(o):
        o.server_log.append((o.server_log[0][0], "/private/1-x.html", 404))

    v = check(http, perturbed(http, leak))
    assert "a robots-disallowed path was requested" in v.problems


def test_http_repeated_request_fails(http):
    v = check(http, perturbed(http, lambda o: o.server_log.append(o.server_log[0])))
    assert not v.correct and v.failed == 1


def test_http_totals_must_agree(http):
    def drift(o):
        s, ok, f, d = o.metrics[1]
        o.metrics[1] = (s + 1, ok - 1, f + 1, d)

    v = check(http, perturbed(http, drift))
    assert any(p.startswith("server saw") for p in v.problems)
    assert any(p.startswith("server answered") for p in v.problems)
