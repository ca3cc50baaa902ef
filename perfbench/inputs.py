"""Workload inputs and their expected crawl results.

Every workload is built from ``--seed`` alone (``golden-fixture`` uses
the fixed seed-42 world of the test suite) and carries, next to the
tables the engine reads, the expected end state of every operation —
one page or one image of the input — computed without running the
engine: by the sequential oracle (``golden-fixture``), in closed form
from the generator (``bulk-synthetic``), or from the site generator
(``http-html``).
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark.canonical import canonicalize
from crawler_spark.functions import images as im
from crawler_spark.operators.images_pipeline import BYTE_STORE_SCHEMA
from crawler_spark.sources.fixtures_io import (
    POLITENESS_SCHEMA,
    ROBOTS_SCHEMA,
    SEED_SCHEMA,
)

#: the six codecs every workload's byte store holds, so the traced run
#: reports the same ``images.decode_ms.<fmt>`` set on every workload
FMTS = ["ppm", "bmp", "png", "qjpg", "jpg", "gif"]

GOLDEN_DOCS = 40
GOLDEN_SEED = 42

BULK_SEEDS = 1000
BULK_HOSTS = 700
BULK_DOMINANT = "big.test"
BULK_DOMINANT_SHARE = 0.3
BULK_DOMINANT_BUDGET = 640
BULK_DEFAULT_BUDGET = 16
BULK_CHAPTER_SHARE = 0.25
BULK_IMAGES = 600
BULK_POOL_PER_FMT = 24

HTTP_DOCS = 120
HTTP_BUDGET = 64


@dataclass
class PageExpect:
    url: str
    host: str
    #: the page's crawl-log rows, projected by ``Inputs.log_key``
    log: list[tuple]
    completed: bool
    attempts: int
    #: (caption, img_url, img_order) extracted from the page
    pairs: set[tuple[str, str, int]]


@dataclass
class ImageExpect:
    url: str
    caption: str
    fmt: str
    w: int
    h: int
    #: the benchmark's own source pixels (H, W, 3) for the pixel check
    pixels: np.ndarray


@dataclass
class Inputs:
    name: str
    seeds: list[dict]
    robots: list[tuple]
    politeness: list[tuple]
    #: (url, image_id, bytes, fmt)
    byte_store: list[tuple]
    fetcher: Any
    engine_kwargs: dict
    pages: dict[str, PageExpect]
    images: dict[str, ImageExpect]
    #: "full" compares (round, host_rank, success, attempt) per log row;
    #: "outcome" compares (success, attempt) — the round is not part of
    #: a closed-form expectation
    log_key: str
    quarantined: int
    #: bodies as the engine's fetch boundary sees them, for the traced
    #: run's direct layer timings: (url, body)
    bodies: list[tuple[str, str]]
    extra: dict = field(default_factory=dict)


# ---------------------------------------------------------------- tables
_ARROW = {"StringType": pa.string(), "LongType": pa.int64(), "IntegerType": pa.int32(),
          "BooleanType": pa.bool_(), "BinaryType": pa.binary()}


def write_table(path: str, rows: list, schema) -> None:
    """Rows (tuples in ``schema`` order, or dicts) → one parquet file,
    written with pyarrow so input preparation runs no Spark job."""
    fields = schema.fields
    cols = list(zip(*[tuple(r[f.name] for f in fields) if isinstance(r, dict) else r
                      for r in rows])) if rows else [[] for _ in fields]
    arrow_schema = pa.schema(
        [pa.field(f.name, _ARROW[type(f.dataType).__name__], f.nullable) for f in fields]
    )
    table = pa.table([pa.array(list(c), t.type) for c, t in zip(cols, arrow_schema)],
                     schema=arrow_schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_inputs(inp: Inputs, out_dir: str) -> dict[str, str]:
    paths = {}
    for name, rows, schema in [
        ("seeds", inp.seeds, SEED_SCHEMA),
        ("robots", inp.robots, ROBOTS_SCHEMA),
        ("politeness", inp.politeness, POLITENESS_SCHEMA),
        ("byte_store", inp.byte_store, BYTE_STORE_SCHEMA),
    ]:
        paths[name] = os.path.join(out_dir, name)
        write_table(paths[name], rows, schema)
    return paths


# ---------------------------------------------------------------- images
def smooth_image(rng: np.random.Generator, h: int, w: int, fmt: str) -> np.ndarray:
    """Source pixels: low-frequency colour fields (photo-like, so the
    lossy codecs reach the PSNR bound); palettized for GIF. Only the
    phases are random: fixed frequencies keep every seed's encoded
    sizes alike."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float32)
    planes = []
    for a, b in [(0.03, 0.05), (0.045, 0.035), (0.06, 0.025)]:
        p, q = rng.uniform(0, 2 * np.pi, 2)
        planes.append(127 + 60 * np.sin(a * x + p) + 60 * np.cos(b * y + q))
    arr = np.clip(np.stack(planes, -1), 0, 255).astype(np.uint8)
    if fmt == "gif":
        palette = rng.integers(0, 256, (64, 3), dtype=np.uint8)
        arr = palette[rng.integers(0, 64, (h, w))]
    return arr


#: (h, w) of the pool images, cycled so every seed's pool has the same
#: size mix (the byte-store volume must not vary with the seed)
POOL_DIMS = [(64, 64), (96, 96), (128, 128), (64, 128), (128, 96), (96, 64)]


def image_pool(rng: np.random.Generator, per_fmt: int) -> list[tuple[str, bytes, np.ndarray]]:
    """(fmt, encoded bytes, source pixels), ``per_fmt`` per codec."""
    pool = []
    for fmt in FMTS:
        for j in range(per_fmt):
            h, w = POOL_DIMS[j % len(POOL_DIMS)]
            arr = smooth_image(rng, h, w, fmt)
            pool.append((fmt, im.encode_image(arr, fmt), arr))
    return pool


def assign_images(
    rng: np.random.Generator,
    candidates: list[tuple[str, str]],
    n: int,
    pool: list[tuple[str, bytes, np.ndarray]],
    prefix: str,
) -> tuple[list[tuple], dict[str, ImageExpect]]:
    """Give ``n`` of the (img_url, caption) candidates bytes from the
    pool: codecs and pool entries in turn, so every seed's byte store
    has the same make-up. → (byte-store rows, expectations)."""
    picks = sorted(rng.choice(len(candidates), size=min(n, len(candidates)), replace=False))
    rows, expect = [], {}
    for i, ci in enumerate(picks):
        url, caption = candidates[int(ci)]
        per_fmt = len(pool) // len(FMTS)
        fmt, data, arr = pool[(i % len(FMTS)) * per_fmt + (i // len(FMTS)) % per_fmt]
        rows.append((url, f"{prefix}{i:06d}", data, fmt))
        expect[url] = ImageExpect(url, caption, fmt, arr.shape[1], arr.shape[0], arr)
    return rows, expect


def _seed_row(seq: int, k: int, url: str, host: str, has_chapters: bool, **over) -> dict:
    row = {
        "seq": seq, "document_number": k, "document_id": f"D{k:06d}",
        "title": f"Tài liệu {k}", "genre_code": "A", "genre_category": "B",
        "tag_category": "t1", "volume": "", "author": f"Tác giả {k % 7}",
        "source_type": "web", "source_url": url, "source": host,
        "has_chapters": has_chapters, "published_time": "2021", "language": "Việt",
        "requires_manual_check": False,
    }
    row.update(over)
    return row


# ---------------------------------------------------------------- golden
def golden_fixture(seed: int, scale: float = 1.0) -> Inputs:
    """The test suite's seed-42 world (``oracle.fixtures.build_world``),
    crawled by ``FixtureFetcher`` with the exact URL-seen tier. The
    world is fixed: ``seed`` does not change it (``scale`` shrinks it,
    for the warm-up crawl)."""
    from crawler_spark.oracle.crawler import run_oracle
    from crawler_spark.oracle.fixtures import build_world
    from crawler_spark.sources.fetch import FixtureFetcher

    world = build_world(n_docs=max(1, int(GOLDEN_DOCS * scale)), seed=GOLDEN_SEED)
    oracle = run_oracle(world)
    rows: dict[str, list[tuple]] = {}
    for o in sorted(oracle.crawl_order, key=lambda o: o["seq"]):
        rows.setdefault(o["url"], []).append(
            (o["round"], o["host_rank"], o["success"], o["attempt"])
        )
    pairs: dict[str, set] = {}
    for e in oracle.extractions:
        pairs.setdefault(e["page_url"], set()).add((e["caption"], e["img_url"], e["img_order"]))
    pages = {
        e.url: PageExpect(e.url, e.host, rows.get(e.url, []), e.completed, e.attempts,
                          pairs.get(e.url, set()))
        for e in oracle.frontier
    }
    extracted = {p[1] for s in pairs.values() for p in s}
    images = {
        s.url: ImageExpect(s.url, s.caption, s.fmt, s.w, s.h,
                           np.frombuffer(s.pixels, np.uint8).reshape(s.h, s.w, 3))
        for s in world.images.values()
        if s.url in extracted
    }
    return Inputs(
        name="golden-fixture",
        seeds=world.seeds,
        robots=[(r["host"], r["path_prefix"], r["allow"]) for r in world.robots],
        politeness=list(world.politeness.items()),
        byte_store=[(s.url, s.image_id, s.data, s.fmt) for s in world.images.values()],
        fetcher=FixtureFetcher(
            pages={u: (p.body, p.fail_rounds, p.latency_ms) for u, p in world.pages.items()}
        ),
        engine_kwargs={},
        pages=pages,
        images=images,
        log_key="full",
        quarantined=oracle.quarantined,
        bodies=[(u, p.body) for u, p in world.pages.items()],
        extra={"oracle": oracle},
    )


# ------------------------------------------------------------------ bulk
def synthetic_pairs(url: str, n_images: int = 2) -> set[tuple[str, str, int]]:
    """Closed form of a ``SyntheticFetcher`` page's image+caption pairs:
    ``![Hình <crc>-<i>](<url>/img-<crc>-<i>.png)``, crc = zlib.crc32."""
    h = zlib.crc32(url.encode())
    return {(f"Hình {h}-{i}", f"{url}/img-{h}-{i}.png", i + 1) for i in range(n_images)}


def bulk_synthetic(seed: int, scale: float = 1.0) -> Inputs:
    """A seed list over ``BULK_HOSTS`` hosts, ``BULK_DOMINANT_SHARE`` of
    it on one host, fetched by ``SyntheticFetcher`` with the bloom tier
    and ``salted_fetch="auto"``. Every chaptered landing page discovers
    exactly one chapter, ``<url>/ch0``: its four outlinks have no ``_``,
    so they share one derived key and the first wins."""
    from crawler_spark.sources.fetch import SyntheticFetcher

    rng = np.random.default_rng(seed)
    n = int(BULK_SEEDS * scale)
    small = [f"h{j:03d}.test" for j in range(1, BULK_HOSTS)]
    n_dom = int(n * BULK_DOMINANT_SHARE)
    perm = [int(k) for k in rng.permutation(n)]
    host_of = {k: BULK_DOMINANT if i < n_dom else small[(i - n_dom) % len(small)]
               for i, k in enumerate(perm)}
    # exact shares (Bernoulli draws would change the crawl's size per seed)
    private = set(perm[: n_dom // 50])  # 2 % of the dominant host: robots-disallowed
    order = [int(k) for k in rng.permutation(n)]
    pdf = set(order[: n // 100])  # the seed filter drops them
    dup = set(order[n // 100: n // 50])  # a second row with the same URL: first wins
    invalid = set(order[n // 50: n // 40])  # a schema-invalid twin row: quarantined
    chaptered = set(int(k) for k in rng.permutation(n)[: int(n * BULK_CHAPTER_SHARE)])
    tag = rng.integers(0, 1 << 30, n)
    seeds, pages = [], {}
    for k in range(n):
        host = host_of[k]
        url = f"http://{host}{'/private' if k in private else ''}/d/{k}-{int(tag[k]):x}"
        ch = k in chaptered
        seeds.append(_seed_row(len(seeds), k, url, host, ch,
                               source_type="pdf" if k in pdf else "web"))
        if k in dup:
            seeds.append(_seed_row(len(seeds), k, url, host, ch, title="bản sao"))
        if k in invalid:
            seeds.append(_seed_row(len(seeds), k, url, host, ch, genre_code="9"))
        if k in private or k in pdf:
            continue
        for u in [url] + ([f"{url}/ch0"] if ch else []):
            pages[u] = PageExpect(u, host, [(True, 1)], True, 1, synthetic_pairs(u))
    candidates = sorted(
        (img, cap) for p in pages.values() for cap, img, _ in p.pairs
    )
    pool = image_pool(rng, max(1, int(BULK_POOL_PER_FMT * scale)))
    byte_store, images = assign_images(rng, candidates, int(BULK_IMAGES * scale), pool, "b")
    sample = sorted(pages)[:: max(1, len(pages) // 400)]
    fetcher = SyntheticFetcher()
    bodies = fetcher.fetch_batch(pd.DataFrame({"url": sample}))["body"].tolist()
    return Inputs(
        name="bulk-synthetic",
        seeds=seeds,
        robots=[(BULK_DOMINANT, "/private", False), (BULK_DOMINANT, "/", True)],
        politeness=[(BULK_DOMINANT, BULK_DOMINANT_BUDGET)],
        byte_store=byte_store,
        fetcher=fetcher,
        engine_kwargs={
            "default_budget": BULK_DEFAULT_BUDGET,
            "use_bloom": True,
            "salted_fetch": "auto",
            "compact_every": 2,
        },
        pages=pages,
        images=images,
        log_key="outcome",
        quarantined=len(invalid),
        bodies=list(zip(sample, bodies)),
        extra={
            "budgets": {BULK_DOMINANT: BULK_DOMINANT_BUDGET},
            "default_budget": BULK_DEFAULT_BUDGET,
            "children": sum(1 for u in pages if u.endswith("/ch0")),
        },
    )


# ------------------------------------------------------------------ http
def http_html(seed: int, port: int, n_docs: int = HTTP_DOCS) -> Inputs:
    """The ``perfbench.site`` site served on ``port`` of every loopback
    host, crawled by ``HttpFetcher``. Expected: every robots-allowed
    landing page, the chapters its relative links reach, and each page's
    (caption, absolute image URL) pairs."""
    from crawler_spark.sources.fetch import HttpFetcher
    from perfbench.site import HOSTS, PRIVATE_PREFIX, build_site

    docs = build_site(seed, n_docs)
    seeds, pages = [], {}
    html_bodies = []

    def url_of(host: str, path: str) -> str:
        return canonicalize(f"http://{host}:{port}{path}")

    for seq, d in enumerate(docs):
        seeds.append(
            _seed_row(seq, d.k, url_of(d.host, d.landing.path), d.host, bool(d.chapters))
        )
        if d.private:
            continue
        for p in [d.landing, *d.chapters]:
            u = url_of(p.host, p.path)
            pairs = {(c, url_of(p.host, img), o) for c, img, o in p.images}
            pages[u] = PageExpect(u, p.host, [(True, 1)], True, 1, pairs)
            html_bodies.append((u, p.html))
    candidates = sorted((img, cap) for p in pages.values() for cap, img, _ in p.pairs)
    rng = np.random.default_rng(seed)
    # one pool entry per image: repeated payloads would let parquet's
    # dictionary encoding shrink the images table by however many of
    # them the port-dependent URL hashing puts into one file
    pool = image_pool(rng, -(-len(candidates) // len(FMTS)))
    byte_store, images = assign_images(rng, candidates, len(candidates), pool, "w")
    return Inputs(
        name="http-html",
        seeds=seeds,
        robots=[r for h in HOSTS for r in ((h, PRIVATE_PREFIX, False), (h, "/", True))],
        politeness=[(h, HTTP_BUDGET) for h in HOSTS],
        byte_store=byte_store,
        fetcher=HttpFetcher(timeout_s=30.0),
        engine_kwargs={"default_budget": HTTP_BUDGET, "compact_every": 2},
        pages=pages,
        images=images,
        log_key="outcome",
        quarantined=0,
        bodies=html_bodies,
        extra={"port": port, "private_prefix": PRIVATE_PREFIX},
    )
