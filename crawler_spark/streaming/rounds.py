"""The crawl engine: deterministic driver-looped rounds (SURVEY §3.1).

Each round is one BSP micro-batch over snapshot tables:

  schedule (politeness top-k per host, priority-ordered)
    → fetch (host-grouped pandas UDF, retry inside)
    → extract (image+caption pairs — built-in regexp exprs)
    → discover (depth-0 chapter links: cycle guard, derived-key dedup,
      robots, bloom+exact URL-seen anti-join)
    → commit (frontier upsert + crawl_log/extractions/metrics appends,
      one snapshot per table per round — resume = re-read last snapshot)

The reference's equivalent is the nested sequential loop
``crawler.ts:293-510`` with lockfile-guarded full-file checkpoint
rewrites; here every step is a DataFrame op and the per-round state
delta is O(Δ), not O(frontier) — appends go to delta snapshots and the
frontier upsert rewrites only AQE-coalesced partitions (with Iceberg,
a MERGE INTO; see plans/store.py).

Crawl-order determinism: the golden global order is (round asc, host
asc, host_rank asc) — host_rank comes from the politeness window, so
the order is invariant to executor scheduling. Tests compare this
engine's log to the sequential oracle exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.canonical import canonical_url_col, host_col, url_key_col
from crawler_spark.functions.text import md_images_col
from crawler_spark.operators.dedup import ShardedBloom, anti_join_seen, first_wins
from crawler_spark.operators.politeness import (
    adapt_budgets,
    budget_cap,
    eligible,
    select_round,
)
from crawler_spark.operators.robots import (
    budgets_from_delays,
    parse_robots,
    robots_filter,
    robots_rules_table,
    sitemap_seeds,
)
from crawler_spark.plans.store import SnapshotStore
from crawler_spark.sources.fetch import fetch_scheduled, resolve_salted

# markdown links, image syntax excluded (negative lookbehind).
# Escape-AWARE (r5): a backslash-escaped \[bracket\] is page TEXT, not
# a link — the C16 converter escapes markdown-shaped prose exactly so
# this stage cannot follow it (the reference's discovery reads real DOM
# hrefs, e.g. rongmotamhon.net/getChapters.ts:52-70, so page text
# could never inject URLs there either; its escape-UNAWARE regexes
# live only in the CLEANUP chain, mdUtils.ts:5-11, whose quirk twins
# in functions/text.py stay byte-pinned). Known one-char-lookbehind
# limitation (shared with the oracle twin, so parity holds): a link
# that directly follows an ESCAPED literal backslash in text
# ("C:\\[link](u)") is also skipped — the regex cannot count
# preceding backslashes. The miss is in the conservative direction
# (a real link is not followed; text can still never forge one).
MD_LINK_PAT = r"(?<!!)(?<!\\)\[((?:\\.|[^\]\\])*)\]\(([^)]*)\)"

FRONTIER_COLS = [
    "url_key",
    "url",
    "host",
    "host_salt",
    "site",
    "doc_id",
    "depth",
    "requires_manual_check",
    "document_number",
    "has_chapters",
    "discovered_round",
    "completed",
    "attempts",
]

N_SALTS = 16  # salt buckets for skew-breaking on heavy per-URL stages


@dataclass
class CrawlEngine:
    spark: SparkSession
    store: SnapshotStore
    fetcher: Any
    robots: DataFrame
    politeness: DataFrame
    default_budget: int = 2
    compact_every: int = 8  # frontier delta-chain bound (MoR upserts)
    site_filter: Any = None  # SiteAdapter frontier predicate (Column)
    cleanup_chain: Any = None  # SiteAdapter cleanup step order (None = standard)
    priority_desc: bool = False  # O2 descending variant
    salted_fetch: bool | str = False  # True | False | "auto" (budget-cap heuristic)
    use_bloom: bool = False
    bloom_shards: int = 8
    #: trap guards (operators/traps.py). Default OFF: reference parity —
    #: the reference crawls every listed URL, so dropping trap-shaped
    #: ones would diverge from the golden ordering. An open web crawl
    #: turns both on.
    trap_guard: bool = False
    admit_cap_per_host: int | None = None
    #: AIMD politeness (operators/politeness.adapt_budgets): per-host
    #: budgets grow +1 on clean rounds, halve on throttle/error/latency
    #: signals. Default OFF — reference parity needs the static budgets
    #: the golden ordering was computed under.
    adaptive_politeness: bool = False
    max_budget: int = 8
    #: Mercator-style content-seen tier (opt-in, reference parity):
    #: pages whose body fingerprint was already seen skip extraction +
    #: discovery; the pages sink keeps them (flagged via content_fp ⨝
    #: content_seen) so the archive stays complete.
    content_seen: bool = False
    #: CSR recovery at the fetch boundary (functions/hydration.py):
    #: noscript promotion + hydration-payload/JSON-LD content for
    #: thin-shell client-rendered pages. Default OFF — reference
    #: parity; html fetchers on the open web turn it on.
    csr_recover: bool = False
    quarantined: int = 0
    metrics: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.bloom = (
            ShardedBloom(self.spark, self.store, n_shards=self.bloom_shards)
            if self.use_bloom
            else None
        )
        # politeness is static across rounds: compute the constant rank
        # cap ONCE instead of a driver-blocking aggregate per round
        self._budget_cap = budget_cap(self.politeness, self.default_budget)

    # ------------------------------------------------------------------ init
    def init_frontier(self, seeds: DataFrame) -> None:
        """Seed scan → validate/quarantine → web filter → canonicalize →
        robots → first-wins dedup → frontier v0.

        Validity predicate mirrors the zod drop-and-log contract
        (``crawlerUtils.ts:22-37``); invalid rows land in a quarantine
        table instead of failing the job (SURVEY §1.4).
        """
        valid = (
            F.col("genre_code").rlike(r"^[A-Z]$")
            & (F.col("document_number") >= 0)
            & F.col("source_type").isin("web", "pdf", "hardCopy")
        )
        tagged = seeds.withColumn("_valid", valid)
        quarantine = tagged.filter(~F.col("_valid")).drop("_valid")
        self.store.commit("quarantine", quarantine, lineage={"op": "seed_init"})
        self.quarantined = quarantine.count()

        web = (
            tagged.filter(F.col("_valid"))
            .filter(F.col("source_type") == "web")  # seed filter F1
            .withColumn("url", canonical_url_col("source_url"))
            .withColumn("host", host_col(F.col("url")))
        )
        allowed = robots_filter(web, self.robots)
        deduped = first_wins(allowed, key="url", order_cols=[F.col("seq")])
        frontier = deduped.select(
            url_key_col(F.col("url")).alias("url_key"),
            "url",
            "host",
            F.pmod(F.xxhash64("url"), F.lit(N_SALTS)).cast("int").alias("host_salt"),
            F.col("source").alias("site"),
            F.col("document_id").alias("doc_id"),
            F.lit(0).alias("depth"),
            "requires_manual_check",
            "document_number",
            "has_chapters",
            F.lit(0).alias("discovered_round"),
            F.lit(False).alias("completed"),
            F.lit(0).alias("attempts"),
        ).repartition(F.col("host"))
        self.store.commit(
            "frontier",
            frontier,
            lineage={"op": "seed_init", "round": 0},
        )
        if self.bloom:
            self.bloom.update(frontier.select("url_key"))

    # ------------------------------------------------------------- URL-seen
    def _unseen(self, cand: DataFrame, frontier: DataFrame) -> DataFrame:
        """Candidates whose ``url`` is not in the frontier: the bloom
        tier in front of the exact anti-join when ``use_bloom``, else
        the exact anti-join alone."""
        if not self.bloom:
            return anti_join_seen(cand, frontier, key="url")
        return self.bloom.filter_unseen(
            cand.withColumn("url_key", url_key_col(F.col("url"))),
            frontier,
            key_col="url_key",
            url_col="url",
        ).drop("url_key")

    # ------------------------------------------------------------ trap guard
    def _guard_candidates(self, cand: DataFrame, rnd: int, stage: str) -> DataFrame:
        """Trap-shape quarantine on admission candidates (no-op unless
        ``trap_guard``). Quarantined rows append to the
        ``trap_quarantine`` table with their reason — dropped from the
        frontier, never lost."""
        if not self.trap_guard:
            return cand
        from crawler_spark.operators.traps import trap_filter

        clean, trapped = trap_filter(cand, "url")
        self.store.commit(
            "trap_quarantine",
            trapped.select(
                "url", "host", "trap_reason",
                F.lit(rnd).alias("round"), F.lit(stage).alias("stage"),
            ),
            mode="append",
            lineage={"op": "trap_quarantine", "round": rnd, "stage": stage},
        )
        return clean

    def _cap_new_entries(self, new_entries: DataFrame) -> DataFrame:
        """Per-host admission cap (no-op unless ``admit_cap_per_host``):
        a trap host can add at most N frontier rows per round; overflow
        is dropped and simply re-qualifies if ever re-discovered."""
        if not self.admit_cap_per_host:
            return new_entries
        from crawler_spark.operators.traps import cap_admissions_per_host

        admitted, _ = cap_admissions_per_host(
            new_entries,
            self.admit_cap_per_host,
            order_cols=["document_number", "url"],
        )
        return admitted

    # ------------------------------------------------------- robots/sitemaps
    @staticmethod
    def robots_config(
        bodies: DataFrame,
        politeness: DataFrame,
        agent: str = "sparkbot",
        round_period_s: float = 60.0,
        default_budget: int = 2,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Fetched robots.txt bodies (host, body) → the engine's two
        config dims + the sitemap seed list: (rules, budgets,
        sitemap_seeds). ``rules`` feeds the ``robots=`` constructor arg;
        ``budgets`` is the politeness dim with Crawl-delay folded in
        (budget = min(configured, floor(period/delay))); sitemap seeds
        go through `sources/sitemaps.expand_sitemaps` and then
        :meth:`enqueue_discovered`."""
        parsed = parse_robots(bodies, agent=agent)
        rules = robots_rules_table(parsed)
        budgets = budgets_from_delays(
            parsed, politeness, round_period_s, default_budget
        )
        return rules, budgets, sitemap_seeds(parsed)

    def enqueue_discovered(
        self,
        urls: DataFrame,
        site: str = "sitemap",
        rnd: int = 0,
    ) -> int:
        """Append externally-discovered URLs (sitemap ingestion, feeds)
        to the frontier through the SAME admission chain as link
        discovery: canonicalize → robots → first-wins → URL-seen
        anti-join → frontier delta + bloom update. ``urls`` needs a
        ``url`` column; an optional ``priority`` column (sitemap
        0.0-1.0, higher = sooner) maps onto the document_number
        priority key (ascending) so high-priority pages schedule first
        within their host. Returns the number of rows admitted."""
        cand = urls.withColumn("url", canonical_url_col(F.col("url")))
        cand = cand.withColumn("host", host_col(F.col("url")))
        cand = self._guard_candidates(cand, rnd, stage=site)
        allowed = robots_filter(cand, self.robots)
        allowed = first_wins(allowed, key="url", order_cols=[F.col("url")])
        frontier = self.store.read("frontier")
        unseen = self._unseen(allowed, frontier)
        prio = (
            F.round((F.lit(1.0) - F.coalesce(F.col("priority"), F.lit(0.5))) * 1000)
            if "priority" in urls.columns
            else F.lit(500)
        )
        new_entries = unseen.select(
            url_key_col(F.col("url")).alias("url_key"),
            "url",
            "host",
            F.pmod(F.xxhash64("url"), F.lit(N_SALTS)).cast("int").alias("host_salt"),
            F.lit(site).alias("site"),
            F.concat(F.lit("sm:"), url_key_col(F.col("url"))).alias("doc_id"),
            F.lit(0).alias("depth"),
            F.lit(False).alias("requires_manual_check"),
            prio.cast("long").alias("document_number"),
            F.lit(False).alias("has_chapters"),
            F.lit(rnd).alias("discovered_round"),
            F.lit(False).alias("completed"),
            F.lit(0).alias("attempts"),
        )
        new_entries = self._cap_new_entries(new_entries).cache()
        n_new = new_entries.count()
        self.store.commit_upsert(
            "frontier",
            new_entries.select(*FRONTIER_COLS),
            key="url_key",
            lineage={"op": "enqueue_discovered", "round": rnd, "site": site},
        )
        if self.bloom:
            self.bloom.update(new_entries.select("url_key"))
        new_entries.unpersist()
        return int(n_new)

    # ----------------------------------------------------------------- round
    def run_round(self, rnd: int, force_all: bool = False, force_ids=None) -> dict:
        """One crawl round. ``force_all``/``force_ids`` are the F4
        re-crawl overrides (checkpoint.ts:24-27): completed rows are
        selected again; their completion marks recommit after the
        fetch, exactly like the reference's forced runs."""
        frontier = self.store.read("frontier")
        scheduled = select_round(
            frontier,
            self.politeness,
            default_budget=self.default_budget,
            extra_filter=self.site_filter,
            descending=self.priority_desc,
            force_all=force_all,
            force_ids=force_ids,
            cap=self._budget_cap,
        ).select(*FRONTIER_COLS, "host_rank", "attempt")

        fetched = fetch_scheduled(
            scheduled,
            self.fetcher,
            salted=resolve_salted(self.salted_fetch, self._budget_cap),
            csr_recover=self.csr_recover,
        )
        if getattr(self.fetcher, "BODY_KIND", "auto") == "html":
            # normalize raw-HTML fetchers to the engine's markdown
            # body model (the reference stores markdown too): links,
            # images and content fingerprints all read markdown, so
            # the C16 conversion runs ONCE here — absolutization
            # already happened inside the fetch UDF, so converted
            # refs are absolute. Arrow-batched; same stage, no
            # additional exchange.
            from crawler_spark.functions.html import html_to_md_udf

            fetched = fetched.withColumn(
                "body",
                F.when(
                    F.col("body").isNotNull(), html_to_md_udf(F.col("body"))
                ),
            )
        fetched = fetched.cache()
        # one action materializes the cache AND yields both counts
        _c = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("success").cast("long")).alias("ok")
        ).first()
        n_scheduled, n_ok = int(_c["n"]), int(_c["ok"] or 0)
        if n_scheduled == 0:
            fetched.unpersist()
            return {"round": rnd, "scheduled": 0}

        # ---- crawl log (golden-order comparable) -------------------------
        log = fetched.select(
            F.lit(rnd).alias("round"),
            "host",
            "host_rank",
            "url",
            "depth",
            "success",
            F.col("attempt").cast("int").alias("attempt"),
            "status",
            "latency_ms",
        )
        self.store.commit("crawl_log", log, mode="append", lineage={"round": rnd})

        # ---- adaptive politeness (AIMD; opt-in) ---------------------------
        if self.adaptive_politeness:
            newb = adapt_budgets(
                log,
                self.politeness,
                max_budget=self.max_budget,
                default_budget=self.default_budget,
            )
            # committing to the store both truncates the per-round plan
            # lineage AND makes the adapted budgets resumable state
            self.store.commit(
                "politeness", newb, lineage={"op": "adapt_budgets", "round": rnd}
            )
            self.politeness = self.store.read("politeness")
            self._budget_cap = budget_cap(self.politeness, self.default_budget)

        # per-partition (host) lineage + fetch metrics (north rule)
        pm = (
            fetched.groupBy("host")
            .agg(
                F.count(F.lit(1)).cast("long").alias("scheduled"),
                F.sum(F.col("success").cast("long")).alias("fetched_ok"),
                F.sum((~F.col("success")).cast("long")).alias("failed"),
                F.sum("latency_ms").cast("long").alias("latency_ms_total"),
            )
            .withColumn("round", F.lit(rnd))
        )
        self.store.commit(
            "partition_metrics", pm, mode="append", lineage={"round": rnd}
        )

        ok = fetched.filter(F.col("success"))

        # ---- on-page crawl directives (meta robots / X-Robots-Tag /
        # rel=canonical) — honored ONLY when the fetcher parsed them
        # (DIRECTIVE_FIELDS in its contract); the bare 4-column
        # fixture contract is a provable no-op. noindex keeps a page
        # out of the CONTENT corpus (extraction + sentences) but never
        # out of the pages archive; nofollow keeps its links out of
        # discovery; canonical declarations land in an alias table
        # (the corpus-dedup signal — targets are NOT auto-enqueued;
        # route them through enqueue_discovered when wanted).
        has_directives = "noindex" in fetched.columns
        if has_directives:
            aliases = (
                ok.filter(F.col("canonical").isNotNull())
                .withColumn(
                    "canonical_url", canonical_url_col(F.col("canonical"))
                )
                .filter(F.col("canonical_url") != F.col("url"))
                .select("url", "canonical_url")
                .withColumn("round", F.lit(rnd))
            )
            self.store.commit(
                "canonical_aliases", aliases, mode="append", lineage={"round": rnd}
            )

        # ---- content-seen dedup (Mercator-style; opt-in) -------------------
        # URL-seen can't catch ALIASES — distinct URLs serving identical
        # bytes (mirrors, tracking-param variants, soft-404 templates).
        # The standard second tier keys on a content fingerprint: only
        # the FIRST page with a given body feeds extraction + discovery
        # (identical bytes ⇒ identical links/images, so skipping dups is
        # also trap resistance). Exact anti-join against the accumulated
        # fingerprint table — O(Δ) probe side, same MoR shape as the
        # URL-seen exact tier; within-round dups collapse first-wins in
        # golden (host, host_rank) order so the choice is deterministic.
        if self.content_seen:
            ok = ok.withColumn(
                "content_fp", F.xxhash64(F.coalesce(F.col("body"), F.lit("")))
            )
            fresh = ok
            if self.store.exists("content_seen"):
                fresh = ok.join(
                    self.store.read("content_seen"), "content_fp", "left_anti"
                )
            fresh = first_wins(
                fresh,
                key="content_fp",
                order_cols=[F.col("host"), F.col("host_rank")],
            ).cache()
            self.store.commit(
                "content_seen",
                fresh.select("content_fp"),
                mode="append",
                lineage={"op": "content_seen", "round": rnd},
            )
        else:
            fresh = ok

        # ---- extraction: image+caption pairs (C1-as-extract) -------------
        # relative refs were already absolutized at the fetch boundary
        # (fetch_scheduled → canonical.absolutize_md, against
        # <base href> else final_url else the page URL) — so every
        # JVM stage here stays pure canonicalize, identical plans to
        # the absolute-URL world
        indexable = fresh.filter(~F.col("noindex")) if has_directives else fresh
        imgs = (
            indexable.select(
                F.col("url").alias("page_url"),
                F.posexplode(md_images_col(F.col("body"))).alias("_pos", "_img"),
            )
            .select(
                "page_url",
                F.col("_img.caption").alias("caption"),
                canonical_url_col(F.col("_img.link")).alias("img_url"),
                (F.col("_pos") + 1).cast("int").alias("img_order"),
            )
            .withColumn("round", F.lit(rnd))
        )
        if "og_image" in fetched.columns:
            # page-declared representative image (og:image/twitter:image)
            # joins the extraction stream at img_order 0 — so under the
            # first-wins caption policy the page's DECLARED caption
            # outranks inline alt text for the same image (the same
            # precedence figcaption already has over alt)
            og = (
                indexable.filter(F.col("og_image").isNotNull())
                .select(
                    F.col("url").alias("page_url"),
                    F.coalesce(F.col("og_caption"), F.lit("")).alias("caption"),
                    canonical_url_col(F.col("og_image")).alias("img_url"),
                    F.lit(0).cast("int").alias("img_order"),
                )
                .withColumn("round", F.lit(rnd))
            )
            imgs = og.unionByName(imgs)
        self.store.commit("extractions", imgs, mode="append", lineage={"round": rnd})

        # ---- pages sink (ALL fetched pages archive, dups included) --------
        page_cols = (
            [
                "url_key", "url", "host", "depth",
                F.lit(rnd).alias("fetch_round"), "status", "body",
            ]
            + (["content_fp"] if self.content_seen else [])
            + (["noindex"] if has_directives else [])
        )
        pages = ok.select(*page_cols)
        self.store.commit("pages", pages, mode="append", lineage={"round": rnd})

        # ---- discovery: lazy chapter expansion (depth 0 only) -------------
        parents = fresh.filter((F.col("depth") == 0) & F.col("has_chapters"))
        if has_directives:
            parents = parents.filter(~F.col("nofollow"))
        links = (
            parents.select(
                F.col("url").alias("page_url"),
                "host_rank",
                F.col("host").alias("parent_host"),
                "site",
                "requires_manual_check",
                "document_number",
                "doc_id",
                F.col("depth").alias("parent_depth"),
                F.posexplode(
                    F.regexp_extract_all(F.col("body"), F.lit(MD_LINK_PAT), F.lit(2))
                ).alias("pos", "raw_link"),
            )
            .withColumn("url", canonical_url_col(F.col("raw_link")))
            .filter(F.col("url") != F.col("page_url"))  # cycle guard D4
            .withColumn(
                "_parts", F.split(F.col("url"), "_")
            )  # derived key D2: split('_').at(-2)
            .withColumn(
                "derived_key",
                F.when(
                    F.size("_parts") >= 2, F.element_at(F.col("_parts"), -2)
                ).otherwise(F.lit(None).cast("string")),
            )
            .drop("_parts")
        )
        # first-wins per (page, derived_key) in document order (null keys
        # group together, matching JS undefined-key semantics)
        links = first_wins(
            links.withColumn(
                "_k", F.coalesce(F.col("derived_key"), F.lit("\x00undefined"))
            ).withColumn("_pk", F.concat_ws("\x01", "page_url", "_k")),
            key="_pk",
            order_cols=[F.col("pos")],
        ).drop("_k", "_pk")

        links = links.withColumn("host", host_col(F.col("url")))
        links = self._guard_candidates(links, rnd, stage="discovery")
        allowed = robots_filter(links, self.robots)
        # cross-page first-wins in golden order, then the seen anti-join
        allowed = first_wins(
            allowed,
            key="url",
            order_cols=[F.col("parent_host"), F.col("host_rank"), F.col("pos")],
        )
        unseen = self._unseen(allowed, frontier)

        new_entries = unseen.select(
            url_key_col(F.col("url")).alias("url_key"),
            "url",
            "host",
            F.pmod(F.xxhash64("url"), F.lit(N_SALTS)).cast("int").alias("host_salt"),
            # discovered rows INHERIT the parent's site: a SiteAdapter
            # whose extra_filter predicates on `site` must keep crawling
            # its own depth-1 chapters (null here silently skipped them)
            "site",
            "doc_id",
            (F.col("parent_depth") + 1).alias("depth"),
            "requires_manual_check",
            "document_number",
            F.lit(False).alias("has_chapters"),
            F.lit(rnd).alias("discovered_round"),
            F.lit(False).alias("completed"),
            F.lit(0).alias("attempts"),
        )
        new_entries = self._cap_new_entries(new_entries)

        # ---- frontier commit (upsert marks + append discoveries) ----------
        updates = fetched.select(
            "url_key",
            "url",
            "host",
            "host_salt",
            "site",
            "doc_id",
            "depth",
            "requires_manual_check",
            "document_number",
            "has_chapters",
            "discovered_round",
            F.col("success").alias("completed"),
            F.col("attempt").cast("int").alias("attempts"),
        )
        # O(Δ) frontier update: write only this round's completion marks
        # + discoveries as a merge-on-read delta (reference rewrote the
        # whole checkpoint file per update — checkpoint.ts:113,154; at
        # 10^10 rows the delta write is what survives). new_entries is
        # cached so the explode→dedup→robots→anti-join discovery chain
        # evaluates ONCE for the count + the delta write (+ the bloom
        # update), not once per action.
        new_entries = new_entries.cache()
        n_new = new_entries.count()
        delta = updates.select(*FRONTIER_COLS).unionByName(
            new_entries.select(*FRONTIER_COLS)
        )
        self.store.commit_upsert(
            "frontier",
            delta,
            key="url_key",
            lineage={"op": "round", "round": rnd, "scheduled": n_scheduled, "ok": n_ok, "new": n_new},
        )
        if rnd % self.compact_every == 0:
            # partition the compacted base on `completed` so the next
            # rounds' eligibility scans PRUNE finished work at the
            # directory level (scan cost tracks the open frontier)
            self.store.compact(
                "frontier", lineage={"round": rnd}, partition_by=["completed"]
            )
        if self.bloom and n_new:
            self.bloom.update(new_entries.select("url_key"))
        new_entries.unpersist()

        m = {
            "round": rnd,
            "scheduled": n_scheduled,
            "fetched_ok": n_ok,
            "failed": n_scheduled - n_ok,
            "discovered": n_new,
        }
        self.store.commit(
            "metrics",
            self.spark.createDataFrame(
                [tuple(m.values())],
                schema=T.StructType(
                    [T.StructField(k, T.LongType() if k != "round" else T.IntegerType(), False) for k in m]
                ),
            ),
            mode="append",
            lineage={"round": rnd},
        )
        fetched.unpersist()
        if self.content_seen:
            fresh.unpersist()
        self.metrics.append(m)
        return m

    # ------------------------------------------------------------------- run
    def run(self, max_rounds: int = 100) -> list[dict]:
        rnd = self.last_round()
        for _ in range(max_rounds):
            rnd += 1
            m = self.run_round(rnd)
            if m.get("scheduled", 0) == 0:
                break
        return self.metrics

    def last_round(self) -> int:
        """Resume point: the highest committed round in frontier lineage."""
        if not self.store.exists("frontier"):
            return 0
        rounds = [
            s["lineage"].get("round", 0) for s in self.store.versions("frontier")
        ]
        return max(rounds) if rounds else 0

    # -------------------------------------------------------- post-crawl
    def build_documents(self) -> dict:
        """Post-crawl tree generation: content pages → normalized
        sentence/footnote/heading tables committed to the store.

        Content pages are chapter pages (depth 1) plus the landing
        pages of chapterless docs — chaptered docs' landing pages are
        TOCs, not content (``crawler.ts:240-247`` default-single-chapter
        semantics).
        """
        from crawler_spark.operators.treegen import build_sentence_tables

        pages = self.store.read("pages")
        if "noindex" in pages.columns:  # directive: archive keeps the
            pages = pages.filter(~F.col("noindex"))  # page, corpus doesn't
        meta = self.store.read("frontier").select(
            "url_key", "doc_id", "document_number", "has_chapters"
        )
        content = (
            pages.join(meta, "url_key")
            .filter((F.col("depth") == 1) | (~F.col("has_chapters")))
            .select("url", "doc_id", "document_number", "depth", "body")
        )
        sentences, footnotes, headings = build_sentence_tables(
            content, cleanup_chain=self.cleanup_chain
        )
        self.store.commit("sentences", sentences, lineage={"op": "treegen"})
        self.store.commit("footnotes", footnotes, lineage={"op": "treegen"})
        self.store.commit("headings", headings, lineage={"op": "treegen"})
        return {
            "sentences": self.store.read("sentences").count(),
            "footnotes": self.store.read("footnotes").count(),
            "headings": self.store.read("headings").count(),
        }

    def materialize_images(self, byte_store: DataFrame) -> dict:
        """Post-crawl image payload: accumulated extractions (all
        rounds) ⨝ fetched bytes → the input_hint ``images`` table
        (engine-decoded w/h/phash + decode_ok), committed to the
        snapshot store with lineage — the north rule's "extracted
        image+caption pairs live in Iceberg tables" leg.

        ``byte_store(url, image_id, bytes, fmt)`` is the image-fetch
        stage's output (the fixture CDN table in tests). Inline
        ``data:`` images discovered during extraction are ingested
        alongside — they need no fetch stage at all (the payload
        traveled inside the page HTML)."""
        from crawler_spark.operators.images_pipeline import (
            build_images_table,
            ingest_data_uris,
        )

        ext = self.extractions()
        full_store = byte_store.select("url", "image_id", "bytes", "fmt").unionByName(
            ingest_data_uris(ext)
        )
        images = build_images_table(ext, full_store)
        self.store.commit("images", images, lineage={"op": "materialize_images"})
        out = self.store.read("images")
        return {
            "images": out.count(),
            "decode_ok": out.filter(F.col("decode_ok")).count(),
        }

    def archive_pages(self, out_dir: str, n_files: int | None = None) -> DataFrame:
        """Archive every fetched page as WARC 1.1 (`sources/warc.py`):
        one `.warc.gz` per partition, host-partitioned so a host's
        fetches land in one archive, manifest committed to the store as
        the `warc_index` table (the CDX analog — record-level random
        access + replay joins without scanning archives).

        The reference keeps loose per-page files (`src/lib/crawler/
        checkpoint.ts` + per-site main.ts writes) — unusable at 10^10;
        this is the standard web-archive sink at that scale."""
        from crawler_spark.sources.warc import write_warc

        pages = self.store.read("pages").select("url", "status", "body", "host")
        n = n_files or max(1, self.spark.sparkContext.defaultParallelism)
        manifest = write_warc(pages.repartition(n, "host").drop("host"), out_dir)
        self.store.commit(
            "warc_index", manifest, lineage={"op": "archive_pages", "dir": out_dir}
        )
        return self.store.read("warc_index")

    # ------------------------------------------------------------- accessors
    def crawl_log(self) -> DataFrame:
        return self.store.read("crawl_log")

    def url_seen(self) -> DataFrame:
        return self.store.read("frontier").select("url")

    def extractions(self) -> DataFrame:
        return self.store.read("extractions")

    def link_graph(self) -> DataFrame:
        """Directed (src, dst) url_key edges re-derived from stored page
        bodies — the input for a link-importance scheduling refresh
        (operators/linkrank.py): rank the graph, `priority_from_rank`,
        feed the priorities back through frontier upserts or
        `enqueue_discovered`. Map-side extract + one distinct."""
        return (
            self.store.read("pages")
            .select(
                url_key_col(F.col("url")).alias("src"),
                F.explode(
                    F.regexp_extract_all(F.col("body"), F.lit(MD_LINK_PAT), F.lit(2))
                ).alias("_raw"),
            )
            .select(
                "src", url_key_col(canonical_url_col(F.col("_raw"))).alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
