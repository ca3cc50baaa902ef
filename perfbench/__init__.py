"""End-to-end crawl benchmark: seed list → frontier rounds → pages →
image+caption table, run through the shipped ``CrawlEngine``.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see README.md)."""
