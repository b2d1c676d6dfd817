"""Crawl benchmark harness: drives the public crawl API on seeded synthetic
webs, checks every cached row against an independent oracle and reports
end-to-end and per-layer metrics. Entry point: ``python3 crawlbench/run.py``.
"""
