"""Per-layer metrics of a traced run, from its spans and Spark jobs.

Layers are named by module. Times are medians over the traced timed
crawls; ratios sum their parts over those crawls first. A layer the
workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from crawlbench.spans import SpanJobs, Tracer, totals, uncovered_seconds


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def layer_metrics(tracer: Tracer, jobs: list[dict], timed: list, slots: int, *,
                  session_s: float, gen_s: float, prepare_s: float,
                  bloom_fp_share: float) -> dict:
    sj = SpanJobs(tracer, jobs)
    kids = tracer.children()
    spans = tracer.spans

    def under(sid: int, layer: str) -> list[dict]:
        out = []
        for k in kids.get(sid, ()):
            if spans[k]["layer"] == layer:
                out.append(spans[k])
            out.extend(under(k, layer))
        return out

    crawls = [s for s in spans if s["layer"] == "crawl"]
    urls = sum(c["urls"] for c in crawls)
    rounds = [r for c in crawls for r in under(c["id"], "crawl.run_round")]
    first_rounds = [under(c["id"], "crawl.run_round")[0] for c in crawls]
    enqueues = [e for c in crawls for e in under(c["id"], "crawl.enqueue_frontier")]
    archives = [a for c in crawls for a in under(c["id"], "crawl.archive_stage")]
    inits = [i for c in crawls for i in under(c["id"], "crawl.init_frontier")]
    runs = [r for c in crawls for r in under(c["id"], "crawl.run")]

    round_totals = [totals(sj.subtree(r["id"])) for r in rounds]
    crawl_totals = totals([j for c in crawls for j in sj.subtree(c["id"])])
    # Python-worker time of the round's own jobs: enqueue_frontier spans
    # nest inside rounds and own the parse and bloom-probe jobs
    image_py_ms = sum(totals(sj.own(r["id"]))["py_ms"] for r in rounds)
    parser_py_ms = sum(
        totals(sj.subtree(s["id"]))["py_ms"] for s in enqueues + archives
    )
    finalize = [
        _dur(run) - sum(_dur(r) for r in under(run["id"], "crawl.run_round"))
        for run in runs
    ]
    traced_ups = [t.result.urls / t.result.seconds for t in timed if t.traced]
    untraced_ups = [t.result.urls / t.result.seconds for t in timed if not t.traced]
    archived = [t.result.archive for t in timed if t.traced and t.result.archive]
    per_kurl = 1000.0 / urls if urls else 0.0

    def metric(value, unit):
        return {"value": float(value), "unit": unit}

    return {
        "session.start_s": metric(session_s, "s"),
        "synth.gen_s": metric(gen_s, "s"),
        "fetcher.prepare_s": metric(prepare_s, "s"),
        "crawl.init_frontier_s": metric(median(_dur(s) for s in inits), "s"),
        "crawl.round_s": metric(median(_dur(r) for r in rounds), "s"),
        "crawl.round0_s": metric(median(_dur(r) for r in first_rounds), "s"),
        "crawl.round_jobs": metric(median(t["jobs"] for t in round_totals), "count"),
        "crawl.round_tasks": metric(median(t["tasks"] for t in round_totals), "count"),
        "crawl.round_driver_s": metric(
            median(uncovered_seconds(r["start"], r["end"], sj.subtree(r["id"]))
                    for r in rounds), "s"),
        "crawl.round_busy_share": metric(
            median(t["run_ms"] / 1000.0 / (_dur(r) * slots)
                    for r, t in zip(rounds, round_totals)), "fraction"),
        "crawl.enqueue_s": metric(median(_dur(e) for e in enqueues), "s"),
        "crawl.enqueue_jobs": metric(
            median(len(sj.subtree(e["id"])) for e in enqueues), "count"),
        "crawl.finalize_s": metric(median(finalize), "s"),
        "crawl.archive_s": metric(median(_dur(a) for a in archives), "s"),
        "images.py_s_per_kurl": metric(image_py_ms / 1000.0 * per_kurl, "s/kURL"),
        "parser.py_s_per_kurl": metric(parser_py_ms / 1000.0 * per_kurl, "s/kURL"),
        "parser.fallbacks": metric(
            archived[-1]["parse_fallbacks"] if archived else 0, "count"),
        "seen.fresh_share": metric(
            median(t.fresh_share for t in timed if t.traced), "fraction"),
        "seen.bloom_fp_share": metric(bloom_fp_share, "fraction"),
        "tables.bytes_written_per_url": metric(
            crawl_totals["output_bytes"] / urls if urls else 0, "B/URL"),
        "tables.files_per_round": metric(
            sum(r.get("files", 0) for r in rounds) / len(rounds) if rounds else 0,
            "count"),
        "shuffle.bytes_per_url": metric(
            crawl_totals["shuffle_bytes"] / urls if urls else 0, "B/URL"),
        "jvm.gc_share": metric(
            crawl_totals["gc_ms"] / crawl_totals["run_ms"]
            if crawl_totals["run_ms"] else 0, "fraction"),
        "trace.overhead_share": metric(
            1.0 - median(traced_ups) / median(untraced_ups)
            if untraced_ups else 0, "fraction"),
    }
