"""Every metric the benchmark reports: name, unit, direction, and what it feeds.

``END_TO_END`` and ``PER_LAYER`` must list the same names as
``BENCHMARK.json`` (``test_smoke.py`` checks it). Each per-layer metric
names the end-to-end metric and workloads it should move; ``render.py``
prints that column.

End-to-end metrics, measured on both crawl workloads:

- ``setup_s``: session start, warm-up, the untimed warm-up work (bulk: a
  whole crawl of the seeds on a throwaway frontier, which builds the
  fetch table; deep: the batch that builds the Bloom blobs and one more
  batch) and ``init_from_seeds``, each step the median of its repeats in
  a run. The
  cacheable world build is reported apart, as ``prep_s`` in the run
  record.
- ``items_per_s``: URLs fetched plus URLs deduplicated per second of
  timed crawl wall (BASELINE.json's unit).
- ``step_p50_s``: median ``run_batch`` wall over the timed batches.

The query layers (``q.*``) are measured in traced runs only, on small
seeded tables; no bounded metric covers them.
"""

from __future__ import annotations

CRAWLS = "crawl_bulk,crawl_deep"

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("step_p50_s", "s", "lower", 0.25),
]

QUERIES = [
    "authors_affmap",
    "papers_kept",
    "weighted_edges",
    "degree_stats",
    "backbone",
    "community_stability",
    "minhash_candidates",
    "ann_topk",
]

_Q_FIELDS = [
    ("s", "s"),
    ("plan_ms", "ms"),
    ("jobs", "count"),
    ("scans", "count"),
    ("exchanges", "count"),
    ("shuffle_bytes", "bytes"),
    ("held_blocks", "count"),
]

PER_LAYER = [
    # name, unit, better, feeds (end-to-end metric @ workloads)
    ("session.start_s", "s", "lower", f"setup_s@{CRAWLS}"),
    ("session.warmup_s", "s", "lower", f"setup_s@{CRAWLS}"),
    ("session.codegen_compiles", "count", "lower", f"items_per_s,step_p50_s@{CRAWLS}"),
    ("session.jobs", "count", "lower", f"items_per_s,step_p50_s@{CRAWLS}"),
    ("session.tasks", "count", "lower", f"items_per_s,step_p50_s@{CRAWLS}"),
    ("session.gc_s", "s", "lower", f"items_per_s,step_p50_s@{CRAWLS}"),
    ("session.jvm_peak_rss_mb", "MB", "lower", f"memory@{CRAWLS} (spreads >10%: not bounded)"),
    ("pages.build_s", "s", "lower", f"prep_s (reported apart from setup_s)@{CRAWLS}"),
    ("pages.prepare_s", "s", "lower", f"setup_s@{CRAWLS}"),
    ("frontier.init_s", "s", "lower", f"setup_s@{CRAWLS}"),
    ("frontier.close_s", "s", "lower", f"items_per_s@{CRAWLS}"),
    ("frontier.driver_s", "s", "lower", "items_per_s@crawl_bulk (more than crawl_deep)"),
    ("frontier.jobs_per_batch", "count", "lower", "items_per_s@crawl_bulk (more than crawl_deep)"),
    ("frontier.exec_s", "s", "lower", f"items_per_s,step_p50_s@{CRAWLS}"),
    ("frontier.cpu_s", "s", "lower", f"items_per_s,step_p50_s@{CRAWLS}"),
    ("frontier.shuffle_bytes_per_batch", "bytes", "lower", f"items_per_s@{CRAWLS}"),
    ("frontier.parse_job_s", "s", "lower", f"step_p50_s@{CRAWLS}"),
    ("frontier.state_write_s", "s", "lower", "step_p50_s@crawl_deep"),
    ("frontier.state_bytes_per_batch", "bytes", "lower", f"step_p50_s@{CRAWLS}"),
    ("frontier.state_bytes_per_url", "bytes", "lower", f"disk use@{CRAWLS}"),
    ("decode.us_per_page", "us", "lower", "items_per_s@crawl_bulk; no change on crawl_deep"),
    ("url.canonicalize_us_per_link", "us", "lower", "items_per_s@crawl_bulk"),
    ("politeness.select_s", "s", "lower", "step_p50_s@crawl_deep; no change on crawl_bulk"),
    ("politeness.pending_rows", "count", "lower", "step_p50_s@crawl_deep"),
    ("politeness.selected_rows", "count", "higher", "step_p50_s@crawl_deep"),
    ("seen.mark_s", "s", "lower", "step_p50_s@crawl_deep"),
    ("seen.bloom_probe_us_per_hash", "us", "lower", "step_p50_s@crawl_deep"),
    ("seen.bloom_survivor_ratio", "ratio", "higher", "step_p50_s@crawl_deep"),
    ("seen.dedup_ratio", "ratio", "higher", f"items_per_s@{CRAWLS}"),
] + [
    (f"q.{q}.{f}", unit, "lower",
     "query layers (traced runs only)" + ("; session.jvm_peak_rss_mb" if f == "held_blocks" else "")
     + "; no change on the crawls")
    for q in QUERIES
    for f, unit in _Q_FIELDS
]


def result_line(trace: int, values: dict, attempted: int, failed: int) -> dict:
    """The last stdout line: every end-to-end (``trace`` 0) or per-layer
    (``trace`` 1) metric, with its unit."""
    spec = PER_LAYER if trace else END_TO_END
    missing = [m[0] for m in spec if m[0] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {m[0]: {"value": float(values[m[0]]), "unit": m[1]} for m in spec},
    }
