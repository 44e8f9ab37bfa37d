"""The per-layer numbers of a traced run.

A traced run reports every per-layer metric. The crawl layers come from
the workload's own timed batches and from direct calls of the layers'
public functions on the same inputs. The query layers (``operators.*``
and Catalyst planning) come from one traced pass of the reference
pipeline's queries over small seeded tables, with the DuckDB oracle
check.
"""

from __future__ import annotations

import statistics

import analytics
import crawl
from spans import (
    attribute,
    collect_jobs,
    dir_bytes,
    jvm_peak_rss_mb,
    span_stats,
    sql_writes,
)


def layers(bench, sizes: dict, out: dict) -> dict:
    tr = bench.tracer
    m = {"session.jvm_peak_rss_mb": jvm_peak_rss_mb(bench.spark)}
    with tr.span("probe:queries"):
        query_pass = analytics.probe(bench, sizes["query_sf"])
    pending = crawl.probe_select(
        bench, out["seed_ids"], out["seed_prios"], out["politeness"], out["per_host"]
    )
    m.update(
        crawl.probe_seen(bench, pending.pop("_pending_path"), out["seed_ids"], sizes["seen_cands"])
    )
    m.update(pending)
    m.update(crawl.probe_decode(bench, out["pages"], sizes["decode_rows"]))
    m.update(crawl.probe_canonicalize(bench, sizes["canon_links"]))

    by_span = attribute(tr, collect_jobs(bench.spark))
    m["session.start_s"] = tr.find("setup:session_start")[0].wall
    m["session.warmup_s"] = tr.find("setup:warmup")[0].wall
    region = [span_stats(tr, by_span, s) for s in tr.find("crawl")]
    m["session.jobs"] = sum(r["jobs"] for r in region)
    m["session.tasks"] = sum(r["tasks"] for r in region)
    m["session.codegen_compiles"] = bench.counters["codegen_compiles"]
    m["session.gc_s"] = bench.counters["gc_s"]
    m.update(_frontier(bench, out, by_span, sql_writes(bench.spark)))
    spans = {s.sid: s for s in tr.spans}
    for name, rec in query_pass.items():
        st = span_stats(tr, by_span, spans[rec["span"]])
        m[f"q.{name}.s"] = rec["s"]
        m[f"q.{name}.plan_ms"] = rec["plan_ms"]
        m[f"q.{name}.jobs"] = st["jobs"]
        m[f"q.{name}.scans"] = rec["scans"]
        m[f"q.{name}.exchanges"] = rec["exchanges"]
        m[f"q.{name}.shuffle_bytes"] = st["shuffle_bytes"]
        m[f"q.{name}.held_blocks"] = rec["held_blocks"]
    return m


def _frontier(bench, out: dict, by_span: dict, writes: list[dict]) -> dict:
    """Per-batch means over the timed batches; write phases attributed by
    the output path of each SQL execution that started inside the batch."""
    tr = bench.tracer
    batches = out["batches"]
    spans = {s.sid: s for s in tr.spans}
    stats = [span_stats(tr, by_span, spans[b["span"]]) for b in batches]
    parse, state = [], []
    for b in batches:
        s = spans[b["span"]]
        inside = [w for w in writes if s.t0_ms <= w["start_ms"] <= s.t1_ms]
        parse.append(sum(_ms(w) for w in inside if "/results/batch=" in w["path"]))
        state.append(
            sum(_ms(w) for w in inside if any(k in w["path"] for k in ("/pending", "/seen/", "/bloom/")))
        )
    prepared = [_ms(w) for w in writes if "_prepared-" in w["path"]]
    last = out["crawl"]
    final = batches[-1]
    crawled = final["seen_rows"] - final["pending_rows"]

    def mean(key):
        return statistics.fmean(st[key] for st in stats)

    return {
        "pages.build_s": tr.find("prep:world")[-1].wall,
        "pages.prepare_s": prepared[0] / 1000.0,
        "frontier.init_s": statistics.median(s.wall for s in tr.find("setup:init_from_seeds")),
        "frontier.close_s": last["close_s"],
        "frontier.driver_s": mean("driver_s"),
        "frontier.jobs_per_batch": mean("jobs"),
        "frontier.exec_s": mean("exec_s"),
        "frontier.cpu_s": mean("cpu_s"),
        "frontier.shuffle_bytes_per_batch": mean("shuffle_bytes"),
        "frontier.parse_job_s": statistics.fmean(parse) / 1000.0,
        "frontier.state_write_s": statistics.fmean(state) / 1000.0,
        "frontier.state_bytes_per_batch": (batches[-1]["state_bytes"] - last["bytes0"]) / len(batches),
        "frontier.state_bytes_per_url": dir_bytes(last["state"]) / max(1, crawled),
        "seen.dedup_ratio": sum(b["deduped"] for b in batches)
        / max(1, sum(b["discovered"] for b in batches)),
    }


def _ms(w: dict) -> float:
    return w["end_ms"] - w["start_ms"]
