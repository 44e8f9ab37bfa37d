"""The two crawl workloads and the direct-call probes of the crawl layers.

Everything here drives the engine through public calls only:
``CrawlEngine(...)``, ``init_from_seeds``, ``run_batch``, ``close``,
``crawl_order``, ``seen_hashes`` and ``results``, the ``sources.pages``
``build_*`` functions, and the public functions of ``streaming.politeness``,
``streaming.seen`` and ``functions.url``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from spans import dir_bytes

UNLIMITED = (1 << 31) - 1


def build_world(spark, path: str, n_pages: int, payload_repeat: int) -> None:
    from openalex_collaboration_crawler_spark.sources.pages import build_pages

    build_pages(spark, n_pages=n_pages, payload_repeat=payload_repeat).write.mode(
        "overwrite"
    ).parquet(path)


def link_tree(src: str, dst: str) -> None:
    """Copy a cached directory into a run's own work dir (hard links where
    the file system allows), so the engine writes its state next to a
    private copy and never into the cache."""
    shutil.copytree(src, dst, copy_function=_link_or_copy)


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def seed_frame(spark, ids: np.ndarray, priorities: np.ndarray):
    """(url, priority) seed list for page ids ``ids``."""
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.sources.pages import page_url

    pdf = pd.DataFrame({"i": ids.astype("int64"), "priority": priorities.astype("int32")})
    return spark.createDataFrame(pdf).select(
        page_url(F.col("i")).alias("url"), F.col("priority").cast("int").alias("priority")
    )


def engine(spark, state_dir: str, pages_path: str, politeness, **kw):
    from openalex_collaboration_crawler_spark.streaming.frontier import CrawlEngine

    return CrawlEngine(
        spark=spark, state_dir=state_dir, pages_path=pages_path, politeness=politeness, **kw
    )


def run_batches(bench, eng, n: int | None, label: str) -> list[dict]:
    """``run_batch(defer_state=True)`` in a loop, as ``CrawlEngine.run``
    does, one span per batch; ``n=None`` runs to exhaustion. The caller
    closes the engine (``close`` flushes the last deferred writes)."""
    out = []
    while n is None or len(out) < n:
        with bench.tracer.span(label) as s:
            m = eng.run_batch(defer_state=True)
        m["wall_s"] = s.wall
        m["span"] = s.sid
        if bench.traced:
            m["state_bytes"] = dir_bytes(eng.state_dir)
        bench.attempted += 1
        if not m.get("fetched"):
            break
        out.append(m)
        if m.get("done"):
            break
    return out


def check_batches(bench, batches: list[dict], prev: dict, bloom: bool) -> None:
    """Per-batch invariants from the returned counters (no robots table, so
    every new URL is kept): live pages decode to their golden text, the
    frontier and seen counts move by exactly the batch's deltas, and the
    Bloom path is on or off as the workload intends. ``check_state``
    holds the last counters against the stored state."""
    for m in batches:
        b = m["batch"]
        bench.expect(f"text_match:{b}", m["text_match"] == m["parsed_ok"], m)
        bench.expect(
            f"pending_rows:{b}",
            m["pending_rows"] == prev["pending_rows"] - m["fetched"] + m["new_urls"],
            (prev.get("pending_rows"), m),
        )
        bench.expect(
            f"seen_rows:{b}", m["seen_rows"] == prev["seen_rows"] + m["new_urls"], (prev, m)
        )
        bench.expect(f"bloom_mode:{b}", m["bloom_mode"] is bloom, m)
        prev = m


def check_state(bench, eng, last: dict, fetched: int) -> None:
    """After ``close``: the stored seen set and crawl order have the sizes
    the counters claim. Every seen URL is either fetched or still pending
    (no robots table), so the pending count is checked too."""
    seen = len(eng.seen_hashes())
    order = len(eng.crawl_order())
    bench.expect("state:seen_rows", seen == last["seen_rows"], (seen, last["seen_rows"]))
    bench.expect("state:fetched", order == fetched, (order, fetched))
    bench.expect(
        "state:pending_rows", seen - order == last["pending_rows"], (seen, order, last["pending_rows"])
    )


def _urls(batches: list[dict]) -> int:
    return sum(m["fetched"] + m["deduped"] for m in batches)


# --------------------------------------------------------------- crawl_bulk


def crawl_bulk(bench, size: dict) -> dict:
    """One untimed, then ``size["crawls"]`` timed fresh crawls of a
    generated world to exhaustion, politeness wide open. The count is
    fixed, not a time budget: later crawls in a JVM run faster, so a
    speed-dependent count would move the metrics by itself.

    The seed pages are fixed (``k * 97 mod n_pages``, as ``build_seeds``
    picks them) and the seed draws their priorities: with politeness
    open every batch takes the whole frontier, so the batch sequence is
    the same for every seed and only the crawl order within a batch
    changes."""
    from openalex_collaboration_crawler_spark.sources.pages import build_politeness

    spark = bench.spark
    ids = np.arange(size["n_seeds"]) * 97 % size["n_pages"]
    prios = np.random.default_rng(bench.seed).integers(0, 100, size["n_seeds"])

    world = bench.cached(
        "world",
        dict(n_pages=size["n_pages"], payload_repeat=size["payload_repeat"]),
        lambda p: build_world(spark, p, size["n_pages"], size["payload_repeat"]),
    )
    pages = os.path.join(bench.work, "pages")
    link_tree(world, pages)
    politeness = build_politeness(spark, default_per_batch=UNLIMITED, hot_per_batch=UNLIMITED)
    kw = dict(robots=None, default_per_host=UNLIMITED)

    # Untimed warm-up crawl of the same seeds on a throwaway frontier: it
    # builds this run's prepared fetch table, and batch walls fall over its
    # batches as the JVM warms, so a median over timed batches that mixed
    # in cold ones would jump between the cold and warm levels.
    seeds = seed_frame(spark, ids, prios)
    with bench.tracer.span("setup:first_crawl"):
        warm = engine(spark, os.path.join(bench.work, "warm_state"), pages, politeness, **kw)
        warm.init_from_seeds(seeds)
        done = run_batches(bench, warm, None, "warm_batch")
        warm.close()
    bench.expect("warm_drained", bool(done) and done[-1]["done"], done[-1:])

    crawls = []
    while len(crawls) < size["crawls"]:
        state = os.path.join(bench.work, f"state{len(crawls)}")
        eng = engine(spark, state, pages, politeness, **kw)
        with bench.tracer.span("setup:init_from_seeds"):
            eng.init_from_seeds(seeds)
        before = dir_bytes(state) if bench.traced else 0
        with bench.timed("crawl") as c:
            batches = run_batches(bench, eng, None, "run_batch")
            with bench.tracer.span("close") as cl:
                eng.close()
        crawls.append(
            {"wall_s": c.wall, "close_s": cl.wall, "batches": batches, "state": state, "bytes0": before}
        )
        bench.attempted += 1  # the crawl as a whole
        bench.expect(f"drained:{len(crawls)}", bool(batches) and batches[-1]["done"], batches[-1:])

    last = crawls[-1]
    check_batches(bench, last["batches"], {"pending_rows": size["n_seeds"], "seen_rows": size["n_seeds"]}, False)
    check_state(bench, eng, last["batches"][-1], sum(m["fetched"] for m in last["batches"]))
    _oracle_check(bench, eng, pages, ids, prios, politeness)

    all_batches = [m for c in crawls for m in c["batches"]]
    return {
        "items_per_s": _urls(all_batches) / sum(c["wall_s"] for c in crawls),
        "step_p50_s": statistics.median(m["wall_s"] for m in all_batches),
        "batches": last["batches"],
        "crawl": last,
        "pages": pages,
        "seed_ids": ids,
        "seed_prios": prios,
        "politeness": politeness,
        "per_host": UNLIMITED,
    }


def _load_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "crawler_oracle", os.path.join(root, "tests", "oracle", "crawler_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up here
    spec.loader.exec_module(mod)
    return mod.OracleCrawler


def _oracle_check(bench, eng, pages: str, ids, prios, politeness) -> None:
    """Crawl order and seen set equal the sequential reference crawler's."""
    Oracle = _load_oracle(bench.root)
    rows = pq.read_table(pages, columns=["url", "warc_ts", "html", "text", "lang"]).to_pylist()
    oracle = Oracle.from_rows(
        rows, [r.asDict() for r in politeness.collect()], default_per_host=UNLIMITED
    )
    seeds = seed_frame(bench.spark, ids, prios).collect()
    oracle.seed([(r["url"], r["priority"]) for r in seeds])
    oracle.run(max_batches=1000)
    bench.expect("oracle:crawl_order", eng.crawl_order() == oracle.order, "order differs")
    bench.expect("oracle:seen_set", eng.seen_hashes() == oracle.seen, "seen set differs")


# --------------------------------------------------------------- crawl_deep


def crawl_deep(bench, size: dict) -> dict:
    """Seed a frontier above ``bloom_min_seen``, run the batch that crosses
    into Bloom mode and one more (untimed), then time
    a fixed window of batches that contains a seen/pending compaction; the
    median batch is a non-compacting one."""
    from openalex_collaboration_crawler_spark.sources.pages import build_politeness

    spark = bench.spark
    politeness = build_politeness(
        spark, default_per_batch=size["per_host"], hot_per_batch=size["hot_per_host"]
    )
    kw = dict(
        robots=None,
        default_per_host=size["per_host"],
        bloom_min_seen=size["bloom_min_seen"],
        compact_every=size["compact_every"],
        pending_compact_every=size["compact_every"],
    )
    # seed ids 0..n_seeds-1 with seeded priorities; pages exist only below
    # n_pages, so the frontier is far larger than a batch and mostly dead
    # links, as a real crawler's is
    ids = np.arange(size["n_seeds"])
    prios = np.random.default_rng(bench.seed).integers(0, 100, size["n_seeds"])
    world = bench.cached(
        "world",
        dict(n_pages=size["n_pages"], payload_repeat=1),
        lambda p: build_world(spark, p, size["n_pages"], 1),
    )
    pages, state = os.path.join(bench.work, "pages"), os.path.join(bench.work, "state")
    link_tree(world, pages)
    eng = engine(spark, state, pages, politeness, **kw)
    with bench.tracer.span("setup:init_from_seeds"):
        eng.init_from_seeds(seed_frame(spark, ids, prios))
    # batch 1 builds the prepared fetch table and, crossing bloom_min_seen,
    # the Bloom blobs over the whole seen set: a one-time cost, untimed;
    # the next batch still runs slower as the JVM warms, untimed too
    with bench.tracer.span("setup:bloom_batch"):
        first = run_batches(bench, eng, 1, "first_batch")
    with bench.tracer.span("setup:warm_batch"):
        first += run_batches(bench, eng, 1, "warm_batch")

    before = dir_bytes(state) if bench.traced else 0
    with bench.timed("crawl") as c:
        batches = run_batches(bench, eng, size["window"], "run_batch")
        with bench.tracer.span("close") as cl:
            eng.close()
    bench.expect("window_complete", len(batches) == size["window"], len(batches))
    check_batches(bench, batches, first[-1], True)
    check_state(bench, eng, batches[-1], sum(m["fetched"] for m in first + batches))
    # seen compactions land on batch ids that are multiples of compact_every
    every, b0 = size["compact_every"], first[-1]["batch"]
    bench.expect(
        "compactions_in_window",
        sum(m["seen_base"] == m["batch"] for m in batches) == (b0 + size["window"]) // every - b0 // every
        and any(m["pending_base"] == m["batch"] for m in batches),
        [(m["batch"], m["seen_base"], m["pending_base"]) for m in batches],
    )
    _results_check(bench, eng, batches)
    return {
        "items_per_s": _urls(batches) / c.wall,
        "step_p50_s": statistics.median(m["wall_s"] for m in batches),
        "batches": batches,
        "crawl": {"wall_s": c.wall, "close_s": cl.wall, "batches": batches, "state": state, "bytes0": before},
        "pages": pages,
        "seed_ids": ids,
        "seed_prios": prios,
        "politeness": politeness,
        "per_host": size["per_host"],
        # share of fetched frontier URLs that resolve to a page
        "record": {"live_share": sum(m["parsed_ok"] for m in batches) / sum(m["fetched"] for m in batches)},
    }


def _results_check(bench, eng, batches: list[dict]) -> None:
    """The stored results agree with the counters the batches returned."""
    from pyspark.sql import functions as F

    ids = [m["batch"] for m in batches]
    row = (
        eng.results()
        .where(F.col("batch_id").isin(ids))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("parse_ok").cast("int")).alias("ok"),
            F.sum(F.col("text_match").cast("int")).alias("match"),
        )
        .collect()[0]
    )
    bench.expect("results:rows", row["n"] == sum(m["fetched"] for m in batches), row)
    bench.expect("results:text_match", (row["ok"] or 0) == (row["match"] or 0), row)


# ------------------------------------------------------- direct layer probes


def probe_decode(bench, pages: str, n_rows: int) -> dict:
    """``decode_and_parse`` called on pandas batches of fetched rows."""
    from openalex_collaboration_crawler_spark.streaming.frontier import decode_and_parse

    t = pq.read_table(pages, columns=["url", "html", "text", "lang"]).slice(0, n_rows).to_pandas()
    pdf = pd.DataFrame(
        {
            "seq": np.arange(len(t), dtype="int64"),
            "url": t["url"],
            "url_hash": np.zeros(len(t), dtype="int64"),
            "host": "",
            "depth": np.zeros(len(t), dtype="int32"),
            "html": t["html"],
            "text_md5": [hashlib.md5(x.encode("utf-8")).hexdigest() for x in t["text"]],
            "lang": t["lang"],
        }
    )
    chunks = [pdf.iloc[i : i + 1000] for i in range(0, len(pdf), 1000)]
    t0 = time.perf_counter()
    out = pd.concat(list(decode_and_parse(iter(chunks))))
    dt = time.perf_counter() - t0
    bench.expect("decode:text_match", bool(out["text_match"].all()), int((~out["text_match"]).sum()))
    return {"decode.us_per_page": dt / len(pdf) * 1e6}


def probe_canonicalize(bench, n_links: int) -> dict:
    """Per-link cost of ``canonicalize_url``: a noop write of canonicalized
    raw links minus the same write of the raw links."""
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.functions.url import canonicalize_url
    from openalex_collaboration_crawler_spark.sources.pages import page_url

    i = F.col("id")
    raw = bench.spark.range(n_links).select(
        F.when(i % 2 == 0, page_url(i))
        .otherwise(F.concat(F.upper(F.substring(page_url(i), 1, 20)), F.lit(":80/page/"), i.cast("string"), F.lit("/#f")))
        .alias("raw")
    )

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timed(raw.select(canonicalize_url("raw")))  # compile once
    base = min(timed(raw.select(F.length("raw"))) for _ in range(2))
    canon = min(timed(raw.select(F.length(canonicalize_url("raw")))) for _ in range(2))
    return {"url.canonicalize_us_per_link": max(canon - base, 1e-9) / n_links * 1e6}


def probe_select(bench, ids, prios, politeness, per_host: int) -> dict:
    """``select_batch`` on the current pending set (rebuilt from the seeds
    with the public URL functions), written to the noop sink."""
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.functions.url import (
        canonicalize_url,
        url_hash_canonical,
        url_host,
    )
    from openalex_collaboration_crawler_spark.streaming.politeness import select_batch

    spark = bench.spark
    path = os.path.join(bench.work, "probe_pending")
    seed_frame(spark, ids, prios).select(
        canonicalize_url("url").alias("url"), "priority"
    ).select(
        "url",
        url_hash_canonical("url").alias("url_hash"),
        url_host("url").alias("host"),
        F.lit(0).alias("depth"),
        "priority",
    ).write.mode("overwrite").parquet(path)
    pending = spark.read.parquet(path)
    n = pending.count()
    min_cap = min([per_host, *(int(r["max_per_batch"]) for r in politeness.collect())])

    def batch():
        return select_batch(
            pending, politeness, None, default_per_host=per_host, est_rows=n, skip_caps=min_cap >= n
        )

    batch().write.format("noop").mode("overwrite").save()  # compile once
    with bench.tracer.span("probe:select_batch") as s:
        batch().write.format("noop").mode("overwrite").save()
    return {
        "politeness.select_s": s.wall,
        "politeness.pending_rows": n,
        "politeness.selected_rows": batch().count(),
        "_pending_path": path,
    }


def probe_seen(bench, pending_path: str, ids: np.ndarray, n_cand: int) -> dict:
    """``mark_new_against_seen`` against the pending set's hashes as the seen
    table, and the Bloom probe itself on numpy arrays, with the Bloom
    sizes of a default-constructed ``CrawlEngine``. The pending set holds
    the seed pages ``ids``; half the candidates are those pages again,
    half are pages past every seed."""
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.functions.url import url_hash_canonical
    from openalex_collaboration_crawler_spark.sources.pages import page_url
    from openalex_collaboration_crawler_spark.streaming.frontier import CrawlEngine
    from openalex_collaboration_crawler_spark.streaming.seen import (
        bloom_probe_blob,
        fixed_bloom_build_blob,
        mark_new_against_seen,
        merge_bloom_tables,
    )

    parts, m_bits, k = CrawlEngine.bloom_parts, CrawlEngine.bloom_m_bits, CrawlEngine.bloom_k
    spark = bench.spark
    seen = spark.read.parquet(pending_path).select("url_hash")
    seen_np = np.array(sorted(r[0] for r in seen.collect()), dtype=np.int64)
    bloom_path = os.path.join(bench.work, "probe_bloom")
    merge_bloom_tables(None, seen, n_parts=parts, m_bits=m_bits, k=k).write.mode(
        "overwrite"
    ).parquet(bloom_path)
    bloom = spark.read.parquet(bloom_path)
    i = np.arange(n_cand)
    cand_ids = np.where(i % 2 == 0, ids[i % len(ids)], int(ids.max()) + 1 + i)
    cand = spark.createDataFrame(pd.DataFrame({"id": cand_ids.astype("int64")})).select(
        page_url(F.col("id")).alias("url")
    ).select("url", url_hash_canonical("url").alias("url_hash"))
    cand_path = os.path.join(bench.work, "probe_cand")
    cand.write.mode("overwrite").parquet(cand_path)
    cand = spark.read.parquet(cand_path)

    def mark():
        return mark_new_against_seen(cand, seen, bloom, n_parts=parts)

    mark().write.format("noop").mode("overwrite").save()  # compile once
    with bench.tracer.span("probe:mark_new_against_seen") as s:
        mark().write.format("noop").mode("overwrite").save()

    cand_np = np.array([r[0] for r in cand.select("url_hash").collect()], dtype=np.int64)
    part_seen = seen_np % parts
    part_cand = cand_np % parts
    maybe = np.zeros(len(cand_np), dtype=bool)
    probe_s = 0.0
    for p in range(parts):
        blob = fixed_bloom_build_blob(seen_np[part_seen == p].view(np.uint64), m_bits, k)
        h = cand_np[part_cand == p].view(np.uint64)
        t0 = time.perf_counter()
        maybe[part_cand == p] = bloom_probe_blob(blob, h)
        probe_s += time.perf_counter() - t0
    truly = np.isin(cand_np, seen_np)
    bench.expect("seen:half_seen", int(truly.sum()) == (n_cand + 1) // 2, int(truly.sum()))
    bench.expect("bloom:no_false_negative", bool(maybe[truly].all()), int((~maybe[truly]).sum()))
    return {
        "seen.mark_s": s.wall,
        "seen.bloom_probe_us_per_hash": probe_s / len(cand_np) * 1e6,
        "seen.bloom_survivor_ratio": float((maybe & truly).sum()) / max(1, int(maybe.sum())),
    }
