"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 crawlbench/run.py --workload crawl_bulk --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Each workload times a fixed amount of
work after an untimed warm-up (two bulk crawls, about 12 s on a 4-core
box; four deep batches, about 16 s), so every commit measures the same
work; ``--seconds`` is kept in the run record. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the per-layer metrics (see
``crawlbench/metrics.py``). ``--size tiny`` is the smoke size used by
``crawlbench/test_smoke.py``. Everything the run writes goes under
``.crawlbench/`` in the checkout: generated page worlds are cached in
``.crawlbench/cache`` under a key of their sizes and a hash of the
package source (``build_pages`` takes no seed); each run works in its own
directory, removed at the end; the full record (environment, metrics,
checks, spans) lands in ``.crawlbench/runs``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".crawlbench")
CPUS = "4"  # one process on local[4]
DRIVER_MEMORY = "4g"  # pinned: session.py defaults to 48g
DEADLINE_S = 170  # a run must end within 180 s

SIZES = {
    "full": {
        "crawl_bulk": {"n_pages": 6000, "payload_repeat": 16, "n_seeds": 2048, "crawls": 2},
        "crawl_deep": {
            "n_pages": 4000,
            "n_seeds": 60_000,
            "bloom_min_seen": 50_000,
            "per_host": 256,
            "hot_per_host": 128,
            "compact_every": 4,
            "window": 4,
        },
        # sizes of the traced run's direct-call probes
        "query_sf": 0.001,
        "decode_rows": 4000,
        "canon_links": 300_000,
        "seen_cands": 200_000,
    },
    "tiny": {
        "crawl_bulk": {"n_pages": 120, "payload_repeat": 1, "n_seeds": 4, "crawls": 1},
        "crawl_deep": {
            "n_pages": 120,
            "n_seeds": 3000,
            "bloom_min_seen": 2000,
            "per_host": 16,
            "hot_per_host": 8,
            "compact_every": 4,
            "window": 4,
        },
        "query_sf": 0.001,
        "decode_rows": 200,
        "canon_links": 20_000,
        "seen_cands": 5_000,
    },
}


def source_hash(root: str) -> str:
    """Hash of the code under test: the package and the query registry."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "openalex_collaboration_crawler_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Bench:
    """Run-wide context the workloads share: session, tracer, work and cache
    directories, and the tally of attempted and failed operations."""

    def __init__(self, args, tracer):
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.root = ROOT
        self.tracer = tracer
        self.spark = None
        self.src = source_hash(ROOT)
        self.work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failures: list[dict] = []
        self.checks: list[str] = []
        self.prep: dict[str, float] = {}
        self.counters: dict[str, float] = {"codegen_compiles": 0, "gc_s": 0.0}

    def expect(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        self.checks.append(name)
        if not ok:
            self.failures.append({"check": name, "detail": repr(detail)[:500]})

    @contextmanager
    def timed(self, name: str):
        """A span around a timed region; traced runs also take the codegen
        and GC deltas of the region."""
        from spans import codegen_compiles, jvm_gc_s

        if self.traced:
            c0, g0 = codegen_compiles(self.spark), jvm_gc_s(self.spark)
        with self.tracer.span(name) as s:
            yield s
        if self.traced:
            self.counters["codegen_compiles"] += codegen_compiles(self.spark) - c0
            self.counters["gc_s"] += jvm_gc_s(self.spark) - g0

    def cached(self, kind: str, key: dict, build) -> str:
        """Directory holding ``build(path)``'s output for this key (plus the
        package source hash; put the seed in ``key`` when the output depends
        on it). Untraced runs reuse a cached copy; traced runs always build,
        so the build layers are timed. Build time is reported as prep,
        apart from ``setup_s``."""
        digest = hashlib.sha256(
            json.dumps([kind, key, self.src], sort_keys=True).encode()
        ).hexdigest()[:20]
        path = os.path.join(STATE, "cache", f"{kind}-{digest}")
        if self.traced:
            path = os.path.join(self.work, f"build-{kind}")
        elif os.path.isfile(os.path.join(path, "_complete")):
            os.utime(path)
            return path
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with self.tracer.span(f"prep:{kind}") as s:
            build(tmp)
        self.prep[kind] = s.wall
        open(os.path.join(tmp, "_complete"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        if not self.traced:
            _evict(os.path.join(STATE, "cache"), keep=16)
        return path


def _evict(cache: str, keep: int) -> None:
    entries = sorted(
        (os.path.join(cache, n) for n in os.listdir(cache)), key=os.path.getmtime, reverse=True
    )
    for p in entries[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def setup_env() -> None:
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def environment(bench) -> dict:
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(p):
                with open(p) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
        "pyspark": pyspark.__version__,
        "seed": bench.seed,
        "git_commit": commit,
        "source_hash": bench.src,
    }


def start_session(bench) -> None:
    from openalex_collaboration_crawler_spark.session import get_spark

    with bench.tracer.span("setup:session_start"):
        bench.spark = get_spark(app_name="crawlbench")
    bench.tracer.sc = bench.spark.sparkContext
    with bench.tracer.span("setup:warmup"):
        bench.spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
            "overwrite"
        ).save()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def setup_s(bench) -> float:
    """Median wall of each distinct set-up step, summed."""
    walls: dict[str, list[float]] = {}
    for s in bench.tracer.spans:
        if s.name.startswith("setup:"):
            walls.setdefault(s.name, []).append(s.wall)
    return sum(statistics.median(v) for v in walls.values())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl_bulk", "crawl_deep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "openalex_collaboration_crawler_spark")):
        print(f"crawlbench: no package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    setup_env()
    sys.path.insert(0, HERE)
    import crawl
    import metrics
    import workloads
    from spans import Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    bench = Bench(args, tracer)
    os.makedirs(bench.work, exist_ok=True)
    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    record = {"workload": args.workload, "trace": args.trace, "size": args.size, "seconds": args.seconds}
    try:
        start_session(bench)
        record["env"] = environment(bench)
        sizes = SIZES[args.size]
        out = getattr(crawl, args.workload)(bench, sizes[args.workload])
        values = {
            "setup_s": setup_s(bench),
            "items_per_s": out["items_per_s"],
            "step_p50_s": out["step_p50_s"],
        }
        record["e2e"] = values
        if args.trace:
            values = workloads.layers(bench, sizes, out)
        result = metrics.result_line(args.trace, values, bench.attempted, len(bench.failures))
        record.update(
            result=result,
            prep_s=bench.prep,
            extra=out.get("record", {}),
            checks=bench.checks,
            failures=bench.failures,
            spans=[s.as_dict() for s in tracer.spans],
        )
    except Exception:  # noqa: BLE001 - report the failure, print no result
        traceback.print_exc()
        return 1
    finally:
        if bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(bench.work, ignore_errors=True)
        watchdog.cancel()
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for fl in bench.failures:
        print(f"check failed: {fl['check']}: {fl['detail']}", file=sys.stderr)
    print(json.dumps(record["env"]))
    print(json.dumps(result))
    return 0


def _abort() -> None:
    """Deadline watchdog: kill the JVM and leave without a result."""
    print(f"crawlbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
    finally:
        os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
