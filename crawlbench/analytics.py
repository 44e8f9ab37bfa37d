"""The query-layer probe: the reference pipeline's queries over seeded tables.

Each query is built by ``__spark_entry__.queries()`` and written to the
noop sink in its own span, in an order the seed permutes. The output
check runs each query once more through ``toPandas`` and compares it with
its DuckDB ``oracle_sql()`` twin, using ``tools/check_correctness.py``'s
``compare`` (rows, columns, dtypes and order-insensitive values).
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys

from metrics import QUERIES
from spans import Tracer, held_blocks, plan_shape, planning_ms

def probe(bench, sf: float) -> dict:
    """Seeded tables at ``sf``, one traced pass, then the oracle check."""
    from tables import write_tables

    data = os.path.join(bench.work, "tables")
    write_tables(data, bench.seed, sf)
    order = list(QUERIES)
    random.Random(bench.seed).shuffle(order)
    out = run_pass(bench.spark, bench.tracer, data, order)
    bench.attempted += len(order)
    for name, err in check(bench.spark, bench.root, data, order):
        bench.expect(name, err is None, err)
    return out


def _load_compare(root: str):
    """``compare`` from tools/check_correctness.py. That module puts its own
    checkout path on ``sys.path`` at import; the path list is restored."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(root, "tools", "check_correctness.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.compare


def run_pass(spark, tracer: Tracer, data_dir: str, order: list[str]) -> dict:
    """One pass over the queries, each written to the noop sink in its own
    span. The plan numbers come from planning each query once more, outside
    its span."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in order:
        df = qs[name](spark, data_dir)
        rec = {"plan_ms": planning_ms(df), **plan_shape(df)}
        with tracer.span(f"query:{name}") as s:
            df.write.format("noop").mode("overwrite").save()
        rec.update(s=s.wall, span=s.sid, held_blocks=held_blocks(spark))
        out[name] = rec
    return out


def check(spark, root: str, data_dir: str, order: list[str]) -> list[tuple[str, str | None]]:
    """(check name, error or None) per query: Spark result vs DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    compare = _load_compare(root)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for f in os.listdir(data_dir):
            con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data_dir}/{f}'")
        results = []
        for name in order:
            try:
                errs = compare(name, qs[name](spark, data_dir).toPandas(), con.sql(oracles[name]).df())
                results.append((f"oracle:{name}", "; ".join(errs) or None))
            except Exception as e:  # noqa: BLE001 - a raising query is a failed check
                results.append((f"oracle:{name}", f"{type(e).__name__}: {e}"))
        return results
    finally:
        con.close()
