"""Star-schema and event queries from ``registry.QUERIES``, the last
part of the ``curation_star`` unit.

The part runs every query below once, in an order the seed sets: scans,
joins, aggregates and broadcast/AQE choices, with no Python UDF and no
store. Every query's result is checked against its ``ORACLE_SQL`` twin
run in DuckDB over the same parquet files.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from contextlib import contextmanager

from perfbench import gen
from perfbench.harness import Run, median

SF = 0.01
# a six-way join with broadcasts, semi/anti joins; a window, a cohort
# aggregate
RELATIONAL = ("q5_local_supplier", "q21_sole_blame_supplier")
EVENTS = ("sessions", "cohort_retention")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")


def layer_of(query: str) -> str:
    return f"relational.{query}" if query in RELATIONAL else f"events.{query}"


def prepare(run: Run) -> dict[str, float]:
    from automated_review_analysis_pipeline_spark.sources.tables import (
        load_table,
    )

    run.tables_dir = os.path.join(run.work, "tables")
    t0 = time.perf_counter()
    gen.write_star_tables(run.tables_dir, run.seed, SF)
    t1 = time.perf_counter()
    load_table(run.spark, run.tables_dir, "events").count()
    t2 = time.perf_counter()
    return {"setup.generate_inputs.wall_s": t1 - t0,
            "setup.warmup.wall_s": t2 - t1}


def result_digest(rows, columns) -> tuple[int, str]:
    """(row count, order-insensitive hash) over rows normalized the way
    the repo's oracle-parity tests compare them: columns sorted by name,
    floats at 6 decimals."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    norm = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.6f}")
            elif isinstance(v, bool):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        norm.append("\x1f".join(vals))
    h = hashlib.sha256("\x1e".join(sorted(norm)).encode()).hexdigest()
    return len(norm), h


def check_oracle(run: Run, results: dict) -> None:
    """Each query's collected result against its DuckDB oracle."""
    import duckdb

    from automated_review_analysis_pipeline_spark.registry import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(run.tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for q, got in results.items():
            res = con.execute(ORACLE_SQL[q])
            want = result_digest(res.fetchall(),
                                 [c[0] for c in res.description])
            run.check(got == want and got[0] > 0,
                      f"{q}: spark {got[0]} rows vs oracle {want[0]} rows"
                      f"{'' if got[1] == want[1] else ', hashes differ'}")
    finally:
        con.close()


@contextmanager
def units(run: Run):
    """Yields the unit: one pass over the queries in a seeded order."""
    from automated_review_analysis_pipeline_spark.registry import QUERIES

    order = list(RELATIONAL + EVENTS)
    random.Random(run.seed).shuffle(order)

    def unit(i: int) -> None:
        """One pass over the queries. Results are small, so each is
        collected (inside the timing) and checked against the oracle
        after the pass instead of in a second pass."""
        results = {}
        with run.timed():
            for q in order:
                with run.tracer.span(layer_of(q)):
                    sdf = QUERIES[q](run.spark, run.tables_dir)
                    rows = sdf.collect()
                results[q] = ([tuple(r) for r in rows], sdf.columns)
        if i == 0:
            check_oracle(run, {q: result_digest(*v)
                               for q, v in results.items()})

    yield unit


TOTALS = ("driver_s", "jobs", "task_cpu_s", "shuffle_mb")


def record_totals(run: Run) -> None:
    """Per-layer sums over the layer's queries (from resolved spans)."""
    for layer, queries in (("relational", RELATIONAL), ("events", EVENTS)):
        for m in TOTALS:
            run.layer(f"{layer}.{m}", sum(
                median(run.layers.get(f"{layer}.{q}.{m}", [0.0]))
                for q in queries))


def layer_names() -> list[str]:
    names = [f"{layer_of(q)}.wall_s" for q in RELATIONAL + EVENTS]
    return names + [f"{layer}.{m}" for layer in ("relational", "events")
                    for m in TOTALS]
