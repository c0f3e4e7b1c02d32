"""Workload ``headline_queries``: read-only analytics over generated tables.

Runs ``QUERIES``, a subset of the registry's headliners, on tables that
``tables.py`` writes from the seed at sf0.01 row counts. Each query is built
by its registry function and forced with a ``noop`` sink, as ``bench.py``
does. A run is one cold pass in registry order, ``WARMUP_PASSES`` untimed
passes, then ``MEASURED_PASSES`` passes, each in an order the seed shuffles.

The subset is the code the open winnow and connected-components items
change, ``co_active_user_pairs`` (an open claim, and the only one of the
four on ``events``), and ``pricing_summary`` as the relational baseline. It
is sized so a run fits the benchmark's time budget; all 28 headliners pass
their oracle on the generated tables, so the list can grow on a faster
host.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import spans as sp_trace  # noqa: E402
import tables  # noqa: E402

QUERIES = (
    "pricing_summary",
    "near_dup_clusters",
    "winnow_guaranteed_pairs",
    "co_active_user_pairs",
)
WARMUP_PASSES = 2
MEASURED_PASSES = 3
ORACLE_CHECKS = 2  # queries per run whose result is hash-checked
DATA = os.path.join(harness.WORK, "tables")


def _registry():
    return __import__(f"{harness.PACKAGE}.plans.registry", fromlist=["_"])


def prepare(seed: int) -> dict:
    shutil.rmtree(DATA, ignore_errors=True)
    tables.write_tables(DATA, seed)
    rng = random.Random(seed)
    passes = [list(QUERIES)]
    for _ in range(WARMUP_PASSES + MEASURED_PASSES):
        order = list(QUERIES)
        rng.shuffle(order)
        passes.append(order)
    return {"passes": passes, "checked": sorted(rng.sample(QUERIES, ORACLE_CHECKS))}


def run(spark, tracer, prepared: dict) -> dict:
    heads = _registry().headline_queries()
    ops = []
    for pos, order in enumerate(prepared["passes"]):
        kind = ("cold" if pos == 0 else
                "warmup" if pos <= WARMUP_PASSES else "measured")
        queries = {}
        # one root span per pass: counters are read after the pass, not
        # between its queries
        cpu0 = harness.tree_cpu_s()
        with tracer.span("pass") as pass_span:
            t_pass = time.perf_counter()
            for name in order:
                with tracer.span(f"q.{name}") as root:
                    t0 = time.perf_counter()
                    with tracer.span(f"q.{name}.build"):
                        df = heads[name](spark, DATA)
                    with tracer.span(f"q.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    queries[name] = {
                        "s": time.perf_counter() - t0,
                        "span": root["id"] if root else None,
                    }
            dur = time.perf_counter() - t_pass
        cpu = harness.tree_cpu_s() - cpu0
        ops.append({
            "pos": pos, "kind": kind, "s": dur, "cpu_s": cpu, "queries": queries,
            "span": pass_span["id"] if pass_span else None,
        })
    return {"ops": ops, "attempted": sum(len(op["queries"]) for op in ops)}


def install_spans(tracer) -> None:
    """Nothing to wrap: ``run`` puts the spans around each registry call and
    its action itself."""


def check(spark, prepared: dict, result: dict, plant: bool = False) -> list[list[str]]:
    """Problems per checked query: the seeded share of queries is
    hash-compared with its DuckDB oracle, the way
    ``tools/check_correctness.py`` does."""
    import duckdb

    sys.path.insert(0, os.path.join(harness.ROOT, "tools"))
    from check_correctness import TABLES, table_digest

    spec = _registry().QUERIES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    problems = []
    for name in prepared["checked"]:
        df = spec[name].fn(spark, DATA)
        rows = [tuple(r) for r in df.collect()]
        if plant:
            rows = rows[:-1]
        rel = con.sql(spec[name].oracle)
        got = table_digest(df.columns, rows)
        want = table_digest(rel.columns, rel.fetchall())
        problems.append(
            [f"{name}: spark {got} != oracle {want}"]
            if sorted(df.columns) != sorted(rel.columns) or got != want else []
        )
    con.close()
    return problems


def end_to_end(result: dict) -> dict:
    measured = [op for op in result["ops"] if op["kind"] == "measured"]
    lat = [q["s"] for op in measured for q in op["queries"].values()]
    return {
        "cold_op_s": result["ops"][0]["s"],
        "warm_op_p50_s": harness.median([op["s"] for op in measured]),
        "warm_geomean_s": harness.geomean(lat),
        "cold_op_cpu_s": result["ops"][0]["cpu_s"],
        "warm_op_cpu_s": harness.median([op["cpu_s"] for op in measured]),
    }


def per_layer(result: dict, spans: list[dict], cores: int) -> dict:
    by_id = {s["id"]: s for s in spans}
    measured = [op for op in result["ops"] if op["kind"] == "measured"]
    out = {}
    for name in QUERIES:
        roots = [by_id[op["queries"][name]["span"]] for op in measured]
        for part in ("build", "exec"):
            out[f"q.{name}.{part}_s"] = harness.median(
                [sp_trace.within(spans, r, f"q.{name}.{part}")[0]["dur"] for r in roots]
            )
        out[f"q.{name}.jobs"] = harness.median(
            [sp_trace.inclusive(spans, r, "jobs") for r in roots]
        )
    per_pass = []
    for op in measured:
        root = by_id[op["span"]]
        builds = [s for q in op["queries"].values()
                  for s in sp_trace.children(spans, by_id[q["span"]])
                  if s["name"].endswith(".build")]
        row = {"queries.build_jobs": sum(s["jobs"] for s in builds)}
        for key in ("jobs", "stages", "tasks", "shuffle_bytes"):
            row[f"spark.{key}"] = sp_trace.inclusive(spans, root, key)
        row["spark.core_busy_share"] = (
            sp_trace.inclusive(spans, root, "run_s") / (op["s"] * cores)
        )
        per_pass.append(row)
    for key in per_pass[0]:
        out[key] = harness.median([p[key] for p in per_pass])
    return out
