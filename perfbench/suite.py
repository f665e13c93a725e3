"""The suite pass: registered bench queries of the layers no workload
loop reaches (relational, events, windows, text_ops, curation), on a
seeded star schema plus events table.

It runs once, in the traced ``build`` run only, after the timed loop and
outside every ``op.*`` span, so it moves no end-to-end metric and no
``spark.*`` total. Each query is one span with a build-DataFrame and a
collect child, and is checked against its DuckDB oracle twin with the
comparison ``tools/check_oracle.py`` uses. A query that raises or
disagrees counts as a failed operation of the run.
"""

from __future__ import annotations

import os

from perfbench.inputs import write_star_schema

# query -> the module (layer) that registers it
SUITE = {
    "pricing_summary": "relational",
    "revenue_topk_orders": "relational",
    "regional_revenue": "relational",
    "events_tumbling_hour": "events",
    "events_sessions": "events",
    "asof_purchase_click": "events",
    "rank_orders_per_customer": "windows",
    "doc_token_stats": "text_ops",
    "benchmark_contamination": "curation",
}


def run_pass(run, docs) -> None:
    """Generate the tables from the run's seed, then run every suite
    query once, in a seeded order, and compare it with its oracle."""
    import duckdb
    import numpy as np

    from cloudvectordb_spark.registry import all_queries
    from tools.check_oracle import compare

    sf_dir = os.path.join(run.work, "star")
    tables = write_star_schema(run.seed, sf_dir, docs)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    specs = all_queries()
    order = list(SUITE)
    np.random.default_rng([run.seed, 11]).shuffle(order)
    tr = run.tracer
    with tr.span("suite.pass"):
        for name in order:
            spec = specs[name]
            run.attempted += 1
            try:
                with tr.span(f"suite.{name}"):
                    with tr.span(f"suite.{name}.build_df"):
                        df = spec.fn(run.spark, sf_dir)
                    with tr.span(f"suite.{name}.collect"):
                        got = df.toPandas()
                problems = compare(name, got, con.execute(spec.oracle).df())
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                problems = [f"{type(exc).__name__}: {exc}"[:300]]
            if problems:
                run.failed += 1
                run.problems.extend(f"suite {name}: {p}" for p in problems[:3])
    con.close()


def layers(tracer, ev) -> dict:
    """Per query: wall seconds and jobs started; plus the pass totals."""
    spans = {s.name: s for s in tracer.spans if s.name.startswith("suite.")}
    out = {}
    for name in SUITE:
        s = spans.get(f"suite.{name}")
        out[f"suite.{name}_s"] = s.duration if s else 0.0
        out[f"suite.{name}_jobs"] = ev.totals(s.job_ids())["jobs"] if s else 0
    whole = spans.get("suite.pass")
    out["suite.pass_s"] = whole.duration if whole else 0.0
    out["suite.jobs"] = ev.totals(whole.job_ids())["jobs"] if whole else 0
    return out
