"""The registry sample: batch analytics over the plans layer.

A seed-chosen sample of ``plans.QUERIES``, a fixed number of queries from
each plan module, runs over seeded input tables (``perfbench.tables``).
Every query is first checked against its DuckDB oracle with
``tests.oracle_harness.compare_query``, which also warms its plan; then
each query is timed as plan build (``fn(spark, sf_dir)``) plus execution
into Spark's ``noop`` sink. A query fails when it raises or does not
match.

Only queries with an oracle (``oracle`` or ``local_oracle``) are
sampled; every one of them matches its oracle on the seeded tables.
"""

from __future__ import annotations

import sys
import zlib

import numpy as np

from pyspark_data_engineering_assignment_spark.plans import QUERIES

from perfbench.stats import percentile

MODULES = ("registry", "text_queries", "vector_queries")
PER_MODULE = 3


def module_of(name: str) -> str:
    return QUERIES[name].fn.__module__.rsplit(".", 1)[1]


def pool() -> dict[str, list[str]]:
    """Plan module -> the names that may be sampled, sorted."""
    out = {m: [] for m in MODULES}
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        if spec.oracle or spec.local_oracle:
            out[module_of(name)].append(name)
    return out


def sample(seed: int, tag: str) -> list[str]:
    """``PER_MODULE`` queries of each plan module, in a seed-shuffled order."""
    rng = np.random.default_rng([seed, zlib.crc32(tag.encode()), 2])
    names = [n for names in pool().values() for n in rng.choice(names, PER_MODULE, replace=False)]
    return [str(n) for n in rng.permutation(names)]


def _fail(failed: set, name: str, msg: str) -> None:
    failed.add(name)
    print(f"FAIL query {name}: {msg[:300]}", file=sys.stderr)


def run(spark, sf_dir: str, names: list[str], tracer) -> set[str]:
    """Check, then time ``names``; return the failed ones. The oracle
    comparison runs each query once before the timed pass, which records
    ``plans.build`` and ``plans.exec`` spans."""
    from tests.oracle_harness import compare_query, duckdb_connection

    failed = set()
    con = duckdb_connection(sf_dir)
    for name in names:
        spec = QUERIES[name]
        try:
            ok, msg = compare_query(spark, con, spec.fn, spec.oracle or spec.local_oracle, sf_dir)
        except Exception as e:  # a failing query is counted, not fatal
            ok, msg = False, str(e)
        if not ok:
            _fail(failed, name, msg)
    for name in names:
        if name in failed:
            continue
        module = module_of(name)
        try:
            with tracer.span("plans.build", query=name, module=module):
                df = QUERIES[name].fn(spark, sf_dir)
            with tracer.span("plans.exec", query=name, module=module):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            _fail(failed, name, str(e))
    return failed


def metrics(spans: list[dict]) -> dict[str, tuple[float, str]]:
    """Build and execution time per plan module, their total and the
    median query time, from the timed pass's spans."""
    took = lambda s: s["end"] - s["start"]  # noqa: E731
    per_query = {}
    for s in spans:
        if s["name"] in ("plans.build", "plans.exec"):
            per_query[s["query"]] = per_query.get(s["query"], 0.0) + took(s)
    m = {
        "plans.queries_total_s": (sum(per_query.values()), "s"),
        "plans.query_p50_s": (percentile(per_query.values(), 0.5), "s"),
    }
    for kind in ("build", "exec"):
        for module in MODULES:
            m[f"plans.{kind}_s.{module}"] = (
                sum(took(s) for s in spans if s["name"] == f"plans.{kind}" and s["module"] == module),
                "s",
            )
    return m

