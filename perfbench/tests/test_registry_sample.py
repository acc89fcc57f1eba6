from collections import Counter

from perfbench import registry, tables
from pyspark_data_engineering_assignment_spark.plans import QUERIES
from pyspark_data_engineering_assignment_spark.sources.tables import TABLES


def test_sample_is_seeded_and_covers_every_plan_module():
    a = registry.sample(1, "w")
    assert a == registry.sample(1, "w")
    assert a != registry.sample(2, "w") and a != registry.sample(1, "v")
    assert len(set(a)) == len(a)
    assert Counter(map(registry.module_of, a)) == {m: registry.PER_MODULE for m in registry.MODULES}
    for name in a:
        spec = QUERIES[name]
        assert spec.oracle or spec.local_oracle


def test_metrics_per_module():
    spans = [
        {"name": "plans.build", "query": "q1", "module": "registry", "start": 0.0, "end": 1.0},
        {"name": "plans.exec", "query": "q1", "module": "registry", "start": 1.0, "end": 3.0},
        {"name": "plans.build", "query": "q2", "module": "text_queries", "start": 3.0, "end": 3.5},
        {"name": "plans.exec", "query": "q2", "module": "text_queries", "start": 3.5, "end": 4.0},
        {"name": "sink.write", "start": 0.0, "end": 9.0},
    ]
    m = {k: v for k, (v, _) in registry.metrics(spans).items()}
    assert m["plans.queries_total_s"] == 4.0
    assert m["plans.query_p50_s"] == 1.0  # nearest rank of (1.0, 3.0)
    assert m["plans.build_s.registry"] == 1.0 and m["plans.exec_s.registry"] == 2.0
    assert m["plans.build_s.text_queries"] == 0.5 and m["plans.exec_s.vector_queries"] == 0.0


def test_tables_are_seeded_and_match_the_engine_table_set():
    a, b, c = tables.tables(5), tables.tables(5), tables.tables(6)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"]) and not a["documents"].equals(c["documents"])
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
