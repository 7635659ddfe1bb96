"""The benchmark's Spark-side pieces on a small corpus: both tiers
against the generator's expectations, and the post-clock plan walk."""

import pytest

from jqbench import corpus as C
from jqbench import harness as H
from jqbench.trace import walk_plan, worker_peak_rss_mb


@pytest.fixture(scope="module")
def spark():
    H._prepare_env()
    s = H._session()
    from hive_jq_udtf_spark import udtf

    udtf.register(s)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def dirty(spark):
    docs = C.make_docs(31, 1500, dirty=True)
    return docs, spark.read.parquet(H._write_corpus("test-dirty", docs, 2))


@pytest.mark.parametrize("prog", [H.NATIVE, H.DIRTY], ids=["native", "python"])
def test_tiers_match_expectations_on_dirty_corpus(dirty, prog):
    docs, df = dirty
    row = H.etl_query(df, prog).collect()[0]
    assert tuple(0 if v is None else v for v in row) == H.expected(prog, docs)


def test_adhoc_queries_match_expectations(spark):
    docs = C.make_docs(32, 600)
    table = spark.read.parquet(H._write_corpus("test-adhoc", docs, 2))
    table.createOrReplaceTempView("adhoc_docs")
    stream = C.QueryStream(32, docs)
    seen = set()
    for _ in range(40):
        q = stream.next()
        if (q.template, q.sql) in seen:
            continue
        seen.add((q.template, q.sql))
        row = H.adhoc_query(spark, table, q).collect()[0]
        assert tuple(0 if v is None else v for v in row) == q.expect, q.program


def test_metric_walk_starts_no_job(dirty, spark):
    docs, df = dirty
    sc = spark.sparkContext
    for prog in (H.NATIVE, H.DIRTY):
        q = H.etl_query(df, prog)
        q.collect()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        rec = walk_plan(q)
        assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
        assert rec["rows_out"] == H.expected(prog, docs)[0]
        if prog is H.NATIVE:
            assert rec["json_readers"] > 0 and rec["python_nodes"] == 0
        else:
            assert rec["python_nodes"] == 1 and rec["data_sent_mb"] > 0
    assert worker_peak_rss_mb(sc._gateway.proc.pid) > 0
