"""Physical-plan hygiene: each Python-side entry is one narrow
mapInPandas pass with no hash shuffle ('.explain and iterate', pinned
as tests)."""

from high_performance_docling_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_extract_html_spans_one_python_stage_no_shuffle(spark):
    # payload → spans is ONE narrow mapInPandas pass; the only exchange
    # is the final presentation sort (range partitioning), never a hash
    # shuffle of the corpus
    p = plan(spark, "extract_html_spans")
    assert p.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in p


def test_latexize_is_one_python_stage_no_shuffle(spark):
    # formula build is JVM-side; the enrichment harness is ONE narrow
    # mapInPandas pass; only the presentation sort exchanges
    p = plan(spark, "latexize_formulas")
    assert p.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in p
