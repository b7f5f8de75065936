"""Physical-plan hygiene: small sides broadcast, relational paths stay
in WholeStageCodegen ('.explain and iterate', pinned as tests)."""

from high_performance_docling_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_relational_paths_stay_jvm_side(spark):
    # (AQE prints WholeStageCodegen only in final plans, so assert the
    # codegen-eligible shape instead: vectorized scans, no Python eval)
    for name in ("token_count",):
        p = plan(spark, name)
        assert "Batched: true" in p, name
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


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


def test_perplexity_score_broadcasts_model_no_python(spark):
    # the LM joins must be broadcast hash equi-joins on (w1[, w2]); the
    # only nested-loop is the documented 1-row vocab-size cross join
    p = plan(spark, "perplexity_score")
    assert p.count("BroadcastHashJoin") >= 2
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row vsz scalar
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_url_domain_stats_pure_projection_single_agg(spark):
    # URL synthesis + parsing stay codegen'd projections; the rollup is
    # one hash aggregation on the domain key (partial + final)
    p = plan(spark, "url_domain_stats")
    assert "HashAggregate" in p
    assert "Join" not in p  # no join anywhere: projection + agg only
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_url_domain_psl_zero_corpus_shuffle(spark):
    # one broadcast left join per rule length, argmax as projection; the
    # ONLY exchange is the final rollup's hash aggregation
    p = plan(spark, "url_domain_psl")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    import re
    ex = [m for m in re.finditer(r"Exchange hashpartitioning\(([a-z_0-9#, ]+)\)",
                                 p)]
    assert all(m.group(1).startswith(("host", "url_host")) for m in ex), [
        m.group(0) for m in ex]


def test_domain_balanced_sample_plan(spark):
    # PSL broadcast joins + broadcast frequency join + top-k heap; the
    # only keyed exchange is the domain-frequency aggregation
    p = plan(spark, "domain_balanced_sample")
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
