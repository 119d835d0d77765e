"""Plan-shape claims asserted on the EXECUTED final adaptive plan (AQE
decides reuse at run time, so a static ``explain()`` is not evidence)."""

from __future__ import annotations

from collections import Counter

from lithops_dataframe_spark.plans import QUERIES
from tests.conftest import SF_T2


def _final_plan_nodes(df) -> Counter:
    """Node class names of the executed plan, descending through the
    adaptive wrapper and every query stage."""
    out: Counter = Counter()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        out[cls] += 1
        it = p.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def test_tfidf_tokenizes_once_and_reuses_tf_exchange(spark):
    df = QUERIES["text_hashed_tfidf"](spark, SF_T2)
    assert df.collect()
    nodes = _final_plan_nodes(df)
    assert nodes["GenerateExec"] == 1, nodes
    assert nodes["ReusedExchangeExec"] >= 1, nodes
