"""Plan-shape claims asserted on the EXECUTED final adaptive plan (AQE
decides reuse and broadcast conversion at run time, so a static
``explain()`` is not evidence)."""

from __future__ import annotations

from collections import Counter

import pytest

from lithops_dataframe_spark.plans import QUERIES
from tests.conftest import SF_T2

TPCH_QUERIES = sorted(n for n in QUERIES if n[0] == "q" and n[1:3].isdigit())

AGGREGATES = ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec")


def _children(p) -> list:
    """A node's children in the final plan, looking through the adaptive
    wrapper, query stages and reused exchanges."""
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [p.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    if cls == "ReusedExchangeExec":
        return [p.child()]
    out = []
    it = p.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _walk(root, stop=lambda p: False):
    """Yield every physical node under ``root`` (inclusive), not descending
    below nodes for which ``stop`` is true."""
    todo = [root]
    while todo:
        p = todo.pop()
        yield p
        if not stop(p):
            todo.extend(_children(p))


def _final_plan_nodes(df) -> Counter:
    """Node class names of the executed plan, wrappers and stages excluded
    (a reused exchange counts once, as ``ReusedExchangeExec``)."""
    out: Counter = Counter()
    root = df._jdf.queryExecution().executedPlan()
    for p in _walk(root, stop=lambda p: p.getClass().getSimpleName() == "ReusedExchangeExec"):
        cls = p.getClass().getSimpleName()
        if cls != "AdaptiveSparkPlanExec" and not cls.endswith("QueryStageExec"):
            out[cls] += 1
    return out


def _is_lineitem_scan(p) -> bool:
    return p.getClass().getSimpleName() == "FileSourceScanExec" and (
        "lineitem.parquet" in p.relation().location().rootPaths().mkString(",")
    )


def _broadcast_lineitem_scans(df) -> list[str]:
    """Broadcast build sides that reach a lineitem scan with no aggregate
    in between (an aggregate bounds the build by its key count)."""
    bad = []
    for b in _walk(df._jdf.queryExecution().executedPlan()):
        if b.getClass().getSimpleName() != "BroadcastExchangeExec":
            continue
        for p in _walk(b.child(), stop=lambda p: p.getClass().getSimpleName() in AGGREGATES):
            if _is_lineitem_scan(p):
                bad.append(b.toString())
    return bad


def test_tfidf_tokenizes_once_and_reuses_tf_exchange(spark):
    df = QUERIES["text_hashed_tfidf"](spark, SF_T2)
    assert df.collect()
    nodes = _final_plan_nodes(df)
    assert nodes["GenerateExec"] == 1, nodes
    assert nodes["ReusedExchangeExec"] >= 1, nodes


def test_tpch_query_list_is_complete():
    assert len(TPCH_QUERIES) == 22, TPCH_QUERIES


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_lineitem_is_never_an_unaggregated_broadcast_build_side(spark, name):
    """lineitem is the fact table: its size scales with SF, so it may reach
    a broadcast build side only through an aggregate."""
    df = QUERIES[name](spark, SF_T2)
    df.collect()
    assert _broadcast_lineitem_scans(df) == []
