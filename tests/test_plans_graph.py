"""Plan pins for the graph + lateral round-5 operators: no cartesian
products anywhere, and the LATERAL subquery is decorrelated into a
single join (never a per-row subquery loop).
"""
from __future__ import annotations

from engine.registry import load_all

from test_plans import final_plan

load_all()


def test_triangles_no_cartesian(spark, sf_dir):
    plan = final_plan(spark, "q_graph_triangles", sf_dir)
    assert "CartesianProduct" not in plan, plan
    # the scalar-combine crossJoins at the end are 1-row frames; the
    # only nested-loop joins allowed are broadcast ones
    assert "BroadcastNestedLoopJoin" in plan or "Cartesian" not in plan


def test_triangles_reads_persisted_edges(spark, sf_dir):
    # edges and oriented each feed several consumers; plan_persist
    # computes them once instead of once per consumer
    plan = final_plan(spark, "q_graph_triangles", sf_dir)
    assert "InMemoryRelation" in plan, plan


def test_lateral_decorrelates_to_one_join(spark, sf_dir):
    plan = final_plan(spark, "q_join_lateral", sf_dir)
    assert "CartesianProduct" not in plan, plan
    joins = (plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
             + plan.count("BroadcastHashJoin"))
    assert joins == 1, plan
