"""Parsing of the status-store strings the traced run reads."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import parse_sql_metric, plan_shape  # noqa: E402

ADAPTIVE_PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) HashAggregate(keys=[k#1], functions=[sum(v#2)])
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 1
            +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=20]
               +- *(2) BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false
                  :- *(2) ColumnarToRow
                  :  +- FileScan parquet [k#1,v#2] Batched: true
                  +- BroadcastQueryStage 0
                     +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false)
                        +- MapInPandas f(k#3), [k#3]
                           +- Window [row_number() windowspecdefinition(k#3)]
                              +- Scan ExistingRDD[k#3]
+- == Initial Plan ==
   HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]
      +- FileScan parquet [k#1,v#2] Batched: true
"""


def test_plan_shape_counts_the_final_plan_without_stage_wrappers():
    assert plan_shape(ADAPTIVE_PLAN) == {
        "plan.nodes": 9,
        "plan.exchanges": 1,
        "plan.broadcast_exchanges": 1,
        "plan.windows": 1,
        "plan.scans": 2,
        "plan.python_nodes": 1,
    }


@pytest.mark.parametrize("text, value", [
    ("total (min, med, max (stageId: taskId))\n8.2 s (2.0 s, 2.1 s, 2.1 s (stage 9.0: task 15))", 8.2),
    ("total (min, med, max (stageId: taskId))\n554 ms (100 ms, 150 ms, 200 ms (stage 1.0: task 2))", 0.554),
    ("total (min, med, max (stageId: taskId))\n63.6 KiB (15.9 KiB, 15.9 KiB, 15.9 KiB (stage 9.0: task 14))", 63.6 * 1024),
    ("0 ms", 0.0),
    ("1,500", 1500.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)
