"""tools/plan_audit.py marker extraction on explain strings."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from plan_audit import audit_plan  # noqa: E402

#: a parquet scan line of the simple explain whose PartitionFilters list
#: Spark abbreviated (the sim_ivfpq_serve_batch scan at sf0.01)
TRUNCATED = (
    "+- FileScan parquet [vec_id#12L,embedding#13,cell#14] Batched: true, "
    "DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)"
    "[file:/data/ivf], PartitionFilters: [cell#14 IN (1,2,3,4,5,6,7,8), "
    "isnotnull(cell#14), dynamicpruningexpression(cell#14 IN dyna..., "
    "PushedFilters: [], ReadSchema: struct<vec_id:bigint,embedding:array<float>>"
)


def test_truncated_partition_filters_stop_at_ellipsis():
    a = audit_plan(TRUNCATED)
    assert a["partition_filters"] == [
        "cell IN (1,2,3,4,5,6,7,8), isnotnull(cell), "
        "dynamicpruningexpression(cell IN dyna..."
    ]
    assert a["pushed"] == []


def test_closed_filter_lists_unchanged():
    a = audit_plan(
        "FileScan parquet [a#1] PartitionFilters: [isnotnull(p#2), (p#2 = 3)], "
        "PushedFilters: [IsNotNull(a), GreaterThan(a,1)], ReadSchema: struct<a:int>"
    )
    assert a["partition_filters"] == ["isnotnull(p), (p = 3)"]
    assert a["pushed"] == ["IsNotNull(a), GreaterThan(a,1)"]
