"""``partitioning.local_table`` — the one path from driver-side rows to a
DataFrame — and the degenerate inputs it makes safe."""

import uuid

from audience_manager_platform_spark.operators import similarity as S
from audience_manager_platform_spark.operators.partitioning import local_table


def test_local_table_is_jobless_exact_and_typed_when_empty(spark):
    rows = [
        (1, float("nan"), "it's", [1.0, float("inf"), -0.0]),
        (2, float("inf"), "back\\slash", [float("-inf"), None]),
        (3, float("-inf"), "ünïcødé ✓", None),
        (4, None, None, []),
    ]
    schema = "id bigint, x double, s string, a array<double>"
    sc = spark.sparkContext
    group = f"local-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local_table build + collect")
    try:
        got = local_table(spark, rows, schema).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # repr distinguishes nan/inf/-0.0/None, so equal reprs is bit-exact
    assert repr([tuple(r) for r in got]) == repr(rows)

    empty = local_table(spark, [], schema)
    assert empty.schema.simpleString() == (
        "struct<id:bigint,x:double,s:string,a:array<double>>"
    )
    assert empty.collect() == []


def test_graph_beam_topk_on_a_one_row_corpus_is_typed_empty(spark):
    # superstep 2 has no (query, node) pairs left: the search must return
    # a typed empty result, not fail on an empty literal table
    emb = spark.createDataFrame(
        [(1, [0.5] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    out = S.graph_beam_topk(emb, [1], k=2)
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,neighbor_id:bigint,csim:double,rank:int>"
    )
    assert out.collect() == []
