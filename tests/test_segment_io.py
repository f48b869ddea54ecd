"""Job counts of the refresh path: a segment refresh is one write job with
no metadata jobs around it. Table scans reuse a memoized parquet schema,
``execute_rule`` counts rows on the write itself and ``read_segment``
scans with the schema the catalog recorded."""

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from audience_manager_platform_spark.catalog import CATALOG_VERSION, Catalog
from audience_manager_platform_spark.engine import AudienceEngine
from audience_manager_platform_spark.sources import (
    load_table,
    unified_transactions_from_events,
)

AMT = {"field": "transaction_amount", "operator": ">", "value": "120"}
TIER = {"field": "city_tier", "operator": "=", "value": "1"}
NONE = {"field": "total_spend", "operator": ">", "value": 10**12}


def jobs_run(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def engine(spark, sf_dir, tmp_path):
    catalog = Catalog(str(tmp_path / "cat"))
    return AudienceEngine(
        spark,
        catalog,
        lambda: unified_transactions_from_events(load_table(spark, sf_dir, "events")),
    )


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def test_load_table_memo_hit_runs_no_job(spark, tmp_path):
    _write(tmp_path / "people.parquet", {"id": [1, 2, 3], "name": ["a", "b", "c"]})
    first, n_first = jobs_run(spark, lambda: load_table(spark, str(tmp_path), "people"))
    assert n_first == 1  # the schema-inference job
    again, n_again = jobs_run(spark, lambda: load_table(spark, str(tmp_path), "people"))
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_load_table_sees_rewritten_file(spark, tmp_path):
    path = tmp_path / "people.parquet"
    _write(path, {"id": [1, 2], "name": ["a", "b"]})
    assert load_table(spark, str(tmp_path), "people").columns == ["id", "name"]
    load_table(spark, str(tmp_path), "people")  # memo hit
    _write(path, {"id": [1, 2], "name": ["a", "b"], "city": ["x", "y"]})
    df = load_table(spark, str(tmp_path), "people")
    assert df.columns == ["id", "name", "city"]
    assert sorted(r.city for r in df.collect()) == ["x", "y"]


def test_execute_rule_count_matches_written_rows(engine):
    base = engine.create_rule("amt", [AMT])
    empty = engine.create_rule("none", [NONE])
    tier = engine.create_rule("tier", [TIER])
    both = engine.create_rule("amt_and_tier", [AMT, TIER])
    assert both.depends_on  # a compound refresh reads its parents
    # adaptive execution may replace a join with an empty parent by an
    # empty relation; the observed count must still arrive
    on_empty = engine.create_rule("amt_and_none", [AMT, NONE])
    assert on_empty.depends_on == [base.rule_id, empty.rule_id]
    union = engine.create_compound_rule("amt_or_none", [base.rule_id, empty.rule_id], "UNION")
    counts = engine.execute_all()
    assert counts[empty.rule_id] == counts[on_empty.rule_id] == 0
    assert counts[union.rule_id] == counts[base.rule_id] > 0
    for rule in (base, empty, tier, both, on_empty, union):
        assert counts[rule.rule_id] == engine.read_segment(rule.rule_id).count()
        assert engine.catalog.get_segment(rule.rule_id).row_count == counts[rule.rule_id]


def test_refresh_and_read_run_no_metadata_jobs(engine, spark):
    base = engine.create_rule("amt", [AMT])
    engine.execute_rule(base.rule_id)  # the events schema is memoized from here on
    _, n_base = jobs_run(spark, lambda: engine.execute_rule(base.rule_id))
    tier = engine.create_rule("tier", [TIER])
    engine.execute_rule(tier.rule_id)
    both = engine.create_rule("amt_and_tier", [AMT, TIER])
    _, n_both = jobs_run(spark, lambda: engine.execute_rule(both.rule_id))
    # a write job, plus one per adaptive shuffle stage: never more than
    # the plan's stages, and no inference or count job around them
    assert 1 <= n_base <= 2 and 1 <= n_both <= 3
    seg, n_read = jobs_run(spark, lambda: engine.read_segment(both.rule_id))
    assert n_read == 0
    assert seg.schema == spark.read.parquet(engine.catalog.segment_path(both.rule_id)).schema


def test_v2_catalog_without_schema_reads_through_inference(engine, spark):
    rule = engine.create_rule("amt", [AMT])
    n = engine.execute_rule(rule.rule_id)
    path = os.path.join(engine.catalog.base_dir, "catalog.json")
    doc = json.loads(open(path).read())
    assert doc["segments"][str(rule.rule_id)]["schema"] is not None
    doc["version"] = 2
    for seg in doc["segments"].values():
        del seg["schema"]
    with open(path, "w") as f:
        json.dump(doc, f)

    reopened = AudienceEngine(spark, Catalog(engine.catalog.base_dir), engine._transactions)
    assert json.loads(open(path).read())["version"] == CATALOG_VERSION
    assert reopened.catalog.get_segment(rule.rule_id).schema is None
    seg, n_read = jobs_run(spark, lambda: reopened.read_segment(rule.rule_id))
    assert n_read == 1  # no recorded schema: inferred from the footers
    assert seg.count() == n
    assert seg.columns == ["user_id", "total_transactions", "total_spent", "transaction_types"]


def test_sample_data_of_unmaterialized_rule_is_empty_with_note(engine):
    pytest.importorskip("flask")
    from audience_manager_platform_spark.api import create_app

    rule = engine.create_rule("amt", [AMT])
    client = create_app(engine).test_client()
    body = client.get(f"/api/v1/segments/{rule.rule_id}/sample_data").json
    assert body["status"] == "success"
    assert body["data"]["sample_data"] == []
    assert body["data"]["note"]


def test_sample_segment_of_unmaterialized_rule_raises_without_a_job(engine, spark):
    rule = engine.create_rule("amt", [AMT])

    def sample():
        with pytest.raises(FileNotFoundError, match="not materialized"):
            engine.sample_segment(rule.rule_id)

    assert jobs_run(spark, sample)[1] == 0


def test_sample_data_answers_500_on_any_other_failure(engine, monkeypatch):
    pytest.importorskip("flask")
    from audience_manager_platform_spark.api import create_app

    rule = engine.create_rule("amt", [AMT])
    engine.execute_rule(rule.rule_id)

    def broken(rule_id, n=10):
        raise RuntimeError("scan failed")

    monkeypatch.setattr(engine, "sample_segment", broken)
    reply = create_app(engine).test_client().get(f"/api/v1/segments/{rule.rule_id}/sample_data")
    assert reply.status_code == 500
    assert reply.json == {"status": "error", "message": "scan failed"}
