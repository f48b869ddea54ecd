"""Spark jobs per REST analytics read. A dashboard's request costs a fixed
45-95 ms per warm job, so each route's job count is pinned here: every
route runs once to warm up, then once inside its own job group, and the
group's jobs are counted through ``statusTracker``. Also the degenerate
inputs of the pagination step and of ``daily_totals``' day spine."""

import threading

import pytest

flask = pytest.importorskip("flask")

from audience_manager_platform_spark.api import create_app
from audience_manager_platform_spark.catalog import Catalog
from audience_manager_platform_spark.engine import AudienceEngine
from audience_manager_platform_spark.operators import analytics as A
from audience_manager_platform_spark.sources import (
    load_table,
    unified_transactions_from_events,
)
from audience_manager_platform_spark.sources.transactions import (
    transactions_with_id,
)

AMT = {"field": "transaction_amount", "operator": ">", "value": "120"}

# route -> (url, most jobs one warm request may run)
ROUTES = {
    "category": ("/api/v1/analytics/category-totals?start_date=2024-01-03&end_date=2024-01-20", 2),
    "daily": ("/api/v1/analytics/daily-totals?days=14", 3),
    "summary": ("/api/v1/analytics/summary", 3),
    "users": ("/api/v1/analytics/users?page=2&min_amount=50", 2),
    "users_days": ("/api/v1/analytics/users?page=1&transaction_type=UPI&days=14", 4),
    "listing": ("/api/v1/transactions/upi?page=2&per_page=5", 2),
}


@pytest.fixture(scope="module")
def served(spark, sf_dir, tmp_path_factory):
    events = load_table(spark, sf_dir, "events")
    txns = unified_transactions_from_events(events)
    engine = AudienceEngine(
        spark, Catalog(str(tmp_path_factory.mktemp("cat"))), lambda: txns
    )
    rule = engine.create_rule("amt", [AMT])
    engine.execute_rule(rule.rule_id)
    app = create_app(engine, transactions_detail=lambda: transactions_with_id(events))
    app.config["TESTING"] = True
    return app.test_client(), rule.rule_id, txns


def _jobs(spark, client, url: str, group: str) -> tuple[int, dict]:
    """Warm ``url`` once, then the number of Spark jobs one more request
    runs, and that request's reply."""
    sc = spark.sparkContext
    assert client.get(url).status_code == 200
    sc.setJobGroup(group, url)
    try:
        reply = client.get(url)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert reply.status_code == 200
    return len(sc.statusTracker().getJobIdsForGroup(group)), reply.json


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_route_job_count(spark, served, route):
    client, _, _ = served
    url, most = ROUTES[route]
    n, _ = _jobs(spark, client, url, f"api-jobs-{route}")
    assert 1 <= n <= most, f"{route}: {n} jobs, at most {most}"


def test_sample_route_runs_one_job(spark, served):
    client, rule_id, _ = served
    n, body = _jobs(spark, client, f"/api/v1/segments/{rule_id}/sample_data", "api-jobs-sample")
    assert body["data"]["sample_data"]
    assert n == 1


def test_users_page_total_is_the_prepagination_count(served):
    client, _, txns = served
    body = client.get("/api/v1/analytics/users?page=1&per_page=7&min_amount=50").json
    want = A.user_search(txns, min_amount=50.0, page=None).count()
    assert body["pagination"]["total"] == want
    assert body["pagination"]["pages"] == -(-want // 7)
    assert len(body["data"]) == min(7, want)


def test_users_with_no_match_is_an_empty_page_with_zero_total(served):
    """No user matches: the observed count of an empty aggregate is 0,
    and reading it does not wait forever (run in a thread with a
    deadline, so a hang fails the test instead of the suite)."""
    client, _, _ = served
    replies = []
    t = threading.Thread(
        target=lambda: replies.append(client.get("/api/v1/analytics/users?min_amount=1e12")),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "the route blocked on the page total"
    body = replies[0].json
    assert body["status"] == "success"
    assert body["data"] == []
    assert body["pagination"]["total"] == 0
    assert body["pagination"]["pages"] == 0


def test_page_past_the_last_is_empty_with_the_true_total(served):
    client, _, _ = served
    first = client.get("/api/v1/analytics/users?per_page=50").json["pagination"]
    past = client.get(f"/api/v1/analytics/users?per_page=50&page={first['pages'] + 2}").json
    assert past["data"] == []
    assert past["pagination"]["total"] == first["total"] > 0
    listing = client.get("/api/v1/transactions/upi?per_page=10").json
    beyond = client.get(f"/api/v1/transactions/upi?per_page=10&page={listing['pages'] + 1}").json
    assert beyond["items"] == []
    assert beyond["total"] == listing["total"] > 0


@pytest.mark.parametrize(
    "url",
    [
        "/api/v1/analytics/users?page=0",
        "/api/v1/analytics/users?per_page=0",
        "/api/v1/transactions/upi?page=0",
        "/api/v1/transactions/upi?per_page=0",
    ],
)
def test_page_or_per_page_below_one_is_a_400(served, url):
    client, _, _ = served
    reply = client.get(url)
    assert reply.status_code == 400
    assert reply.json["status"] == "error"


def test_daily_totals_of_an_empty_frame_is_typed_and_empty(served):
    _, _, txns = served
    empty = txns.limit(0)
    want = A.daily_totals(txns).schema
    for df in (A.daily_totals(empty), A.daily_totals(empty, days=7)):
        assert df.collect() == []
        assert df.schema == want
        assert [f.dataType.simpleString() for f in df.schema] == ["date", "bigint", "double"]


@pytest.mark.parametrize("days", [1, 5, 14, 1000])
def test_daily_totals_days_equals_filtering_the_source(served, days):
    _, _, txns = served
    got = A.daily_totals(txns, days=days)
    want = A.daily_totals(A.filter_transactions(txns, days=days))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
