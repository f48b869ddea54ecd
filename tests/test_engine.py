"""End-to-end engine lifecycle: create -> dependency rewrite -> execute ->
materialized parquet + catalog contract (SURVEY.md §3.2)."""

import pytest

from audience_manager_platform_spark.catalog import Catalog
from audience_manager_platform_spark.engine import AudienceEngine
from audience_manager_platform_spark.sources import (
    load_table,
    unified_transactions_from_events,
)

AMT = {"field": "transaction_amount", "operator": ">", "value": "120"}
TIER = {"field": "city_tier", "operator": "=", "value": "1"}
COUNT = {"field": "transaction_count", "operator": ">=", "value": 5}


@pytest.fixture()
def engine(spark, sf_dir, tmp_path):
    catalog = Catalog(str(tmp_path / "cat"))
    txns = unified_transactions_from_events(load_table(spark, sf_dir, "events"))
    return AudienceEngine(spark, catalog, lambda: txns)


def test_base_rule_lifecycle(engine):
    rule = engine.create_rule("high_amount", [AMT])
    assert rule.depends_on == []
    n = engine.execute_rule(rule.rule_id)
    seg = engine.read_segment(rule.rule_id)
    assert seg.columns == [
        "user_id",
        "total_transactions",
        "total_spent",
        "transaction_types",
    ]
    assert n == seg.count() > 0
    meta = engine.catalog.get_segment(rule.rule_id)
    assert meta.row_count == n
    assert meta.last_refreshed_at is not None
    assert meta.table_name == f"segment_output_{rule.rule_id}"
    assert "GROUP BY user_id" in meta.sql_query


def test_empty_segment_keeps_schema(engine):
    rule = engine.create_rule(
        "impossible", [{"field": "total_spend", "operator": ">", "value": 10**12}]
    )
    n = engine.execute_rule(rule.rule_id)
    assert n == 0
    seg = engine.read_segment(rule.rule_id)
    # S8 contract: typed empty table still materializes
    assert seg.count() == 0
    assert "total_spent" in seg.columns


def test_dependency_rewrite_on_create(engine):
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("tier", [TIER])
    r3 = engine.create_rule("amt_and_tier", [AMT, TIER])
    assert sorted(r3.depends_on) == sorted([r1.rule_id, r2.rule_id])
    assert r3.operation == "intersection"
    assert r3.conditions == []  # fully covered

    results = engine.execute_all()
    # parents executed before the compound rule
    order = list(results)
    assert order.index(r1.rule_id) < order.index(r3.rule_id)
    assert order.index(r2.rule_id) < order.index(r3.rule_id)

    # keyed intersection: child users = amt-users ∩ tier-users
    child = {r.user_id for r in engine.read_segment(r3.rule_id).collect()}
    a = {r.user_id for r in engine.read_segment(r1.rule_id).collect()}
    b = {r.user_id for r in engine.read_segment(r2.rule_id).collect()}
    assert child == a & b
    # keyed semantics preserve the first parent's aggregate rows
    spent_child = {
        r.user_id: r.total_spent for r in engine.read_segment(r3.rule_id).collect()
    }
    spent_a = {r.user_id: r.total_spent for r in engine.read_segment(r1.rule_id).collect()}
    assert all(spent_child[u] == spent_a[u] for u in spent_child)


def test_residual_conditions_applied(engine):
    """Divergence fix: the reference drops residual conditions on the
    compound path; we intersect them in."""
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("amt_plus_count", [AMT, COUNT])
    assert r2.depends_on == [r1.rule_id]
    assert r2.conditions == [COUNT]
    engine.execute_all()
    child = {r.user_id for r in engine.read_segment(r2.rule_id).collect()}
    # child ⊆ parent, and equals parent ∩ users-with->=5-txns
    parent = {r.user_id for r in engine.read_segment(r1.rule_id).collect()}
    residual = {
        r.user_id
        for r in engine.compiler.compile([COUNT]).dataframe(engine._transactions()).collect()
    }
    assert child == parent & residual


def test_explicit_compound_and_lineage(engine):
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("tier", [TIER])
    r4 = engine.create_compound_rule(
        "both", [r1.rule_id, r2.rule_id], "intersection"
    )
    engine.execute_all()
    tree = engine.catalog.lineage(r4.rule_id)
    assert tree["rule_id"] == r4.rule_id
    assert {p["rule_id"] for p in tree["parents"]} == {r1.rule_id, r2.rule_id}
    assert all(p["row_count"] is not None for p in tree["parents"])


def test_lineage_graph_layout_matches_reference_shape(engine):
    """lineage_graph emits the nodes/edges/layout structure of the
    reference's visualization endpoint (backend/app/api/segments.py:
    127-174): node ids are strings, edges e{src}-{tgt}, positions laid
    out x = i*250, y = 100 in visit order."""
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("tier", [TIER])
    r4 = engine.create_compound_rule("both", [r1.rule_id, r2.rule_id], "intersection")
    g = engine.catalog.lineage_graph(r4.rule_id)
    assert {n["id"] for n in g["nodes"]} == {
        str(r4.rule_id), str(r1.rule_id), str(r2.rule_id)
    }
    assert g["nodes"][0]["data"]["label"] == "both"
    assert [n["position"] for n in g["nodes"]] == [
        {"x": 0, "y": 100}, {"x": 250, "y": 100}, {"x": 500, "y": 100}
    ]
    assert {(e["source"], e["target"]) for e in g["edges"]} == {
        (str(r1.rule_id), str(r4.rule_id)),
        (str(r2.rule_id), str(r4.rule_id)),
    }
    assert all(e["id"] == f"e{e['source']}-{e['target']}" for e in g["edges"])


def test_duplicate_name_rejected(engine):
    engine.create_rule("dup", [AMT])
    with pytest.raises(ValueError, match="already exists"):
        engine.create_rule("dup", [TIER])


def test_sample_segment(engine):
    rule = engine.create_rule("amt", [AMT])
    engine.execute_rule(rule.rule_id)
    rows = engine.sample_segment(rule.rule_id, n=5)
    assert 0 < len(rows) <= 5


def test_catalog_survives_reload(engine, spark, tmp_path):
    rule = engine.create_rule("amt", [AMT])
    engine.execute_rule(rule.rule_id)
    reloaded = Catalog(engine.catalog.base_dir)
    assert reloaded.get_rule(rule.rule_id).name == "amt"
    assert reloaded.get_segment(rule.rule_id).row_count is not None


def test_catalog_migrates_v1_document(tmp_path):
    """A v1 catalog (no version field, rules lacking next_run_at) loads
    through the migration chain and is rewritten at CATALOG_VERSION."""
    import json

    from audience_manager_platform_spark.catalog import CATALOG_VERSION

    base = tmp_path / "old_cat"
    base.mkdir()
    v1 = {
        "rules": {
            "1": {
                "rule_id": 1,
                "name": "legacy",
                "conditions": [AMT],
                "schedule": "DAILY",
                "depends_on": [],
                "operation": None,
                "is_active": True,
                "created_at": "2026-01-01T00:00:00.000000Z",
                "last_run_at": None,
                # no next_run_at: pre-daemon document
            }
        },
        "segments": {},
        "next_rule_id": 2,
        # no "version": v1 documents predate versioning
    }
    (base / "catalog.json").write_text(json.dumps(v1))
    cat = Catalog(str(base))
    rule = cat.get_rule(1)
    assert rule.name == "legacy" and rule.next_run_at is None
    on_disk = json.loads((base / "catalog.json").read_text())
    assert on_disk["version"] == CATALOG_VERSION
    assert "next_run_at" in on_disk["rules"]["1"]
    # a newer-than-supported document is refused, not silently mangled
    v99 = dict(v1, version=99)
    base2 = tmp_path / "future_cat"
    base2.mkdir()
    (base2 / "catalog.json").write_text(json.dumps(v99))
    with pytest.raises(ValueError, match="newer than this engine"):
        Catalog(str(base2))


def test_update_rule_rewrites_dependencies(engine):
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("standalone", [COUNT])
    assert r2.depends_on == []
    # update r2 to include r1's condition -> planner claims r1 (self excluded)
    updated = engine.update_rule(r2.rule_id, [AMT, COUNT])
    assert updated.depends_on == [r1.rule_id]
    assert updated.conditions == [COUNT]
    # updating back to a standalone condition clears the rewrite
    cleared = engine.update_rule(r2.rule_id, [COUNT])
    assert cleared.depends_on == [] and cleared.operation is None
    engine.execute_all()
    assert engine.catalog.get_segment(r2.rule_id).row_count is not None


def test_concurrent_refreshes_serialize_at_the_swap(engine):
    """Two execute_rule calls on the same rule id must not race the
    overwrite: each writes its own temp directory and swaps in under an
    exclusive lock, so the final table is complete and readable, the
    catalog count matches it, and no temp/old directories leak."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    rule = engine.create_rule("racy", [AMT])
    with ThreadPoolExecutor(max_workers=4) as ex:
        counts = list(
            ex.map(lambda _: engine.execute_rule(rule.rule_id), range(4))
        )
    assert len(set(counts)) == 1  # same plan, same data -> same count
    seg_path = engine.catalog.segment_path(rule.rule_id)
    assert engine.read_segment(rule.rule_id).count() == counts[0]
    assert engine.catalog.get_segment(rule.rule_id).row_count == counts[0]
    parent = os.path.dirname(seg_path)
    base = os.path.basename(seg_path)
    leftovers = [
        d for d in os.listdir(parent)
        if d.startswith(base + ".tmp-") or d.startswith(base + ".old-")
    ]
    assert leftovers == []


def test_reclassify_catalog_matches_create_time(engine):
    """A catalog that PREDATES the dependency planner (rules inserted
    directly, composite created before its would-be parents — the worst
    order for create-time planning) converges under reclassify_catalog()
    to exactly the rewrites create-time produces with a favorable order:
    the reference's one-shot analysis script
    (backend/update_segment_query.py:43-89) as an engine method."""
    # pre-planner catalog: raw inserts, no rewrite anywhere
    big = engine.catalog.add_rule("amt_and_tier", conditions=[AMT, TIER])
    a = engine.catalog.add_rule("amt", conditions=[AMT])
    t = engine.catalog.add_rule("tier", conditions=[TIER])
    for r in (big, a, t):
        assert r.depends_on == [] and r.operation is None

    report = engine.reclassify_catalog()

    # bases stay base, with a direct SQL query and no deps
    for rid in (a.rule_id, t.rule_id):
        rule = engine.catalog.get_rule(rid)
        assert rule.depends_on == [] and rule.operation is None
        meta = engine.catalog.get_segment(rid)
        assert meta and meta.sql_query and "GROUP BY user_id" in meta.sql_query
    # the composite is rewritten onto both bases, fully covered
    rule = engine.catalog.get_rule(big.rule_id)
    assert sorted(rule.depends_on) == sorted([a.rule_id, t.rule_id])
    assert rule.operation == "intersection" and rule.conditions == []
    meta = engine.catalog.get_segment(big.rule_id)
    assert meta.sql_query is None  # compound path, no direct SQL
    assert report[big.rule_id]["operation"] == "intersection"

    # ...and the classification equals create-time with parents-first order
    clean = AudienceEngine(
        engine.spark,
        Catalog(engine.catalog.base_dir + "_clean"),
        engine._transactions,
    )
    clean.create_rule("amt", [AMT])
    clean.create_rule("tier", [TIER])
    cb = clean.create_rule("amt_and_tier", [AMT, TIER])

    def shape(eng, rid):
        r = eng.catalog.get_rule(rid)
        dep_names = sorted(eng.catalog.get_rule(p).name for p in r.depends_on)
        return (dep_names, r.operation, list(r.conditions))

    assert shape(engine, big.rule_id) == shape(clean, cb.rule_id)


def test_reclassify_catalog_is_idempotent(engine):
    """Already-rewritten rules expand back to effective conditions first,
    so a second pass is a no-op — including residual-condition splits."""
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("amt_plus_count", [AMT, COUNT])
    assert r2.depends_on == [r1.rule_id] and r2.conditions == [COUNT]

    before = {
        r.rule_id: (list(r.conditions), list(r.depends_on), r.operation)
        for r in engine.catalog.active_rules()
    }
    engine.reclassify_catalog()
    after = {
        r.rule_id: (list(r.conditions), list(r.depends_on), r.operation)
        for r in engine.catalog.active_rules()
    }
    assert before == after


def test_effective_conditions_expand_dependencies(engine):
    engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("amt_plus_count", [AMT, COUNT])
    eff = engine.effective_conditions(r2.rule_id)
    # reduced storage ([COUNT] + dep on amt) expands back to {AMT, COUNT}
    assert {frozenset(c.items()) for c in eff} == {
        frozenset(AMT.items()),
        frozenset(COUNT.items()),
    }


def test_planner_matches_effective_not_residual_conditions(engine):
    """A rule is matched against what another rule's segment means, not
    against the residual it stores: [B, C] must not build on [A, B]
    (stored as its residual [B] over [A]) and silently inherit A."""
    B = TIER
    C = COUNT
    r1 = engine.create_rule("a", [AMT])
    r2 = engine.create_rule("a_b", [AMT, B])
    assert r2.depends_on == [r1.rule_id] and r2.conditions == [B]
    r3 = engine.create_rule("b_c", [B, C])
    assert r3.depends_on == [] and r3.operation is None
    assert r3.conditions == [B, C]
    assert {frozenset(c.items()) for c in engine.effective_conditions(r3.rule_id)} == {
        frozenset(B.items()),
        frozenset(C.items()),
    }
    # the same holds on update
    r4 = engine.create_rule("c", [C])
    updated = engine.update_rule(r4.rule_id, [B, C])
    assert r3.rule_id in updated.depends_on and r2.rule_id not in updated.depends_on


def test_reclassify_leaves_set_compounds_untouched(engine):
    """An explicit UNION compound is not the AND of its parents:
    reclassify_catalog leaves it as it is, and the planner never offers it
    (or any rule built on it) as a parent."""
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("tier", [TIER])
    r3 = engine.create_rule("tier_count", [TIER, COUNT])
    assert r3.depends_on == [r2.rule_id]
    u = engine.create_compound_rule("amt_or_tier_count", [r1.rule_id, r3.rule_id], "UNION")
    d = engine.create_compound_rule("amt_not_tier", [r1.rule_id, r2.rule_id], "DIFFERENCE")
    assert engine.effective_conditions(u.rule_id) is None

    report = engine.reclassify_catalog()

    for rule in (u, d):
        after = engine.catalog.get_rule(rule.rule_id)
        assert (after.operation, after.depends_on, after.conditions) == (
            rule.operation,
            rule.depends_on,
            [],
        )
        assert report[rule.rule_id]["operation"] == rule.operation
    # a new conjunction covering the UNION's parents builds on them, not on it
    r6 = engine.create_rule("amt_tier_count", [AMT, TIER, COUNT])
    assert sorted(r6.depends_on) == sorted([r1.rule_id, r3.rule_id])


def test_reclassify_duplicate_rules_stays_acyclic(engine):
    """Two rules with the same conditions: the second builds on the first,
    and re-planning the first must not build it on the second."""
    r1 = engine.create_rule("amt", [AMT])
    r2 = engine.create_rule("amt_again", [AMT])
    assert r2.depends_on == [r1.rule_id] and r2.conditions == []
    engine.reclassify_catalog()
    assert engine.catalog.get_rule(r1.rule_id).depends_on == []
    assert engine.catalog.topological_order() == [r1.rule_id, r2.rule_id]
