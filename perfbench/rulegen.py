"""Seeded rule-catalog generator for the engine workloads.

A catalog is a list of specs in creation order. About 60% are base rules
with 1-3 WHERE/HAVING conditions, about 30% extend an earlier rule by one
condition (so the dependency planner rewrites them into an intersection
with that rule) and about 10% are explicit UNION/DIFFERENCE compounds of
two earlier rules. Condition values come from the generated ``events``
domain (datagen.py), so segments are neither all empty nor all users.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from datagen import EVENT_TYPES


@dataclass
class RuleSpec:
    name: str
    kind: str  # base | extend | compound
    conditions: list = field(default_factory=list)
    parents: list = field(default_factory=list)  # indexes of earlier specs
    operation: str | None = None


def _condition(rng: random.Random) -> dict:
    field_ = rng.choice(
        (
            "transaction_amount",
            "transaction_amount",
            "city_tier",
            "transaction_date",
            "category",
            "transaction_type",
            "total_spend",
            "transaction_count",
        )
    )
    if field_ == "transaction_amount":
        if rng.random() < 0.25:
            lo = rng.choice((5, 10, 20))
            return {"field": field_, "operator": "BETWEEN", "value": lo, "value2": lo + rng.choice((40, 80, 150))}
        return {"field": field_, "operator": rng.choice((">", ">=", "<", "<=")), "value": rng.choice((10, 25, 50, 100, 200))}
    if field_ == "city_tier":
        op = rng.choice(("=", "IN", "NOT IN"))
        if op == "=":
            return {"field": field_, "operator": op, "value": rng.randint(1, 4)}
        return {"field": field_, "operator": op, "value": sorted(rng.sample((1, 2, 3, 4), rng.randint(1, 2)))}
    if field_ == "transaction_date":
        lo = rng.randint(1, 20)
        hi = min(30, lo + rng.randint(3, 12))
        return {
            "field": field_,
            "operator": "BETWEEN",
            "value": f"2024-01-{lo:02d}",
            "value2": f"2024-01-{hi:02d}",
        }
    if field_ == "category":
        if rng.random() < 0.5:
            return {"field": field_, "operator": "=", "value": rng.choice(EVENT_TYPES)}
        return {"field": field_, "operator": "IN", "value": sorted(rng.sample(EVENT_TYPES, 2))}
    if field_ == "transaction_type":
        return {"field": field_, "operator": "=", "value": rng.choice(("UPI", "CREDIT_CARD"))}
    if field_ == "total_spend":
        if rng.random() < 0.7:
            return {"field": field_, "operator": ">", "value": rng.choice((100, 300, 600, 1000))}
        return {"field": field_, "operator": "<", "value": rng.choice((1500, 3000))}
    return {"field": field_, "operator": ">=", "value": rng.choice((2, 5, 10, 20))}


def _key(cond: dict) -> tuple:
    value = cond["value"]
    return (cond["field"], cond["operator"], str(tuple(value) if isinstance(value, list) else value))


def _extra_condition(rng: random.Random, existing: list) -> dict:
    taken = {_key(c) for c in existing}
    while True:
        cond = _condition(rng)
        if _key(cond) not in taken:
            return cond


def kinds(rng: random.Random, n: int) -> list[str]:
    """Exactly round(30%) extensions and round(10%) compounds, the rest
    base rules, shuffled; two base rules come first so every extension
    and compound has parents."""
    n_extend, n_compound = round(0.3 * n), round(0.1 * n)
    n_base = n - n_extend - n_compound
    head = ["base"] * min(2, n_base)
    tail = ["base"] * (n_base - len(head)) + ["extend"] * n_extend + ["compound"] * n_compound
    rng.shuffle(tail)
    return head + tail


def generate(seed: int, n: int, prefix: str = "rule") -> list[RuleSpec]:
    rng = random.Random(f"rules-{seed}")
    specs: list[RuleSpec] = []
    for i, kind in enumerate(kinds(rng, n)):
        name = f"{prefix}_{i:03d}"
        with_conditions = [j for j, s in enumerate(specs) if s.kind != "compound"]
        if kind == "compound":
            a, b = rng.sample(range(len(specs)), 2)
            op = rng.choice(("UNION", "DIFFERENCE"))
            specs.append(RuleSpec(name, "compound", parents=[a, b], operation=op))
        elif kind == "extend":
            parent = rng.choice(with_conditions)
            base = list(specs[parent].conditions)
            specs.append(
                RuleSpec(name, "extend", conditions=base + [_extra_condition(rng, base)], parents=[parent])
            )
        else:
            conds: list = []
            for _ in range(rng.choice((1, 1, 2, 2, 3))):
                conds.append(_extra_condition(rng, conds))
            specs.append(RuleSpec(name, "base", conditions=conds))
    return specs


def create_all(engine, specs: list[RuleSpec], schedule: str, timings: list | None = None) -> list[int]:
    """Create every spec through the engine's public API; returns rule ids
    in spec order. ``timings`` collects each creation's latency (s)."""
    import time

    ids: list[int] = []
    for spec in specs:
        t0 = time.perf_counter()
        if spec.kind == "compound":
            rule = engine.create_compound_rule(
                spec.name, [ids[p] for p in spec.parents], spec.operation, schedule=schedule
            )
        else:
            rule = engine.create_rule(spec.name, spec.conditions, schedule=schedule)
        if timings is not None:
            timings.append(time.perf_counter() - t0)
        ids.append(rule.rule_id)
    return ids
