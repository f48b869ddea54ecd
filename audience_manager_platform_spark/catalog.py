"""Rule store + segment catalog + lineage (SURVEY.md §1.1, M1/M5/M6).

The reference keeps this metadata in SQLite tables ``rule_table`` and
``segment_catalog`` (``backend/app/models/rule_engine.py:4-64``). Here it
is a driver-side JSON document next to the segment parquet directory —
metadata is tiny (one row per rule), so a distributed store would be pure
overhead; the *data* (segment outputs) lives in parquet and scales with
the cluster.

Contract preserved from the reference:

- every rule owns one physical output ``segment_output_<rule_id>``;
- the catalog records the generated query text, lineage (``depends_on`` +
  ``operation``), ``row_count`` and ``last_refreshed_at``, updated only
  after a successful materialization
  (``backend/app/processor/spark_processor.py:139-167``);
- ``schema`` (an addition: the written table's Spark schema as JSON) is
  recorded in the same step as ``row_count``, so a segment scan never
  needs a schema-inference job;
- lineage is a DAG traversed driver-side (``backend/app/api/segments.py:
  127-157``).
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Any, Iterator

# Refresh cadences (M4) — mirrors the reference's APScheduler triggers
# (``backend/app/core/scheduler.py:45-60``); shared by Scheduler.
CADENCES: dict[str, timedelta | None] = {
    "ONCE": None,
    "HOURLY": timedelta(hours=1),
    "DAILY": timedelta(days=1),
    "WEEKLY": timedelta(weeks=1),
}


@dataclass
class Rule:
    rule_id: int
    name: str
    conditions: list = field(default_factory=list)
    schedule: str = "ONCE"  # ONCE | HOURLY | DAILY | WEEKLY (M4)
    depends_on: list = field(default_factory=list)
    operation: str | None = None
    is_active: bool = True
    created_at: str = ""
    last_run_at: str | None = None
    # next scheduled refresh (M4): stamped on every run as last_run +
    # cadence (None for ONCE) for API/display consumers — dueness itself
    # is always re-derived by Scheduler.is_due from last_run_at, so this
    # mirror of the reference's APScheduler date-trigger bookkeeping can
    # never drive a stale decision (schedule is immutable after create)
    next_run_at: str | None = None


@dataclass
class SegmentMeta:
    rule_id: int
    segment_name: str
    table_name: str
    path: str
    sql_query: str | None = None
    depends_on: list = field(default_factory=list)
    operation: str | None = None
    row_count: int | None = None
    last_refreshed_at: str | None = None
    # which intersection semantics produced the table (quirk Q5 bookkeeping)
    combine_keys: list | None = None
    # StructType.jsonValue() of the materialized table; None until the
    # first refresh (readers then infer it from the parquet footers)
    schema: dict | None = None


def _now() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


CATALOG_VERSION = 3

# Schema-evolution chain (the reference carries Alembic migrations plus
# hand-rolled fixups, ``backend/migrations/versions/ff9aab17097a_*.py``,
# ``backend/fix_segment_catalog.py:18-105``): each entry upgrades a
# persisted catalog document one version forward, applied in order on
# load, saved back once. Additive field changes stay cheap because the
# dataclasses default missing keys; a migration makes the document
# explicit so every on-disk catalog is always at CATALOG_VERSION.
def _migrate_v2(doc: dict[str, Any]) -> None:
    """v1 -> v2: rules gained ``next_run_at`` (M4 daemon bookkeeping)."""
    for raw in doc["rules"].values():
        raw.setdefault("next_run_at", None)


def _migrate_v3(doc: dict[str, Any]) -> None:
    """v2 -> v3: segments gained ``schema``; existing tables have none
    recorded, so their readers keep inferring until the next refresh."""
    for raw in doc["segments"].values():
        raw.setdefault("schema", None)


MIGRATIONS: dict[int, Any] = {2: _migrate_v2, 3: _migrate_v3}


class Catalog:
    """JSON-file-backed rule + segment metadata with atomic writes and
    on-load schema migrations."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self.segments_dir = os.path.join(base_dir, "segments")
        os.makedirs(self.segments_dir, exist_ok=True)
        self._path = os.path.join(base_dir, "catalog.json")
        self._doc: dict[str, Any] = {
            "version": CATALOG_VERSION,
            "rules": {},
            "segments": {},
            "next_rule_id": 1,
        }
        if os.path.exists(self._path):
            with open(self._path) as f:
                self._doc = json.load(f)
            self._migrate()

    def _migrate(self) -> None:
        version = self._doc.get("version", 1)
        if version > CATALOG_VERSION:
            raise ValueError(
                f"catalog version {version} is newer than this engine "
                f"supports ({CATALOG_VERSION})"
            )
        if version == CATALOG_VERSION:
            return
        for v in range(version + 1, CATALOG_VERSION + 1):
            MIGRATIONS[v](self._doc)
        self._doc["version"] = CATALOG_VERSION
        self._save()

    # ------------------------------------------------------------ persist
    def _save(self) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.base_dir, suffix=".catalog.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(self._doc, f, indent=1, default=str)
        os.replace(tmp, self._path)  # atomic on POSIX

    # -------------------------------------------------------------- rules
    def add_rule(
        self,
        name: str,
        conditions: list | None = None,
        schedule: str = "ONCE",
        depends_on: list | None = None,
        operation: str | None = None,
    ) -> Rule:
        if any(r["name"] == name for r in self._doc["rules"].values()):
            raise ValueError(f"rule name {name!r} already exists")  # M1 dup check
        rule_id = self._doc["next_rule_id"]
        self._doc["next_rule_id"] = rule_id + 1
        rule = Rule(
            rule_id=rule_id,
            name=name,
            conditions=conditions or [],
            schedule=schedule,
            depends_on=depends_on or [],
            operation=operation,
            created_at=_now(),
        )
        self._doc["rules"][str(rule_id)] = asdict(rule)
        self._save()
        return rule

    def get_rule(self, rule_id: int) -> Rule:
        return Rule(**self._doc["rules"][str(rule_id)])

    def active_rules(self) -> Iterator[Rule]:
        for raw in self._doc["rules"].values():
            rule = Rule(**raw)
            if rule.is_active:
                yield rule

    def mark_run(self, rule_id: int, now: datetime | None = None) -> None:
        """Stamp last_run_at/next_run_at. ``now`` defaults to wall-clock;
        the scheduler passes its own clock so cadence arithmetic is exact
        against the time that made the rule due."""
        raw = self._doc["rules"][str(rule_id)]
        now = now or datetime.now(timezone.utc)
        raw["last_run_at"] = now.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        interval = CADENCES.get(raw.get("schedule", "ONCE"))
        raw["next_run_at"] = (
            (now + interval).strftime("%Y-%m-%dT%H:%M:%S.%fZ") if interval else None
        )
        self._save()

    def update_rule(
        self,
        rule_id: int,
        conditions: list,
        depends_on: list,
        operation: str | None,
    ) -> Rule:
        """Single write path for rule rewrites (the engine's update goes
        through here rather than poking catalog internals), so future
        invariants — validation, versioning — hold for every writer."""
        raw = self._doc["rules"][str(rule_id)]
        raw["conditions"] = list(conditions)
        raw["depends_on"] = list(depends_on)
        raw["operation"] = operation
        self._save()
        return Rule(**raw)

    def deactivate_rule(self, rule_id: int) -> None:
        self._doc["rules"][str(rule_id)]["is_active"] = False
        self._save()

    # ----------------------------------------------------------- segments
    def segment_path(self, rule_id: int) -> str:
        return os.path.join(self.segments_dir, f"segment_output_{rule_id}")

    def upsert_segment(self, meta: SegmentMeta) -> None:
        self._doc["segments"][str(meta.rule_id)] = asdict(meta)
        self._save()

    def get_segment(self, rule_id: int) -> SegmentMeta | None:
        raw = self._doc["segments"].get(str(rule_id))
        return SegmentMeta(**raw) if raw else None

    def record_refresh(self, rule_id: int, row_count: int, schema: dict) -> None:
        """Row-count, schema + refresh-stamp upkeep (M6) — only called after
        the parquet write succeeded, so failures leave the catalog unchanged."""
        seg = self._doc["segments"][str(rule_id)]
        seg["row_count"] = row_count
        seg["schema"] = schema
        seg["last_refreshed_at"] = _now()
        self._save()

    # ------------------------------------------------------------ lineage
    def lineage(self, rule_id: int) -> dict[str, Any]:
        """DFS over ``depends_on`` edges (M5), cycle-safe."""

        def visit(rid: int, seen: frozenset[int]) -> dict[str, Any]:
            rule = self.get_rule(rid)
            seg = self.get_segment(rid)
            node: dict[str, Any] = {
                "rule_id": rid,
                "name": rule.name,
                "operation": rule.operation,
                "row_count": seg.row_count if seg else None,
                "parents": [],
            }
            for pid in rule.depends_on:
                if pid in seen:
                    node["parents"].append({"rule_id": pid, "cycle": True})
                else:
                    node["parents"].append(visit(pid, seen | {rid}))
            return node

        return visit(rule_id, frozenset())

    def lineage_graph(self, rule_id: int) -> dict[str, Any]:
        """Visualization-ready lineage: the nodes/edges/layout structure
        the reference's endpoint emits for its graph UI
        (``backend/app/api/segments.py:127-174`` — node = {id,
        data.label, position}, edge = {id, source, target}, positions
        laid out x = i*250, y = 100 in visit order), derived from the
        same DFS as :meth:`lineage`."""
        nodes: list[dict[str, Any]] = []
        edges: list[dict[str, Any]] = []
        visited: set[int] = set()

        def visit(rid: int) -> None:
            if rid in visited:
                return
            visited.add(rid)
            rule = self.get_rule(rid)
            nodes.append(
                {
                    "id": str(rid),
                    "data": {"label": rule.name},
                    "position": {"x": 0, "y": 0},
                }
            )
            for pid in rule.depends_on:
                if str(pid) in self._doc["rules"]:
                    edges.append(
                        {"id": f"e{pid}-{rid}", "source": str(pid), "target": str(rid)}
                    )
                    visit(pid)

        visit(rule_id)
        for i, node in enumerate(nodes):
            node["position"] = {"x": i * 250, "y": 100}
        return {"nodes": nodes, "edges": edges}

    def topological_order(self) -> list[int]:
        """Dependency-ordered execution for a batch refresh: parents before
        children (the reference runs rules independently on schedules and
        can read stale parents; explicit ordering removes that race)."""
        order: list[int] = []
        state: dict[int, int] = {}  # 0=visiting, 1=done

        def visit(rid: int) -> None:
            if state.get(rid) == 1:
                return
            if state.get(rid) == 0:
                raise ValueError(f"dependency cycle at rule {rid}")
            state[rid] = 0
            for pid in self.get_rule(rid).depends_on:
                visit(pid)
            state[rid] = 1
            order.append(rid)

        for rule in self.active_rules():
            visit(rule.rule_id)
        return order
