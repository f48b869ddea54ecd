"""Rule-execution orchestrator (SURVEY.md §3.1/§3.2 collapsed into one
driver process).

The reference's lifecycle crosses three process boundaries per rule
(Flask thread -> spark-submit subprocess -> JVM -> SQLite via JDBC,
``backend/app/core/scheduler.py:90-114``), costing ~10s of JVM cold start
per rule. Here: one long-lived SparkSession; rule creation is driver-side
metadata work; execution is a Spark job materializing parquet.

Plan selection mirrors ``SparkSegmentProcessor._get_segment_data``
(``backend/app/processor/spark_processor.py:63-119``) with two deliberate
fixes:

- the reference *ignores* residual conditions when a rule has
  dependencies (compound path reads only parent outputs) — conditions the
  planner left uncovered are silently dropped. We compute the residual
  base segment and include it in the intersection.
- intersection defaults to user_id-keyed semi-joins (the documented
  intent) instead of full-row set ops (the observed behavior, quirk Q5);
  ``combine_keys=None`` restores reference behavior. The catalog records
  which semantics produced each table.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .catalog import Catalog, Rule, SegmentMeta
from .operators.segments import combine_segments
from .plans.dependency_finder import conditions_to_set, find_best_dependency
from .plans.rule_compiler import RuleCompiler
from .sources.tables import path_exists
from .sources.transactions import TRANSACTION_COLUMNS  # noqa: F401 (re-export)


class AudienceEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        transactions: Callable[[], DataFrame],
        *,
        compiler: RuleCompiler | None = None,
        combine_keys: Sequence[str] | None = ("user_id",),
    ):
        self.spark = spark
        self.catalog = catalog
        self._transactions = transactions
        self.compiler = compiler or RuleCompiler()
        self.combine_keys = list(combine_keys) if combine_keys else None

    def transactions(self) -> DataFrame:
        """The unified all-transactions view (the analytics routes and
        ad-hoc consumers read it through this accessor)."""
        return self._transactions()

    # ------------------------------------------------------ rule creation
    def create_rule(self, name: str, conditions: list, schedule: str = "ONCE") -> Rule:
        """Entry point A (SURVEY.md §3.1): validate -> dependency rewrite ->
        compile -> persist. No data touched."""
        self.compiler.compile(conditions)  # validate early (strict by default)
        rewrite = find_best_dependency(conditions, self._planner_candidates())
        if rewrite:
            rule = self.catalog.add_rule(
                name,
                conditions=list(rewrite.remaining_conditions),
                schedule=schedule,
                depends_on=list(rewrite.depends_on),
                operation=rewrite.operation,
            )
        else:
            rule = self.catalog.add_rule(name, conditions=conditions, schedule=schedule)
        self.catalog.upsert_segment(self._new_segment(rule))
        return rule

    def update_rule(self, rule_id: int, conditions: list) -> Rule:
        """Rule update (reference ``backend/app/api/rules.py:108-225``):
        re-validate, re-run the dependency planner EXCLUDING the rule
        itself and every rule built on it (no self-dependency, no cycle),
        rewrite catalog metadata. The segment is stale until the next
        execute."""
        self.compiler.compile(conditions)
        rewrite = find_best_dependency(conditions, self._planner_candidates(exclude=rule_id))
        if rewrite:
            rule = self.catalog.update_rule(
                rule_id,
                conditions=list(rewrite.remaining_conditions),
                depends_on=list(rewrite.depends_on),
                operation=rewrite.operation,
            )
        else:
            rule = self.catalog.update_rule(
                rule_id, conditions=conditions, depends_on=[], operation=None
            )
        meta = self.catalog.get_segment(rule_id)
        if meta:
            meta.sql_query = self._direct_sql(rule)
            meta.depends_on = rule.depends_on
            meta.operation = rule.operation
            self.catalog.upsert_segment(meta)
        return rule

    def create_compound_rule(
        self, name: str, depends_on: list[int], operation: str, schedule: str = "ONCE"
    ) -> Rule:
        """Explicit compound rule (no conditions of its own), like the
        reference's rule 4."""
        for pid in depends_on:
            self.catalog.get_rule(pid)  # existence check
        rule = self.catalog.add_rule(
            name, conditions=[], schedule=schedule, depends_on=depends_on, operation=operation
        )
        self.catalog.upsert_segment(self._new_segment(rule))
        return rule

    def _direct_sql(self, rule: Rule) -> str | None:
        """The rule's own query text; None for a pure compound (parents
        only, no conditions of its own)."""
        if rule.depends_on and not rule.conditions:
            return None
        return self.compiler.compile(rule.conditions).to_sql(
            "SELECT * FROM all_transactions", dialect="spark"
        )

    def _new_segment(self, rule: Rule) -> SegmentMeta:
        return SegmentMeta(
            rule_id=rule.rule_id,
            segment_name=f"Segment for rule: {rule.name}",
            table_name=f"segment_output_{rule.rule_id}",
            path=self.catalog.segment_path(rule.rule_id),
            sql_query=self._direct_sql(rule),
            depends_on=rule.depends_on,
            operation=rule.operation,
            combine_keys=self.combine_keys,
        )

    # ------------------------------------------- dependency planning
    def _expand(self, rule_id: int) -> tuple[list | None, set[int]]:
        """(effective conditions, ids of every rule in the tree). The
        conditions are None when the tree holds a UNION/DIFFERENCE
        compound: such a segment is not the AND of any condition list."""
        out: list = []
        seen_keys: set = set()
        visited: set[int] = set()

        def visit(rid: int) -> bool:
            if rid in visited:
                return True
            visited.add(rid)
            rule = self.catalog.get_rule(rid)
            for cond in rule.conditions or []:
                # canonical key; unparseable conditions fall back to repr
                key = conditions_to_set([cond]) or repr(cond)
                if key not in seen_keys:
                    seen_keys.add(key)
                    out.append(cond)
            if not (rule.depends_on and rule.operation):
                return True  # a base segment (segment_dataframe's rule)
            if rule.operation.lower() != "intersection":
                return False
            return all(visit(pid) for pid in rule.depends_on)

        return (out if visit(rule_id) else None), visited

    def effective_conditions(self, rule_id: int) -> list | None:
        """A rule's FULL condition payload with dependency rewrites
        undone: its stored (possibly reduced) conditions plus the
        effective conditions of every intersection parent, recursively.
        None for a rule whose tree holds a UNION/DIFFERENCE compound.
        Cycle-safe; duplicates collapse by the canonical condition set."""
        return self._expand(rule_id)[0]

    def _planner_candidates(self, exclude: int | None = None) -> list[tuple[int, list]]:
        """(rule_id, effective conditions) of every active rule a new or
        updated rule may be rewritten onto. Matching on effective, not
        stored residual, conditions keeps a rewrite from inheriting a
        parent's hidden conditions; UNION/DIFFERENCE compounds are never
        offered, and on update neither is any rule built on ``exclude``."""
        out = []
        for rule in self.catalog.active_rules():
            if rule.rule_id == exclude:
                continue
            conditions, tree = self._expand(rule.rule_id)
            if conditions is not None and exclude not in tree:
                out.append((rule.rule_id, conditions))
        return out

    def reclassify_catalog(self) -> dict[int, dict]:
        """One-shot batch reclassification of the WHOLE existing catalog —
        the engine-side equivalent of the reference's standalone analysis
        script (``backend/update_segment_query.py:43-89``), for catalogs
        that predate the dependency planner (M3 otherwise only runs at
        create/update time).

        Like the reference: every rule is re-analyzed simplest-first
        (condition count ascending, then rule_id), each against ALL other
        active rules; composites get ``depends_on``/``operation`` and drop
        their direct SQL, base rules get a direct SQL query and cleared
        dependencies. Unlike the reference's dict-merge subset check, the
        analysis is :func:`find_best_dependency` itself — so a catalog
        built without the planner converges to exactly the rewrites
        create-time would have produced had the rules arrived in that
        order (pinned by ``tests/test_engine.py``). Rules already
        rewritten are first expanded back to their effective conditions,
        making the pass idempotent. Explicit UNION/DIFFERENCE compounds
        (and anything built on one) have no condition list to re-analyze
        and are left as they are.

        Returns {rule_id: {"operation", "depends_on", "conditions"}} for
        inspection/logging."""
        rules = list(self.catalog.active_rules())
        effective = {r.rule_id: self.effective_conditions(r.rule_id) for r in rules}
        order = sorted(rules, key=lambda r: (len(effective[r.rule_id] or ()), r.rule_id))
        report: dict[int, dict] = {}
        for r in order:
            if effective[r.rule_id] is None:
                updated = r
            else:
                updated = self.update_rule(r.rule_id, effective[r.rule_id])
            if self.catalog.get_segment(r.rule_id) is None:
                # a pre-planner catalog may hold rules with no segment
                # row at all (raw inserts); create it like create_rule
                # does so the classification lands somewhere visible
                self.catalog.upsert_segment(self._new_segment(updated))
            report[r.rule_id] = {
                "operation": updated.operation,
                "depends_on": list(updated.depends_on),
                "conditions": list(updated.conditions),
            }
        return report

    # ----------------------------------------------------- plan selection
    def segment_dataframe(self, rule_id: int) -> DataFrame:
        """Entry point B plan selection: compound path folds parent
        outputs (+ residual, see module docstring); base path compiles
        conditions over the unified transaction stream."""
        rule = self.catalog.get_rule(rule_id)
        if rule.depends_on and rule.operation:
            parents = [self.read_segment(pid) for pid in rule.depends_on]
            if rule.conditions:
                parents.append(self._base_segment(rule.conditions))
            return combine_segments(parents, rule.operation, on=self.combine_keys)
        return self._base_segment(rule.conditions)

    def _base_segment(self, conditions: list) -> DataFrame:
        return self.compiler.compile(conditions).dataframe(self._transactions())

    # ------------------------------------------------------ materialize
    def execute_rule(self, rule_id: int, now=None) -> int:
        """Materialize ``segment_output_<rule_id>`` and update the catalog.

        One Spark write, nothing around it: the rows are counted by a
        :class:`~pyspark.sql.Observation` on the write itself, and the
        written schema is recorded next to the count so later reads of
        the segment skip parquet schema inference (:meth:`read_segment`).

        Concurrency: the result is written to a unique temp directory
        and swapped in under an exclusive flock — two concurrent
        ``execute_rule`` calls on the same rule id serialize at the swap
        instead of racing ``mode("overwrite")``'s delete-then-write (the
        reference has the same race on its DROP TABLE + JDBC rewrite
        two-step, S6; a warehouse engine should not). The lock also
        orders the catalog bookkeeping with the swap, so the recorded
        row count and schema always describe the directory a reader sees
        next. On an object store the swap becomes a manifest/metastore
        pointer flip, the lock a metastore transaction.

        An empty result still writes a typed empty table (S8 contract).
        Catalog is updated only after a successful write; returns the
        row count.
        """
        import fcntl
        import os
        import shutil
        import uuid

        df = self.segment_dataframe(rule_id)
        path = self.catalog.segment_path(rule_id)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
        row_count = rows.get["rows"]
        schema = df.schema.jsonValue()
        with open(path + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                old = f"{path}.old-{uuid.uuid4().hex}"
                if os.path.exists(path):
                    os.rename(path, old)
                    os.rename(tmp, path)
                    shutil.rmtree(old, ignore_errors=True)
                else:
                    os.rename(tmp, path)
                self.catalog.record_refresh(rule_id, row_count, schema)
                self.catalog.mark_run(rule_id, now=now)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
        return row_count

    def execute_all(self) -> dict[int, int]:
        """Dependency-ordered batch refresh (parents first)."""
        return {rid: self.execute_rule(rid) for rid in self.catalog.topological_order()}

    def read_segment(self, rule_id: int) -> DataFrame:
        """S2: scan a materialized segment with the schema recorded at its
        last refresh, so the scan runs no inference job; a catalog entry
        without one (written before schemas were recorded) infers it."""
        reader = self.spark.read
        meta = self.catalog.get_segment(rule_id)
        if meta is not None and meta.schema:
            reader = reader.schema(StructType.fromJson(meta.schema))
        return reader.parquet(self.catalog.segment_path(rule_id))

    def sample_segment(self, rule_id: int, n: int = 10):
        """S10: bounded preview for API display. Raises FileNotFoundError
        when the segment has not been materialized: the path is checked
        with :func:`sources.tables.path_exists` before any read, so a
        missing segment runs no Spark job and logs no read failure."""
        path = self.catalog.segment_path(rule_id)
        if not path_exists(self.spark, path):
            raise FileNotFoundError(f"segment {rule_id} is not materialized: {path}")
        return self.read_segment(rule_id).limit(n).collect()
