"""Thin HTTP facade over :class:`AudienceEngine` — the reference is
driven over a Flask REST API (``backend/app/api/rules.py:11-262``,
``backend/app/api/segments.py:8-174``, ``backend/app/api/analytics.py:
6-118``, ``backend/app/api/transactions.py:7-35``); this module exposes
the same route surface — under the reference's ``/api/v1`` prefix
(``backend/app/__init__.py:35``) — and the same response envelopes
(``{"status": ...}`` for rules/segments/analytics, the bare
``paginated_response`` dict for transaction listings,
``backend/app/utils/response.py``) over the Spark-backed engine, so a
client of the reference can point at this service unchanged.

Deliberately thin: every route is a dispatch into engine/catalog/operator
functions that are themselves fully unit-tested — no business logic lives
here. Flask is an optional dependency (import-gated); the engine library
works without it.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .engine import AudienceEngine
from .operators import analytics as A
from .scheduler import Scheduler


def create_app(
    engine: AudienceEngine,
    transactions_detail: Callable[[], DataFrame] | None = None,
):
    """Build the Flask app. Raises ImportError when flask is absent.

    ``transactions_detail``: source of the id-bearing transaction view
    (``transaction_id`` + the canonical columns — e.g.
    ``sources.transactions.transactions_with_id``) backing the
    ``/transactions`` listing/detail routes; without it those routes
    answer 501 (the engine's canonical view carries no addressable id).
    """
    from flask import Flask, jsonify, request

    app = Flask("audience_manager_platform_spark")
    scheduler = Scheduler(engine)

    def ok(payload: dict[str, Any], code: int = 200):
        return jsonify({"status": "success", **payload}), code

    def err(message: str, code: int):
        return jsonify({"status": "error", "message": message}), code

    def rule_json(rule) -> dict[str, Any]:
        seg = engine.catalog.get_segment(rule.rule_id)
        return {
            "id": rule.rule_id,
            "rule_name": rule.name,
            "conditions": rule.conditions,
            "schedule": rule.schedule,
            "depends_on": rule.depends_on,
            "operation": rule.operation,
            "is_active": rule.is_active,
            "last_run_at": rule.last_run_at,
            "next_run_at": rule.next_run_at,
            "row_count": seg.row_count if seg else None,
        }

    @app.get("/api/v1/health")
    def health_check():
        # reference backend/app/api/routes.py:3-6
        return jsonify({"status": "healthy"}), 200

    # ----------------------------------------------------------- rules
    @app.post("/api/v1/rules")
    def create_rule():
        data = request.get_json(silent=True) or {}
        if "rule_name" not in data or "conditions" not in data:
            return err("Missing required fields: rule_name, conditions", 400)
        try:
            rule = engine.create_rule(
                data["rule_name"],
                data["conditions"],
                schedule=data.get("schedule", "ONCE"),
            )
        except ValueError as ex:
            code = 409 if "already exists" in str(ex) else 400
            return err(str(ex), code)
        return ok({"data": rule_json(rule)}, 201)

    @app.get("/api/v1/rules")
    def list_rules():
        return ok({"data": [rule_json(r) for r in engine.catalog.active_rules()]})

    @app.get("/api/v1/rules/<int:rule_id>")
    def get_rule(rule_id: int):
        try:
            return ok({"data": rule_json(engine.catalog.get_rule(rule_id))})
        except KeyError:
            return err(f"rule {rule_id} not found", 404)

    @app.put("/api/v1/rules/<int:rule_id>")
    def put_rule(rule_id: int):
        data = request.get_json(silent=True) or {}
        if "conditions" not in data:
            return err("Missing required field: conditions", 400)
        try:
            rule = engine.update_rule(rule_id, data["conditions"])
        except KeyError:
            return err(f"rule {rule_id} not found", 404)
        except ValueError as ex:
            return err(str(ex), 400)
        return ok({"data": rule_json(rule)})

    @app.delete("/api/v1/rules/<int:rule_id>")
    def delete_rule(rule_id: int):
        try:
            engine.catalog.deactivate_rule(rule_id)
        except KeyError:
            return err(f"rule {rule_id} not found", 404)
        return ok({"data": {"id": rule_id, "is_active": False}})

    @app.post("/api/v1/rules/<int:rule_id>/trigger")
    def trigger_rule(rule_id: int):
        try:
            row_count = engine.execute_rule(rule_id)
        except KeyError:
            return err(f"rule {rule_id} not found", 404)
        return ok({"data": {"id": rule_id, "row_count": row_count}})

    @app.post("/api/v1/rules/run_due")
    def run_due():
        return ok({"data": {"ran": scheduler.run_due()}})

    # -------------------------------------------------------- segments
    @app.get("/api/v1/segments")
    def list_segments():
        segs = []
        for rule in engine.catalog.active_rules():
            seg = engine.catalog.get_segment(rule.rule_id)
            if seg:
                segs.append(
                    {
                        "rule_id": seg.rule_id,
                        "segment_name": seg.segment_name,
                        "table_name": seg.table_name,
                        "row_count": seg.row_count,
                        "last_refreshed_at": seg.last_refreshed_at,
                    }
                )
        return ok({"data": segs})

    def segment_json(seg) -> dict[str, Any]:
        # reference SegmentCatalog.to_dict (backend/app/models/
        # rule_engine.py): same keys, with dependencies resolved to the
        # parent segments' names. Segment ids and rule ids coincide in
        # this engine (exactly one segment row per rule), matching how
        # the reference seeds its catalog.
        try:
            rule = engine.catalog.get_rule(seg.rule_id)
        except KeyError:
            rule = None
        deps = []
        for rid in seg.depends_on or []:
            parent = engine.catalog.get_segment(rid)
            if parent:
                deps.append(parent.segment_name)
        return {
            "id": seg.rule_id,
            "segment_name": seg.segment_name,
            "description": None,
            "table_name": seg.table_name,
            "row_count": seg.row_count,
            "rule_id": seg.rule_id,
            "sql_query": seg.sql_query,
            "refresh_frequency": rule.schedule if rule else None,
            "last_refreshed_at": seg.last_refreshed_at,
            "created_at": rule.created_at if rule else None,
            "operation": seg.operation,
            "dependencies": deps,
        }

    @app.get("/api/v1/segments/<int:segment_id>")
    def get_segment(segment_id: int):
        # reference backend/app/api/segments.py:32-45
        seg = engine.catalog.get_segment(segment_id)
        if seg is None:
            return err(f"segment {segment_id} not found", 404)
        return ok({"data": segment_json(seg)})

    @app.get("/api/v1/segments/by_rule/<int:rule_id>")
    def get_segment_by_rule(rule_id: int):
        # reference backend/app/api/segments.py:47-60
        seg = engine.catalog.get_segment(rule_id)
        if seg is None:
            return err(f"segment for rule {rule_id} not found", 404)
        return ok({"data": segment_json(seg)})

    @app.get("/api/v1/segments/<int:rule_id>/sample_data")
    def sample_data(rule_id: int):
        # only a genuinely MISSING segment maps to the reference's
        # empty-sample response (unknown rule → KeyError, unmaterialized
        # rule → FileNotFoundError); real engine/Spark failures must
        # surface as errors, not masquerade as a healthy empty segment
        try:
            rows = engine.sample_segment(rule_id, n=10)
        except (KeyError, FileNotFoundError) as ex:
            return ok({"data": {"sample_data": [], "note": str(ex)}})
        except Exception as ex:
            return err(str(ex), 500)
        return ok({"data": {"sample_data": [r.asDict() for r in rows]}})

    @app.post("/api/v1/segments/<int:rule_id>/refresh")
    def refresh_segment(rule_id: int):
        try:
            row_count = engine.execute_rule(rule_id)
        except KeyError:
            return err(f"rule {rule_id} not found", 404)
        return ok({"data": {"rule_id": rule_id, "row_count": row_count}})

    @app.get("/api/v1/segments/<int:rule_id>/lineage")
    def lineage(rule_id: int):
        try:
            return ok({"data": engine.catalog.lineage_graph(rule_id)})
        except KeyError:
            return err(f"rule {rule_id} not found", 404)

    # ------------------------------------------------------- analytics
    # reference backend/app/api/analytics.py:6-118 — same params, same
    # {"status", "data", "filters"} envelopes, dispatching into the
    # tested operators in operators/analytics.py
    def _rows(df) -> list[dict[str, Any]]:
        out = []
        for r in df.collect():
            d = r.asDict(recursive=True)
            for k, v in d.items():
                if hasattr(v, "isoformat"):
                    d[k] = v.isoformat()
            out.append(d)
        return out

    def _sorted_small(df: DataFrame, key: str) -> DataFrame:
        """``df`` sorted by ``key`` inside one partition. Only for results
        of bounded size (one row per category or per day): a global
        ``orderBy`` would add a range-partition sample job and a second
        exchange, which cost more than sorting a few rows in one task."""
        return df.coalesce(1).sortWithinPartitions(key)

    def _page(df: DataFrame, key: str, page: int, per_page: int):
        """One page of ``df`` in ``key`` order and the row count before
        pagination, from one job chain: an :class:`Observation` below the
        sort, offset and limit counts every input row (the top-k step
        reads all of them), so no second ``count()`` replays the plan."""
        if page < 1 or per_page < 1:
            # a zero limit would plan the observed count away
            raise ValueError("page and per_page must be positive")
        seen = Observation()
        rows = _rows(
            df.observe(seen, F.count(F.lit(1)).alias("rows"))
            .orderBy(key)
            .offset((page - 1) * per_page)
            .limit(per_page)
        )
        return rows, seen.get["rows"]

    @app.get("/api/v1/analytics/category-totals")
    def category_totals():
        start = request.args.get("start_date")
        end = request.args.get("end_date")
        try:
            df = _sorted_small(
                A.category_totals(
                    A.filter_transactions(engine.transactions(), start=start, end=end)
                ),
                "category",
            )
            return ok(
                {
                    "data": _rows(df),
                    "filters": {"start_date": start, "end_date": end},
                }
            )
        except Exception as ex:  # reference returns 400 on any failure
            return err(str(ex), 400)

    @app.get("/api/v1/analytics/daily-totals")
    def daily_totals():
        try:
            days = request.args.get("days", default=30, type=int)
            if days is None or days <= 0:
                raise ValueError("Days must be a positive number")
            df = _sorted_small(A.daily_totals(engine.transactions(), days=days), "day")
            return ok({"data": _rows(df), "filters": {"days": days}})
        except ValueError as ex:
            return err(str(ex), 400)

    @app.get("/api/v1/analytics/summary")
    def summary():
        try:
            return ok({"data": _rows(A.summary(engine.transactions()))[0]})
        except Exception as ex:  # reference analytics.py:60: summary -> 500
            return err(str(ex), 500)

    @app.get("/api/v1/analytics/users")
    def user_analytics():
        try:
            args = request.args
            min_transactions = args.get("min_transactions", default=1, type=int)
            min_amount = args.get("min_amount", type=float)
            city_tier = args.get("city_tier", type=int)
            transaction_type = args.get("transaction_type")
            category = args.get("category")
            days = args.get("days", type=int)
            page = args.get("page", default=1, type=int)
            per_page = args.get("per_page", default=20, type=int)
            filters = dict(
                min_amount=min_amount,
                city_tier=city_tier,
                category=category,
                transaction_type=transaction_type,
                days=days,
            )
            # the page and the matching-user total before pagination (the
            # COUNT(*) flask-sqlalchemy's paginate issues) from one plan
            items, total = _page(
                A.user_search(
                    engine.transactions(),
                    min_transactions=min_transactions,
                    page=None,
                    **filters,
                ),
                "user_id",
                page,
                per_page,
            )
            return ok(
                {
                    "data": items,
                    "pagination": {
                        "total": total,
                        "pages": math.ceil(total / per_page),
                        "page": page,
                        "per_page": per_page,
                    },
                    "filters": {"min_transactions": min_transactions, **filters},
                }
            )
        except ValueError as ex:
            return err(str(ex), 400)

    # ----------------------------------------------------- transactions
    # reference backend/app/api/transactions.py:7-35 — per-source
    # paginated listings + detail-by-id, served from the id-bearing
    # unified view; the listing envelope is the reference's bare
    # paginated_response dict (utils/response.py: no "status" wrapper)
    def _txn_source() -> DataFrame | None:
        return transactions_detail() if transactions_detail else None

    def _paginated(df: DataFrame, page: int, per_page: int):
        rows, total = _page(df, "transaction_id", page, per_page)
        return {
            "items": rows,
            "total": total,
            "pages": math.ceil(total / per_page),
            "current_page": page,
            "per_page": per_page,
        }

    def _txn_listing(transaction_type: str):
        if transactions_detail is None:
            return err("no id-bearing transaction source configured", 501)
        page = request.args.get("page", 1, type=int)
        per_page = request.args.get("per_page", 10, type=int)
        df = _txn_source().filter(
            F.col("transaction_type") == transaction_type
        )
        try:
            return jsonify(_paginated(df, page, per_page))
        except ValueError as ex:
            return err(str(ex), 400)

    def _txn_detail(transaction_type: str, transaction_id: int):
        if transactions_detail is None:
            return err("no id-bearing transaction source configured", 501)
        rows = _rows(
            _txn_source().filter(
                (F.col("transaction_type") == transaction_type)
                & (F.col("transaction_id") == transaction_id)
            )
        )
        if not rows:
            return err(f"transaction {transaction_id} not found", 404)
        return jsonify(rows[0])

    @app.get("/api/v1/transactions/upi")
    def upi_transactions():
        return _txn_listing("UPI")

    @app.get("/api/v1/transactions/credit-card")
    def credit_card_transactions():
        return _txn_listing("CREDIT_CARD")

    @app.get("/api/v1/transactions/upi/<int:transaction_id>")
    def upi_transaction(transaction_id: int):
        return _txn_detail("UPI", transaction_id)

    @app.get("/api/v1/transactions/credit-card/<int:transaction_id>")
    def credit_card_transaction(transaction_id: int):
        return _txn_detail("CREDIT_CARD", transaction_id)

    return app
