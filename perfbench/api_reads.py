"""api_reads: the read traffic of the REST facade.

Set-up materializes a seeded catalog of rules. The timed part runs two
closed-loop clients, each with its own Flask test client: a client sends
its next request only after the previous reply, as a dashboard does. The
request sequence is fixed by the seed; the mix is 30% segment samples,
15% category totals over one of three date windows, 15% daily totals,
10% summary, 20% user search (fixed filter set, pages 1-3) and 10%
catalog routes. The clients run in rounds: in each, every client sends
one block of 10 requests, so every round holds the exact mix. Round 0 is
the cold round, in which every route class and its first plan shapes run
for the first time. Warm rounds follow: at least one, and more until
``--seconds`` have passed.
"""

from __future__ import annotations

import itertools
import json
import random
import threading
import time
from collections import defaultdict

import oracle
import rulegen
import segment_refresh
from common import Outcome, cpu_count, median, percentile, tree_cpu_seconds

N_RULES = 2
SCALE = 0.01
N_CLIENTS = min(2, cpu_count())
USER_FILTERS = (
    {},
    {"min_amount": 50.0},
    {"city_tier": 2},
    {"category": "purchase", "min_transactions": 2},
    {"transaction_type": "UPI", "days": 14},
)
DAYS = (7, 14, 30)


def date_windows(seed: int) -> list[tuple[str, str]]:
    rng = random.Random(f"windows-{seed}")
    out = []
    for _ in range(3):
        lo = rng.randint(1, 18)
        out.append((f"2024-01-{lo:02d}", f"2024-01-{min(30, lo + rng.randint(5, 12)):02d}"))
    return out


# Requests come in shuffled blocks of 10. Two consecutive blocks (A then B,
# or B then A) hold the mix exactly, and so does every round, in which
# client 0 sends an A block while client 1 sends a B block, or vice versa.
BLOCKS = (
    ["sample"] * 3 + ["category_totals"] * 2 + ["daily_totals"] + ["summary"] + ["users"] * 2 + ["catalog"],
    ["sample"] * 3 + ["category_totals"] + ["daily_totals"] * 2 + ["summary"] + ["users"] * 2 + ["catalog"],
)
ROUTE_CLASSES = tuple(dict.fromkeys(BLOCKS[0]))


def request_stream(seed: int, client: int, ids: list[int], n_blocks: int = 500) -> list[list[tuple]]:
    """Blocks of (route class, url, oracle key) for one client, fixed by
    the seed; client 0 starts with block A, client 1 with block B. Each
    route's parameters are taken in turn from a seeded cycle over all its
    variants, so the work in a run does not depend on the seed's luck."""
    rng = random.Random(f"requests-{seed}-{client}")

    def cycle(items):
        items = list(items)
        rng.shuffle(items)
        return itertools.cycle(items)

    params = {
        "sample": cycle(ids),
        "category_totals": cycle(date_windows(seed)),
        "daily_totals": cycle(DAYS),
        "summary": cycle([None]),
        "users": cycle(itertools.product(range(len(USER_FILTERS)), (1, 2, 3))),
        "catalog": cycle(itertools.product(("rules", "segments", "segment", "lineage"), ids)),
    }
    blocks = []
    for i in range(n_blocks):
        routes = list(BLOCKS[(client + i) % 2])
        rng.shuffle(routes)
        blocks.append([_request(route, next(params[route])) for route in routes])
    return blocks


def _request(route: str, p) -> tuple[str, str, tuple]:
    if route == "sample":
        return route, f"/api/v1/segments/{p}/sample_data", ("sample", p)
    if route == "category_totals":
        lo, hi = p
        return route, f"/api/v1/analytics/category-totals?start_date={lo}&end_date={hi}", ("category", lo, hi)
    if route == "daily_totals":
        return route, f"/api/v1/analytics/daily-totals?days={p}", ("daily", p)
    if route == "summary":
        return route, "/api/v1/analytics/summary", ("summary",)
    if route == "users":
        f, page = p
        query = "".join(f"&{k}={v}" for k, v in USER_FILTERS[f].items())
        return route, f"/api/v1/analytics/users?page={page}{query}", ("users", f, page)
    kind, rid = p
    url = {
        "rules": "/api/v1/rules",
        "segments": "/api/v1/segments",
        "segment": f"/api/v1/segments/{rid}",
        "lineage": f"/api/v1/segments/{rid}/lineage",
    }[kind]
    return route, url, (kind,) if kind in ("rules", "segments") else (kind, rid)


class Workload:
    name = "api_reads"

    def __init__(self, seed: int):
        self.seed = seed
        self.specs = rulegen.generate(seed, N_RULES, prefix="api")
        self.ids = None

    def prepare(self, spark, run) -> None:
        """One set-up: the REST service starting over a catalog of
        materialized segments. The first set-up creates the generated
        rules and materializes them; later ones reopen that catalog, as a
        restarted service does. Materializing is segment_refresh's work."""
        from audience_manager_platform_spark.api import create_app
        from audience_manager_platform_spark.scheduler import Scheduler

        self.engine = segment_refresh.build_engine(spark, run.data, str(run.catalogs / "api"))
        if self.ids is None:
            self.ids = rulegen.create_all(self.engine, self.specs, "ONCE")
            Scheduler(self.engine).run_due()
        self.app = create_app(self.engine)

    def run(self, spark, run, seconds: float, tracer=None) -> Outcome:
        streams = [request_stream(self.seed, c, self.ids) for c in range(N_CLIENTS)]
        cold: list[tuple[str, float, tuple]] = []
        replies: dict[tuple, set] = defaultdict(set)  # oracle key -> reply bodies
        errors: list[str] = []
        lock = threading.Lock()

        def send(client, route, url, key, op_id):
            spark.sparkContext.setJobGroup(f"api.{route}", url)
            if tracer is not None:
                tracer.set_op(op_id)
                with tracer.span(f"api.request.{route}"):
                    resp = client.get(url)
            else:
                resp = client.get(url)
            body = resp.get_data()
            with lock:
                if resp.status_code != 200:
                    errors.append(f"{url}: HTTP {resp.status_code}")
                replies[key].add(body)
            return resp.status_code == 200

        clients = [self.app.test_client() for _ in range(N_CLIENTS)]

        def run_round(r: int, into: list) -> None:
            """Every client sends its block ``r``, closed-loop; the round
            ends when all are done."""

            def client_loop(c: int) -> None:
                for i, (route, url, key) in enumerate(streams[c][r]):
                    t0 = time.perf_counter()
                    try:
                        send(clients[c], route, url, key, f"{'cold' if r == 0 else 'warm'}:{c}:{r}:{i}")
                    except Exception as ex:  # noqa: BLE001 — counted, not fatal
                        with lock:
                            errors.append(f"{url}: {type(ex).__name__}: {ex}")
                    with lock:
                        into.append((route, time.perf_counter() - t0, key))

            threads = [threading.Thread(target=client_loop, args=(c,)) for c in range(N_CLIENTS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()

        # cold round: every route class and its first plan shapes run for the first time
        cpu = [tree_cpu_seconds()]
        t0 = time.perf_counter()
        run_round(0, cold)
        cold_wall = time.perf_counter() - t0
        cpu.append(tree_cpu_seconds())

        samples: list[tuple[str, float, tuple]] = []
        t_start = time.perf_counter()
        r = 1
        while r == 1 or time.perf_counter() - t_start < seconds:
            run_round(r, samples)
            r += 1
        wall = time.perf_counter() - t_start
        cpu.append(tree_cpu_seconds())
        spark.sparkContext.setJobGroup("check", "oracle check")
        if tracer is not None:
            tracer.set_op(None)

        out = Outcome(metrics={})
        out.attempted = len(samples) + len(cold)
        out.problems.extend(errors[:5])
        bad_keys = self._check(run, replies, out)
        n_bad = sum(1 for _, _, key in cold + samples if key in bad_keys)
        out.failed = min(out.attempted, len(errors) + n_bad)
        lat = [s for _, s, _ in samples]
        out.metrics = {"cold_cpu_s": cpu[1] - cpu[0], "warm_cpu_ms": (cpu[2] - cpu[1]) / len(samples) * 1000}
        out.extra = {
            "wall.cold_pass_s": cold_wall,
            "wall.warm_p50_ms": median(lat) * 1000,
            "wall.warm_p90_ms": percentile(lat, 90) * 1000,
            "wall.warm_ops_per_s": len(samples) / wall,
            "ops_warm": len(samples),
        }
        by_route = defaultdict(list)
        for route, s, _ in samples:
            by_route[route].append(s)
        out.extra.update({f"route.{r}_s": median(v) for r, v in by_route.items()})
        return out

    # ------------------------------------------------------------ checks
    def _check(self, run, replies: dict, out: Outcome) -> set:
        con = oracle.connect(run.data)
        catalog = self.engine.catalog
        seg = {rid: oracle.segment_oracle_rows(con, catalog, rid) for rid in self.ids}
        bad = set()
        for key, bodies in replies.items():
            for body in bodies:
                problem = self._check_one(con, catalog, seg, key, json.loads(body))
                if problem:
                    bad.add(key)
                    out.problems.append(f"{key}: {problem}")
                    break
        con.close()
        return bad

    def _check_one(self, con, catalog, seg, key, payload) -> str | None:
        if payload.get("status") != "success":
            return f"status {payload.get('status')}"
        data = payload["data"]
        kind = key[0]
        if kind == "sample":
            n, users = seg[key[1]]
            rows = data["sample_data"]
            if len(rows) != min(10, n) or any(r["user_id"] not in users for r in rows):
                return f"{len(rows)} sample rows not in the segment"
        elif kind == "category":
            if not oracle.same_rows(data, oracle.category_totals(con, key[1], key[2])):
                return "category totals differ"
        elif kind == "daily":
            if not oracle.same_rows(data, oracle.daily_totals(con, key[1])):
                return "daily totals differ"
        elif kind == "summary":
            if not oracle.same_rows([data], [oracle.summary(con)]):
                return "summary differs"
        elif kind == "users":
            filters = USER_FILTERS[key[1]]
            items, total = oracle.user_search(con, filters, key[2], 20)
            if payload["pagination"]["total"] != total or not oracle.same_rows(data, items):
                return "user page differs"
        elif kind in ("rules", "segments"):
            counts = {(r.get("id") or r.get("rule_id")): r["row_count"] for r in data}
            if counts != {rid: seg[rid][0] for rid in self.ids}:
                return "row counts differ"
        elif kind == "segment":
            if data["row_count"] != seg[key[1]][0]:
                return "row count differs"
        elif kind == "lineage":
            want = _ancestors(catalog, key[1])
            if {int(n["id"]) for n in data["nodes"]} != want:
                return "lineage nodes differ"
        return None


def _ancestors(catalog, rule_id: int) -> set[int]:
    out, todo = set(), [rule_id]
    while todo:
        rid = todo.pop()
        if rid not in out:
            out.add(rid)
            todo.extend(catalog.get_rule(rid).depends_on)
    return out
