"""search_serving: a closed loop of 2 clients against a read-only lake.

The mix cycles over fixed request shapes so each run has the same share
of each: cross-index ``/search`` (multi_match over every ``data_lake_*``
table), ``/search/advanced`` bool+filter, terms+metric aggs, and sorted
pages by ``from`` and by ``search_after``. Terms come from the seed and
about half of the bodies repeat an earlier body exactly, so a compile or
result cache can show a gain without serving everything.
"""

from __future__ import annotations

import time

import numpy as np

import gen_entities
import oracle
from workloads import common, lake_sync

CLIENTS = 2
#: cycles of the mix whose CPU ``query_cpu_ms`` counts (a run may fit more)
MEASURED_CYCLES = 3
#: request shapes in one cycle of the mix
CYCLE = ("bool", "page_from", "aggs", "bool", "page_after", "search")
TABLE = "data_lake_denormalized_tickets"
#: indices ``/search`` spans: the ticket documents and the user index.
#: Its cost grows with every index it spans (about 1.3 s per table here,
#: mostly driver-side plan building); two keep it cross-index within
#: the run's time budget.
SEARCH_TABLES = [TABLE, "data_lake_users"]
REPEAT_SHARE = 0.5


def _body(kind: str, rng: np.random.Generator) -> dict:
    words = gen_entities.VOCAB
    w = words[int(rng.integers(len(words)))]
    if kind == "search":
        w2 = words[int(rng.integers(len(words)))]
        return {"path": "/search", "json": {"query": f"{w} {w2}", "k": 10,
                                            "tables": SEARCH_TABLES}}
    if kind == "bool":
        final = bool(rng.integers(2))
        q = {"bool": {"must": [{"match": {"ticket_data": w}}],
                      "filter": [{"term": {"isFinalStatus": final}}]}}
        return {"path": "/search/advanced", "json": {
            "table": TABLE, "query": q, "size": 10, "track_total_hits": True}}
    if kind == "aggs":
        return {"path": "/search/advanced", "json": {
            "table": TABLE, "size": 0, "track_total_hits": True,
            "query": {"match": {"ticket_data": w}},
            "aggs": {"by_status": {
                "terms": {"field": "status_name", "size": 5},
                "aggs": {"top_number": {"max": {"field": "ticket_number"}}}}}}}
    if kind == "page_from":
        return {"path": "/search/advanced", "json": {
            "table": TABLE, "query": {"match": {"ticket_data": w}},
            "sort": [{"ticket_number": "asc"}],
            "from": int(rng.integers(0, 40)), "size": 10,
            "track_total_hits": True}}
    if kind == "page_after":
        after = 1000 + int(rng.integers(0, lake_sync.TICKETS))
        return {"path": "/search/advanced", "json": {
            "table": TABLE, "query": {"match": {"ticket_data": w}},
            "sort": [{"ticket_number": "asc"}], "search_after": [after],
            "size": 10, "track_total_hits": True}}
    raise ValueError(kind)


def bodies(seed: int, n: int) -> list[dict]:
    """``n`` request specs following ``CYCLE``; about ``REPEAT_SHARE`` of
    them copy an earlier body of the same shape exactly."""
    rng = np.random.default_rng(seed + 1)
    out: list[dict] = []
    by_kind: dict[str, list[dict]] = {}
    for i in range(n):
        kind = CYCLE[i % len(CYCLE)]
        prev = by_kind.setdefault(kind, [])
        if prev and rng.random() < REPEAT_SHARE:
            spec = prev[int(rng.integers(len(prev)))]
        else:
            spec = dict(_body(kind, rng), kind=kind)
            prev.append(spec)
        out.append(spec)
    return out


def expected_total(con, lake: str, spec: dict) -> int:
    body = spec["json"]
    if spec["kind"] == "search":
        return oracle.multi_match_total(con, lake, body["query"],
                                        body["tables"])
    path = oracle.lake_tables(lake)[TABLE]
    q = body["query"]
    if "bool" in q:
        (must,) = q["bool"]["must"]
        (flt,) = q["bool"]["filter"]
        where = (oracle.any_contains(["ticket_data"],
                                     oracle.tokens(must["match"]["ticket_data"]))
                 + f" AND isFinalStatus = {str(flt['term']['isFinalStatus']).lower()}")
    else:
        where = oracle.any_contains(["ticket_data"],
                                    oracle.tokens(q["match"]["ticket_data"]))
    if "search_after" in body:
        # documented contract of advanced_search: with search_after the
        # total counts the matches remaining after the cursor
        where += f" AND ticket_number > {body['search_after'][0]}"
    return oracle.count_where(con, path, where)


class Reads:
    """The read-only request stream and the totals it returned."""

    def __init__(self, ctx, app) -> None:
        self.ctx = ctx
        self.app = app
        self.specs = bodies(ctx.seed, 4000)
        self.results: list[tuple[dict, int]] = []

    def run_one(self, spec, local):
        client = local.get("client") or local.setdefault(
            "client", self.app.test_client())
        resp = client.post(spec["path"], json=spec["json"])
        data = resp.get_json(silent=True) or {}
        ok = resp.status_code == 200
        total = (data.get("hits") or {}).get("total") or {}
        if ok:
            self.results.append((spec, total.get("value")))
        return ok, {"status": resp.status_code, "hits": total.get("value") or 0}

    def first(self) -> dict[str, float]:
        """The first request of each shape, cold, one at a time."""
        out: dict[str, float] = {}
        for spec in self.specs[:len(CYCLE)]:
            if spec["kind"] in out:
                continue
            a = time.perf_counter()
            with self.ctx.span("api.request", op=self.ctx.next_op_id("first")):
                ok, _ = self.run_one(spec, {})
            out[spec["kind"]] = time.perf_counter() - a
            self.ctx.tally(ok)
        return out

    def loop(self):
        return common.closed_loop(self.ctx, CLIENTS, self.specs, self.run_one,
                                  len(CYCLE), self.ctx.seconds * 8,
                                  MEASURED_CYCLES)

    def check(self, lake: str) -> int:
        """Compare every returned total with DuckDB; returns the misses."""
        con = oracle.connect()
        want: dict[str, int] = {}
        misses = []
        for spec, got in self.results:
            key = repr(spec["json"])
            if key not in want:
                want[key] = expected_total(con, lake, spec)
            if got != want[key]:
                misses.append({"body": spec["json"], "got": got,
                               "want": want[key]})
        self.ctx.check("search: hits.total of every request", not misses,
                       {"requests": len(self.results), "wrong": len(misses),
                        "distinct_bodies": len(want), "first": misses[:3]})
        return len(misses)


def repeat_share(ops, specs) -> float:
    """Share of requests whose body exactly repeats an earlier one."""
    seen, repeats = set(), 0
    for o in ops:
        key = repr(specs[o.info["index"] % len(specs)]["json"])
        repeats += key in seen
        seen.add(key)
    return repeats / max(len(ops), 1)
