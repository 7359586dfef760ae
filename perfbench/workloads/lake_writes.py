"""lake_writes: one client (plain parquet allows one writer per table,
docs/merge-concurrency.md) cycling through batch ingest
(``/tickets/batch``), point re-sync (``/tickets/sync``) and
``/search/update_by_query``, each followed by a ``/search/advanced``
read of the table it just wrote.

Known defect surfaced here, not hidden: ``sync_all_tables`` writes
``data_lake_denormalized_tickets`` while ``LakeService.resync_ticket``
merges into ``data_lake_denormalized_ticket``. A re-synced ticket then
lives in both tables; the run counts those duplicates in its details.
"""

from __future__ import annotations

import datetime as dt
import time

import numpy as np

import oracle
from workloads import common

CYCLE = ("ingest", "update", "resync")
#: first cycles whose CPU is not counted (the JVM is still compiling the
#: write paths: a cycle's CPU falls by a third from the first to the
#: third), then the cycles whose CPU ``write_cpu_ms`` counts (a run may
#: fit more)
WARMUP_CYCLES = 2
MEASURED_CYCLES = 2
BATCH = 20
INGEST_TABLE = "data_lake_ticket"
RESYNC_TABLE = "data_lake_denormalized_ticket"
SYNC_TABLE = "data_lake_denormalized_tickets"
UPDATE_TABLE = "data_lake_data_sources"
GATEWAYS = ("EMAIL", "WEB", "API")


class Writes:
    def __init__(self, ctx, app, lake: str, src: dict[str, str]) -> None:
        self.ctx, self.app, self.lake = ctx, app, lake
        con = oracle.connect()
        tickets = con.execute(
            f"SELECT id FROM read_parquet('{src['Ticket']}') "
            "WHERE deletedAt IS NULL ORDER BY id").fetchall()
        rng = np.random.default_rng(ctx.seed + 2)
        self.resync_ids = [tickets[i][0] for i in
                           rng.permutation(len(tickets))[:500].tolist()]
        path = oracle.lake_tables(lake)[UPDATE_TABLE]
        self.update_rows, self.wip_sum = {}, {}
        for g in GATEWAYS:
            n, total = con.execute(
                f"SELECT count(*), coalesce(sum(data_source_wipValue), 0) "
                f"FROM {oracle.scan(path)} "
                f"WHERE data_source_gatewayType = '{g}'").fetchone()
            self.update_rows[g], self.wip_sum[g] = n, total
        self.n = 0
        self.timing: dict[str, float] = {}
        self.ingested: dict[str, int] = {}
        self.resynced: dict[str, str] = {}
        self.mismatches: list = []
        self.client = app.test_client()

    def specs(self, n: int) -> list[dict]:
        return [{"kind": CYCLE[i % len(CYCLE)]} for i in range(n)]

    def _post(self, path, body, timing: str):
        a = time.perf_counter()
        resp = self.client.post(path, json=body)
        out = resp.status_code, resp.get_json(silent=True) or {}
        self.timing[timing] = time.perf_counter() - a
        return out

    def run_one(self, spec, _local):
        self.n += 1
        self.timing = {"write_s": 0.0, "read_s": 0.0}
        ok, info = {"ingest": self._ingest, "update": self._update,
                    "resync": self._resync}[spec["kind"]]()
        return ok, dict(info, **self.timing)

    def _write(self, path, body):
        return self._post(path, body, "write_s")

    def _read(self, body):
        body = dict(body, track_total_hits=True)
        return self._post("/search/advanced", body, "read_s")

    def _ingest(self):
        marker = f"wb{self.ctx.seed}x{self.n}"
        items = [{"ticket_number": 900_000 + self.n * BATCH + i,
                  "subject": f"{marker} batch item {i}"} for i in range(BATCH)]
        code, out = self._write("/tickets/batch", items)
        if code != 200 or out.get("successful") != BATCH:
            return False, {"status": code}
        self.ingested[marker] = BATCH
        code, got = self._read({"table": INGEST_TABLE, "size": 0,
                                "query": {"match": {"subject": marker}}})
        total = (got.get("hits") or {}).get("total", {}).get("value")
        ok = code == 200 and total == BATCH
        if not ok:
            self.mismatches.append(("ingest", marker, code, total))
        return ok, {"status": code}

    def _update(self):
        g = GATEWAYS[self.n % len(GATEWAYS)]
        q = {"term": {"data_source_gatewayType": g}}
        code, out = self._write("/search/update_by_query", {
            "table": UPDATE_TABLE, "query": q,
            "script": {"source": "ctx._source.data_source_wipValue += 1"}})
        if code != 200 or out.get("updated") != self.update_rows[g]:
            self.mismatches.append(("update", g, code, out.get("updated")))
            return False, {"status": code}
        self.wip_sum[g] += self.update_rows[g]
        code, got = self._read({"table": UPDATE_TABLE, "size": 0, "query": q,
                                "aggs": {"w": {"sum": {
                                    "field": "data_source_wipValue"}}}})
        value = ((got.get("aggregations") or {}).get("w") or {}).get("value")
        ok = code == 200 and value == self.wip_sum[g]
        if not ok:
            self.mismatches.append(("update-read", g, code, value))
        return ok, {"status": code}

    def _resync(self):
        tid = self.resync_ids[self.n % len(self.resync_ids)]
        stamp = (dt.datetime(2024, 6, 1) + dt.timedelta(seconds=self.n)
                 ).strftime("%Y-%m-%dT%H:%M:%S")
        code, out = self._write("/tickets/sync",
                                {"id": tid, "indexed_at": stamp})
        if code != 200 or out.get("synced") != 1:
            return False, {"status": code}
        self.resynced[tid] = stamp
        code, got = self._read({"table": RESYNC_TABLE, "size": 1,
                                "query": {"term": {"ticket_id": tid}}})
        hits = got.get("hits") or {}
        src = (hits.get("hits") or [{}])[0].get("_source", {})
        ok = (code == 200 and hits.get("total", {}).get("value") == 1
              and src.get("indexed_at") == stamp)
        if not ok:
            self.mismatches.append(("resync", tid, code, src.get("indexed_at")))
        return ok, {"status": code}

    def first(self) -> dict[str, float]:
        """The first write of each kind (with its read-back), cold."""
        out = {}
        for spec in self.specs(len(CYCLE)):
            a = time.perf_counter()
            with self.ctx.span("api.request", op=self.ctx.next_op_id("first")):
                ok, _ = self.run_one(spec, {})
            out[spec["kind"]] = time.perf_counter() - a
            self.ctx.tally(ok)
        return out

    def loop(self):
        return common.closed_loop(self.ctx, 1, self.specs(3000), self.run_one,
                                  len(CYCLE), self.ctx.seconds * 8,
                                  WARMUP_CYCLES + MEASURED_CYCLES)

    def check(self) -> int:
        """Read the lake files back with DuckDB; returns the misses."""
        con = oracle.connect()
        tables = oracle.lake_tables(self.lake)
        wrong = 0  # in-loop mismatches already failed their op
        counts = dict(con.execute(
            f"SELECT regexp_extract(subject, '^(wb[0-9]+x[0-9]+)', 1) m, "
            f"count(*) FROM {oracle.scan(tables[INGEST_TABLE])} GROUP BY m"
        ).fetchall())
        bad_ingest = {m: counts.get(m) for m, n in self.ingested.items()
                      if counts.get(m) != n}
        wrong += len(bad_ingest)
        rows = dict(con.execute(
            f"SELECT ticket_id, max(indexed_at) FROM "
            f"{oracle.scan(tables[RESYNC_TABLE])} GROUP BY ticket_id"
        ).fetchall())
        per_id = con.execute(
            f"SELECT count(*) - count(DISTINCT ticket_id) FROM "
            f"{oracle.scan(tables[RESYNC_TABLE])}").fetchone()[0]
        bad_resync = {t: rows.get(t) for t, s in self.resynced.items()
                      if rows.get(t) != s}
        wrong += len(bad_resync) + per_id
        sums = dict(con.execute(
            f"SELECT data_source_gatewayType, sum(data_source_wipValue) FROM "
            f"{oracle.scan(tables[UPDATE_TABLE])} GROUP BY 1").fetchall())
        bad_update = {g: sums.get(g) for g in GATEWAYS
                      if self.update_rows[g] and sums.get(g) != self.wip_sum[g]}
        wrong += len(bad_update)
        ids = "', '".join(self.resynced)
        dup = con.execute(
            f"SELECT count(DISTINCT ticket_id) FROM "
            f"{oracle.scan(tables[SYNC_TABLE])} WHERE ticket_id IN ('{ids}')"
        ).fetchone()[0] if self.resynced else 0
        self.ctx.details["split_ticket_tables"] = {
            "resynced_tickets": len(self.resynced),
            "also_in_" + SYNC_TABLE: dup}
        self.ctx.check("writes: read-back of every write",
                       wrong == 0 and not self.mismatches, {
            "ingest_batches": len(self.ingested), "bad_ingest": bad_ingest,
            "resynced": len(self.resynced), "bad_resync": bad_resync,
            "duplicate_rows_per_ticket": per_id, "bad_update": bad_update,
            "in_loop_mismatches": self.mismatches[:5]})
        return wrong
