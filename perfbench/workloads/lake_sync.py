"""lake_sync: full ``sync_all_tables`` → ``write_lake(mode="history")``
passes over the 8 generated entities into a fresh lake — the paper's
core ETL, with no work through ``api`` or ``plans.*``.

Each pass appends one history version (its own ``indexed_at``) of every
table. The first pass in a fresh session is what a CLI ``sync-entities``
user pays on every run.
"""

from __future__ import annotations

import os
import time

import gen_entities
import oracle
from workloads import common

TICKETS = 2000
#: sync output table → the entity whose live rows it holds
OUTPUT_SOURCE = {
    "data_sources": "DataSource", "users": "User", "modules": "Module",
    "statuses": "Status", "labels": "Label", "denormalized_tickets": "Ticket",
}


def setup(ctx) -> tuple[dict[str, str], int]:
    tables = gen_entities.generate(ctx.seed, gen_entities.Sizes(tickets=TICKETS))
    src = gen_entities.write(tables, os.path.join(ctx.work, "src"))
    return src, gen_entities.source_rows(tables)


class Passes:
    def __init__(self, ctx, src: dict[str, str]) -> None:
        self.ctx, self.src = ctx, src
        self.lake = common.fresh_dir(os.path.join(ctx.work, "lake"))
        self.stamps: list[str] = []

    def one(self, op: str) -> float:
        """One full pass; returns its wall seconds."""
        from sql_database_to_elastic_datalake_spark.sinks.writer import write_lake
        from sql_database_to_elastic_datalake_spark.sync import sync_all_tables

        spark = self.ctx.spark
        stamp = f"2024-04-01T00:{len(self.stamps) // 60:02d}:{len(self.stamps) % 60:02d}"
        before = common.dir_size(self.lake) if self.ctx.trace else (0, 0)
        a = time.perf_counter()
        with self.ctx.span("sync.pass", op=op) as span:
            entities = {k: spark.read.parquet(v) for k, v in self.src.items()}
            outputs = sync_all_tables(entities, stamp)
            for table, df in outputs.items():
                write_lake(df, os.path.join(self.lake, f"data_lake_{table}"),
                           mode="history")
        wall = time.perf_counter() - a
        if span is not None:
            after = common.dir_size(self.lake)
            span.attrs.update(bytes_out=after[0] - before[0],
                              files_out=after[1] - before[1])
        self.stamps.append(stamp)
        self.ctx.tally(True)
        return wall

    def check(self) -> int:
        """Row counts of every table per pass, and the latest status of
        sampled tickets in the newest version."""
        con = oracle.connect()
        tables = oracle.lake_tables(self.lake)
        bad = {}
        for out, entity in OUTPUT_SOURCE.items():
            want = oracle.live_count(con, os.path.dirname(self.src[entity]), entity)
            got = dict(con.execute(
                f"SELECT indexed_at, count(*) FROM "
                f"{oracle.scan(tables['data_lake_' + out])} GROUP BY 1").fetchall())
            if set(got) != set(self.stamps) or set(got.values()) != {want}:
                bad[out] = {"want_per_pass": want, "got": len(got)}
        latest = oracle.latest_status(con, os.path.dirname(self.src["Ticket"]))
        rows = con.execute(
            f"SELECT ticket_id, status_id FROM "
            f"{oracle.scan(tables['data_lake_denormalized_tickets'])} "
            f"WHERE indexed_at = '{self.stamps[-1]}' ORDER BY ticket_id"
        ).fetchall()
        sample = rows[:: max(len(rows) // 200, 1)]
        wrong_status = [t for t, s in sample if latest.get(t) != s]
        if wrong_status:
            bad["latest_status"] = {"sampled": len(sample),
                                    "wrong": wrong_status[:3]}
        self.ctx.check("lake_sync: row counts and latest status", not bad,
                       {"passes": len(self.stamps), "bad": bad,
                        "sampled_tickets": len(sample)})
        return len(bad)
