"""Seeded generator for the 8 ticketing entities (``schemas.ENTITY_SCHEMAS``).

The shape follows FIXTURES.md: about 10% soft-deleted rows in every table,
several ``TicketStatus`` rows per ticket with at least one ``createdAt``
tie on a ticket's newest event, null ``userId``s, 0 to 3 labels per
ticket, and valid, invalid and null JSON in ``Ticket.data``. Module and
user keys are Zipf-skewed, so a few modules and users own most tickets.

Only numpy and pyarrow are used: the inputs exist before any Spark session
does, and the same seed and sizes give byte-identical parquet files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in microseconds.
EPOCH_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000

#: Search vocabulary. Ticket subjects, label, status and module names are
#: drawn from it, so a search term drawn from it always has a defined
#: hit count (possibly zero).
VOCAB = (
    "printer network outage billing refund invoice password reset login "
    "timeout latency crash upgrade install license renewal shipment delay "
    "damaged missing replacement warranty battery screen keyboard router "
    "firewall vpn email spam phishing backup restore database migration "
    "report dashboard export import payroll onboarding offboarding access "
    "permission audit compliance contract quote order delivery return "
    "cancel escalation urgent feedback survey training webinar meeting "
    "calendar storage quota sync mobile tablet laptop monitor cable "
    "headset camera microphone server cluster container kubernetes docker "
    "deploy rollback incident alert outage pager certificate domain dns"
).split()

STATUS_NAMES = ("Open", "Triaged", "InProgress", "Waiting", "Escalated",
                "Blocked", "Review", "Resolved", "Closed", "Rejected",
                "Duplicate", "Archived")
FINAL_STATUSES = {"Resolved", "Closed", "Rejected", "Duplicate", "Archived"}
COLORS = ("red", "green", "blue", "amber", "purple", None)


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated source. Dimension sizes are fixed
    small tables, as in a real ticketing schema."""

    tickets: int
    modules: int = 24
    users: int = 300
    data_sources: int = 40
    labels: int = 30


def _uuids(rng: np.random.Generator, n: int) -> list[str]:
    hi = rng.integers(0, 2**63, size=n, dtype=np.int64)
    lo = rng.integers(0, 2**63, size=n, dtype=np.int64)
    out = []
    for a, b in zip(hi.tolist(), lo.tolist()):
        h = f"{a:016x}{b:016x}"
        out.append(f"{h[:8]}-{h[8:12]}-4{h[13:16]}-a{h[17:20]}-{h[20:]}")
    return out


def _zipf_choice(rng: np.random.Generator, n: int, size: int,
                 s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _words(rng: np.random.Generator, k: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=k))


def _deleted(rng: np.random.Generator, created: np.ndarray) -> list:
    """deletedAt for ~10% of rows (after createdAt), else null."""
    mask = rng.random(len(created)) < 0.10
    later = created + rng.integers(DAY_US, 30 * DAY_US, size=len(created))
    return [int(t) if m else None for t, m in zip(later.tolist(), mask.tolist())]


def _arrow_type(spark_type) -> pa.DataType:
    from pyspark.sql import types as T

    return {
        T.StringType: pa.string(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.BooleanType: pa.bool_(),
    }[type(spark_type)]


def _table(name: str, cols: dict[str, list]) -> pa.Table:
    """Columns in ``ENTITY_SCHEMAS`` order and types."""
    from sql_database_to_elastic_datalake_spark.schemas import ENTITY_SCHEMAS

    fields, arrays = [], []
    for f in ENTITY_SCHEMAS[name].fields:
        t = _arrow_type(f.dataType)
        fields.append(pa.field(f.name, t, nullable=f.nullable))
        arrays.append(pa.array(cols[f.name], type=t))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _base(rng: np.random.Generator, n: int, span_days: int = 60) -> dict:
    created = EPOCH_US + rng.integers(0, span_days * DAY_US, size=n)
    return {
        "id": _uuids(rng, n),
        "createdAt": created.tolist(),
        "updatedAt": (created + rng.integers(0, DAY_US, size=n)).tolist(),
        "deletedAt": _deleted(rng, created),
    }


def generate(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """All 8 entities as arrow tables, keyed by ``ENTITY_SCHEMAS`` name."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    mod = _base(rng, sizes.modules)
    mod_ids = mod["id"]
    mod["name"] = [f"{VOCAB[i % len(VOCAB)]} desk {i}" for i in range(sizes.modules)]
    mod["description"] = [_words(rng, 4) if i % 3 else None for i in range(sizes.modules)]
    mod["type"] = [("SUPPORT", "SALES", "OPS")[i % 3] for i in range(sizes.modules)]
    mod["parentId"] = [mod_ids[i // 4] if i % 4 else None for i in range(sizes.modules)]
    mod["icon"] = [f"icon-{i}" if i % 2 else None for i in range(sizes.modules)]
    mod["logo"] = [None] * sizes.modules
    out["Module"] = _table("Module", mod)

    n_st = len(STATUS_NAMES)
    st = _base(rng, n_st)
    st["name"] = list(STATUS_NAMES)
    st["isFinalStatus"] = [s in FINAL_STATUSES for s in STATUS_NAMES]
    st["description"] = [_words(rng, 3) for _ in range(n_st)]
    st["moduleId"] = [mod_ids[i % sizes.modules] if i % 2 else None for i in range(n_st)]
    st["isVisible"] = [i % 5 != 4 for i in range(n_st)]
    # the lookup side of the latest-status join stays resolvable
    st["deletedAt"] = [None] * n_st
    out["Status"] = _table("Status", st)
    st_ids = st["id"]

    lb = _base(rng, sizes.labels)
    lb["name"] = [f"{VOCAB[(7 * i) % len(VOCAB)]}-{i}" for i in range(sizes.labels)]
    lb["description"] = [_words(rng, 3) if i % 2 else None for i in range(sizes.labels)]
    lb["moduleId"] = [mod_ids[i % sizes.modules] for i in range(sizes.labels)]
    lb["color"] = [COLORS[i % len(COLORS)] for i in range(sizes.labels)]
    lb["icon"] = [None] * sizes.labels
    lb["type"] = ["TEXT"] * sizes.labels
    lb["isVisible"] = [True] * sizes.labels
    out["Label"] = _table("Label", lb)
    lb_ids = lb["id"]

    us = _base(rng, sizes.users)
    us["name"] = [f"{VOCAB[i % len(VOCAB)].title()} User{i}" for i in range(sizes.users)]
    us["username"] = [f"user{i}" for i in range(sizes.users)]
    us["email"] = [f"user{i}@example.com" for i in range(sizes.users)]
    us["password"] = [f"hash{i:06d}" for i in range(sizes.users)]
    us["preferences"] = [
        json.dumps({"theme": ("dark", "light")[i % 2]}) if i % 3 else
        (None if i % 2 else "{not json")
        for i in range(sizes.users)
    ]
    out["User"] = _table("User", us)
    us_ids = us["id"]

    n_ds = sizes.data_sources
    ds = _base(rng, n_ds)
    ds["name"] = [f"source {VOCAB[(3 * i) % len(VOCAB)]} {i}" for i in range(n_ds)]
    ds["description"] = [_words(rng, 3) for _ in range(n_ds)]
    ds["dataMap"] = [json.dumps({"field": i}) if i % 2 else None for i in range(n_ds)]
    ds["entityName"] = [("ticket", "order", "lead")[i % 3] for i in range(n_ds)]
    ds["coverVisibleData"] = [None] * n_ds
    ds["gatewayType"] = [("EMAIL", "WEB", "API")[i % 3] for i in range(n_ds)]
    ds["gatewayId"] = [f"gw{i}" if i % 2 else None for i in range(n_ds)]
    ds["moduleId"] = [mod_ids[i % sizes.modules] for i in range(n_ds)]
    ds["statusId"] = [st_ids[i % n_st] for i in range(n_ds)]
    ds["voidStatusId"] = [st_ids[(i + 1) % n_st] if i % 3 else None for i in range(n_ds)]
    ds["dailyLimit"] = [int(x) for x in rng.integers(10, 500, size=n_ds)]
    ds["wipEnabled"] = [bool(i % 2) for i in range(n_ds)]
    ds["wipValue"] = [int(x) for x in rng.integers(1, 50, size=n_ds)]
    out["DataSource"] = _table("DataSource", ds)
    ds_ids = ds["id"]

    n = sizes.tickets
    tk = _base(rng, n)
    t_created = np.asarray(tk["createdAt"], dtype=np.int64)
    tk["number"] = (rng.permutation(n) + 1000).tolist()
    sched = t_created + rng.integers(0, 10 * DAY_US, size=n)
    has_sched = rng.random(n) < 0.6
    tk["scheduleDate"] = [int(s) if h else None for s, h in zip(sched.tolist(), has_sched.tolist())]
    tk["scheduleDateEnd"] = [int(s) + DAY_US if h else None
                             for s, h in zip(sched.tolist(), has_sched.tolist())]
    kind = rng.random(n)
    data = []
    for i in range(n):
        if kind[i] < 0.65:
            data.append(json.dumps({
                "subject": _words(rng, 3),
                "priority": ("low", "medium", "high")[i % 3],
                "amount": int(i % 997),
            }))
        elif kind[i] < 0.80:
            data.append("{subject: " + _words(rng, 2))  # invalid JSON
        else:
            data.append(None)
    tk["data"] = data
    tk["parentId"] = [None] * n
    tk["dataSourceId"] = [ds_ids[i] for i in _zipf_choice(rng, n_ds, n).tolist()]
    tk["moduleId"] = [mod_ids[i] for i in _zipf_choice(rng, sizes.modules, n).tolist()]
    user_pick = _zipf_choice(rng, sizes.users, n).tolist()
    null_user = rng.random(n) < 0.15
    tk["userId"] = [None if z else us_ids[u] for u, z in zip(user_pick, null_user.tolist())]
    out["Ticket"] = _table("Ticket", tk)
    t_ids = tk["id"]

    # TicketStatus: 1..6 events per ticket (mean ~4), newest-first ties on
    # about 2% of tickets so the (createdAt, id) tie-breaker decides.
    per = np.minimum(1 + rng.poisson(3.0, size=n), 6)
    ts_ticket = np.repeat(np.arange(n), per)
    m = len(ts_ticket)
    gaps = rng.integers(60_000_000, DAY_US, size=m)
    csum = np.cumsum(gaps)
    first = np.cumsum(per) - per  # index of each ticket's first event
    within = csum - np.repeat(csum[first] - gaps[first], per)
    ts_created = np.repeat(t_created, per) + within
    last = np.cumsum(per) - 1
    tie = (per >= 2) & (rng.random(n) < 0.02)
    if (per >= 2).any():
        tie[np.argmax(per >= 2)] = True  # at least one tie in every dataset
    ts_created[last[tie]] = ts_created[last[tie] - 1]
    tss = _base(rng, m)
    tss["createdAt"] = ts_created.tolist()
    tss["updatedAt"] = ts_created.tolist()
    tss["deletedAt"] = _deleted(rng, ts_created)
    tss["ticketId"] = [t_ids[i] for i in ts_ticket.tolist()]
    tss["statusId"] = [st_ids[i] for i in rng.integers(0, n_st, size=m).tolist()]
    out["TicketStatus"] = _table("TicketStatus", tss)

    nl = rng.integers(0, 4, size=n)
    tl_ticket = np.repeat(np.arange(n), nl)
    k = len(tl_ticket)
    tls = _base(rng, k)
    picks = _zipf_choice(rng, sizes.labels, k, s=0.8).tolist()
    null_label = (rng.random(k) < 0.03).tolist()
    tls["ticketId"] = [t_ids[i] for i in tl_ticket.tolist()]
    tls["labelId"] = [None if z else lb_ids[p] for p, z in zip(picks, null_label)]
    out["TicketLabel"] = _table("TicketLabel", tls)
    return out


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One ``<Entity>.parquet`` file per table — the layout the CLI's
    ``sync-entities --entities-dir`` reads. Returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in sorted(tables.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="zstd")
        paths[name] = path
    return paths


def source_rows(tables: dict[str, pa.Table]) -> int:
    return sum(t.num_rows for t in tables.values())
