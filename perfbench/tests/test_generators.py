"""The entity generator is a pure function of (seed, size): same seed,
same bytes; another seed, other data; and the shape FIXTURES.md asks for."""

import hashlib
import os

import gen_entities


def _digests(directory):
    return {f: hashlib.sha256(open(os.path.join(directory, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(directory))}


def test_entities_byte_identical_per_seed(tmp_path):
    sizes = gen_entities.Sizes(tickets=300)
    gen_entities.write(gen_entities.generate(5, sizes), str(tmp_path / "a"))
    gen_entities.write(gen_entities.generate(5, sizes), str(tmp_path / "b"))
    gen_entities.write(gen_entities.generate(6, sizes), str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert len(a) == 8
    assert a == b
    assert a["Ticket.parquet"] != c["Ticket.parquet"]


def test_entity_shape():
    t = gen_entities.generate(11, gen_entities.Sizes(tickets=2000))
    tickets = t["Ticket"].to_pylist()
    deleted = sum(r["deletedAt"] is not None for r in tickets) / len(tickets)
    assert 0.05 < deleted < 0.15
    assert any(r["userId"] is None for r in tickets)
    data = [r["data"] for r in tickets]
    assert any(d is None for d in data)
    assert any(d and d.startswith("{\"") for d in data)
    assert any(d and d.startswith("{subject") for d in data)
    status = t["TicketStatus"].to_pylist()
    per_ticket = {}
    for r in status:
        per_ticket.setdefault(r["ticketId"], []).append(r["createdAt"])
    assert max(len(v) for v in per_ticket.values()) > 1
    assert any(len(v) != len(set(v)) for v in per_ticket.values())  # a tie
    labels = {}
    for r in t["TicketLabel"].to_pylist():
        labels[r["ticketId"]] = labels.get(r["ticketId"], 0) + 1
    assert max(labels.values()) == 3 and len(labels) < len(tickets)
    modules = {}
    for r in tickets:
        modules[r["moduleId"]] = modules.get(r["moduleId"], 0) + 1
    top = max(modules.values())
    assert top > 3 * len(tickets) / len(modules)  # Zipf-skewed keys
