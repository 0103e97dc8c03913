"""Independent model of the reference ingest semantics, and the checker.

The model replays the generator's events with the reference rules,
written from the rule text and not from the program:

- per batch, per resource URL, the winner is the entry with the lowest
  Kafka partition, then the highest offset;
- a valid PUT winner upserts the resource;
- a DELETE winner removes the key if it existed before the batch;
- an invalid PUT winner (inner resource not JSON) is dead-lettered to
  ``_corrupt_resources`` and leaves the table unchanged;
- an unparseable envelope is dead-lettered to ``_corrupt``.

From the final state it derives every read-set answer (point lookups,
the two flat views, the per-patient aggregate) straight from the
resource dicts. ``check_*`` compare those answers with what the
program returned and raise ``Mismatch`` on the first difference.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal


class Mismatch(AssertionError):
    """The program's output differs from the model."""


def canon(resource_json: str):
    """Parsed JSON with exact decimals. Spark re-serializes
    ``resource_json`` compactly, so raw strings are not comparable."""
    return json.loads(resource_json, parse_float=Decimal)


def wire(resource: dict) -> str:
    """The resource as the generator wrote it into the bundle."""
    return json.dumps(resource, separators=(",", ":"))


@dataclass
class Model:
    tables: dict[str, dict[str, dict]] = field(default_factory=dict)
    deleted: dict[str, set[str]] = field(default_factory=dict)
    corrupt: set[tuple[int, int]] = field(default_factory=set)  # (partition, offset)
    corrupt_resources: Counter = field(default_factory=Counter)  # (batch_id, type, raw)
    # per replayed batch: {type: rows changed}, and the entries / winners
    changed: list[dict[str, int]] = field(default_factory=list)
    entries: list[int] = field(default_factory=list)
    winners: list[int] = field(default_factory=list)

    def replay(self, batch, batch_id: int) -> None:
        best: dict[tuple[str, str], object] = {}
        for ev in batch.events:
            k = (ev.rtype, ev.rid)
            cur = best.get(k)
            if cur is None or (ev.partition, -ev.offset) < (cur.partition, -cur.offset):
                best[k] = ev
        self.corrupt.update(batch.corrupt)
        changed: dict[str, int] = Counter()
        for (rtype, rid), ev in best.items():
            table = self.tables.setdefault(rtype, {})
            changed.setdefault(rtype, 0)
            if ev.method == "PUT" and ev.resource is None:
                self.corrupt_resources[(batch_id, rtype, ev.raw)] += 1
            elif ev.method == "PUT":
                table[rid] = ev.resource
                self.deleted.get(rtype, set()).discard(rid)
                changed[rtype] += 1
            elif rid in table:  # DELETE of a key that existed before
                del table[rid]
                self.deleted.setdefault(rtype, set()).add(rid)
                changed[rtype] += 1
        self.changed.append(dict(changed))
        self.entries.append(len(batch.events))
        self.winners.append(len(best))

    def live_json_bytes(self) -> int:
        return sum(
            len(wire(r).encode()) for t in self.tables.values() for r in t.values()
        )

    # -- read-set answers ------------------------------------------------

    def lookup(self, rtype: str, rid: str):
        r = self.tables.get(rtype, {}).get(rid)
        return None if r is None else canon(wire(r))

    def observation_flat(self) -> list[tuple]:
        """viewdefs/observation_flat.json, evaluated on the dicts."""
        rows = []
        for r in self.tables.get("Observation", {}).values():
            if r.get("status") != "final":
                continue
            q = r.get("valueQuantity") or {}
            ref = (r.get("subject") or {}).get("reference", "")
            rows.append(
                (
                    r["id"],
                    ref.split("/", 1)[1] if ref.startswith("Patient/") else None,
                    (r.get("code") or {}).get("text"),
                    _dec(q.get("value")),
                    q.get("unit"),
                    r.get("valueString"),
                )
            )
        return sorted(rows, key=repr)

    def patient_flat(self) -> list[tuple]:
        """viewdefs/patient_flat.json, evaluated on the dicts."""
        rows = []
        for r in self.tables.get("Patient", {}).values():
            name = (r.get("name") or [{}])[0]
            addr = (r.get("address") or [{}])[0]
            rows.append(
                (
                    r["id"],
                    r.get("gender"),
                    dt.date.fromisoformat(r["birthDate"]) if r.get("birthDate") else None,
                    r.get("active"),
                    name.get("family"),
                    (name.get("given") or [None])[0],
                    addr.get("city"),
                    addr.get("postalCode"),
                )
            )
        return sorted(rows, key=repr)

    def per_patient(self) -> dict[str, tuple[int, Decimal | None]]:
        """Per subject reference: (observation count, exact sum of
        valueQuantity.value; None when no observation has one)."""
        out: dict[str, list] = {}
        for r in self.tables.get("Observation", {}).values():
            ref = (r.get("subject") or {}).get("reference")
            slot = out.setdefault(ref, [0, None])
            slot[0] += 1
            v = _dec((r.get("valueQuantity") or {}).get("value"))
            if v is not None:
                slot[1] = v if slot[1] is None else slot[1] + v
        return {k: (n, s) for k, (n, s) in out.items()}


def _dec(v) -> Decimal | None:
    # the generator writes floats with <= 2 decimals; repr is the exact
    # text json put on the wire
    return None if v is None else Decimal(repr(v))


# -- checks ---------------------------------------------------------------


def _fail(what: str, detail) -> None:
    raise Mismatch(f"{what}: {detail}")


def check_table(model: Model, rtype: str, rows: list[dict]) -> None:
    """``rows``: id, resource_json and the typed spot columns of every
    stored row of one table."""
    want = model.tables.get(rtype, {})
    got_ids = [r["id"] for r in rows]
    if len(got_ids) != len(set(got_ids)):
        _fail(f"{rtype} keys", "duplicate ids in the table")
    if set(got_ids) != set(want):
        missing = sorted(set(want) - set(got_ids))[:3]
        extra = sorted(set(got_ids) - set(want))[:3]
        _fail(f"{rtype} keys", f"missing {missing} extra {extra}")
    for row in rows:
        res = want[row["id"]]
        if canon(row["resource_json"]) != canon(wire(res)):
            _fail(f"{rtype}/{row['id']} resource_json", "differs from the winner")
        if rtype == "Observation":
            q = res.get("valueQuantity") or {}
            if row["status"] != res.get("status"):
                _fail(f"{rtype}/{row['id']} status", (row["status"], res.get("status")))
            if row["value"] != _dec(q.get("value")):
                _fail(f"{rtype}/{row['id']} valueQuantity.value", (row["value"], q.get("value")))
        if rtype == "Patient" and row["gender"] != res.get("gender"):
            _fail(f"{rtype}/{row['id']} gender", (row["gender"], res.get("gender")))


def check_dead_letters(model: Model, corrupt: list[tuple], resources: list[tuple]) -> None:
    """``corrupt``: (partition, offset) of every ``_corrupt`` row;
    ``resources``: (batch_id, resource_type, raw_resource) of every
    ``_corrupt_resources`` row."""
    if Counter(corrupt) != Counter(model.corrupt):
        _fail("_corrupt rows", f"{len(corrupt)} stored, {len(model.corrupt)} expected")
    if Counter(resources) != model.corrupt_resources:
        _fail(
            "_corrupt_resources rows",
            f"{len(resources)} stored, {sum(model.corrupt_resources.values())} expected",
        )


def check_lookup(model: Model, rtype: str, rid: str, rows: list[str]) -> None:
    want = model.lookup(rtype, rid)
    got = [canon(j) for j in rows]
    if got != ([] if want is None else [want]):
        _fail(f"lookup {rtype}/{rid}", f"{len(got)} rows, live={want is not None}")


def check_view(name: str, want: list[tuple], got: list[tuple]) -> None:
    got = sorted(got, key=repr)
    if got != want:
        diff = next(p for p in itertools.zip_longest(got, want) if p[0] != p[1])
        _fail(f"view {name}", f"{len(got)} rows vs {len(want)}; first difference {diff}")


def check_per_patient(model: Model, got: dict) -> None:
    want = model.per_patient()
    if got != want:
        bad = next(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        _fail("per-patient aggregate", (bad, got.get(bad), want.get(bad)))
