"""Seeded input generator for the streaming-ingest benchmark.

Pure Python: one ``random.Random(seed)`` draws every resource, so the
same seed gives byte-identical inputs. Each micro-batch is one parquet
file of Kafka-shaped records (key, value, timestamp, partition, offset,
topic) written with pyarrow, so set-up runs no Spark job for it.

Kafka keys hash to 4 partitions (crc32) and offsets increase within
each partition across the whole backlog. The bundle key is a random
bundle id, so one resource URL can appear under several partitions of
one batch: that exercises the reference's "lowest partition, then
highest offset" dedup rule, not just "latest offset".

Alongside the files the generator returns the *events* (one per
bundle entry, with its partition and offset) that ``model.py`` replays
independently of the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

N_PARTITIONS = 4
TOPIC = "fhir.bundles"
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("topic", pa.string()),
    ]
)

_LOINC = [
    ("8867-4", "Heart rate", "/min"),
    ("8310-5", "Body temperature", "Cel"),
    ("29463-7", "Body weight", "kg"),
    ("8302-2", "Body height", "cm"),
    ("2339-0", "Glucose", "mg/dL"),
    ("2093-3", "Cholesterol", "mg/dL"),
    ("718-7", "Hemoglobin", "g/dL"),
    ("59408-5", "Oxygen saturation", "%"),
]
_SNOMED = [
    ("44054006", "Diabetes mellitus type 2"),
    ("38341003", "Hypertensive disorder"),
    ("195662009", "Acute viral pharyngitis"),
    ("10509002", "Acute bronchitis"),
    ("271737000", "Anemia"),
    ("55822004", "Hyperlipidemia"),
]
_OBS_STATUS = ["final", "final", "final", "amended", "preliminary"]
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class Event:
    """One bundle entry as the model sees it."""

    batch: int
    partition: int
    offset: int
    method: str  # "PUT" | "DELETE"
    rtype: str
    rid: str
    resource: dict | None  # None for DELETE and for invalid PUTs
    raw: str | None = None  # the inner resource text of an invalid PUT


@dataclass
class Batch:
    """One micro-batch: its records and the events inside them."""

    records: list[dict] = field(default_factory=list)
    events: list[Event] = field(default_factory=list)
    corrupt: list[tuple[int, int]] = field(default_factory=list)  # (partition, offset)


class Generator:
    """Draws resources, bundles and Kafka records from one seed.

    ``patients`` / ``observations`` track every id ever PUT so updates
    and deletes target existing keys; the generator does not need to
    know whether a key is live (the model decides that)."""

    def __init__(self, seed: int, id_prefix: str = ""):
        self.rng = random.Random(seed)
        self.prefix = id_prefix
        self.next_offset = [0] * N_PARTITIONS
        self.n_ids = 0
        self.n_records = 0
        self.patients: list[str] = []
        self.observations: list[tuple[str, str]] = []  # (obs id, patient id)
        self.obs_of: dict[str, list[str]] = {}  # patient id -> its obs ids
        self.conditions: dict[str, str] = {}  # patient id -> condition id

    # -- random payload pieces -------------------------------------------

    def _id(self) -> str:
        self.n_ids += 1
        return f"{self.prefix}{self.n_ids:07d}-{self.rng.getrandbits(48):012x}"

    def _word(self, lo: int = 4, hi: int = 9) -> str:
        n = self.rng.randint(lo, hi)
        return "".join(self.rng.choices(_LETTERS, k=n)).capitalize()

    def _digits(self, n: int) -> str:
        return "".join(self.rng.choices("0123456789", k=n))

    def _date(self, y0: int, y1: int) -> str:
        d = dt.date(y0, 1, 1) + dt.timedelta(
            days=self.rng.randrange((dt.date(y1, 1, 1) - dt.date(y0, 1, 1)).days)
        )
        return d.isoformat()

    def _datetime(self) -> str:
        t = EPOCH - dt.timedelta(seconds=self.rng.randrange(3 * 365 * 86400))
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")

    def _hot(self, pool: list, skew: float):
        """Skewed pick: index = n * u**skew, so low indexes are hot."""
        return pool[int(len(pool) * self.rng.random() ** skew)]

    # -- resources --------------------------------------------------------

    def patient(self, pid: str) -> dict:
        r = self.rng
        return {
            "resourceType": "Patient",
            "id": pid,
            "active": r.random() < 0.9,
            "gender": r.choice(["male", "female", "other", "unknown"]),
            "birthDate": self._date(1930, 2020),
            "name": [
                {
                    "use": "official",
                    "family": self._word(),
                    "given": [self._word(3, 7), self._word(3, 7)],
                }
            ],
            "identifier": [
                {"system": "urn:oid:2.16.840.1.113883.4.3", "value": self._digits(9)}
            ],
            "telecom": [{"system": "phone", "value": f"555-{self._digits(3)}-{self._digits(4)}"}],
            "address": [
                {
                    "line": [f"{r.randint(1, 9999)} {self._word()} {r.choice(['St', 'Ave', 'Rd', 'Ln'])}"],
                    "city": self._word(5, 10),
                    "state": r.choice(["MA", "NY", "CA", "TX", "WA", "IL"]),
                    "postalCode": self._digits(5),
                    "country": "US",
                }
            ],
        }

    def observation(self, oid: str, pid: str, eid: str | None) -> dict:
        r = self.rng
        code, text, unit = r.choice(_LOINC)
        res = {
            "resourceType": "Observation",
            "id": oid,
            "status": r.choice(_OBS_STATUS),
            "category": [
                {"coding": [{"system": "http://terminology.hl7.org/CodeSystem/observation-category", "code": "vital-signs"}]}
            ],
            "code": {"coding": [{"system": "http://loinc.org", "code": code, "display": text}], "text": text},
            "subject": {"reference": f"Patient/{pid}"},
            "effectiveDateTime": self._datetime(),
            "issued": self._datetime(),
        }
        if eid:
            res["encounter"] = {"reference": f"Encounter/{eid}"}
        if r.random() < 0.9:
            # a float with <= 2 decimals: json writes its shortest repr,
            # so Decimal(repr(value)) is the exact number on the wire
            value = r.randint(100, 99999) / 100
            res["valueQuantity"] = {
                "value": value,
                "unit": unit,
                "system": "http://unitsofmeasure.org",
                "code": unit,
            }
        else:
            res["valueString"] = f"{self._word()} {self._word()}"
        return res

    def encounter(self, eid: str, pid: str) -> dict:
        start = self._datetime()
        return {
            "resourceType": "Encounter",
            "id": eid,
            "status": "finished",
            "class": {"system": "http://terminology.hl7.org/CodeSystem/v3-ActCode", "code": "AMB"},
            "type": [{"text": self._word(6, 12)}],
            "subject": {"reference": f"Patient/{pid}"},
            "period": {"start": start, "end": start},
        }

    def condition(self, cid: str, pid: str) -> dict:
        code, text = self.rng.choice(_SNOMED)
        return {
            "resourceType": "Condition",
            "id": cid,
            "clinicalStatus": {"coding": [{"code": self.rng.choice(["active", "resolved"])}]},
            "code": {"coding": [{"system": "http://snomed.info/sct", "code": code, "display": text}], "text": text},
            "subject": {"reference": f"Patient/{pid}"},
            "onsetDateTime": self._datetime(),
            "recordedDate": self._datetime(),
        }

    # -- entries, bundles, records ---------------------------------------

    @staticmethod
    def put(resource: dict) -> tuple:
        return ("PUT", resource["resourceType"], resource["id"], resource, None)

    @staticmethod
    def delete(rtype: str, rid: str) -> tuple:
        return ("DELETE", rtype, rid, None, None)

    def invalid_put(self, rtype: str, rid: str) -> tuple:
        # an envelope-valid entry whose inner resource is not JSON
        return ("PUT", rtype, rid, None, f"{{broken {self._word()} resource")

    def add_bundle(self, batch: Batch, batch_no: int, entries: list[tuple]) -> None:
        key = self._id()
        part = zlib.crc32(key.encode()) % N_PARTITIONS
        off = self.next_offset[part]
        self.next_offset[part] += 1
        body = []
        for method, rtype, rid, resource, raw in entries:
            entry: dict = {"request": {"method": method, "url": f"{rtype}/{rid}"}}
            if method == "PUT":
                entry["fullUrl"] = f"urn:uuid:{rid}"
                entry["resource"] = resource if resource is not None else raw
            body.append(entry)
            batch.events.append(
                Event(batch_no, part, off, method, rtype, rid, resource, raw)
            )
        value = json.dumps(
            {"resourceType": "Bundle", "type": "transaction", "entry": body},
            separators=(",", ":"),
        )
        self._add_record(batch, key, value, part, off)

    def add_corrupt(self, batch: Batch) -> None:
        key = self._id()
        part = zlib.crc32(key.encode()) % N_PARTITIONS
        off = self.next_offset[part]
        self.next_offset[part] += 1
        if self.rng.random() < 0.5:
            value = f"not a bundle {self._word()} {{{{"
        else:  # valid JSON, but not a Bundle
            value = json.dumps({"resourceType": "Patient", "id": self._id()})
        batch.corrupt.append((part, off))
        self._add_record(batch, key, value, part, off)

    def _add_record(self, batch: Batch, key: str, value: str, part: int, off: int) -> None:
        self.n_records += 1
        batch.records.append(
            {
                "key": key,
                "value": value,
                "timestamp": EPOCH + dt.timedelta(milliseconds=self.n_records),
                "partition": part,
                "offset": off,
                "topic": TOPIC,
            }
        )


# -- workloads --------------------------------------------------------------


@dataclass
class Sizes:
    """Input make-up of one workload (README "Inputs")."""

    batches: int  # measured micro-batches
    bundles_per_batch: int
    base_patients: int = 0  # trickle: rows built into Patient at set-up
    obs_per_base_patient: int = 3


BACKFILL = Sizes(batches=4, bundles_per_batch=48)
TRICKLE = Sizes(batches=8, bundles_per_batch=12, base_patients=2000, obs_per_base_patient=2)


def scaled(sizes: Sizes, factor: float) -> Sizes:
    """Smaller inputs of the same make-up and batch count (so the
    trickle workload keeps its degenerate batches)."""
    return Sizes(
        batches=sizes.batches,
        bundles_per_batch=max(2, round(sizes.bundles_per_batch * factor)),
        base_patients=max(50, round(sizes.base_patients * factor)) if sizes.base_patients else 0,
        obs_per_base_patient=sizes.obs_per_base_patient,
    )


def warmup(sizes: Sizes) -> Sizes:
    """The backfill set-up stream that compiles and JIT-warms the batch
    path: one batch (with upkeep, as batch 0) of 16 bundles."""
    return Sizes(batches=1, bundles_per_batch=min(16, sizes.bundles_per_batch))


def backfill_batches(g: Generator, sizes: Sizes) -> list[Batch]:
    """Multi-type transaction bundles (Patient, Encounter, 5 Observations,
    Condition: 8 entries) into empty tables. 35% of bundles are new
    patients; the rest update a hot patient (skew 3) and rewrite two of
    its observations, so many entries are superseded inside their own
    batch. 4% of bundles carry a DELETE of a hot observation, 2% one
    invalid Observation PUT, and 1% of records are unparseable."""
    r = g.rng
    out = []
    for b in range(sizes.batches):
        batch = Batch()
        for _ in range(sizes.bundles_per_batch):
            if not g.patients or r.random() < 0.35:
                pid = g._id()
                g.patients.append(pid)
            else:
                pid = g._hot(g.patients, 3.0)
            eid = g._id()
            entries = [g.put(g.patient(pid)), g.put(g.encounter(eid, pid))]
            urls = set()
            mine = g.obs_of.setdefault(pid, [])
            for oid in mine[-2:]:
                urls.add(oid)
                entries.append(g.put(g.observation(oid, pid, eid)))
            while len(entries) < 7:
                oid = g._id()
                g.observations.append((oid, pid))
                mine.append(oid)
                urls.add(oid)
                entries.append(g.put(g.observation(oid, pid, eid)))
            cid = g.conditions.setdefault(pid, g._id())
            entries.append(g.put(g.condition(cid, pid)))
            if r.random() < 0.02:
                entries[2] = g.invalid_put("Observation", entries[2][2])
            if r.random() < 0.04 and len(g.observations) > 10:
                oid, _ = g._hot(g.observations, 2.0)
                if oid not in urls:
                    entries.append(g.delete("Observation", oid))
            g.add_bundle(batch, b, entries)
            if r.random() < 0.01:
                g.add_corrupt(batch)
        out.append(batch)
    return out


def base_batches(g: Generator, sizes: Sizes) -> list[Batch]:
    """The trickle workload's starting tables, as two batches: one
    bundle per patient (the Patient plus ``obs_per_base_patient``
    Observations). The second batch merges into the tables the first
    one created, so building them also warms the merge path."""
    out = [Batch(), Batch()]
    for i in range(sizes.base_patients):
        pid = g._id()
        g.patients.append(pid)
        entries = [g.put(g.patient(pid))]
        for _ in range(sizes.obs_per_base_patient):
            oid = g._id()
            g.observations.append((oid, pid))
            entries.append(g.put(g.observation(oid, pid, None)))
        half = 2 * i // sizes.base_patients
        g.add_bundle(out[half], half - 2, entries)
    return out


def trickle_batches(g: Generator, sizes: Sizes) -> list[Batch]:
    """Small batches of single-entry bundles into the large base tables:
    85% update an existing key (skew 2; 40% Patient, 60% Observation),
    15% add a new Observation. Every 8th batch (b % 8 == 3) is
    DELETE-only and every 8th (b % 8 == 7) holds only invalid PUTs,
    for both types."""
    r = g.rng
    out = []
    for b in range(sizes.batches):
        batch = Batch()
        n = sizes.bundles_per_batch
        if b % 8 == 3:
            for k in range(4):
                if k % 2:
                    g.add_bundle(batch, b, [g.delete("Patient", g._hot(g.patients, 2.0))])
                else:
                    oid, _ = g._hot(g.observations, 2.0)
                    g.add_bundle(batch, b, [g.delete("Observation", oid)])
        elif b % 8 == 7:
            for k in range(4):
                if k % 2:
                    g.add_bundle(batch, b, [g.invalid_put("Patient", g._hot(g.patients, 2.0))])
                else:
                    oid, _ = g._hot(g.observations, 2.0)
                    g.add_bundle(batch, b, [g.invalid_put("Observation", oid)])
        else:
            for _ in range(n):
                u = r.random()
                if u < 0.34:
                    pid = g._hot(g.patients, 2.0)
                    g.add_bundle(batch, b, [g.put(g.patient(pid))])
                elif u < 0.85:
                    oid, pid = g._hot(g.observations, 2.0)
                    g.add_bundle(batch, b, [g.put(g.observation(oid, pid, None))])
                else:
                    pid = g._hot(g.patients, 1.0)
                    oid = g._id()
                    g.observations.append((oid, pid))
                    g.add_bundle(batch, b, [g.put(g.observation(oid, pid, None))])
        out.append(batch)
    return out


def write_batches(batches: list[Batch], src_dir: str) -> int:
    """One parquet file per batch, named so the file source orders them
    as the batch order. Returns the input record bytes (key + value)."""
    os.makedirs(src_dir, exist_ok=True)
    total = 0
    for i, batch in enumerate(batches):
        table = pa.Table.from_pylist(batch.records, schema=ARROW_SCHEMA)
        path = os.path.join(src_dir, f"batch-{i:05d}.parquet")
        pq.write_table(table, path)
        # the file source orders files by modification time: make the
        # order the batch order even when writes share a timestamp
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        total += sum(
            len(r["key"].encode()) + len(r["value"].encode()) for r in batch.records
        )
    return total
