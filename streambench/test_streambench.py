"""Self-checks of the streaming-ingest benchmark.

    python3 -m pytest streambench/test_streambench.py -q

The model and checker tests are pure Python. The end-to-end tests run
each workload at a tiny size through the real command (about a minute
each) and the bare-checkout test runs it where the program is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import model as M  # noqa: E402
from gen import Batch, Event  # noqa: E402


def _obs(oid: str, status: str, value: float) -> dict:
    return {
        "resourceType": "Observation",
        "id": oid,
        "status": status,
        "code": {"text": "Heart rate"},
        "subject": {"reference": "Patient/p1"},
        "valueQuantity": {"value": value, "unit": "/min"},
    }


def _batch(*events: Event, corrupt=()) -> Batch:
    return Batch(events=list(events), corrupt=list(corrupt))


def _put(batch, part, off, res) -> Event:
    return Event(batch, part, off, "PUT", res["resourceType"], res["id"], res)


# -- the model's rules --------------------------------------------------------


def test_lowest_partition_beats_higher_offset():
    m = M.Model()
    m.replay(_batch(_put(0, 2, 90, _obs("o1", "final", 1.5)), _put(0, 1, 5, _obs("o1", "amended", 2.5))), 0)
    assert m.tables["Observation"]["o1"]["status"] == "amended"
    m.replay(_batch(_put(1, 1, 6, _obs("o1", "final", 3.0)), _put(1, 1, 7, _obs("o1", "preliminary", 4.0))), 1)
    assert m.tables["Observation"]["o1"]["status"] == "preliminary"
    assert m.winners == [1, 1] and m.entries == [2, 2]


def test_delete_removes_only_keys_that_existed_before_the_batch():
    m = M.Model()
    # PUT then DELETE of a new key in one batch: the DELETE wins and
    # the key never existed, so nothing changes
    m.replay(_batch(_put(0, 0, 1, _obs("o2", "final", 1.0)), Event(0, 0, 2, "DELETE", "Observation", "o2", None)), 0)
    assert m.tables["Observation"] == {} and m.changed == [{"Observation": 0}]
    m.replay(_batch(_put(1, 0, 3, _obs("o2", "final", 1.0))), 1)
    m.replay(_batch(Event(2, 3, 1, "DELETE", "Observation", "o2", None)), 2)
    assert m.tables["Observation"] == {} and m.deleted["Observation"] == {"o2"}


def test_invalid_put_is_dead_lettered_and_keeps_the_old_row():
    m = M.Model()
    m.replay(_batch(_put(0, 0, 1, _obs("o3", "final", 1.0))), 0)
    bad = Event(1, 0, 2, "PUT", "Observation", "o3", None, "{broken")
    m.replay(_batch(bad, corrupt=[(3, 9)]), 1)
    assert m.tables["Observation"]["o3"]["status"] == "final"
    assert m.corrupt_resources == {(1, "Observation", "{broken"): 1}
    assert m.corrupt == {(3, 9)}
    assert m.changed[-1] == {"Observation": 0}


def test_generator_is_seeded():
    a = gen.backfill_batches(gen.Generator(5), gen.scaled(gen.BACKFILL, 0.1))
    b = gen.backfill_batches(gen.Generator(5), gen.scaled(gen.BACKFILL, 0.1))
    c = gen.backfill_batches(gen.Generator(6), gen.scaled(gen.BACKFILL, 0.1))
    assert [x.records for x in a] == [x.records for x in b]
    assert [x.records for x in a] != [x.records for x in c]


# -- the checker rejects wrong tables ----------------------------------------


def _stored_rows(m: M.Model, rtype: str) -> list[dict]:
    """What a correct program would return for ``check_table``."""
    out = []
    for rid, res in m.tables[rtype].items():
        row = {"id": rid, "resource_json": M.wire(res)}
        if rtype == "Observation":
            row["status"] = res["status"]
            row["value"] = M._dec(res["valueQuantity"]["value"])
        out.append(row)
    return out


@pytest.fixture
def replayed():
    m = M.Model()
    m.replay(_batch(_put(0, 0, 1, _obs("keep", "final", 7.25)), _put(0, 0, 2, _obs("gone", "final", 1.0))), 0)
    m.replay(
        _batch(
            _put(1, 1, 3, _obs("keep", "preliminary", 9.5)),  # superseded
            _put(1, 0, 4, _obs("keep", "amended", 8.75)),  # winner: lower partition
            Event(1, 2, 5, "DELETE", "Observation", "gone", None),
            Event(1, 2, 6, "PUT", "Observation", "bad", None, "{broken"),
        ),
        1,
    )
    return m


def test_checker_accepts_the_right_table(replayed):
    rows = _stored_rows(replayed, "Observation")
    M.check_table(replayed, "Observation", rows)
    # Spark re-serializes resource_json; parsed comparison ignores that
    for r in rows:
        r["resource_json"] = json.dumps(json.loads(r["resource_json"]), indent=1)
    M.check_table(replayed, "Observation", rows)
    M.check_dead_letters(replayed, [], [(1, "Observation", "{broken")])


def test_checker_rejects_a_superseded_version(replayed):
    rows = _stored_rows(replayed, "Observation")
    rows[0]["resource_json"] = M.wire(_obs("keep", "preliminary", 9.5))
    with pytest.raises(M.Mismatch, match="resource_json"):
        M.check_table(replayed, "Observation", rows)


def test_checker_rejects_a_deleted_key(replayed):
    rows = _stored_rows(replayed, "Observation") + [
        {"id": "gone", "resource_json": M.wire(_obs("gone", "final", 1.0)), "status": "final", "value": M._dec(1.0)}
    ]
    with pytest.raises(M.Mismatch, match="keys"):
        M.check_table(replayed, "Observation", rows)
    with pytest.raises(M.Mismatch, match="lookup"):
        M.check_lookup(replayed, "Observation", "gone", [rows[-1]["resource_json"]])


def test_checker_rejects_a_merged_invalid_resource(replayed):
    rows = _stored_rows(replayed, "Observation") + [
        {"id": "bad", "resource_json": "{}", "status": None, "value": None}
    ]
    with pytest.raises(M.Mismatch, match="keys"):
        M.check_table(replayed, "Observation", rows)
    with pytest.raises(M.Mismatch, match="_corrupt_resources"):
        M.check_dead_letters(replayed, [], [])


def test_checker_rejects_a_wrong_typed_column(replayed):
    rows = _stored_rows(replayed, "Observation")
    rows[0]["value"] = M._dec(8.7)
    with pytest.raises(M.Mismatch, match="valueQuantity"):
        M.check_table(replayed, "Observation", rows)


def test_checker_rejects_wrong_read_answers(replayed):
    want = replayed.observation_flat()
    M.check_view("observation_flat", want, list(want))
    with pytest.raises(M.Mismatch, match="observation_flat"):
        M.check_view("observation_flat", want, want + [("gone", "p1", "Heart rate", M._dec(1.0), "/min", None)])
    agg = replayed.per_patient()
    M.check_per_patient(replayed, dict(agg))
    with pytest.raises(M.Mismatch, match="per-patient"):
        M.check_per_patient(replayed, {k: (n + 1, s) for k, (n, s) in agg.items()})


# -- the command, end to end --------------------------------------------------


def _metric_names(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return sorted(m["name"] for m in json.load(f)[kind])


@pytest.mark.parametrize(
    "workload,trace",
    [("backfill_bundles", 0), ("trickle_large_table", 1)],
)
def test_workload_runs_tiny_and_checks_out(workload, trace):
    cmd = [sys.executable, "streambench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == gen.BACKFILL.batches * (workload == "backfill_bundles") + \
        gen.TRICKLE.batches * (workload == "trickle_large_table") + 4 * 7  # one warm-up and three timed read passes
    kind = "per_layer" if trace else "end_to_end"
    assert sorted(result["metrics"]) == _metric_names(kind)
    assert all(m["value"] == m["value"] for m in result["metrics"].values())  # no NaN


def test_bare_checkout_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "streambench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "streambench/run.py", "--workload", "backfill_bundles",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
