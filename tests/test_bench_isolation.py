"""bench.py must ALWAYS emit its JSON line — a single broken query
zeroed round 2's entire perf signal (BENCH_r02: rc=1, parsed null).

Runs bench.py's main() in-process against sf0.001 with one registry
entry monkeypatched to raise, and asserts the emitted JSON still
parses, still contains timings for healthy queries, and records the
failure under "errors".
"""

from __future__ import annotations

import json
import os

import pytest


def test_bench_emits_json_despite_query_failure(
    spark, monkeypatch, capsys, tmp_path
):
    import bench
    from fhir_to_lakehouse_spark.plans import QUERIES

    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    broken = dict(QUERIES)
    broken["events_sessionize"] = boom  # mid-list entry, like round 2

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("BENCH_COLD", "1")  # single pass: keep the test fast
    # 3 entries exercise every code path the assertions need (a timed
    # headline entry, the injected failure, a timed e2e entry); running
    # all 64+6 took 229 s of the suite's budget (r13 durations run) and
    # proved nothing more. Gates/settles are timing hygiene for real
    # runs, not plumbing under test — zero them for determinism.
    monkeypatch.setenv(
        "BENCH_ONLY", "q1_pricing_summary,events_sessionize,etl_pipeline_batch"
    )
    monkeypatch.setenv("BENCH_QUIET_WAIT_S", "0")
    monkeypatch.setenv("BENCH_SETTLE_WAIT_S", "0")
    monkeypatch.setenv("BENCH_DIAG_PATH", str(tmp_path / "BENCH_DIAG.json"))
    monkeypatch.setattr(
        "fhir_to_lakehouse_spark.plans.QUERIES", broken, raising=True
    )
    # reuse the session fixture instead of building a second JVM session
    monkeypatch.setattr(
        "fhir_to_lakehouse_spark.session.get_spark", lambda *a, **k: spark
    )

    bench.main()

    line = capsys.readouterr().out.strip().splitlines()[-1]
    # must parse STRICTLY — the round-2 failure mode, plus the r11
    # hazard: a NaN from a JMX counter leaking into the JSON would
    # emit Python's non-standard `NaN` literal, which a strict parser
    # (and possibly the driver) rejects. parse_constant fires only on
    # NaN/Infinity tokens.
    def _no_nan(tok):
        raise AssertionError(f"non-standard JSON constant in bench output: {tok}")

    out = json.loads(line, parse_constant=_no_nan)
    assert out["unit"] == "sec"
    # per-entry adjudicability block (r11): every timed entry carries
    # its machine/JVM attribution; queries stays {name: number}
    qe = out["query_env"]
    assert "q1_pricing_summary" in qe
    for key in (
        "busy_pre", "settle_s", "gc_delta_s", "heap_pre_mb",
        "warmup_s", "passes_s", "rejected_passes",
    ):
        assert key in qe["q1_pricing_summary"]
    # one measurement protocol for every entry: an e2e entry's record
    # has exactly the headline record's fields, not a second harness's
    assert qe["etl_pipeline_batch"].keys() == qe["q1_pricing_summary"].keys()
    assert all(
        isinstance(v, (int, float)) for v in out["queries"].values()
    )
    assert "events_sessionize" in out["errors"]

    # tail-capture contract (VERDICT r11 item 1): the driver records
    # only the last 2000 chars of stdout, so the line must END with a
    # complete `,"sf":...,"queries":{...}}` suffix that fits inside
    # that window — r11's record ended with diagnostics and carried
    # zero timings. Aggregates (queries_full, query_env, env) must sit
    # EARLIER in the line.
    suffix_at = line.rindex(',"sf":')
    # the suffix may start with the terse quiet-gate scalars
    # (`,"w":…,"l1":…,"c":…`) immediately before `,"sf":`
    w_at = line.rfind(',"w":', max(0, suffix_at - 40), suffix_at)
    start = w_at if w_at != -1 else suffix_at
    assert len(line) - start <= 1985, "tail suffix exceeds capture window"
    tail_doc = json.loads("{" + line[start + 1 :])
    assert {"sf", "queries"} <= set(tail_doc) <= {
        "sf",
        "queries",
        "w",
        "l1",
        "c",
    }
    assert tail_doc["queries"].keys() == out["queries_full"].keys()
    assert list(out)[-1] == "queries", "timings must be the LAST json key"

    # full-fidelity record also lands on disk, independent of stdout
    diag = json.loads((tmp_path / "BENCH_DIAG.json").read_text())
    assert diag["queries"].keys() == out["queries_full"].keys()
    assert "events_sessionize" in diag["errors"]
    assert "q1_pricing_summary" in diag["query_env"]
    assert "injected failure" in out["errors"]["events_sessionize"]
    # everything before AND after the broken entry still got timed
    assert out["queries"]["q1_pricing_summary"] > 0
    assert out["queries"]["etl_pipeline_batch"] > 0
    # `queries` (the tail dict) may be precision-degraded to fit the
    # capture window; the total must match the FULL-precision timings
    assert out["value"] == pytest.approx(
        sum(
            v
            for v in out["queries_full"].values()
            if isinstance(v, (int, float))
        ),
        abs=0.01,
    )
    # and the tail dict must agree with full precision to its own
    # rounding (no entry silently replaced or zeroed)
    for k, v in out["queries"].items():
        assert v == pytest.approx(out["queries_full"][k], abs=0.51)


def test_choose_tail_suffix_ladder_is_total_and_prioritized():
    """Pure-function coverage of the tail ladder (no Spark needed):
    env-bearing candidates outrank precision, precision degrades
    4->0, and the prec-0 rung makes the function total — an oversized
    registry can degrade the tail copy but never drop it."""
    from bench import choose_tail_suffix

    env = {"quiet_wait_s": 330.0, "loadavg_1m": 8.79, "n_cpus": 32}

    # small registry: full precision + env scalars
    small = {"q1": 1.2345, "q2": 0.5}
    s = choose_tail_suffix(small, 0.1, env)
    assert s.startswith(',"w":330,"l1":8.79,"c":32,"sf":0.1')
    assert '"q1":1.2345' in s and '"q2":0.5' in s

    # 64-entry registry at the real registry's shape (names avg ~23
    # chars, values mostly < 10 s): must fit the default budget by
    # degrading precision (not entries) while keeping the env scalars
    big = {f"entry_name_padding_{i:03d}": 1.2345 for i in range(64)}
    s = choose_tail_suffix(big, 0.1, env)
    assert len(s) <= 1985
    assert s.startswith(',"w":330')
    assert s.count('"entry_name_padding_') == 64
    assert '"entry_name_padding_000":1.2345' not in s, "should have degraded"

    # pathological registry: env dropped first, then precision, but
    # the suffix ALWAYS contains every entry (prec-0 floor is total)
    huge = {f"very_long_query_entry_name_padding_{i:03d}": 12.345 for i in range(220)}
    s = choose_tail_suffix(huge, 0.1, env)
    assert s.count('"very_long_query_entry_name_padding_') == 220
    doc = json.loads("{" + s[1:])
    assert len(doc["queries"]) == 220
    assert all(isinstance(v, int) for v in doc["queries"].values())

    # no env block at all (non-POSIX fallback): still valid JSON tail
    s = choose_tail_suffix(small, 0.01, {})
    assert s.startswith(',"sf":0.01')
