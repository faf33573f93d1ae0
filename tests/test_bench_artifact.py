"""Tail-proof bench artifact (VERDICT r10 item 2).

BENCH_r10.json shipped ``parsed: null``: bench.py printed ONE JSON line
carrying raw runs + tracking runs + attempt histories, which outgrew the
driver's ~2000-char stdout tail capture, so the captured tail began
mid-line and no complete JSON record survived.  bench.py now prints the
detailed record first and a COMPACT summary line LAST; these tests pin
that the compact line (a) survives the driver's bounded tail capture
byte-for-byte even after an oversized detailed line and arbitrary
progress-bar noise, and (b) carries the headline fields the judge needs.

No Spark session required — pure artifact-formatting tests.
"""

from __future__ import annotations

import json


def _bench():
    # conftest puts the repo root on sys.path and bench.py guards its
    # entry point, so a plain import is all that's needed (and caches
    # normally, unlike a spec_from_file_location re-exec per call)
    import bench

    return bench


#: Realistic worst case: the 12 pinned headline queries (longest real
#: names) plus the 4 tracking queries, 5 runs each, 6 attempts — wider
#: than any artifact shipped so far (r10 had 3 attempts).
_HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q10_returned_items",
    "pipeline_corpus_curation",
    "events_sessionize",
    "events_tumbling_counts",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_term_frequency",
)


def _fake_attempt(bench, offset: float) -> dict:
    runs = {n: [round(1.2345 + offset + 0.01 * i, 4) for i in range(5)] for n in _HEADLINE}
    tracking_runs = {
        n: [round(6.7891 + offset + 0.01 * i, 4) for i in range(3)]
        for n in bench.TRACKING_QUERIES
    }
    timings = {n: min(r) for n, r in runs.items()}
    return {
        "value": round(sum(timings.values()), 4),
        "queries": timings,
        "runs": runs,
        "loadavg_1m_per_pass": [0.86, 0.95, 1.03, 0.95, 0.88],
        "tracking": {n: min(r) for n, r in tracking_runs.items()},
        "tracking_runs": tracking_runs,
        "loadavg_at_start": [0.86, 1.99, 3.99],
        "idle_at_start": offset == 0.0,
        "idle_wait_sec": 75.0,
        "mem_available_gb": 101.3,
    }


def test_compact_line_fits_driver_tail_budget() -> None:
    # fixture sized at the RETRY-CAP-derived worst case (~30 min cap /
    # ~2 min fastest suite = 15 attempts), not a round-trip-observed
    # count, so the budget assertion covers the true bound (r11 ADVICE
    # item 4); attempt_values/attempt_idle are the only per-attempt
    # fields in the compact line
    bench = _bench()
    attempts = [
        _fake_attempt(bench, 0.1 * i) for i in range(bench.WORST_CASE_ATTEMPTS)
    ]
    best = attempts[0]
    detailed, compact = bench.artifact_lines(best, attempts, 0.1)
    # the detailed line genuinely needs the second line (regression
    # guard on the test itself: if detailed ever fits, this scenario
    # stops exercising truncation)
    assert len(detailed) > bench.DRIVER_TAIL_CHARS
    # compact line + newline must fit the tail with margin for the
    # driver's own framing
    assert len(compact) + 1 <= bench.DRIVER_TAIL_CHARS - 200, len(compact)


def test_tail_capture_parses_compact_line() -> None:
    """Replay the driver's capture: concatenate progress-bar noise, the
    oversized detailed line, and the compact line; keep only the last
    DRIVER_TAIL_CHARS chars; the last complete line must json-parse to
    the headline record."""
    bench = _bench()
    attempts = [_fake_attempt(bench, 0.1 * i) for i in range(6)]
    best = attempts[0]
    noise = "\r".join(f"[Stage {i}:=====> (31 + 1) / 32]" for i in range(40))
    stdout = noise + "\n" + "\n".join(bench.artifact_lines(best, attempts, 0.1)) + "\n"
    tail = stdout[-bench.DRIVER_TAIL_CHARS:]
    last_line = tail.splitlines()[-1]
    parsed = json.loads(last_line)
    assert parsed["metric"] == "headline_suite_seconds"
    assert parsed["value"] == best["value"]
    assert parsed["queries"] == best["queries"]
    assert parsed["tracking"] == best["tracking"]
    assert parsed["idle_at_start"] is True
    assert parsed["attempts"] == 6
    assert parsed["attempt_values"] == [a["value"] for a in attempts]


def test_detailed_line_prints_first_and_keeps_history() -> None:
    bench = _bench()
    attempts = [_fake_attempt(bench, 0.1 * i) for i in range(2)]
    best = attempts[1]
    detailed_line, compact_line = bench.artifact_lines(best, attempts, 0.01)
    detailed = json.loads(detailed_line)
    assert detailed["metric"] == "headline_suite_seconds_detailed"
    assert detailed["runs"] == best["runs"]
    assert detailed["tracking_runs"] == best["tracking_runs"]
    assert [a["value"] for a in detailed["attempt_summaries"]] == [
        a["value"] for a in attempts
    ]
    assert detailed["attempt_summaries"][0]["mem_available_gb"] == 101.3
    compact = json.loads(compact_line)
    assert compact["sf"] == 0.01
    assert compact["value"] == best["value"]


def test_mem_available_reads_on_linux() -> None:
    bench = _bench()
    got = bench._mem_available_gb()
    assert got is None or got > 0


# ---- band derivation (VERDICT r12 item 4: bands are CODE, not a
# hand-copied literal; a synthetic out-of-band value must trip the
# verdict False and an absent measurement/band must read None) ----


def _fake_summaries():
    return [
        (10, {"queries": {"q1": 1.0}, "tracking": {"t1": 4.0}}),
        (11, {"queries": {"q1": 2.0}, "tracking": {"t1": 5.0}}),
        (12, {"queries": {"q1": 3.0}, "tracking": {"t1": 6.0, "t2": 8.0}}),
    ]


def test_derive_bands_is_median_with_tolerance() -> None:
    bench = _bench()
    bands = bench.derive_bands(_fake_summaries(), "queries", ("q1", "q_new"))
    assert bands["q1"] == (round(2.0 * 0.85, 4), round(2.0 * 1.15, 4))
    # no parsed history -> band absent, never silently derived
    assert bands["q_new"] is None
    # single-point history: median == the point
    tb = bench.derive_bands(_fake_summaries(), "tracking", ("t2",))
    assert tb["t2"] == (round(8.0 * 0.85, 4), round(8.0 * 1.15, 4))


def test_derive_bands_uses_latest_history_only() -> None:
    bench = _bench()
    summaries = [(r, {"queries": {"q1": float(r)}}) for r in range(1, 9)]
    bands = bench.derive_bands(summaries, "queries", ("q1",))
    # last BAND_HISTORY=3 values are 6,7,8 -> median 7
    assert bands["q1"] == (round(7 * 0.85, 4), round(7 * 1.15, 4))


def test_in_band_verdicts() -> None:
    bench = _bench()
    bands = {"a": (1.0, 2.0), "b": (1.0, 2.0), "c": None, "d": (1.0, 2.0)}
    got = bench.in_band({"a": 1.5, "b": 9.9, "c": 1.5}, bands)
    assert got == {"a": True, "b": False, "c": None, "d": None}


#: The tracking tier before the r14 additions: the only queries the
#: synthetic artifact history below measures.
_LEGACY_TRACKING = (
    "sim_hnsw_search",
    "dedup_containment_ensemble",
    "text_bpe_iterative_deep",
    "stream_ann_refresh",
)


def _write_history(repo_dir) -> None:
    """BENCH_r10..r13 in the official artifact shape: r10 unparsed (the
    pre-compact single-line capture), r11-r13 parsed with headline values
    and tracking values for the legacy four only."""
    (repo_dir / "BENCH_r10.json").write_text(json.dumps({"parsed": None}))
    for r in (11, 12, 13):
        parsed = {
            "value": 7.0 + 0.1 * r,
            "queries": {n: round(0.5 + 0.01 * r, 4) for n in _HEADLINE},
            "tracking": {n: round(3.0 + 0.1 * r, 4) for n in _LEGACY_TRACKING},
        }
        (repo_dir / f"BENCH_r{r}.json").write_text(json.dumps({"parsed": parsed}))


def test_current_bands_from_artifact_history_and_compact_carries_verdicts(
    tmp_path, monkeypatch
) -> None:
    """End-to-end over an artifact history in the official shape: the
    derived tracking bands must cover every TRACKING_QUERIES member that
    has parsed history, and the compact line must carry both verdict
    maps.  The history is synthetic so that committing a new BENCH_r*
    artifact cannot change what this test asserts."""
    bench = _bench()
    _write_history(tmp_path)
    real_current_bands = bench.current_bands
    monkeypatch.setattr(
        bench, "current_bands", lambda: real_current_bands(repo_dir=str(tmp_path))
    )
    bands = bench.current_bands()
    assert bands["rounds"] == [11, 12, 13]
    assert set(bands["tracking"]) == set(bench.TRACKING_QUERIES)
    # the legacy four have history -> bands derived, not None; the r14
    # ADDITIONS (sim_knn_graph, dedup_semdedup_clustered) have no parsed
    # history and must be band-ABSENT (None), never silently in-band
    assert all(bands["tracking"][n] is not None for n in _LEGACY_TRACKING)
    for n in bench.TRACKING_QUERIES:
        if n not in _LEGACY_TRACKING:
            assert bands["tracking"][n] is None, n
    assert bands["headline"].get("q1_pricing_summary") is not None
    attempts = [_fake_attempt(bench, 0.1 * i) for i in range(2)]
    compact = json.loads(bench.artifact_lines(attempts[0], attempts, 0.1)[1])
    assert set(compact["tracking_in_band"]) == set(bench.TRACKING_QUERIES)
    assert all(
        v in (True, False, None) for v in compact["headline_in_band"].values()
    )
    assert compact["bands_from"] == bands["rounds"]
    # the fake 6.7891-s tracking values sit far outside every derived
    # band -> the verdict actually trips False (not silently True)
    assert False in set(compact["tracking_in_band"].values())
