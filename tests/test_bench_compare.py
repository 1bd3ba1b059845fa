"""Mechanical bench drift detection (tools/bench_compare.py): the
§C.16-style claims a human recomputed in round 9 must be machine-
checkable — pinned here against the COMMITTED r9 files."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench_compare  # noqa: E402

R09 = os.path.join(REPO, "BENCH_detail_r09.json")
ANCHOR = os.path.join(REPO, "BENCH_detail_r09_anchor.json")


def _load(p):
    with open(p) as f:
        return json.load(f)


def test_self_compare_is_clean():
    d = _load(R09)
    res = bench_compare.compare(d, d)
    assert res["flags"] == []


def test_anchor_vs_close_matches_the_verdicts_findings():
    """The r9 judge hand-verified: shuffle MB identical to rounding on
    all 50 entries; CPU within noise except the listing-tag improvement
    (q_ann_probe family) and live-stream attribution noise.  The tool
    must reproduce exactly that: zero shuffle flags, no q_stream_live
    CPU flag (excluded as documented noise), and the CPU flags it does
    raise are the known anchor-vs-close deltas."""
    res = bench_compare.compare(_load(ANCHOR), _load(R09))
    kinds = {f[0] for f in res["flags"]}
    assert "shuffle_mb" not in kinds, res["flags"]
    assert "evictions" not in kinds
    flagged = {f[1] for f in res["flags"] if f[0] == "cpu"}
    assert "q_stream_live" not in flagged  # default-excluded noise
    # the committed pair's known CPU deltas (improvements + one noise
    # riser) — a CHANGE here means the committed files changed
    assert flagged == {
        "q_codec_checks",
        "q_collocations",
        "q_dedup_jaccard",
        "q_keyspace_algebra",
        "semantic_dedup",
    }, res["flags"]


def test_regressions_only_drops_improvements():
    res = bench_compare.compare(
        _load(ANCHOR), _load(R09), regressions_only=True
    )
    for kind, entry, a, b, d in res["flags"]:
        if kind == "cpu":
            assert d > 0


def test_shuffle_delta_is_flagged():
    old = {
        "queries_cpu_median": {"q": 1.0},
        "queries_shuffle_mb": {"q": 10.0},
    }
    new = {
        "queries_cpu_median": {"q": 1.0},
        "queries_shuffle_mb": {"q": 10.2},
    }
    res = bench_compare.compare(old, new)
    assert res["flags"] == [("shuffle_mb", "q", 10.0, 10.2, 0.2)]


def test_mixed_basis_falls_back_to_jvm_column():
    """r9 files have no pycpu column; r10+ do.  Comparing across the
    basis change must use the shared JVM column, not read the new
    Python column as a universal regression."""
    old = {"queries_cpu_median": {"q": 5.0}, "queries_shuffle_mb": {}}
    new = {
        "queries_cpu_median": {"q": 5.1},
        "queries_pycpu_median": {"q": 4.0},
        "queries_shuffle_mb": {},
    }
    res = bench_compare.compare(old, new)
    assert res["flags"] == []
    assert "mixed" in res["basis"]


def test_combined_basis_catches_jvm_to_python_shift():
    """THE hole §C.18 closes: JVM CPU falls 3s, Python CPU rises 4s —
    the old basis read this as an improvement; the combined basis
    flags the 1s regression when it clears the thresholds."""
    old = {
        "queries_cpu_median": {"q": 6.0},
        "queries_pycpu_median": {"q": 1.0},
        "queries_shuffle_mb": {},
    }
    new = {
        "queries_cpu_median": {"q": 3.0},
        "queries_pycpu_median": {"q": 5.5},
        "queries_shuffle_mb": {},
    }
    res = bench_compare.compare(old, new)
    assert res["flags"] == [("cpu", "q", 7.0, 8.5, 1.5)]


def test_bounded_entry_uses_measured_swing_not_dual_threshold():
    """q_crack_verdicts' CPU is inherently nondeterministic (speculative
    wave-launch count before the early-termination hit): swings within
    the measured ±3.5 s bound must not flag; past it they must."""
    base = {"queries_cpu_median": {}, "queries_shuffle_mb": {}}
    old = {**base, "queries_cpu_median": {"q_crack_verdicts": 10.0}}
    within = {**base, "queries_cpu_median": {"q_crack_verdicts": 13.0}}
    past = {**base, "queries_cpu_median": {"q_crack_verdicts": 14.0}}
    assert bench_compare.compare(old, within)["flags"] == []
    res = bench_compare.compare(old, past)
    assert res["flags"] == [("cpu", "q_crack_verdicts", 10.0, 14.0, 4.0)]
    # the bound is the committed constant the docs state
    assert bench_compare.CPU_BOUNDED["q_crack_verdicts"] == 3.5


def test_round12_bounded_entries_carry_measured_bounds():
    """The three round-12 documented-noise entries (VERDICT r11 #4/#6
    plus q_crack_batch's bimodal window): swings within their measured
    bounds must not flag; a real plan regression past the bound must."""
    base = {"queries_cpu_median": {}, "queries_shuffle_mb": {}}
    for entry, bound, which in (
        ("q_dedup_exact", 3.5, "queries_cpu_median"),
        ("q_crack_batch", 4.0, "queries_cpu_median"),
        ("clf_score", 2.0, "operators_cpu_median"),
        ("substring_ingest_probe", 5.0, "operators_cpu_median"),
        ("paradedup_ingest_probe", 4.0, "operators_cpu_median"),
    ):
        assert bench_compare.CPU_BOUNDED[entry] == bound
        old = {**base, which: {entry: 10.0}}
        within = {**base, which: {entry: 10.0 + bound - 0.1}}
        past = {**base, which: {entry: 10.0 + bound + 0.5}}
        assert bench_compare.compare(old, within)["flags"] == [], entry
        # per-entry flags only: in this single-entry fixture the
        # aggregate cpu_total row trivially mirrors the entry (a real
        # file's aggregate has its own 5%+5s thresholds over all
        # entries)
        flags = [
            f
            for f in bench_compare.compare(old, past)["flags"]
            if f[0] == "cpu"
        ]
        assert flags == [
            ("cpu", entry, 10.0, round(10.0 + bound + 0.5, 3), round(bound + 0.5, 3))
        ], entry


def test_bench_cli_writes_bench_last_equal_to_stdout(tmp_path):
    """bench.py must ALSO write its one-line JSON payload to
    BENCH_last.json (VERDICT r11 next #2): the round-10 driver capture
    lost the stdout line (`parsed: null`, 2000-char tail) and with it
    the whole round-over-round table.  The file must equal the stdout
    line byte-for-byte so either source reconstructs the comparison."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_BENCH_ONLY": "q_events_scan",
        "SPARK_GRAFT_BENCH_RUNS": "1",
        "SPARK_GRAFT_BENCH_DETAIL": "",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [
        ln
        for ln in proc.stdout.splitlines()
        if ln.startswith('{"metric"')
    ][-1]
    with open(os.path.join(repo, "BENCH_last.json")) as f:
        persisted = f.read().strip()
    assert persisted == line
    payload = json.loads(persisted)
    assert payload["queries"].keys() == {"q_events_scan"}


def test_bench_last_write_failure_only_warns(tmp_path, capsys):
    """The BENCH_last.json write runs after a successful timed run has
    printed its line: a target that cannot be written (here a directory)
    must cost a warning on stderr, not the bench's exit status."""
    import bench

    bench.write_last('{"metric": 1}', str(tmp_path))
    assert "could not write" in capsys.readouterr().err
    # the writable path still round-trips the line
    target = tmp_path / "BENCH_last.json"
    bench.write_last('{"metric": 1}', str(target))
    assert target.read_text() == '{"metric": 1}\n'


def test_bench_detail_write_failure_only_warns(tmp_path, capsys):
    """The BENCH_detail_latest.json write is the last step of a finished
    run too: an unwritable detail path (here a directory) warns on
    stderr instead of raising."""
    import json

    import bench

    bench.write_detail({"samples": {}}, str(tmp_path))
    assert "could not write" in capsys.readouterr().err
    target = tmp_path / "detail.json"
    bench.write_detail({"samples": {}}, str(target))
    assert json.loads(target.read_text()) == {"samples": {}}


def test_aggregate_catches_distributed_drift():
    """Twenty 0.8 s same-direction risers each pass the per-entry dual
    threshold (0.8 < 1.0 abs) but sum to a 16 s total regression — the
    aggregate check must flag it (ADVICE r10)."""
    old = {
        "queries_cpu_median": {f"q{i}": 5.0 for i in range(20)},
        "queries_shuffle_mb": {},
    }
    new = {
        "queries_cpu_median": {f"q{i}": 5.8 for i in range(20)},
        "queries_shuffle_mb": {},
    }
    res = bench_compare.compare(old, new)
    assert res["flags"] == [("cpu_total", "queries", 100.0, 116.0, 16.0)]
    # below both aggregate thresholds: silent
    small = {
        "queries_cpu_median": {f"q{i}": 5.1 for i in range(20)},
        "queries_shuffle_mb": {},
    }
    assert bench_compare.compare(old, small)["flags"] == []


def test_evictions_invalidate():
    old = {"queries_cpu_median": {}, "queries_shuffle_mb": {}, "evictions": 0}
    new = {"queries_cpu_median": {}, "queries_shuffle_mb": {}, "evictions": 3}
    res = bench_compare.compare(old, new)
    assert ("evictions", "new", 0.0, 3.0, 3.0) in res["flags"]


def test_cli_exit_codes(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/bench_compare.py"),
         R09, R09],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    assert "no drift" in out.stdout

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/bench_compare.py"),
         ANCHOR, R09],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 1
    assert "flagged" in out.stdout

    # pre-CPU-basis file → usage error, not a silent vacuous pass
    legacy = tmp_path / "legacy.json"
    legacy.write_text(json.dumps({"queries": {}}))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/bench_compare.py"),
         str(legacy), R09],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 2
