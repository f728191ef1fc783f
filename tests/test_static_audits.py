"""The four static audit gates as tests, so a regression fails the suite
instead of waiting for someone to run the tools by hand:

  * decimal-literal audit (round-4): no bare decimal literals in SQL-text
    arithmetic — doubles must accumulate in DECIMAL (cross-engine rule).
  * rational-ROUND audit (round-5): ROUND only on already-rational values.
  * compound-LN audit (round-6): ln() only on integer-exact arguments.
  * multi-consumer audit (round-8, this round's verdict item 6): any
    DataFrame feeding 2+ consumers inside a registered query must be
    persisted/localCheckpointed, leaf-cheap, or allowlisted with a reason
    (Catalyst does not dedupe common subtrees — the measured 2-3x tax of
    rounds 6-7).

Each tool stays runnable standalone (tools/audit_*.py); these tests just
import and invoke them — pure static analysis, no Spark session.
"""

from __future__ import annotations

import importlib.util
import os
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _load(tool: str):
    spec = importlib.util.spec_from_file_location(
        tool, ROOT / "tools" / f"{tool}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[tool] = mod  # dataclass field resolution looks here
    spec.loader.exec_module(mod)
    return mod


def test_no_bare_decimal_literals_in_sql_arithmetic():
    mod = _load("audit_decimal_literals")
    hits = mod.audit(pathlib.Path(mod.ROOT) / "lab_etl_spark")
    assert not hits, "\n".join(hits)


def test_round_only_on_rational_values():
    mod = _load("audit_rational_round")
    assert mod.main() == 0


def test_ln_only_on_integer_exact_arguments():
    mod = _load("audit_compound_ln")
    assert mod.main() == 0


def test_multi_consumer_frames_are_persisted_or_allowlisted():
    mod = _load("audit_multi_consumer")
    assert mod.main() == 0


def test_spark_divisions_are_try_divide_safe_or_allowlisted():
    """Round-9 session 2: ANSI mode turns a zero divisor into a
    whole-job crash, so every Spark-side division must be try_divide, a
    structurally-safe denominator, or allowlisted with a written
    justification (tools/audit_ansi_division.py)."""
    mod = _load("audit_ansi_division")
    hits = mod.audit(pathlib.Path(mod.ROOT) / "lab_etl_spark")
    assert not hits, "\n".join(
        f"{r}:{ln}: unguarded division by `{d}`" for r, ln, d in hits
    )


def test_variance_identities_clamped_under_sqrt():
    """Round-10: SQRT over a top-level subtraction in any engine/oracle
    text must wrap the identity in GREATEST(.., 0) — a (near-)constant
    group cancels s2/n - (s1/n)^2 / n*sxx - sx*sx slightly negative in
    doubles, and the engines then fail DIFFERENTLY (Spark NaN rows that
    pass > 0 gates vs a DuckDB sqrt error).  Found three times before
    this gate existed (tools/audit_variance_clamp.py)."""
    mod = _load("audit_variance_clamp")
    hits = mod.audit()
    assert not hits, "\n".join(
        f"{r}:{ln}: unclamped SQRT subtraction: {s!r}" for r, ln, s in hits
    )
    # the gate must keep CATCHING the pre-fix forms it was built from
    pre_fix = [
        "SQRT(s2 / n - (s1 / n) * (s1 / n)) AS s_sigma",
        "SQRT((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE)"
        " * CAST(s AS DOUBLE) / n) / (n - 1))",
        "ROUND((n * sxy - sx * sy) / SQRT((n * sxx - sx * sx)"
        " * (n * syy - sy * sy)), 6) AS acf",
        # the q_corr_matrix form (4th live instance, hidden by the
        # f-string blind spot until the gate reassembled JoinedStr)
        "sqrt((n * ss_0 - s_0 * s_0) * (n * ss_1 - s_1 * s_1))",
        # review-found false negatives: constant-coefficient expansion,
        # and MISPLACED clamps that do not cover the subtraction
        "SQRT(ssq - 2 * m * s + n * m * m)",
        "SQRT(GREATEST(a, b) - c)",
        "SQRT(x - GREATEST(y, 0))",
        # third-pass gaps: integer RHS after a clamp/ratio/product is
        # still catastrophic cancellation, not a Bessel denominator
        "SQRT(GREATEST(a, b) - 1)",
        "SQRT(ssq/(n*m*m) - 1)",
        "SQRT(x/y - 1)",
    ]
    for t in pre_fix:
        args = mod._sqrt_args(t)
        assert args and any(mod._has_binary_minus(a) for a in args), t
    # and never flag the clamped/benign forms
    benign = [
        "SQRT(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0)) AS s_sigma",
        "sqrt(list_reduce(list_transform(v, x -> x * x), (p, q) -> p + q))",
        "SQRT(GREATEST(x, 0) / (n - 1))",
        "sqrt(GREATEST(n * ss_0 - s_0 * s_0, 0)"
        " * GREATEST(n * ss_1 - s_1 * s_1, 0))",
    ]
    for t in benign:
        assert not any(mod._has_binary_minus(a) for a in mod._sqrt_args(t)), t


def test_window_staleness_invariant():
    """The rotation mechanism, self-enforcing (VERDICT r10 item 2): the
    driver hash-checks only the FIRST 50 registry entries per round, so
    coverage is kept cumulative by rotating the window.  Any registered
    query whose newest driver-green row would be MORE than MAX_STALE
    rounds old after the upcoming round must sit INSIDE the upcoming
    50-entry window (so the driver re-verifies it this round).  The
    staleness comes from the same derivation load_all() orders by."""
    import glob
    import re

    rounds = [
        int(re.search(r"_r(\d+)\.json$", p).group(1))
        for p in glob.glob(str(ROOT / "CORRECTNESS_r*.json"))
    ]
    assert rounds, "no CORRECTNESS artifacts — cannot locate the round"
    # the round whose window THIS tree orders is one past the newest
    # recorded driver artifact
    current = max(rounds) + 1
    from lab_etl_spark.queries import last_green, load_all

    green = last_green()
    reg = load_all()
    window = set(list(reg)[:50])
    MAX_STALE = 4  # full rotation of ~211 queries / 50 slots is 5 rounds
    violations = [
        (n, green.get(n, 0))
        for n in reg
        if current - green.get(n, 0) > MAX_STALE and n not in window
    ]
    assert not violations, (
        f"round {current} window leaves {len(violations)} over-stale "
        f"queries outside the checked prefix: {sorted(violations)}"
    )


def test_last_green_derivation(tmp_path, monkeypatch):
    """last_green() keeps a query's NEWEST green round (a later red row
    does not erase it), counts rows-only rows that returned rows, and a
    _RECHECK entry is fronted until an artifact of its round marks it
    green."""
    import json
    import shutil

    from lab_etl_spark import queries

    def rec(**kw):
        return {"rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None, "err": None, **kw}

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_a": rec(hash_match=True),
        "q_b": rec(err="no_oracle", spark_rows=3),
        "q_c": rec(err="no_oracle"),
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_a": rec(hash_match=False, err="hash mismatch"),
    }))
    assert queries.last_green(tmp_path) == {"q_a": 1, "q_b": 1}

    # a veteran from the back of the order, green in the newest artifact
    arts = tmp_path / "artifacts"
    arts.mkdir()
    for p in ROOT.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, arts)
    green = queries.last_green(arts)
    veteran = list(queries.load_all())[-1]
    rnd = max(green.values()) + 1
    assert green[veteran] == rnd - 1
    real = queries.last_green
    monkeypatch.setattr(queries, "last_green", lambda: real(arts))
    monkeypatch.setattr(queries, "_RECHECK", {veteran: rnd})
    assert veteran in list(queries.load_all())[:50]
    (arts / f"CORRECTNESS_r{rnd}.json").write_text(
        json.dumps({veteran: rec(hash_match=True)})
    )
    assert veteran not in list(queries.load_all())[:50]


def test_bench_continuity_under_ceiling():
    """Cross-era drift guard (VERDICT r10 item 5): the 2x perf gate
    re-baselines on a recent tree each round, so compounding ~10%
    regressions could hide under successive re-baselines.  The
    ratio_median_norm_r1 scalar is anchored to the immutable round-1
    recording (~1.08 for two rounds); >= 1.5 is real compounded drift
    and fails the suite (threshold recorded in BASELINE.md; bench.py
    emits the same alarm as continuity_ok=false)."""
    import json

    import pytest

    p = ROOT / "bench_last_run.json"
    if not p.exists():
        pytest.skip("no bench artifact on this checkout")
    d = json.loads(p.read_text())
    r = d.get("ratio_median_norm_r1")
    if r is None:
        pytest.skip("artifact predates the continuity scalar")
    assert r < 1.5, (
        f"ratio_median_norm_r1 {r} >= 1.5: compounded drift vs the "
        f"immutable r1 anchor — find the regressing rounds before "
        f"re-baselining the 2x gate"
    )


def test_scratch_orphans_are_pruned():
    """Round-11 finding: same-pid-only TTL pruning leaked every dead
    process's scratch dirs for the whole round (2267 dirs / ~900 MB —
    enough filesystem pressure that the io-family trend gate flagged
    eager-write queries).  Any-pid dirs past the orphan horizon must be
    swept by the next scratch_dir call; young foreign dirs and live
    same-pid dirs must survive."""
    import os
    import time

    from lab_etl_spark import catalog

    wh = catalog._WAREHOUSE
    os.makedirs(wh, exist_ok=True)
    dead_pid = 99999
    try:  # vanishingly unlikely, but make the dead-pid premise explicit
        os.kill(dead_pid, 0)
        pytest.skip("pid 99999 is live on this host")
    except ProcessLookupError:
        pass
    old_foreign = os.path.join(wh, f"famx_p{dead_pid}_deadbeef_old")
    # dead owner + past the SHORT ttl only: must also be swept (round-12:
    # dead test processes' dirs inflated io timings within one hour)
    mid_dead = os.path.join(wh, f"famx_p{dead_pid}_deadbeef_mid")
    young_foreign = os.path.join(wh, "famx_p99998_deadbeef_new")
    # Round-12 advice: age alone must not condemn a dir whose owner is
    # still alive (a soak session holding a lazy plan >2h).  An old dir
    # owned by THIS pid but under a different family must survive the
    # any-pid sweep via the liveness probe.
    old_live = os.path.join(wh, f"famz_p{os.getpid()}_deadbeef_old")
    os.makedirs(old_foreign, exist_ok=True)
    os.makedirs(mid_dead, exist_ok=True)
    os.makedirs(young_foreign, exist_ok=True)
    os.makedirs(old_live, exist_ok=True)
    past = time.time() - catalog._SCRATCH_ORPHAN_TTL_S - 60
    mid = time.time() - catalog._SCRATCH_TTL_S - 60
    os.utime(old_foreign, (past, past))
    os.utime(mid_dead, (mid, mid))
    os.utime(old_live, (past, past))
    fresh = catalog.scratch_dir("famy", "/root/testdata/sf0.001")
    assert not os.path.exists(old_foreign), "dead process's dir leaked"
    assert not os.path.exists(mid_dead), (
        "dead process's dir survived the short TTL — io-pressure leak"
    )
    assert os.path.exists(young_foreign), (
        "young foreign dir swept — a concurrent run could lose its lake"
    )
    assert os.path.exists(old_live), (
        "old dir with a LIVE owner swept — soak sessions would lose "
        "their lazy plans"
    )
    os.rmdir(young_foreign)
    os.rmdir(old_live)
    assert not os.path.exists(fresh)  # scratch_dir only names, never mkdirs
