"""The bench regression gate (round-8 VERDICT item 4): per-query
references resolve to the r05 methodology baseline where measured
there, else the first later sf0.1 measurement, and the 2x comparison
uses exactly those numbers."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    HEADLINE,
    _gate_violations,
    _reference_timings,
    _retry_audit,
    _timed_with_retry,
)


def test_gate_predicate():
    refs = {"fast": 0.2, "slow": 2.2}
    # sub-second noise on a slower host: >2x but within absolute slack
    assert _gate_violations({"fast": 0.45}, refs) == []
    # just over the ratio AND the slack: flagged
    assert len(_gate_violations({"fast": 0.75}, refs)) == 1
    # multi-second real regression: flagged
    assert len(_gate_violations({"slow": 12.6}, refs)) == 1
    # slower but under 2x: never flagged regardless of delta
    assert _gate_violations({"slow": 4.0}, refs) == []
    # unknown query (first measurement this round): never flagged
    assert _gate_violations({"new": 99.0}, refs) == []


def test_references_cover_headline_set():
    """Every headline entry that has appeared in a git-COMMITTED BENCH
    artifact has a reference; entries added THIS round self-baseline
    next round. Round-12 fix (r11 VERDICT item 3): the committed set is
    derived from HEAD bytes exactly like _reference_timings — the old
    working-tree glob disagreed with the gate's own source whenever the
    driver dropped a fresh, not-yet-committed BENCH_r*.json (its new
    headline entries reddened this test while the gate itself was
    correct)."""
    import subprocess

    refs = _reference_timings(REPO)
    missing = [q for q in HEADLINE if q not in refs]
    committed = set()
    ls = subprocess.run(
        ["git", "-C", REPO, "ls-files", "BENCH_r*.json"],
        capture_output=True,
        text=True,
    )
    assert ls.returncode == 0, "test requires a git checkout"
    for base in (b.strip() for b in ls.stdout.splitlines() if b.strip()):
        show = subprocess.run(
            ["git", "-C", REPO, "show", f"HEAD:{base}"],
            capture_output=True,
            text=True,
        )
        if show.returncode != 0:
            continue  # staged-but-never-committed: not a gate source
        committed |= set(
            (json.loads(show.stdout).get("parsed") or {}).get("queries") or {}
        )
    assert not (set(missing) & committed)
    assert all(v > 0 for v in refs.values())


def test_timed_with_retry_transient_self_heals_but_regression_fails():
    """Round-11 VERDICT item 2: a box transient spanning both timed
    runs must not fail the gate (one settle + re-measure, min-ed in),
    while a deliberate CONSISTENT regression — 5x or a marginal 2.1x —
    must still be flagged by the 2x gate. The retry triggers exactly
    where the gate would flag (>2x AND >0.5 s over): round 12 caught
    q154 at a transient 2.01x, below the original 5x retry band.
    Round 13 (r12 ADVICE): the function now RETURNS the retry count so
    a rescue is visible in the bench artifact, and the cap is frozen
    at two — if the gate flags again, investigate the box, do not
    loosen further."""
    ref = 2.0

    # transient: both timed runs 9x, the post-settle run healthy —
    # rescued, and the rescue is VISIBLE (retries == 1)
    seq = iter([18.0, 18.5, 2.1])
    settles = []
    t, n = _timed_with_retry(lambda: next(seq), ref, lambda: settles.append(1))
    assert (t, n) == (2.1, 1) and settles == [1]
    assert _gate_violations({"q": t}, {"q": ref}) == []

    # marginal transient (just over 2x) self-heals the same way
    seq_m = iter([4.2, 4.3, 2.0])
    t, n = _timed_with_retry(lambda: next(seq_m), ref, lambda: None)
    assert (t, n) == (2.0, 1)
    assert _gate_violations({"q": t}, {"q": ref}) == []

    # longer transient: still violating after the first re-measure,
    # healed by the second (the round-12 q288 page-cache-cold shape)
    seq_l = iter([4.5, 4.6, 4.4, 2.0])
    settles_l = []
    t, n = _timed_with_retry(lambda: next(seq_l), ref, lambda: settles_l.append(1))
    assert (t, n) == (2.0, 2) and settles_l == [1, 1]
    assert _gate_violations({"q": t}, {"q": ref}) == []

    # real regression: slow on ALL runs -> still fails the gate after
    # exactly two (capped) rescue attempts — never a third
    calls = []
    t, n = _timed_with_retry(lambda: calls.append(1) or 10.0, ref, lambda: None)
    assert (t, n) == (10.0, 2)
    assert len(calls) == 4  # 2 timed + 2 capped re-measures, no more
    assert len(_gate_violations({"q": t}, {"q": ref})) == 1

    # real MARGINAL regression: consistently 3x -> still fails
    t, n = _timed_with_retry(lambda: 6.0, ref, lambda: None)
    assert (t, n) == (6.0, 2)
    assert len(_gate_violations({"q": t}, {"q": ref})) == 1

    # healthy result: no settle, no third run, retries == 0
    seq2 = iter([2.2, 2.0])
    settles2 = []
    t, n = _timed_with_retry(lambda: next(seq2), ref, lambda: settles2.append(1))
    assert (t, n) == (2.0, 0) and settles2 == []

    # slower-but-inside-the-gate (>2x but within the 0.5 s slack):
    # never retries, never flagged
    small_ref = 0.2
    t, n = _timed_with_retry(lambda: 0.45, small_ref, lambda: (_ for _ in ()).throw(AssertionError("no settle expected")))
    assert (t, n) == (0.45, 0)
    assert _gate_violations({"q": t}, {"q": small_ref}) == []

    # no committed reference (new entry): never retries
    seq3 = iter([50.0, 60.0])
    t, n = _timed_with_retry(lambda: next(seq3), None, lambda: (_ for _ in ()).throw(AssertionError("no settle expected")))
    assert (t, n) == (50.0, 0)


def test_retry_audit_distinguishes_rescue_from_failed_rescue():
    """r13 ADVICE: the artifact field (renamed self_healed ->
    gate_retries) must not label a FAILED rescue as healed. A clean
    pass produces no entry; a rescued transient carries rescued=True;
    a still-violating timing after the capped re-measures carries
    rescued=False alongside the imminent exit-1."""
    refs = {"q": 2.0}
    # clean pass: no artifact entry at all
    assert _retry_audit("q", 1.9, 0, refs) is None
    # transient rescued by the re-measure: visible AND labeled healed
    assert _retry_audit("q", 2.1, 1, refs) == {"retries": 1, "rescued": True}
    # re-measures exhausted, still >2x AND >0.5s over: NOT healed
    assert _retry_audit("q", 10.0, 2, refs) == {"retries": 2, "rescued": False}


def test_r05_baseline_wins_over_later_rounds():
    refs = _reference_timings(REPO)
    with open(os.path.join(REPO, "BENCH_r05.json")) as f:
        r05 = json.load(f)["parsed"]["queries"]
    for q, sec in r05.items():
        assert refs[q] == float(sec), (
            f"{q}: reference {refs[q]} must be the r05 baseline {sec}"
        )


def test_untracked_artifacts_never_become_references(tmp_path):
    """Round-9 ADVICE: an untracked BENCH_r*.json in the working tree
    (e.g. the current round's own in-progress output) must not become a
    gate reference — only driver-committed artifacts qualify. Outside a
    git checkout the glob fallback applies (gate is advisory there)."""
    import subprocess

    payload = {"parsed": {"sf": 0.1, "queries": {"q_a": 1.0}}}
    untracked = {"parsed": {"sf": 0.1, "queries": {"q_b": 1.0}}}

    # no git repo at all -> fallback sees both
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "BENCH_r05.json").write_text(json.dumps(payload))
    (plain / "BENCH_r06.json").write_text(json.dumps(untracked))
    assert set(_reference_timings(str(plain))) == {"q_a", "q_b"}

    # git repo: only the committed artifact qualifies
    repo = tmp_path / "repo"
    repo.mkdir()
    env_git = ["git", "-C", str(repo)]
    subprocess.run(env_git + ["init", "-q"], check=True)
    (repo / "BENCH_r05.json").write_text(json.dumps(payload))
    subprocess.run(env_git + ["add", "BENCH_r05.json"], check=True)
    subprocess.run(
        env_git
        + ["-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "ref"],
        check=True,
    )
    (repo / "BENCH_r06.json").write_text(json.dumps(untracked))
    refs = _reference_timings(str(repo))
    assert set(refs) == {"q_a"}

    # tracked-but-dirty: overwriting the committed artifact in the
    # working tree must NOT change the reference — content comes from
    # HEAD via git show, never the working tree (round-10 hardening)
    dirty = {"parsed": {"sf": 0.1, "queries": {"q_a": 999.0}}}
    (repo / "BENCH_r05.json").write_text(json.dumps(dirty))
    refs = _reference_timings(str(repo))
    assert refs == {"q_a": 1.0}


def test_repo_as_git_subdirectory_still_resolves_references(tmp_path):
    """Round-10 ADVICE: ls-files paths are cwd-relative while HEAD:<path>
    resolves from the repository ROOT — if the bench repo is a
    subdirectory of a checkout, the references must still resolve (via
    the rev-parse --show-prefix prefix), not silently vanish."""
    import subprocess

    payload = {"parsed": {"sf": 0.1, "queries": {"q_a": 1.0}}}
    root = tmp_path / "checkout"
    sub = root / "nested" / "bench_repo"
    sub.mkdir(parents=True)
    git = ["git", "-C", str(root)]
    subprocess.run(git + ["init", "-q"], check=True)
    (sub / "BENCH_r05.json").write_text(json.dumps(payload))
    subprocess.run(git + ["add", "-A"], check=True)
    subprocess.run(
        git + ["-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "ref"],
        check=True,
    )
    assert _reference_timings(str(sub)) == {"q_a": 1.0}


def test_staged_but_never_committed_falls_back_to_working_tree(tmp_path, capsys):
    """If ls-files names artifacts but NONE resolve from HEAD (e.g. a
    repo whose artifacts are staged but never committed), the gate must
    warn and fall back to the advisory working-tree glob rather than
    silently running with zero references."""
    import subprocess

    payload = {"parsed": {"sf": 0.1, "queries": {"q_a": 1.0}}}
    repo = tmp_path / "staged_only"
    repo.mkdir()
    git = ["git", "-C", str(repo)]
    subprocess.run(git + ["init", "-q"], check=True)
    (repo / "BENCH_r05.json").write_text(json.dumps(payload))
    subprocess.run(git + ["add", "BENCH_r05.json"], check=True)  # staged, no commit
    refs = _reference_timings(str(repo))
    assert refs == {"q_a": 1.0}
    assert "falling back to working tree" in capsys.readouterr().err


def test_pre_r05_rounds_excluded():
    """r01-r04 used a different (warm-cache) methodology; their numbers
    must never become references even for queries they contain."""
    import glob

    early = set()
    for path in glob.glob(os.path.join(REPO, "BENCH_r0[1-4].json")):
        with open(path) as f:
            early |= set((json.load(f).get("parsed") or {}).get("queries") or {})
    late = set()
    for path in glob.glob(os.path.join(REPO, "BENCH_r0[5-9].json")) + glob.glob(
        os.path.join(REPO, "BENCH_r[1-9][0-9].json")
    ):
        with open(path) as f:
            late |= set((json.load(f).get("parsed") or {}).get("queries") or {})
    refs = _reference_timings(REPO)
    only_early = early - late
    assert not (set(refs) & only_early)
