"""Bench calibration prior-artifact selection (pure driver-side logic).

Regression for the r13 closing-artifact crash: ``BENCH*_r*.json`` globs
more names than the ``_rNN.json`` round parse accepts, and an artifact
like ``BENCH_local_r13_final.json`` made the sort key call ``.group()``
on ``None`` — killing every subsequent bench run on the tree, including
the grading driver's.
"""

import os

from bench import calibration_candidates


def _touch(path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("{}")


def test_nonconforming_artifact_names_are_skipped(tmp_path):
    d = str(tmp_path)
    for n in [
        "BENCH_r12.json",
        "BENCH_local_r13.json",
        "BENCH_local_r13_final.json",  # stray: matches glob, not _rNN.json
        "artifacts/BENCH_local_r4.json",
    ]:
        _touch(os.path.join(d, n))
    got = [os.path.basename(p) for p in calibration_candidates(d)]
    assert "BENCH_local_r13_final.json" not in got
    assert got == ["BENCH_local_r4.json", "BENCH_r12.json", "BENCH_local_r13.json"]


def test_round_number_sorts_numerically_not_lexically(tmp_path):
    d = str(tmp_path)
    for n in ["BENCH_local_r2.json", "BENCH_local_r12.json"]:
        _touch(os.path.join(d, n))
    got = [os.path.basename(p) for p in calibration_candidates(d)]
    # r2 < r12 numerically; a lexical sort would reverse them
    assert got == ["BENCH_local_r2.json", "BENCH_local_r12.json"]


def test_empty_dir_yields_no_candidates(tmp_path):
    assert calibration_candidates(str(tmp_path)) == []


def test_warm_section_contamination_gate():
    """r14 quarantine predicate: requeue only on LOCKSTEP anchor
    inflation (>1.5x both anchors) with zero AQE flips; a single hot
    anchor, a plan flip, or a missing prior must not requeue."""
    from bench import warm_section_contaminated

    prior = {"q10": 1.0, "q24": 2.0}
    hot = {"q10_revenue_by_nation": 1.6, "q24_minhash_neardup": 3.3}
    one_hot = {"q10_revenue_by_nation": 0.9, "q24_minhash_neardup": 3.3}
    assert warm_section_contaminated(hot, prior, 0) is True
    assert warm_section_contaminated(one_hot, prior, 0) is False  # not lockstep
    assert warm_section_contaminated(hot, prior, 1) is False      # plan flipped
    assert warm_section_contaminated(hot, {"q10": 1.0}, 0) is False  # no q24 prior
    assert warm_section_contaminated(hot, {}, 0) is False            # no prior


def test_extended_quarantine_gate():
    """r14 extended-section quarantine predicate: requeue only on BROAD
    lockstep inflation (≥8 comparable entries AND ≥ one third of them
    >1.5x prior).  A single hot entry, a sparse handful, a sub-floor
    prior, or no prior at all must never requeue — real regressions
    have to surface in the artifact, not be retried away."""
    from bench import extended_entries_contaminated

    prior = {f"q{i}": 1.0 for i in range(30)}
    hot = {f"q{i}": 1.6 for i in range(30)}
    assert extended_entries_contaminated(hot, prior) == sorted(
        f"q{i}" for i in range(30)
    )
    # one inflated entry: a code change or noise, not lockstep
    one = {f"q{i}": (1.6 if i == 0 else 1.0) for i in range(30)}
    assert extended_entries_contaminated(one, prior) == []
    # seven of nine comparable: over a third but under the ≥8 floor
    prior9 = {f"q{i}": 1.0 for i in range(9)}
    seven = {f"q{i}": (1.6 if i < 7 else 1.0) for i in range(9)}
    assert extended_entries_contaminated(seven, prior9) == []
    # eight of forty: meets the floor but under a third — sparse
    prior40 = {f"q{i}": 1.0 for i in range(40)}
    eight = {f"q{i}": (1.6 if i < 8 else 1.0) for i in range(40)}
    assert extended_entries_contaminated(eight, prior40) == []
    # fourteen of forty (≥ a third, ≥8): fires, returns exactly them
    fourteen = {f"q{i}": (1.6 if i < 14 else 1.0) for i in range(40)}
    assert extended_entries_contaminated(fourteen, prior40) == sorted(
        f"q{i}" for i in range(14)
    )
    # sub-noise-floor priors are not comparable
    tiny_prior = {f"q{i}": 0.02 for i in range(30)}
    assert extended_entries_contaminated(hot, tiny_prior) == []
    # no prior sidecar (first run): never fires
    assert extended_entries_contaminated(hot, {}) == []


def test_load_prior_extended_warms(tmp_path):
    """Sidecar loader: reads queries_extended_warm; missing,
    unparseable or non-object files yield {} instead of raising."""
    import json

    from bench import load_prior_extended_warms

    d = str(tmp_path)
    assert load_prior_extended_warms(d) == {}
    p = os.path.join(d, "BENCH_extended_latest.json")
    with open(p, "w", encoding="utf-8") as fh:
        json.dump({"queries_extended_warm": {"q91": 0.5}, "sf": 0.1}, fh)
    assert load_prior_extended_warms(d) == {"q91": 0.5}
    # sf-matched prior accepted; cross-SF prior rejected (an sf0.01
    # sidecar would read as section-wide inflation at sf0.1)
    assert load_prior_extended_warms(d, sf=0.1) == {"q91": 0.5}
    assert load_prior_extended_warms(d, sf=0.01) == {}
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("not json")
    assert load_prior_extended_warms(d) == {}
    # valid JSON that is not an object (a list, a scalar) is no prior
    for not_a_dict in ([{"sf": 0.1}], 3, "text", None):
        with open(p, "w", encoding="utf-8") as fh:
            json.dump(not_a_dict, fh)
        assert load_prior_extended_warms(d) == {}
        assert load_prior_extended_warms(d, sf=0.1) == {}
