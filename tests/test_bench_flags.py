"""Unit pins for bench.py's ambient self-flag (r17, VERDICT r16 item 3):
the flag logic alone — the recheck wiring is exercised by bench runs, a
synthetic-load test would be overkill per the verdict's own scoping."""

from conftest import REPO_ROOT  # noqa: F401  (puts the repo on sys.path)

from bench import ambient_disagreement


def test_disagreement_fires_above_2x_either_direction():
    assert ambient_disagreement(1.89, 0.81)   # the BENCH_r16 case
    assert ambient_disagreement(0.81, 1.89)
    assert ambient_disagreement(0.3, 0.1)


def test_agreement_within_2x_does_not_fire():
    assert not ambient_disagreement(0.59, 0.60)
    assert not ambient_disagreement(1.0, 2.0)   # exactly 2x is agreement
    assert not ambient_disagreement(0.81, 0.5)


def test_missing_or_degenerate_inputs_never_fire():
    assert not ambient_disagreement(None, 0.8)
    assert not ambient_disagreement(0.8, None)
    assert not ambient_disagreement(0.0, 0.8)
    assert not ambient_disagreement(-1.0, 0.8)
