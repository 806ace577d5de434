"""bench.py's own mechanisms, checked without a SparkSession: the log-log
fit, the synthetic trend corpora and the suite-leg table."""

from __future__ import annotations

import ast
import hashlib
import math
from pathlib import Path

import pytest

import bench
from cc_mapreducer_spark import registry
from cc_mapreducer_spark.operators.suites import SUITES

OPERATORS = bench.REPO / "cc_mapreducer_spark" / "operators"


@pytest.mark.parametrize(
    "xs, ys, expected",
    [
        # the 3-point trend fit (scale and skew lanes)
        ([50, 500, 1500], [0.412, 2.871, 9.034], (0.898, 0.095)),
        # the 4-point deep fit: three rounded lane mins + one raw deep min
        ([50, 500, 1500, 5000], [0.412, 2.871, 9.034, 30.2], (0.931, 0.134)),
        # cells under 1 ms are clamped to 1 ms before the log
        ([50, 500, 1500], [0.0, 0.004, 0.02], (0.838, 0.411)),
        # the iterative lane fits only the marginals above its floor
        ([500, 1500], [0.674, 0.7], (0.034, 0.0)),
    ],
)
def test_loglog_fit_matches_least_squares(xs, ys, expected):
    assert bench._loglog_fit(xs, ys) == expected


def test_loglog_fit_recovers_a_power_law():
    xs = [10, 100, 1000]
    slope, resid = bench._loglog_fit(xs, [3 * x**1.25 for x in xs])
    assert slope == 1.25 and resid == 0.0
    assert math.isclose(bench._loglog_fit(xs, [7.0] * 3)[0], 0.0, abs_tol=1e-9)


def _sha(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_synth_corpora_are_byte_stable(tmp_path):
    """The trend exponents are compared across runs, so a seed must keep
    writing the same files."""
    bench._synth_corpus(str(tmp_path), 500, 40, seed=7)
    assert _sha(tmp_path / "documents.parquet") == (
        "fe3aeedf858e59e34d9af587ee6d1548c1c0a38b1ed350ac7706c83c8e2c03bf"
    )
    assert _sha(tmp_path / "embeddings.parquet") == (
        "f7572370ded84698278e82556cc132038c254e72cbd18c883df6ddaa8ad20d82"
    )
    zipf = tmp_path / "zipf"
    zipf.mkdir()
    bench._synth_corpus_zipf(str(zipf), 500, seed=7)
    assert _sha(zipf / "documents.parquet") == (
        "b682aaa3cba2b06c119ebc4296f04969e33d6e11f94d060b609209bef118c64d"
    )


def test_suite_legs_are_registered_queries():
    queries = registry.all_queries()
    assert set(bench.SUITE_LEGS) <= set(queries)
    for legs in bench.SUITE_LEGS.values():
        assert len(legs) == len(set(legs))
        assert set(legs) <= set(queries)


def _suite_components(queries) -> dict[str, set[str]]:
    """Registered queries each timed suite reads: the sources of its
    table in operators/suites.py, or, for a suite that is a function
    body, the registered queries its @register'd function calls."""
    found = {
        name: {
            src if isinstance(src, str) else src[0].__name__
            for src, _ in table
        }
        & set(queries)
        for name, table in SUITES.items()
        if name in bench.SUITE_LEGS
    }
    for path in sorted(OPERATORS.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for deco in fn.decorator_list:
                if (
                    isinstance(deco, ast.Call)
                    and getattr(deco.func, "id", None) == "register"
                    and isinstance(deco.args[0], ast.Constant)
                    and deco.args[0].value in bench.SUITE_LEGS
                ):
                    found[deco.args[0].value] = {
                        n.func.id
                        for n in ast.walk(fn)
                        if isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Name)
                        and n.func.id in queries
                    }
    return found


def test_every_suite_component_is_timed():
    """A slow component of a digest suite must show up in some lane: as a
    suite leg or as a headline lane. domain_pagerank is left out of both
    (see the HEADLINE comment)."""
    comps = _suite_components(registry.all_queries())
    assert set(comps) == set(bench.SUITE_LEGS)
    untimed = set()
    for suite, called in comps.items():
        assert set(bench.SUITE_LEGS[suite]) <= called, suite
        untimed |= called - set(bench.SUITE_LEGS[suite]) - set(bench.HEADLINE)
    assert untimed == {"domain_pagerank"}
