"""Isotonic (PAV) calibration curve via the minimax identity (STAGED for
r12).

The central claim — iso(i) = max_{j<=i} min_{k>=i} avg(y over scores j..k)
equals the sequential pool-adjacent-violators fit — is proven against an
exact Fraction-arithmetic PAV on the real fixture AND on crafted violation
patterns; monotonicity and the pooled-average property are asserted; the
oracle differential (tests/test_queries_oracle.py) and three-axis
invariance close the cross-engine contract.
"""

from __future__ import annotations

from fractions import Fraction

import pytest

from talkinghead_datapipeline_spark.queries.mlstats import (
    isotonic_calibration_lang,
)


def _pav(ns: list[int], ps: list[int]) -> list[Fraction]:
    """Classic sequential pool-adjacent-violators in exact rationals:
    blocks of (n, pos) pooled while a block's mean exceeds its successor's."""
    blocks: list[list[int]] = []  # [n, pos]
    for n, p in zip(ns, ps):
        blocks.append([n, p])
        while len(blocks) > 1 and (
            Fraction(blocks[-2][1], blocks[-2][0])
            > Fraction(blocks[-1][1], blocks[-1][0])
        ):
            b = blocks.pop()
            blocks[-1][0] += b[0]
            blocks[-1][1] += b[1]
    # re-expand pooled block means onto the original score grid
    out: list[Fraction] = []
    i = 0
    for n, p in blocks:
        taken = 0
        while taken < n:
            taken += ns[i]
            out.append(Fraction(p, n))
            i += 1
    assert i == len(ns)
    return out


def test_matches_exact_pav(spark, sf_dir):
    rows = isotonic_calibration_lang(spark, sf_dir).collect()
    ns = [r["n"] for r in rows]
    ps = [r["pos"] for r in rows]
    fits = _pav(ns, ps)
    for r, f in zip(rows, fits):
        # the minimax double sits within ulps of the exact PAV rational
        assert abs(r["iso_ppm"] / 1e6 - float(f)) < 2e-6, (r["score"], f)
    # monotone non-decreasing (allowing the 1-ppm floor step)
    iso = [r["iso_ppm"] for r in rows]
    assert all(a <= b for a, b in zip(iso, iso[1:]))


@pytest.mark.parametrize(
    "pattern",
    [
        [(5, 5), (5, 0)],                      # one violation -> pooled 1/2
        [(2, 0), (2, 2), (2, 0), (2, 2)],      # alternating
        [(3, 1), (3, 1), (3, 1)],              # already isotonic -> identity
        [(1, 1), (10, 0), (1, 1)],             # heavy middle pool
    ],
)
def test_crafted_violation_patterns(spark, tmp_path, pattern):
    rows = []
    doc = 0
    for score, (n, p) in enumerate(pattern):
        for i in range(n):
            lang = "en" if i < p else "fr"
            # n_chars % 100 == score and length(text) > 0
            rows.append((doc, "x", lang, "s", 100 + score))
            doc += 1
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = isotonic_calibration_lang(spark, str(tmp_path)).collect()
    ns = [r["n"] for r in out]
    ps = [r["pos"] for r in out]
    fits = _pav(ns, ps)
    for r, f in zip(out, fits):
        assert abs(r["iso_ppm"] / 1e6 - float(f)) < 2e-6
    # pooled-average conservation: sum(n_i * iso_i) == total positives
    total = sum(Fraction(n) * f for n, f in zip(ns, fits))
    assert total == sum(ps)
