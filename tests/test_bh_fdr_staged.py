"""Benjamini-Hochberg FDR battery (STAGED for r14).

Oracle differential (tests/test_queries_oracle.py), an independent Python
recompute of the z / A&S-p / step-up chain from the raw fixture, the
floor-boundary tie audit for the one libm-divergent op (exp) against the
1e-9 display quantum, a crafted corpus with one overwhelming cell pinning
a guaranteed rejection on both engines, the BH step-up contract, and the
three-axis invariance contract (tests/test_split_invariance.py).
"""

from __future__ import annotations

import math

from talkinghead_datapipeline_spark.queries.stats_tests import (
    BH_FDR_ORACLE,
    bh_fdr_lang_source,
)


def _python_battery(spark, sf_dir):
    """The whole battery in plain Python from the raw fixture — the pinned
    A&S 7.1.26 chain, ranks, thresholds, step-up."""
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "documents").toPandas()
    pdf = pdf[pdf.text.str.len() > 0]
    cells = {}
    for (lang, source), g in pdf.groupby(["lang", "source"]):
        cells[(lang, source)] = (len(g), int((g.text.str.len() > 500).sum()))
    nt = sum(n for n, _ in cells.values())
    kt = sum(k for _, k in cells.values())
    out = {}
    for (lang, source), (n1, k1) in cells.items():
        nr, kr = nt - n1, kt - k1
        z = ((k1 / n1) - (kr / nr)) / math.sqrt(
            ((kt / nt) * (1.0 - (kt / nt))) * ((1.0 / n1) + (1.0 / nr))
        )
        az = abs(z)
        t = 1.0 / (1.0 + 0.2316419 * az)
        poly = t * (0.31938153 + t * (-0.356563782 + t * (1.781477937
                    + t * (-1.821255978 + t * 1.330274429))))
        p_two = 2.0 * ((math.exp(-(az * az) * 0.5) * 0.3989422804014327) * poly)
        out[(lang, source)] = (n1, k1, z, p_two)
    ranked = sorted(
        out.items(), key=lambda kv: (math.floor(kv[1][3] * 1e9), kv[0])
    )
    m = len(ranked)
    kstar = 0
    for i, (_, (_, _, _, p)) in enumerate(ranked, start=1):
        if math.floor(p * 1e9) <= (i * 50_000_000) // m:
            kstar = i
    return ranked, m, kstar


def test_matches_independent_python_recompute(spark, sf_dir):
    ranked, m, kstar = _python_battery(spark, sf_dir)
    got = {
        (r["lang"], r["source"]): r
        for r in bh_fdr_lang_source(spark, sf_dir).collect()
    }
    assert len(got) == m
    for rank, ((lang, source), (n1, k1, z, p)) in enumerate(ranked, start=1):
        r = got[(lang, source)]
        assert r["n_docs"] == n1 and r["n_long"] == k1
        assert r["z_micro"] == math.floor(z * 1e6)
        assert r["p_ppb"] == math.floor(p * 1e9)
        assert r["p_rank"] == rank
        assert r["bh_threshold_ppb"] == (rank * 50_000_000) // m
        assert r["rejected"] == (rank <= kstar)


def test_exp_tie_audit(spark, sf_dir):
    """The ONE libm-divergent op in the chain is exp (≤1 ulp cross-engine:
    a p_ppb perturbation of ~2.2e-7 quanta, ~2.2e-6 even at 10 ulps). The
    z chain has NO exp — it is correctly-rounded ops only, bit-identical,
    so only p needs the audit. Assert every battery p-value sits > 1e-4
    quanta from its floor boundary — measured minima at staging time were
    0.0058-0.0148 across the three SFs, ~26,000 ulps of headroom."""
    ranked, _, _ = _python_battery(spark, sf_dir)
    for (key, (_, _, _, p)) in ranked:
        x = p * 1e9
        d = abs(x - round(x))
        assert d > 1e-4, (key, p, d)


def test_crafted_overwhelming_cell(spark, tmp_path):
    import duckdb

    # one cell where EVERY doc is long vs a corpus where none are: its
    # p-value underflows the ppb quantum -> guaranteed rank-1 rejection
    rows = [(i, "en", "srcA", "x" * 600) for i in range(40)]
    rows += [(100 + i, "fr", "srcB", "y" * 10) for i in range(40)]
    rows += [(200 + i, "de", "srcC", "z" * 10) for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        (r["lang"], r["source"]): r
        for r in bh_fdr_lang_source(spark, str(tmp_path)).collect()
    }
    assert out[("en", "srcA")]["rejected"] is True
    assert out[("en", "srcA")]["p_rank"] == 1
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    odf = con.execute(BH_FDR_ORACLE).fetchdf()
    con.close()
    orow = odf[(odf.lang == "en") & (odf.source == "srcA")].iloc[0]
    assert bool(orow["rejected"]) is True
    assert int(orow["p_ppb"]) == out[("en", "srcA")]["p_ppb"]


def test_step_up_contract(spark, sf_dir):
    """BH step-up: the rejected set is exactly ranks 1..k* where k* is the
    LARGEST rank passing its threshold — in particular a rank below k*
    is rejected even if its own p exceeds its own threshold."""
    rows = sorted(
        bh_fdr_lang_source(spark, sf_dir).collect(),
        key=lambda r: r["p_rank"],
    )
    passing = [r["p_rank"] for r in rows
               if r["p_ppb"] <= r["bh_threshold_ppb"]]
    kstar = max(passing) if passing else 0
    for r in rows:
        assert r["rejected"] == (r["p_rank"] <= kstar)
