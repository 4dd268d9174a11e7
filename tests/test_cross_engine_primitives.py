"""Cross-engine differential tests for scalar/window primitives that new
queries assume behave identically in Spark and DuckDB — fuzzed beyond the
fixture data so the assumption is tested where the fixtures never go.

- levenshtein: IDENTICAL on ASCII (what fuzzy_part_match_pairs relies on),
  but DIVERGENT on non-ASCII — DuckDB measures UTF-8 BYTES while Spark
  measures code points. Both facts are pinned here so a future non-ASCII
  entity corpus can't silently inherit the ASCII-only assumption.
- ntile: rfm_segments assumes identical bucket-boundary placement under a
  total order for every (n_rows % n_tiles) remainder class.
- functions/portable.py: the md5-prefix hash and the dot/cosine/dist2
  folds agree across engines, and no other package module spells them
  (one home per expression). On an empty array the folds DIVERGE
  (Spark 0.0, DuckDB NULL); that is pinned too.
"""

from __future__ import annotations

import ast
import hashlib
import random
import re
import string
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.functions import portable as P

PACKAGE = Path(P.__file__).resolve().parents[1]


def _lev(a, b) -> int:
    """Reference code-point/element Levenshtein (works on str or bytes)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _duck_lev(pdf: pd.DataFrame) -> list[int]:
    con = duckdb.connect()
    con.register("pairs", pdf)
    return [r[0] for r in con.execute("SELECT levenshtein(a, b) FROM pairs").fetchall()]


def test_levenshtein_matches_duckdb_ascii(spark):
    """On ASCII inputs — the fuzzy_part_match_pairs domain — Spark and
    DuckDB agree exactly (both equal the reference DP)."""
    rng = random.Random(17)
    alphabet = string.ascii_lowercase + " "
    pairs = [
        (
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12))),
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12))),
        )
        for _ in range(300)
    ] + [("", ""), ("", "abc"), ("abc", ""), ("same", "same")]
    pdf = pd.DataFrame(pairs, columns=["a", "b"])
    got = (
        spark.createDataFrame(pdf)
        .select(F.levenshtein("a", "b").alias("lev"))
        .toPandas()["lev"]
        .tolist()
    )
    want = [_lev(a, b) for a, b in pairs]
    assert got == want
    assert _duck_lev(pdf) == want


def test_levenshtein_divergence_pinned_non_ascii(spark):
    """KNOWN CROSS-ENGINE DIVERGENCE (discovered by this fuzz): DuckDB's
    levenshtein runs over UTF-8 BYTES, Spark's over code points. On
    non-ASCII input the two engines disagree, so any future fuzzy-match
    query over non-ASCII entities must normalize (e.g. hash to codepoint
    arrays) or keep an ASCII guard. Pin both behaviors so the divergence
    is a documented fact, not a surprise."""
    pairs = [("", "漢字"), ("é", "e"), ("naïve", "naive"), ("漢字", "漢")]
    pdf = pd.DataFrame(pairs, columns=["a", "b"])
    spark_got = (
        spark.createDataFrame(pdf)
        .select(F.levenshtein("a", "b").alias("lev"))
        .toPandas()["lev"]
        .tolist()
    )
    assert spark_got == [_lev(a, b) for a, b in pairs]  # code points
    assert _duck_lev(pdf) == [
        _lev(a.encode(), b.encode()) for a, b in pairs
    ]  # bytes
    assert spark_got != _duck_lev(pdf)  # the divergence itself


def test_ntile_matches_duckdb_all_remainders(spark):
    """ntile(5) for every row-count remainder 0..4 (bucket-size placement
    of the extra rows is the part engines could plausibly differ on)."""
    con = duckdb.connect()
    for n in (5, 6, 7, 8, 9, 23, 100):
        pdf = pd.DataFrame({"k": list(range(n))})
        got = (
            spark.createDataFrame(pdf)
            .select("k", F.ntile(5).over(W.orderBy("k")).alias("t"))
            .toPandas()
            .sort_values("k")["t"]
            .tolist()
        )
        con.register("t", pdf)
        want = [
            r[0]
            for r in con.execute(
                "SELECT ntile(5) OVER (ORDER BY k) FROM t ORDER BY k"
            ).fetchall()
        ]
        assert got == want, f"n={n}"


def _duck_rows(pdf: pd.DataFrame, exprs: list[str]) -> list[tuple]:
    con = duckdb.connect()
    con.register("t", pdf)
    return con.execute(f"SELECT {', '.join(exprs)} FROM t ORDER BY i").fetchall()


def _spark_rows(spark, pdf: pd.DataFrame, schema: str, exprs: list[str]) -> list[tuple]:
    df = spark.createDataFrame(pdf, schema)
    return [tuple(r) for r in df.orderBy("i").selectExpr(*exprs).collect()]


def test_md5_hash_matches_duckdb(spark):
    """The md5-prefix hash at 8 and 15 hex characters is the same BIGINT in
    the Column form, the Spark-SQL text, DuckDB and Python's hashlib, over
    ASCII, non-ASCII (both engines hash the UTF-8 bytes), empty and NULL
    keys."""
    keys = ["abc", "split|42", "naïve", "漢字", "", None]
    pdf = pd.DataFrame({"i": range(len(keys)), "k": keys})
    for n_hex in (8, 15):
        want = [
            None if k is None else int(hashlib.md5(k.encode()).hexdigest()[:n_hex], 16)
            for k in keys
        ]
        df = spark.createDataFrame(pdf, "i bigint, k string").orderBy("i")
        col = [r[0] for r in df.select(P.md5_hash(F.col("k"), n_hex)).collect()]
        text = [r[0] for r in df.selectExpr(P.md5_hash_expr("k", n_hex)).collect()]
        duck = [r[0] for r in _duck_rows(pdf, [P.md5_hash_sql("k", n_hex)])]
        assert col == text == duck == want, n_hex


def test_vector_folds_match_duckdb(spark):
    """dot, cosine and dist2 over seeded 64-dim float vectors (the fixture's
    element type) are bit-equal across engines and to a Python left fold:
    both engines fold position by position in DOUBLE. A zero vector's
    cosine is NULL on both."""
    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(41, 2, 64)).astype(np.float32).tolist()
    vecs[40][0] = [0.0] * 64
    pdf = pd.DataFrame({"i": range(len(vecs)), "a": [a for a, _ in vecs], "b": [b for _, b in vecs]})
    got = _spark_rows(
        spark,
        pdf,
        "i bigint, a array<float>, b array<float>",
        [P.dot_expr("a", "b"), P.cosine_expr("a", "b"), P.dist2_expr("a", "b")],
    )
    want = _duck_rows(pdf, [P.dot_sql("a", "b"), P.cosine_sql("a", "b"), P.dist2_sql("a", "b")])
    assert got == want
    for (dot, _, dist2), (a, b) in zip(got, vecs):
        ref_dot = ref_dist2 = 0.0
        for x, y in zip(a, b):
            ref_dot += x * y
            ref_dist2 += (x - y) * (x - y)
        assert (dot, dist2) == (ref_dot, ref_dist2)
    assert got[40][1] is None


def test_vector_folds_divergence_pinned_empty_array(spark):
    """KNOWN CROSS-ENGINE DIVERGENCE: on an empty array Spark's fold returns
    its 0.0D init, DuckDB 1.0.0's ``list_sum([])`` is NULL. Every registered
    vector column is 64-dim, so no query meets it; a query over possibly
    empty arrays must guard the size on both sides."""
    e = "CAST(array() AS ARRAY<FLOAT>)"
    spark_got = spark.sql(f"SELECT {P.dot_expr(e, e)}, {P.dist2_expr(e, e)}").collect()
    d = "[]::FLOAT[]"
    duck_got = duckdb.sql(f"SELECT {P.dot_sql(d, d)}, {P.dist2_sql(d, d)}").fetchall()
    assert [tuple(r) for r in spark_got] == [(0.0, 0.0)]
    assert duck_got == [(None, None)]


# The spellings that must live only in functions/portable.py.
_HASH_PREFIX = [
    re.compile(r"conv\(\s*(?:F\.)?substring\(\s*(?:F\.)?md5\("),
    re.compile(r"'0x'\s*\|\|\s*substr\(\s*md5\("),
]
_DOT_FOLDS = [
    re.compile(r"list_sum\(\s*list_transform\(\s*list_zip\("),
    re.compile(r"(?:F\.)?aggregate\(\s*(?:F\.)?zip_with\("),
]


def _md5_prefix_hashes(src: str) -> list[int]:
    """Offsets of md5-prefix hash spellings: a match of ``_HASH_PREFIX``
    whose substring starts at character 1. ``multimodal._MD5_BYTE_SQL``
    reads one digest byte at an offset; that is a different function."""
    hits = []
    for pat in _HASH_PREFIX:
        for m in pat.finditer(src):
            depth, j = 1, m.end()
            while depth and j < len(src):
                depth += {"(": 1, ")": -1}.get(src[j], 0)
                j += 1
            if re.match(r"\s*,\s*1\s*,", src[j:]):
                hits.append(m.start())
    return hits


def _spellings(src: str) -> list[str]:
    starts = [("md5 hash", i) for i in _md5_prefix_hashes(src)]
    starts += [("dot fold", m.start()) for pat in _DOT_FOLDS for m in pat.finditer(src)]
    return [f"{what} at line {src.count(chr(10), 0, i) + 1}" for what, i in starts]


def test_portable_expressions_have_one_home():
    """The md5-prefix hash and the vector folds are spelled once per dialect,
    in functions/portable.py. Any other package module that spells one, or
    imports a fold helper from ``queries.similarity``, fails here."""
    home = Path(P.__file__).resolve()
    assert _spellings(home.read_text()), "the scan no longer matches the home module"
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.resolve() == home:
            continue
        src = path.read_text()
        rel = path.relative_to(PACKAGE)
        offenders += [f"{rel}: {s}" for s in _spellings(src)]
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("queries.similarity"):
                offenders += [
                    f"{rel}: imports {a.name} from queries.similarity"
                    for a in node.names
                    if re.search(r"dot|norm|cos|dist", a.name)
                ]
    assert not offenders, offenders
