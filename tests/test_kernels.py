"""Arrow-kernel equivalence pins (SURVEY.md §5.3.4 numeric-parity model).

The vectorized pandas_udf kernels replaced interpreted Catalyst folds as
the only Spark-side implementation of several hot paths. These tests pin
each kernel bit-exactly against the fold it replaced — the Catalyst
expression AND the DuckDB oracle spelling — on adversarial generated
inputs (unicode, huge words, denormal-ish floats), not just the driver
testdata, so a kernel regression cannot hide behind friendly data.
"""

from __future__ import annotations

import math
import random

import duckdb
import numpy as np
import pyspark.sql.functions as F
import pytest

from bangdatapipeline_spark.operators.dedup_near import (
    DUCK_HASHED_CTE,
    DUCK_STRHASH,
    P,
    SH_MIX,
    SPARK_STRHASH,
    _hash_words_np,
    _hashed_shingles,
    hashed_shingles_arr,
    wordhash,
)
from bangdatapipeline_spark.operators.similarity import dot_double, dot_double_vec

# deterministic adversarial vocabulary: ascii, punctuation, accents, CJK,
# emoji (non-BMP — exercises the UTF-32 codepoint view), long tokens
_WORDS = [
    "a",
    "the",
    "Zyzzyva",
    "naïve",
    "Ωμέγα",
    "日本語テキスト",
    "🚀🚀🚀",
    "x" * 300,
    "MiXeD-CaSe_1234567890",
    "don't",
    "semi;colon",
    "ümlaut-ÿ",
]


def _pyref_hash(word: str) -> int:
    """Independent pure-Python reference of the (acc*31 + cp) % P fold."""
    acc = 0
    for ch in word:
        acc = (acc * 31 + ord(ch)) % P
    return acc


def test_wordhash_numpy_matches_python_reference():
    rng = random.Random(7)
    words = [
        "".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))
        for _ in range(500)
    ] + _WORDS
    got = _hash_words_np(words)
    want = np.array([_pyref_hash(w) for w in words], dtype=np.int64)
    assert (got == want).all()


def test_wordhash_matches_catalyst_fold_and_duckdb(spark):
    rng = random.Random(11)
    words = [rng.choice(_WORDS) for _ in range(200)]
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    both = df.select(
        "tok",
        wordhash(F.col("tok")).alias("kernel"),
        F.expr(SPARK_STRHASH.replace("{s}", "tok")).alias("fold"),
    ).collect()
    assert all(r.kernel == r.fold for r in both), [
        (r.tok, r.kernel, r.fold) for r in both if r.kernel != r.fold
    ][:5]
    con = duckdb.connect()
    con.execute("CREATE TABLE w(t VARCHAR)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in _WORDS])
    for w, duck in con.execute(
        f"SELECT t, {DUCK_STRHASH.format(s='t')} FROM w"
    ).fetchall():
        assert duck == _pyref_hash(w), w


def test_hashed_shingles_kernel_matches_duckdb_cte(spark, tmp_path):
    """Per-doc shingle SETS from the Arrow kernel must equal DuckDB's
    spelled-out hash+combine CTE on the same adversarial documents."""
    rng = random.Random(13)
    docs = [
        (i, " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 40))))
        for i in range(60)
    ]
    pq = str(tmp_path / "documents.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(pq)

    got = {
        r.doc_id: frozenset(r.hs)
        for r in _hashed_shingles(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = {
        doc_id: frozenset(hs)
        for doc_id, hs in con.execute(DUCK_HASHED_CTE).fetchall()
    }
    assert got == want


def test_shingle_combine_stays_exact_at_extremes():
    """The combine's intermediates must stay inside int64 even at the
    lattice's worst case (all word hashes == P-1)."""
    worst = (P - 1) * SH_MIX + (P - 1)
    assert worst < 2**63
    h = np.array([P - 1, P - 1, P - 1], dtype=np.int64)
    hs = ((h[:-2] * SH_MIX + h[1:-1]) % P * SH_MIX + h[2:]) % P
    py = (((P - 1) * SH_MIX + (P - 1)) % P * SH_MIX + (P - 1)) % P
    assert hs[0] == py


@pytest.mark.parametrize("dim", [1, 3, 16, 64])
def test_dot_double_vec_bitwise_equals_catalyst_fold(spark, dim):
    """The Arrow dot kernel must be BITWISE equal to the higher-order
    fold for hostile magnitudes (cancellation, tiny/huge mixes) — the
    property every hash-checked kNN/PCA query rests on."""
    rng = random.Random(17 + dim)
    rows = []
    for i in range(60):
        a = [
            rng.choice([1e-30, -1e30, 1e30, 0.1, -7.3, 1e-8, 3.14159])
            * rng.random()
            for _ in range(dim)
        ]
        b = [rng.uniform(-2, 2) for _ in range(dim)]
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        dot_double_vec(F.col("a"), F.col("b")).alias("kernel"),
        dot_double(F.col("a"), F.col("b")).alias("fold"),
    ).collect()
    for r in out:
        assert (
            math.isnan(r.kernel)
            and math.isnan(r.fold)
            or r.kernel == r.fold  # exact, not approx: same fold order
        ), (r.kernel, r.fold)


def test_dot_double_vec_null_propagation(spark):
    df = spark.createDataFrame(
        [(None, [1.0, 2.0]), ([1.0, 2.0], None), ([1.0, 2.0], [3.0, 4.0])],
        "a array<double>, b array<double>",
    )
    out = df.select(
        dot_double_vec(F.col("a"), F.col("b")).alias("kernel"),
        dot_double(F.col("a"), F.col("b")).alias("fold"),
    ).collect()
    assert [r.kernel for r in out] == [r.fold for r in out] == [None, None, 11.0]


def test_sign_pack_kernel_equals_expression(spark, sf_dir):
    """The Arrow sign-pack kernel is bit-identical to the unrolled
    128-term CASE-sum expression it replaced (which stays as the
    oracle-shaped reference) over the real embeddings table."""
    from bangdatapipeline_spark.operators.similarity import (
        _ham_word_spark,
        sign_pack_words,
    )
    from bangdatapipeline_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    out = e.select(
        sign_pack_words(F.col("embedding")).alias("bw"),
        _ham_word_spark(0).alias("e0"),
        _ham_word_spark(1).alias("e1"),
    ).collect()
    assert out
    for r in out:
        assert r.bw[0] == r.e0 and r.bw[1] == r.e1


def test_dot_double_vec_nan_stays_nan_null_stays_null(spark):
    """r10 review: pd.array(..., 'Float64') coerced a COMPUTED NaN (an
    embedding containing NaN) to NA/NULL, so the 'bit-identical twins'
    ranked a corrupt row at opposite ends of a desc window (NaN sorts
    first in Spark, NULL last). The explicit result mask must keep NaN
    as NaN and only null INPUTS as NULL — matching the Catalyst fold."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]),
         (2, [float("nan"), 1.0], [1.0, 1.0]),
         (3, None, [1.0, 1.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {r.id: r for r in df.select(
        "id",
        dot_double(F.col("a"), F.col("b")).alias("fold"),
        dot_double_vec(F.col("a"), F.col("b")).alias("vec"),
    ).collect()}
    assert rows[1].fold == rows[1].vec == 11.0
    assert math.isnan(rows[2].fold) and math.isnan(rows[2].vec)
    assert rows[3].fold is None and rows[3].vec is None


def test_exact_select_rejects_colliding_carry(spark):
    """VERDICT r11 task 4: a carry column shadowing one of the selection
    kernel's internal names (v, bucket, rn, ...) would make the spec
    join ambiguous or silently mis-resolve; the entry guard must fail
    loudly with the offending names, and a disjoint carry must still
    pass through untouched."""
    from bangdatapipeline_spark.operators.aggregates import exact_select

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 30)], "grp string, v long"
    )
    bad = spark.createDataFrame(
        [("a", 1, 7, 9)], "grp string, k long, rn long, cum long"
    )
    with pytest.raises(ValueError, match="collide with"):
        exact_select(df, bad, width=100)
    try:
        exact_select(df, bad, width=100)
    except ValueError as e:
        assert "rn" in str(e) and "cum" in str(e)
    # disjoint carry: the k-th smallest v comes back with the carry intact
    good = spark.createDataFrame(
        [("a", 2, "med")], "grp string, k long, role string"
    )
    rows = exact_select(df, good, width=100).collect()
    assert [(r.grp, r.role, r.v) for r in rows] == [("a", "med", 20)]


def test_adc_topk_kernel_scores_via_lut_and_rejects_codes_outside_it():
    """The PQ ADC kernel sums one LUT cell per subspace, and a corpus code
    outside the LUT's code domain (the LUT is sized from the query side)
    raises a clear error instead of an IndexError, or a silent wrap-around
    read for a negative code."""
    from types import SimpleNamespace

    import pandas as pd

    from bangdatapipeline_spark.operators.similarity import _adc_topk_kernel

    q_ids = np.array([0, 1])
    lut = np.arange(2 * 4 * 3, dtype=float).reshape(2, 4, 3)  # nq x subs x codes
    kernel = _adc_topk_kernel(SimpleNamespace(value=(q_ids, lut)))

    def batch(*codes):
        return pd.DataFrame(
            {"n_id": [7 + i for i in range(len(codes))], "codes": list(codes)}
        )

    out = pd.concat(kernel([batch([0, 1, 2, 0], [2, 2, 2, 2])]))
    got = {(r.q_id, r.n_id): r.sim_raw for r in out.itertuples()}
    want = {
        (q, 7 + i): sum(lut[q, s, c] for s, c in enumerate(codes))
        for q in (0, 1)
        for i, codes in enumerate(([0, 1, 2, 0], [2, 2, 2, 2]))
    }
    assert got == want
    for bad in ([0, 3, 0, 0], [0, -1, 0, 0]):
        with pytest.raises(ValueError, match="outside the query LUT's code domain"):
            list(kernel([batch([0, 0, 0, 0], bad)]))
