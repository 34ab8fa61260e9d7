"""byte315 SmallFloat norm quantization (opt-in classic-quantized
similarity): table goldens vs the reference's own encoding algorithm
(src/search/similarity.lisp:39-99), the reference unit values
(tests/unit/search/tc-similarity.lisp:23-38), and end-to-end score
parity between serving tiers under the quantized norm."""

import math

import numpy as np
import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.search import SHOULD, Searcher, TermQuery, bool_query
from montezuma_spark.search.similarity import (
    NORM_TABLE,
    ClassicQuantizedSimilarity,
    byte315_to_float,
    float_to_byte315,
    float_to_byte315_np,
    get_similarity,
)


def _int_bits_to_float_ref(bits: int) -> float:
    """Independent re-derivation of the reference's int-bits-to-float
    (similarity.lisp:64-72: s · m · 2^(e-150)) — a true golden for the
    numpy-view decode."""
    s = 1 if (bits >> 31) == 0 else -1
    e = (bits >> 23) & 0xFF
    m = ((bits & 0x7FFFFF) << 1) if e == 0 else ((bits & 0x7FFFFF) | 0x800000)
    return float(s * m * 2.0 ** (e - 150))


def test_norm_table_matches_reference_algorithm():
    """*norm-table* (similarity.lisp:90-93): byte315-to-float shifts the
    byte to bits 21.. and adds the (63-15)<<24 exponent bias."""
    for b in range(256):
        if b == 0:
            want = 0.0
        else:
            bits = ((b & 0xFF) << 21) + ((63 - 15) << 24)
            want = _int_bits_to_float_ref(bits)
        assert byte315_to_float(b) == want
        assert NORM_TABLE[b] == want


def test_byte315_round_trip_all_bytes():
    """tc-similarity.lisp:23-38 test-inverse: float→byte is the exact
    inverse of byte→float for every byte value."""
    for b in range(256):
        assert float_to_byte315(byte315_to_float(b)) == b
    # vectorized encoder agrees with the scalar on the whole table
    got = float_to_byte315_np(NORM_TABLE)
    assert list(got) == list(range(256))


def test_byte315_known_values():
    assert float_to_byte315(1.0) == 124 and byte315_to_float(124) == 1.0
    assert float_to_byte315(0.0) == 0 and byte315_to_float(0) == 0.0
    assert float_to_byte315(-1.0) == 0        # negatives clamp to 0
    assert float_to_byte315(1e12) == 255      # overflow clamps to max
    # powers of two inside range encode exactly (3 mantissa bits)
    assert byte315_to_float(float_to_byte315(0.25)) == 0.25


def test_norm_table_monotone_for_wand():
    """encode∘decode must stay monotone or block-max bounds go invalid
    (the CLAUDE.md tf_norm contract)."""
    assert (np.diff(NORM_TABLE) > 0).all()
    xs = np.logspace(-8, 8, 2000)
    bs = float_to_byte315_np(xs)
    assert (np.diff(bs) >= 0).all()


def test_reference_unit_values():
    """tc-similarity.lisp:23-38 on the quantized classic: quantized
    length-norm of dl=16 is exactly 1/4 (power of two → exact byte),
    tf(9)=3, idf(9 docs of 10)=1, coord(12,3)=4."""
    sim = ClassicQuantizedSimilarity()
    got = sim.tf_norm(np.array([9.0]), np.array([16.0]), avgdl=5.0)
    assert got[0] == pytest.approx(3.0 * 0.25, rel=0, abs=0)
    assert sim.idf(9, 10) == pytest.approx(1.0)
    assert sim.coord(12, 3) == 4.0
    assert get_similarity("classic-quantized").name == "classic-quantized"


def test_quantized_vs_exact_norm_delta():
    """Quantization always truncates DOWN, by less than one mantissa
    step (byte315 keeps 2 explicit mantissa bits — steps 1.0/1.25/1.5/
    1.75 per octave → worst-case 25% below exact, 0.3015→0.25 e.g.)."""
    sim = ClassicQuantizedSimilarity()
    dls = np.arange(1.0, 400.0)
    exact = 1.0 / np.sqrt(dls)
    q = sim.tf_norm(np.ones_like(dls), dls, avgdl=5.0)
    assert (q <= exact + 1e-12).all()          # byte315 truncates down
    assert (q > exact * 0.75 - 1e-12).all()


CFG = IndexConfig(
    fields=[FieldConfig("field", "field", "whitespace")],
    key_col="url", shard_bits=3, block_size=4,
)


@pytest.fixture(scope="module")
def idx(spark):
    return build_index(spark, search_docs_df(spark), CFG)


def test_quantized_scores_end_to_end(spark, idx, saved_copy):
    """Served quantized scores == idf²·query_norm · sqrt(tf) · decoded
    norm byte, recomputed from the index's own stats; the in-memory and
    saved-layout tiers agree bit-for-bit."""
    s = Searcher(idx, similarity="classic-quantized")
    hits = s.top_docs(TermQuery("field", "word2"), k=18)
    assert hits
    n = idx.stats["field"]["num_docs"]
    df = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    dls = {r["docid"]: r["dl"] for r in idx.doc_lens.collect()}
    sim = ClassicQuantizedSimilarity()
    idf = sim.idf(df["word2"], n)
    qn = 1.0 / math.sqrt(idf * idf)  # single-term query norm
    # tf of word2 per doc from the oracle-side token recount
    pdf = search_docs_df(spark).toPandas()
    for docid, score in hits:
        row = pdf[pdf["docid_expected"] == docid].iloc[0]
        toks = row["field"].split()
        tf = toks.count("word2")
        norm = NORM_TABLE[float_to_byte315(1.0 / math.sqrt(len(toks)))]
        want = idf * idf * qn * math.sqrt(tf) * norm
        assert score == pytest.approx(want, rel=1e-9), docid
    hot = Searcher(saved_copy(idx), similarity="classic-quantized")
    assert hot.top_docs(TermQuery("field", "word2"), k=18) == hits


def test_quantized_wand_rank_identity(idx):
    """Pruned top-k under the quantized norm must equal exhaustive
    evaluation (monotone tf_norm ⇒ valid block bounds)."""
    s = Searcher(idx, similarity="classic-quantized")
    q = bool_query(
        (TermQuery("field", "word1"), SHOULD),
        (TermQuery("field", "word2"), SHOULD),
        (TermQuery("field", "word3"), SHOULD),
    )
    pruned = s.top_docs(q, k=5)
    full = s.top_docs(q, k=None)[:5]
    assert [d for d, _ in pruned] == [d for d, _ in full]
    for (_, s1), (_, s2) in zip(pruned, full):
        assert s1 == pytest.approx(s2, rel=1e-12)
