"""Text-analysis kernels: tokens, quality, lang-id, fingerprint."""

import pytest
from pyspark.sql import functions as F

from crawlee_spark.functions import text_analysis as TA

ROWS = [
    (1, "the quick brown fox, it jumps!"),
    (2, ""),
    (3, "der hund und die katze ist nicht da"),
    (4, "one two three"),
    (5, "three two one"),
    (6, "a  b   c"),
    (7, "a b c"),
]


@pytest.fixture(scope="module")
def docs(spark):
    """The documents with their token arrays materialized as columns, the
    shape the per-document kernels take: ``toks`` (whitespace tokens) and
    ``ltoks`` (lowercased tokens)."""
    return (
        spark.createDataFrame(ROWS, "doc_id long, text string")
        .withColumn("toks", TA.tokens_col("text"))
        .withColumn("ltoks", TA.lower_tokens_from_tokens("toks"))
    )


def _one(docs, col, doc_id):
    return docs.filter(F.col("doc_id") == doc_id).select(col.alias("v")).collect()[0]["v"]


def test_token_counts(docs):
    assert _one(docs, TA.token_count_col("text"), 1) == 6
    assert _one(docs, TA.token_count_col("text"), 2) == 0
    # BPE-ish: letter runs + punctuation marks each count
    # the/quick/brown/fox/,/it/jumps/! → 8
    assert _one(docs, TA.bpe_ish_token_count_col("text"), 1) == 8
    assert _one(docs, TA.bpe_ish_token_count_col("text"), 2) == 0


def test_punct_and_stopwords(docs):
    assert _one(docs, TA.punct_count_col("text"), 1) == 2  # , and !
    assert _one(docs, TA.stopword_count_from_lower_tokens("ltoks"), 1) == 2  # 'the' and 'it'
    assert _one(docs, TA.stopword_count_from_lower_tokens("ltoks"), 2) == 0


def test_quality_score_bounds(docs):
    score = TA.quality_score_from_parts(
        F.size("toks"),
        TA.stopword_count_from_lower_tokens("ltoks"),
        TA.mean_token_len_e3_from_tokens("toks"),
    )
    vals = [r["v"] for r in docs.select(score.alias("v")).collect()]
    assert all(0 <= v <= 100 for v in vals)
    # empty doc scores 0
    assert _one(docs, score, 2) == 0


def test_lang_id(docs):
    assert _one(docs, TA.lang_id_from_lower_tokens("ltoks"), 1) == "en"
    assert _one(docs, TA.lang_id_from_lower_tokens("ltoks"), 3) == "de"
    assert _one(docs, TA.lang_id_from_lower_tokens("ltoks"), 2) == "und"
    assert _one(docs, TA.lang_id_from_lower_tokens("ltoks"), 4) == "und"


def test_fingerprint_order_sensitive(docs):
    f4 = _one(docs, TA.doc_fingerprint_from_tokens("toks"), 4)
    f5 = _one(docs, TA.doc_fingerprint_from_tokens("toks"), 5)
    assert f4 != f5  # same tokens, different order
    assert 0 <= f4 < 2147483647
    assert _one(docs, TA.doc_fingerprint_from_tokens("toks"), 2) == 0


def test_fingerprint_whitespace_invariant(docs):
    fp = TA.doc_fingerprint_from_tokens("toks")
    assert _one(docs, fp, 6) == _one(docs, fp, 7)


def test_ngram_vocab_counts_and_ties(spark):
    from crawlee_spark.functions.text_analysis import ngram_vocab

    df = spark.createDataFrame(
        [("the cat sat on the cat mat",), ("the cat sat",), ("one",), ("",)],
        "text string",
    )
    rows = [(r["ngram"], r["cnt"]) for r in ngram_vocab(df, n=2, top_k=3).collect()]
    # deterministic: count desc, then lexical on the gram
    assert rows == [("the cat", 3), ("cat sat", 2), ("cat mat", 1)]
    # trigram path + short-text guard (fewer than n tokens -> no grams)
    tri = {r["ngram"] for r in ngram_vocab(df, n=3, top_k=10).collect()}
    assert "the cat sat" in tri and "one" not in tri


def test_ngram_vocab_plan_is_takeordered(spark):
    from crawlee_spark.functions.text_analysis import ngram_vocab
    from tests.test_plans import explain_str

    plan = explain_str(
        ngram_vocab(spark.createDataFrame([("a b c",)], "text string"), n=2, top_k=5),
        "simple",
    )
    assert "TakeOrderedAndProject" in plan  # never a global sort


def test_pii_redaction_order_and_counts(spark):
    from crawlee_spark.functions.pii import pii_count_cols, redact_pii_col

    txt = (
        "mail bob.smith+x@sub.ex.com, backup carol@ex.org; call +1 (413) 555-0012 "
        "or 0611-22-33-44, server 192.168.250.7, card 4111-1111-1111-1111 done"
    )
    df = spark.createDataFrame([(txt,), (None,), ("no pii here",)], "text string")
    counts = pii_count_cols("text")
    out = df.select(
        redact_pii_col("text").alias("r"), *[v.alias(k) for k, v in counts.items()]
    ).collect()
    r0 = out[0]
    assert r0["r"] == (
        "mail [EMAIL], backup [EMAIL]; call [PHONE] or [PHONE], "
        "server [IP], card [CC] done"
    )
    assert (r0["n_emails"], r0["n_ips"], r0["n_cards"], r0["n_phones"]) == (2, 1, 1, 2)
    assert out[1]["r"] is None  # null text passes through
    assert out[2]["r"] == "no pii here" and out[2]["n_emails"] == 0


def test_domain_mixture_weights(spark):
    from crawlee_spark.functions.text_analysis import domain_mixture_weights

    df = spark.createDataFrame([("a",)] * 16 + [("b",)] * 4 + [("c",)] * 1, "source string")
    # alpha=0.5: sqrt counts 4/2/1 -> weights 4/7, 2/7, 1/7 (fixed-point e6)
    got = {r["domain"]: (r["n_docs"], r["weight_e6"])
           for r in domain_mixture_weights(df, alpha_pct=50).collect()}
    assert got == {"a": (16, 571428), "b": (4, 285714), "c": (1, 142857)}
    # alpha=100 is proportional
    prop = {r["domain"]: r["weight_e6"]
            for r in domain_mixture_weights(df, alpha_pct=100).collect()}
    assert prop == {"a": 761904, "b": 190476, "c": 47619}


def test_gopher_repetition_signals_vectors(spark):
    """Hand-computed Gopher signal vectors: duplicate-line mass, ellipsis/
    bullet line fractions, alpha-word fraction, symbol ratio, top-n-gram
    and duplicate-n-gram character fractions — all exact e6 fixed-point."""
    from crawlee_spark.functions.text_analysis import gopher_repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b a b\na b a b\nend ..."),
            (2, ""),
            (3, "- item one\n- item two"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_signals(df, top_ns=(2,), dup_ns=(5,)).collect()
    }
    d1 = got[1]
    # lines 7+7+7 chars, one 7-char repeat -> 7/21
    assert d1["dup_line_char_frac_e6"] == 333_333
    assert d1["ellipsis_line_frac_e6"] == 333_333  # 1 of 3 lines
    assert d1["n_words"] == 10 and d1["alpha_word_frac_e6"] == 900_000  # '...'
    assert d1["symbol_word_ratio_e6"] == 100_000  # one ellipsis / 10 words
    # bigrams: 'a b'x4 'b a'x3 'b end' 'end ...' -> 4*3 / 33 chars
    assert d1["top2_char_frac_e6"] == 363_636
    # 5-grams: two pairs repeat (2*9 + 2*9) / 60 chars
    assert d1["dup5_char_frac_e6"] == 600_000
    d2 = got[2]  # empty text: all zeros, no NULLs from the missing gram rows
    assert d2["n_words"] == 0 and d2["top2_char_frac_e6"] == 0
    assert d2["dup5_char_frac_e6"] == 0 and d2["alpha_word_frac_e6"] == 0
    d3 = got[3]
    assert d3["bullet_line_frac_e6"] == 1_000_000  # both lines bulleted
    assert d3["alpha_word_frac_e6"] == 666_666  # '-' tokens carry no letter
    assert d3["dup_line_char_frac_e6"] == 0


def test_gopher_signals_tie_break_is_deterministic(spark):
    """Equal-count top grams resolve to the lexicographically largest gram
    on both engines (max over (count, gram) structs)."""
    from crawlee_spark.functions.text_analysis import gopher_repetition_signals

    # bigrams 'x y' and 'y x' both occur twice; 'y x' wins the tie and is
    # also 3 chars, so top2 = 2*3 / total
    df = spark.createDataFrame([(1, "x y x y x")], "doc_id long, text string")
    row = gopher_repetition_signals(df, top_ns=(2,), dup_ns=(5,)).collect()[0]
    # grams: 'x y'x2, 'y x'x2 -> total chars 12, top 6
    assert row["top2_char_frac_e6"] == 500_000
