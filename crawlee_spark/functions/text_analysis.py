"""Text-analysis kernels for large-scale training-data pipelines.

These are the per-document scoring/statistics operators a 100 TB web-text
pipeline runs after crawling (the reference stops at extraction —
packages/utils/src/internals/cheerio.ts — so everything here is an
engine-native extension, built as pure Column expressions so the whole path
stays inside JVM whole-stage codegen; no Python in the hot loop).

All kernels are deterministic and engine-portable: every hash is derived
from ``md5`` hex strings and every score from integer arithmetic, so an
independent SQL engine (the DuckDB test oracle) reproduces them bit-for-bit.

Operators:
- ``tokens_col`` / ``token_count_col`` — whitespace tokenization.
- ``bpe_ish_token_count_col`` — a BPE-like pre-tokenizer count (letter runs,
  digit runs, single punctuation marks), the standard proxy for LLM token
  budgeting when no vocab is shipped.
- ``punct_count_col``, ``stopword_count_from_lower_tokens``,
  ``mean_token_len_e3_from_tokens`` and ``quality_score_from_parts`` —
  punctuation / stopword / token-length features and a composite quality
  score (the usual C4/Gopher-style filters).
- ``lang_scores_from_lower_tokens`` / ``lang_id_from_lower_tokens`` —
  marker-token language heuristic.
- ``doc_fingerprint_from_tokens`` — polynomial rolling hash over the token
  stream (order-sensitive: reordered documents get different fingerprints,
  whitespace-only edits do not).
- ``ngram_vocab``, ``domain_mixture_weights`` and
  ``gopher_repetition_signals`` — corpus-level passes.

The per-document features take MATERIALIZED token-array columns (tokenized
below a spread exchange), never an inline ``tokens_col(text)``: an inline
tokenizer re-splits the text once per reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from crawlee_spark.operators.sizing import spread

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    t = F.trim(_c(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text)).cast("long")


# BPE-ish pre-tokenization: a letter run, a digit run, or one non-alnum,
# non-space character each count as one token (GPT-2-style pretokenizer
# without merges — a deterministic budget proxy).
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count_col(text: Column | str) -> Column:
    return F.coalesce(
        F.size(F.regexp_extract_all(_c(text), F.lit(_BPE_ISH), F.lit(0))), F.lit(0)
    ).cast("long")


# ---------------------------------------------------------------------------
# quality features (C4/Gopher-style, integer/ratio arithmetic only)
# ---------------------------------------------------------------------------

# A compact stopword list (English function words; the quality signal is
# "does this look like prose", not language ID).
STOPWORDS = ("the", "a", "an", "of", "to", "in", "and", "is", "it", "that")


def punct_count_col(text: Column | str) -> Column:
    """Count of punctuation characters (non-alnum, non-space)."""
    return F.coalesce(
        F.size(F.regexp_extract_all(_c(text), F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))), F.lit(0)
    ).cast("long")


def lower_tokens_from_tokens(toks: Column | str) -> Column:
    """Lowercased copy of a materialized token-array column."""
    return F.transform(_c(toks), lambda t: F.lower(t))


def stopword_count_from_lower_tokens(ltoks: Column | str) -> Column:
    """Stopword count from a MATERIALIZED lowercased token-array column."""
    return F.size(F.filter(_c(ltoks), lambda t: t.isin(*STOPWORDS))).cast("long")


def mean_token_len_e3_from_tokens(toks: Column | str) -> Column:
    """Mean token length ×1000 from a MATERIALIZED token-array column.

    ``toks`` must be a plain column reference: it is referenced three times
    (fold + two sizes), and an inline tokenizer would re-split the text per
    reference (the repo's expression-tree rule)."""
    t = _c(toks)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, F.floor(total * 1000 / F.size(t))).otherwise(F.lit(0)).cast("long")


def quality_score_from_parts(
    n_tokens: Column | str, stop_cnt: Column | str, mtl_e3: Column | str
) -> Column:
    """Composite quality score in [0, 100] from ALREADY-COMPUTED feature
    columns (token count, stopword count, mean-token-length ×1000) —
    integer arithmetic only, so the score costs nothing beyond the three
    features every quality pipeline computes anyway.

    Signals (each contributes a capped sub-score):
    - length:    min(n_tokens, 200) / 200        → 40 points
    - stopwords: min(stop_ratio_pct, 10) / 10    → 30 points (≥10% stopwords = full)
    - mean token length in [3, 10]               → 30 points (else 0)
    """
    toks = _c(n_tokens)
    stop = _c(stop_cnt)
    mtl = _c(mtl_e3)
    len_pts = F.floor(F.least(toks, F.lit(200)) * 40 / 200)
    stop_pct = F.when(toks > 0, F.floor(stop * 100 / toks)).otherwise(F.lit(0))
    stop_pts = F.floor(F.least(stop_pct, F.lit(10)) * 30 / 10)
    mtl_pts = F.when((mtl >= 3000) & (mtl <= 10000), F.lit(30)).otherwise(F.lit(0))
    return (len_pts + stop_pts + mtl_pts).cast("long")


# ---------------------------------------------------------------------------
# language ID (marker-token heuristic)
# ---------------------------------------------------------------------------

# Marker function words per language; prediction = argmax hit count with
# deterministic tie-break on language-code order ('de' < 'en' < 'es' < 'fr' <
# 'zh' — ties go to the lexicographically smallest code, then 'und' when no
# marker hits at all).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "is", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "es", "y"),
    "fr": ("le", "la", "les", "et", "est", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3"),  # pinyin-romanized
}


def lang_scores_from_lower_tokens(ltoks: Column | str) -> Column:
    """Map language → marker hit count from a MATERIALIZED lowercased
    token-array column (five filters reference it; an inline tokenizer
    would re-split the text five times)."""
    t = _c(ltoks)
    entries = []
    for lang in sorted(LANG_MARKERS):
        markers = LANG_MARKERS[lang]
        cnt = F.size(F.filter(t, lambda x: x.isin(*markers)))
        entries.append(F.struct(F.lit(lang).alias("lang"), cnt.cast("long").alias("hits")))
    return F.array(*entries)


def lang_id_from_lower_tokens(ltoks: Column | str) -> Column:
    """Predicted language code from a MATERIALIZED lowercased token-array
    column ('und' when no marker matches)."""
    best = F.aggregate(
        lang_scores_from_lower_tokens(ltoks),
        F.struct(F.lit("und").alias("lang"), F.lit(0).cast("long").alias("hits")),
        lambda acc, s: F.when(s["hits"] > acc["hits"], s).otherwise(acc),
    )
    return best["lang"]


# ---------------------------------------------------------------------------
# document fingerprint (order-sensitive rolling hash)
# ---------------------------------------------------------------------------

_FP_MULT = 1000003
_FP_MOD = 2147483647  # 2^31 - 1


def _token_value(t: Column) -> Column:
    """Deterministic small-int value of a token: first-char code ×65536 + len.

    Engine-portable (ascii/length exist everywhere); collisions are fine —
    the fold mixes positions."""
    return (F.ascii(F.substring(t, 1, 1)) * 65536 + F.length(t)).cast("long")


def doc_fingerprint_from_tokens(toks: Column | str) -> Column:
    """Polynomial rolling hash from a materialized token-array column:
    ``h = (h * 1000003 + value(token)) mod (2^31-1)``, h₀ = 0."""
    vals = F.transform(_c(toks), _token_value)
    return F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: F.pmod(acc * _FP_MULT + v, F.lit(_FP_MOD)),
    )


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams from a token-array Column — a
    sliding window via ``transform`` over an index sequence (no explode
    yet, no Python). Fewer than ``n`` tokens yields an empty array.

    Pass a MATERIALIZED column (an alias projected in a prior select), not
    an inline ``tokens_col(text)`` expression: transform lambdas re-evaluate
    their child expressions per element, so an embedded split would re-run
    over the whole text once per gram — O(len²) per document (the minhash
    lesson, see dedup.with_minhash_bands)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_vocab(df, text_col: str = "text", *, n: int = 2, top_k: int = 100):
    """Corpus-wide top-k word n-grams — the vocabulary-building pass of a
    training-data pipeline.

    Scale shape: tokens materialize as a column first (the split runs once
    per document, not once per gram — CollapseProject keeps the projection
    because the alias is referenced three times), the input re-spreads
    across cores (small corpora arrive as one parquet split), then explode
    → ``groupBy(ngram).count()`` (map-side combinable partial aggregation,
    one shuffle of the distinct grams) → ``orderBy(count desc,
    ngram).limit(k)`` which Spark executes as TakeOrdered (per-partition
    top-k + driver merge, never a global sort). The tie-break on the gram
    string makes the k boundary deterministic."""
    toks = spread(df).select(tokens_col(F.col(text_col)).alias("_toks"))
    grams = toks.select(F.explode(ngrams_from_tokens(F.col("_toks"), n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(top_k)
    )


def domain_mixture_weights(
    df, domain_col: str = "source", *, alpha_pct: int = 50
) -> "DataFrame":
    """Temperature-scaled domain sampling weights — the data-mixing step of
    corpus curation (up-weight small/quality domains, damp the head:
    weight_d ∝ count_d^α with α = alpha_pct/100; α=100 is proportional,
    α=0 uniform).

    Output: (domain, n_docs, weight_e6) with weight_e6 = (raw_e6 · 10⁶)
    div Σ raw_e6 where raw_e6 = round(10⁶ · count^α) — count^α quantized
    to fixed-point BEFORE the cross-domain sum, so the normalizer is an
    EXACT integer sum: associative, partition-order-free, reproducible in
    any engine with no float-summation-order contract at all (the
    kmeans_fit discipline: sum exact integers, divide afterwards).
    sqrt/identity (α=50/100) are correctly-rounded IEEE, so raw_e6 itself
    is bit-identical across engines; generic pow is ~1-ulp (fine for
    mixing, not for an exactness oracle).

    Scale shape: one map-side-combinable count per domain, one
    map-side-combinable long sum for the normalizer, broadcast back over a
    constant key — no window anywhere (the round-4 single-partition
    WindowExec is gone; pinned by test_plans). Long arithmetic headroom:
    raw_e6 ≤ 10⁶·√N ≤ 10¹² and the ×10⁶ numerator ≤ 10¹⁸ < 2⁶³; the
    normalizer Σ√n_d·10⁶ ≤ 10⁶·√(N·D) ≤ ~10¹⁶ at 10¹² docs / 10⁸
    domains."""
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs")
    )
    n = F.col("n_docs").cast("double")
    if alpha_pct == 50:
        raw = F.sqrt(n)
    elif alpha_pct == 100:
        raw = n
    else:
        raw = F.pow(n, F.lit(alpha_pct / 100.0))
    scored = counts.withColumn(
        "raw_e6", F.round(raw * 1_000_000).cast("long")
    ).withColumn("_k", F.lit(1))
    total = scored.agg(F.sum("raw_e6").alias("_tot")).withColumn("_k", F.lit(1))
    return (
        scored.join(F.broadcast(total), "_k")
        .select(
            "domain",
            "n_docs",
            F.expr("(raw_e6 * 1000000L) div _tot").alias("weight_e6"),
        )
    )


def frac_e6(num: Column, den: Column) -> Column:
    """Exact fixed-point ratio: floor(num·10⁶ / den) as BIGINT (0 when the
    denominator is 0) — integer arithmetic only, so any engine restates it.
    Shape: subtract the exact ``pmod`` remainder first; the remaining
    quotient is an exact integer ≤ 10¹², which IEEE double division then
    returns exactly (both operands and the true result are representable) —
    no float-floor edge cases."""
    n = num.cast("long") * F.lit(1_000_000).cast("long")
    d = den.cast("long")
    return F.when(d > 0, ((n - F.pmod(n, d)) / d).cast("long")).otherwise(
        F.lit(0).cast("long")
    )


def gopher_repetition_signals(
    df,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
) -> "DataFrame":
    """Gopher/FineWeb-style per-document repetition + format signals (Rae
    et al. 2021 §A1.1, the public quality-filter recipe downstream of
    crawling): the standard pre-training corpus gates that document-level
    dedup misses.

    Per document, all exact integers / e6 fixed-point (oracle-reproducible):

    - ``dup_line_char_frac_e6`` — characters in repeated lines beyond each
      line's first occurrence, over total line characters (boilerplate
      mass a line-level dedup would remove).
    - ``ellipsis_line_frac_e6`` / ``bullet_line_frac_e6`` — lines ending in
      ``...``/``…`` resp. starting with ``-``/``*``/``•``.
    - ``alpha_word_frac_e6`` — words containing at least one ASCII letter.
    - ``symbol_word_ratio_e6`` — ``#`` and ellipsis occurrences per word.
    - ``top{n}_char_frac_e6`` (n in ``top_ns``) — characters covered by the
      MOST FREQUENT word n-gram (count × gram length over total gram
      characters; ties broken to the lexicographically largest gram on
      both sides).
    - ``dup{n}_char_frac_e6`` (n in ``dup_ns``) — characters in n-grams
      occurring ≥ 2 times (all occurrences counted; overlaps NOT
      interval-merged — documented deviation from Gopher's char-coverage
      union, chosen so an independent SQL engine restates the number
      exactly).

    Scale shape: the line/word signals are pure Column expressions (arrays
    materialized once per doc — the minhash lesson); the n-gram signals are
    ONE union of per-n explodes → ONE map-side-combinable
    ``groupBy(id, n, gram)`` → per-doc conditional aggregation (manual
    pivot over the tiny fixed n set) → one hash join back. No windows, no
    driver loops; shuffle mass ≈ distinct (doc, gram) rows."""
    ns = sorted(set(top_ns) | set(dup_ns))
    # re-spread single-split inputs before the per-row lambda math (the
    # repo's repartition-before-heavy-math rule); the repartition Exchange
    # is additionally REUSED by both join branches below, so the scan +
    # split + tokenize run once instead of once per branch
    base = spread(df).select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.split(F.col(text_col), "\n").alias("_lines"),
        tokens_col(F.col(text_col)).alias("_words"),
    )

    zero = F.lit(0).cast("long")
    lsum = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, lambda x: F.length(x).cast("long")), zero, lambda a, x: a + x
    )
    total_line_chars = lsum(F.col("_lines"))
    dup_line_chars = total_line_chars - lsum(F.array_distinct(F.col("_lines")))
    n_lines = F.size("_lines").cast("long")
    ellipsis_lines = F.size(
        F.filter(F.col("_lines"), lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    ).cast("long")
    bullet_lines = F.size(
        F.filter(F.col("_lines"), lambda l: F.ltrim(l).rlike(r"^[-*•]"))
    ).cast("long")
    n_words = F.size("_words").cast("long")
    alpha_words = F.size(
        F.filter(F.col("_words"), lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    symbols = F.size(
        F.regexp_extract_all(F.col("_t"), F.lit(r"#|\.\.\.|…"), F.lit(0))
    ).cast("long")

    flat = base.select(
        id_col,
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        frac_e6(dup_line_chars, total_line_chars).alias("dup_line_char_frac_e6"),
        frac_e6(ellipsis_lines, n_lines).alias("ellipsis_line_frac_e6"),
        frac_e6(bullet_lines, n_lines).alias("bullet_line_frac_e6"),
        frac_e6(alpha_words, n_words).alias("alpha_word_frac_e6"),
        frac_e6(symbols, n_words).alias("symbol_word_ratio_e6"),
    )

    toks = base.select(id_col, "_words")
    gram_union = None
    for n in ns:
        g = toks.select(
            id_col,
            F.lit(n).alias("_n"),
            F.explode(ngrams_from_tokens(F.col("_words"), n)).alias("_gram"),
        )
        gram_union = g if gram_union is None else gram_union.unionByName(g)
    counts = gram_union.groupBy(id_col, "_n", "_gram").agg(F.count("*").alias("_c"))
    per_n = counts.groupBy(id_col, "_n").agg(
        F.max(F.struct(F.col("_c"), F.col("_gram"))).alias("_top"),
        F.sum(
            F.when(F.col("_c") >= 2, F.col("_c") * F.length("_gram")).otherwise(0)
        ).cast("long").alias("_dup_chars"),
        F.sum(F.col("_c") * F.length("_gram")).cast("long").alias("_tot_chars"),
    )
    top_chars = (F.col("_top._c") * F.length(F.col("_top._gram"))).cast("long")
    aggs = []
    for n in top_ns:
        aggs.append(
            F.max(
                F.when(F.col("_n") == n, frac_e6(top_chars, F.col("_tot_chars")))
            ).alias(f"top{n}_char_frac_e6")
        )
    for n in dup_ns:
        aggs.append(
            F.max(
                F.when(
                    F.col("_n") == n, frac_e6(F.col("_dup_chars"), F.col("_tot_chars"))
                )
            ).alias(f"dup{n}_char_frac_e6")
        )
    gram_sigs = per_n.groupBy(id_col).agg(*aggs)
    out = flat.join(gram_sigs, id_col, "left")
    fill = {f"top{n}_char_frac_e6": 0 for n in top_ns}
    fill.update({f"dup{n}_char_frac_e6": 0 for n in dup_ns})
    return out.fillna(fill)
