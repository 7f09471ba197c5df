"""Deduplication operators for web-scale text corpora.

The reference dedups *URLs* (RequestQueue uniqueKey anti-join — see
``operators/frontier.py``); a training-data pipeline additionally dedups
*content*. This module adds the standard family, Spark-first:

- ``exact_dedup_groups`` — hash-groupBy exact duplicate detection.
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard similarity join within a
  blocking key (quadratic inside a block, linear across blocks).
- ``minhash_lsh_pairs`` — MinHash signatures + banded LSH candidate
  generation + exact Jaccard verification (the 100 TB-scale path: candidate
  generation is a groupBy on band keys — one shuffle — never a cross join).
- ``with_simhash`` / ``simhash_pairs`` — 64-bit SimHash (per-bit majority
  vote over token hashes) with bit_count-XOR Hamming verification.

Determinism / portability: every hash derives from ``md5`` hex strings and
all scores use integer arithmetic (intersection/union counts, fixed-point),
so an independent SQL engine (the DuckDB oracle in ``__spark_entry__``)
reproduces results exactly. No Python UDFs anywhere — the whole family is
Column expressions + joins, fully inside whole-stage codegen.

Scale notes (100 TB):
- MinHash/SimHash signatures are computed with array folds over the token
  array — shuffle-free, one pass over the text.
- LSH pair generation shuffles on (band, band_key); hot buckets (boilerplate
  pages) are bounded by ``max_bucket`` — buckets above it are dropped and
  reported, the standard guard against O(n²) blowup inside one bucket.
- The verify stage re-joins pair ids back to shingle sets, broadcasting the
  candidate pairs when ``sizing.fits_broadcast`` admits them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crawlee_spark.functions.text_analysis import tokens_col
from crawlee_spark.operators.sizing import fits_broadcast, spread

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingles_from_tokens(words, n: int = 3):
    """Distinct word n-grams (sorted for determinism) from an
    ALREADY-MATERIALIZED token-array column.

    ``words`` must be a plain column reference, not an expression: every
    ``element_at(words, ·)`` inside the gram lambda re-evaluates its
    argument, so an inlined tokenizer re-runs the split once per gram —
    measured 6× the whole stage cost at sf1.0 (the repo's
    expression-tree rule). Callers tokenize into a projected column first.

    Documents with fewer than ``n`` tokens contribute their whole token
    sequence as a single shingle, so short docs still dedup."""
    w = F.col(words) if isinstance(words, str) else words
    k = F.size(w)
    grams = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
    )
    short = F.array(F.concat_ws(" ", w))
    return F.array_sort(F.array_distinct(F.when(k >= n, grams).otherwise(short)))


def shingles_col(text, n: int = 3):
    """Distinct word n-grams of ``text`` (sorted for determinism).

    Convenience form for tests/small frames ONLY: the tokenizer is inlined
    into the gram lambda here, so it re-runs per gram. Hot paths tokenize
    into a column and call ``shingles_from_tokens`` instead."""
    return shingles_from_tokens(tokens_col(text), n)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): one row per distinct content with
    the surviving (minimum) id and the duplicate count.

    Returns ``(content_hash, survivor_id, dup_count)``. Scale: a single
    map-side-combinable groupBy on a 32-hex-char key; never materializes
    document pairs."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard within blocks
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "source",
    n: int = 3,
    threshold_pct: int = 50,
) -> DataFrame:
    """All pairs (a < b) within a block whose n-gram Jaccard ≥ threshold_pct%.

    Jaccard is kept in integer arithmetic: ``inter_cnt * 100 >=
    threshold_pct * union_cnt``. Output: (id_a, id_b, inter_cnt, union_cnt).

    The block column bounds the quadratic self-join (pairs only form inside a
    block); for unblocked corpora use ``minhash_lsh_pairs``."""
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            tokens_col(F.col(text_col)).alias("_w"),
        )
        .select("_id", "_blk", shingles_from_tokens("_w", n).alias("_sh"))
        .localCheckpoint(eager=True)
    )
    # pinned: both self-join branches reuse the computed shingle arrays
    # instead of re-running tokenize→n-gram→distinct→sort per branch
    a = base.select(
        F.col("_blk"), F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    b = base.select(
        F.col("_blk"), F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    pairs = a.join(b, "_blk").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select(
            "id_a",
            "id_b",
            inter.cast("long").alias("inter_cnt"),
            union.cast("long").alias("union_cnt"),
        )
        .filter(F.col("inter_cnt") * 100 >= threshold_pct * F.col("union_cnt"))
        .filter(F.col("inter_cnt") > 0)
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


MINHASH_PRIME = 4294967311  # smallest prime > 2^32 — the datasketch modulus

def minhash_perm_consts(num_perm: int) -> list:
    """Deterministic (a_i, b_i) affine-permutation constants, derived from
    md5 so any engine regenerates them: a_i ∈ [1, 2³⁰), b_i ∈ [0, 2³⁰).
    Bound matters: a·h + b < 2³⁰·2³² + 2³⁰ < 2⁶² never overflows BIGINT in
    Spark OR DuckDB (DuckDB errors on overflow rather than wrapping)."""
    import hashlib

    out = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"a|{i}".encode()).hexdigest()[:8], 16) % (2**30 - 1) + 1
        b = int(hashlib.md5(f"b|{i}".encode()).hexdigest()[:8], 16) % (2**30)
        out.append((a, b))
    return out


def minhash_hashes_col(shingles) -> Column:
    """Base hash array: ONE md5 per shingle → 32-bit int (first 8 hex
    chars). The ``num_perm`` signature minima then reuse this array through
    cheap affine permutations instead of hashing every shingle num_perm
    times — the datasketch scheme, ~num_perm× less hashing on the hot path.
    MATERIALIZE this as its own projected column before feeding
    ``minhash_signature_cols``: referenced 12×, CollapseProject keeps the
    single evaluation (the repo's expression-tree rule)."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def minhash_signature_cols(hashes, num_perm: int = 12) -> list:
    """MinHash signature: sig_i = min over shingles of (a_i·h + b_i) mod p
    with p the smallest prime > 2³² — a universal-hash permutation family
    over the base hashes from ``minhash_hashes_col``. Pure BIGINT
    arithmetic, bit-identical in any engine."""
    return [
        F.array_min(
            F.transform(
                hashes, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)
            )
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_perm_consts(num_perm))
    ]


def with_minhash_bands(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    shingled: bool = False,
) -> DataFrame:
    """Per-document banded MinHash: one row per (doc, band) with the band key.

    ``bands`` must divide ``num_perm``; rows per band = num_perm // bands.
    Band key = md5 of the concatenated signature slice. With
    ``shingled=True`` the input is already ``(_id, _sh)`` (a pinned shingle
    frame the caller reuses for verification)."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    rows = num_perm // bands
    if shingled:
        sh_frame = df
    else:
        # materialize shingles as a column FIRST: each signature expression
        # then references the computed array instead of re-building (tokenize
        # → n-gram → distinct → sort) num_perm times per document. Re-spread
        # the input first — small corpora arrive as one parquet split, and
        # the signature math (one md5 + num_perm affine mins per shingle) is
        # the expensive part worth all cores.
        sh_frame = spread(df).select(
            F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("_w")
        ).select("_id", shingles_from_tokens("_w", n).alias("_sh"))
    hashed = sh_frame.select("_id", minhash_hashes_col(F.col("_sh")).alias("_h"))
    sigs = hashed.select("_id", *minhash_signature_cols(F.col("_h"), num_perm))
    band_structs = []
    for b in range(bands):
        key = F.md5(
            F.concat_ws(
                "|", *[F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)]
            )
        )
        band_structs.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return sigs.select(
        "_id", F.explode(F.array(*band_structs)).alias("_bk")
    ).select("_id", F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key"))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    threshold_pct: int = 50,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH + exact Jaccard verification.

    Stages (each one shuffle):
    1. signature: array folds per document (no shuffle);
    2. candidates: groupBy (band, band_key) self-join — only documents
       sharing a band bucket ever meet; buckets larger than ``max_bucket``
       are dropped (boilerplate guard);
    3. verify: re-join shingle sets on the candidate ids, keep pairs with
       exact integer Jaccard ≥ threshold_pct%.

    Output: (id_a, id_b, inter_cnt, union_cnt) — verified near-dups.
    """
    # shingles computed ONCE and pinned: the signature pass, both candidate
    # branches, and both verify joins all reuse this frame — without the pin
    # the self-joins re-run the whole tokenize→shingle (and the banding
    # re-runs the 12 md5 passes) per branch, which measured ~2× the whole
    # operator's cost at sf0.1
    sh = (
        spread(df).select(F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("_w"))
        .select("_id", shingles_from_tokens("_w", n).alias("_sh"))
        .localCheckpoint(eager=True)
    )
    banded = with_minhash_bands(
        sh, shingled=True, num_perm=num_perm, bands=bands
    ).localCheckpoint(eager=True)
    sized = banded.withColumn(
        "_bsz", F.count("*").over(Window.partitionBy("band", "band_key"))
    ).filter(F.col("_bsz") <= max_bucket)
    a = sized.select("band", "band_key", F.col("_id").alias("id_a"))
    b = sized.select("band", "band_key", F.col("_id").alias("id_b"))
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # pin + count once: the candidate set drives BOTH verify joins, and
        # broadcasting it (when it fits — the usual case after the bucket
        # guard) keeps the corpus-sized shingle frame from being shuffled
        # twice by sort-merge joins; a larger set falls back to shuffle
        # joins, which AQE sizes at runtime. Payload: two longs per pair.
        .localCheckpoint(eager=True)
    )
    n_cand = cand.count()
    cand_j = F.broadcast(cand) if fits_broadcast(n_cand, 16 * n_cand) else cand
    verified = (
        cand_j.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.select(
            "id_a",
            "id_b",
            inter.cast("long").alias("inter_cnt"),
            union.cast("long").alias("union_cnt"),
        )
        .filter(F.col("inter_cnt") * 100 >= threshold_pct * F.col("union_cnt"))
        .filter(F.col("inter_cnt") > 0)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def with_simhash(
    df: DataFrame, *, text_col: str = "text", out_prefix: str = "simhash"
) -> DataFrame:
    """Add 64-bit SimHash as four 16-bit words ``{prefix}_0..3``.

    Per-bit majority vote over the document's *distinct* tokens: bit b is 1
    iff more than half the token hashes have bit b set. Four 16-bit words
    instead of one signed 64-bit value keep XOR/bit_count portable and
    sign-free.

    Physical plan: explode distinct tokens → one md5 + four hex→int convs
    per token → 64 flat ``sum()`` aggregates back to one row per document.
    Everything is primitive arithmetic inside whole-stage codegen with
    map-side partial aggregation — no array accumulators in the hot loop
    (an array-fold formulation allocates a 64-slot array per token and is
    ~20× slower)."""
    other = [c for c in df.columns]
    toks = F.array_distinct(tokens_col(F.col(text_col)))
    tok = spread(df).withColumn("_ntok", F.size(toks)).withColumn("_t", F.explode_outer(toks))
    digest = F.md5(F.col("_t"))
    # 4 × 16-bit words of the token hash, one conv each
    for w in range(4):
        tok = tok.withColumn(f"_w{w}", F.conv(F.substring(digest, 4 * w + 1, 4), 16, 10).cast("int"))
    # 64 per-bit counters (bit j of word w via divide/mod — exact powers of 2)
    aggs = [F.max("_ntok").alias("_ntok")]
    for b in range(64):
        w, j = b // 16, b % 16
        bit = F.floor(F.col(f"_w{w}") / (2 ** (15 - j))).cast("long") % 2
        aggs.append(F.sum(bit).alias(f"_c{b}"))
    counted = tok.groupBy(*other).agg(*aggs)
    # majority vote + word assembly (pure arithmetic over the 64 counters)
    out = counted
    for w in range(4):
        word = F.lit(0).cast("long")
        for j in range(16):
            b = w * 16 + j
            maj = F.when(F.col(f"_c{b}") * 2 > F.col("_ntok"), F.lit(1)).otherwise(F.lit(0))
            word = word + maj * (2 ** (15 - j))
        out = out.withColumn(f"{out_prefix}_{w}", word)
    return out.select(*other, *[f"{out_prefix}_{w}" for w in range(4)])


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "source",
    max_hamming: int = 3,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Pairs (a < b) with SimHash Hamming distance ≤ ``max_hamming``.

    Output: (id_a, id_b, hamming); verification is bit_count(XOR) over the
    four 16-bit words. Candidate generation:

    - ``block_col`` given: self-join inside the block (quadratic per block —
      fine when blocks are small and meaningful, e.g. per-source);
    - ``block_col=None``: the standard **4-table word rotation** — by
      pigeonhole, two signatures within Hamming distance ≤ 3 of each other
      differ in at most 3 of the 4 words, so they agree EXACTLY on ≥ 1 word;
      candidates are an equi-join on (word_index, word_value). This is the
      100 TB path: one shuffle on a 4×2^16-way key, full recall for k ≤ 3,
      no block column needed. Buckets above ``max_bucket`` (a word value
      shared by that many docs — boilerplate) are dropped and bounded."""
    hashed = with_simhash(df, text_col=text_col).select(
        F.col(id_col).alias("_id"),
        *( [F.col(block_col).alias("_blk")] if block_col is not None else [] ),
        *[F.col(f"simhash_{w}") for w in range(4)],
    ).localCheckpoint(eager=True)
    # pinned: candidate branches and verification reuse the 64-aggregate
    # signature computation instead of re-running it per self-join branch

    ham = None
    for w in range(4):
        term = F.bit_count(F.col(f"ha_{w}").bitwiseXOR(F.col(f"hb_{w}")))
        ham = term if ham is None else ham + term

    if block_col is not None:
        a = hashed.select(
            "_blk", F.col("_id").alias("id_a"),
            *[F.col(f"simhash_{w}").alias(f"ha_{w}") for w in range(4)],
        )
        b = hashed.select(
            "_blk", F.col("_id").alias("id_b"),
            *[F.col(f"simhash_{w}").alias(f"hb_{w}") for w in range(4)],
        )
        pairs = a.join(b, "_blk").filter(F.col("id_a") < F.col("id_b"))
    else:
        if max_hamming > 3:
            raise ValueError(
                "word-rotation candidates guarantee recall only for "
                "max_hamming <= 3 with 4 words; pass a block_col for larger k"
            )
        words = hashed.select(
            "_id",
            F.posexplode(F.array(*[F.col(f"simhash_{w}") for w in range(4)])).alias("_w", "_v"),
        )
        sized = words.withColumn(
            "_bsz", F.count("*").over(Window.partitionBy("_w", "_v"))
        ).filter(F.col("_bsz") <= max_bucket)
        wa = sized.select("_w", "_v", F.col("_id").alias("id_a"))
        wb = sized.select("_w", "_v", F.col("_id").alias("id_b"))
        cand = (
            wa.join(wb, ["_w", "_v"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .localCheckpoint(eager=True)  # see minhash_lsh_pairs: broadcast
        )
        n_cand = cand.count()
        if fits_broadcast(n_cand, 16 * n_cand):
            cand = F.broadcast(cand)
        pairs = cand.join(
            hashed.select(
                F.col("_id").alias("id_a"),
                *[F.col(f"simhash_{w}").alias(f"ha_{w}") for w in range(4)],
            ),
            "id_a",
        ).join(
            hashed.select(
                F.col("_id").alias("id_b"),
                *[F.col(f"simhash_{w}").alias(f"hb_{w}") for w in range(4)],
            ),
            "id_b",
        )
    return (
        pairs.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# passage-level exact duplication (repeated n-gram spans)
# ---------------------------------------------------------------------------

def _span_hash_frame(
    df: DataFrame, id_col: str, text_col: str, window: int, out_id: str
) -> DataFrame:
    """(out_id, span_hash) — one row per ``window``-token span, md5 of the
    space-joined tokens. Tokens materialize as a projected column first
    (an inline tokenizer would re-run per span — O(len²)/doc) and
    single-split inputs re-spread before the per-row hashing."""
    tok_frame = spread(df).select(
        F.col(id_col).alias(out_id), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    spans = F.when(
        F.size(toks) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - window),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, window), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tok_frame.select(out_id, F.explode(spans).alias("span_hash"))


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Training-data decontamination: flag corpus documents that share any
    ``window``-token span with an evaluation-benchmark text (the GPT-3
    appendix-C n-gram overlap check). Returns one row per contaminated
    document: (doc_id, contaminated_spans = distinct shared span hashes,
    bench_docs_hit = distinct benchmark items hit).

    Scale shape: the CORPUS spans never shuffle — the benchmark is tiny
    relative to 100 TB of corpus (~10⁵ eval items), so its distinct
    (bench_id, span_hash) frame broadcasts into a map-side join against
    the streaming doc-span explode; the only shuffle is the final groupBy
    over the (rare) contaminated hits."""
    d = _span_hash_frame(docs, id_col, text_col, window, "doc_id")
    b = _span_hash_frame(bench, bench_id_col, bench_text_col, window, "bench_id").distinct()
    hits = d.join(F.broadcast(b), "span_hash")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("span_hash").alias("contaminated_spans"),
        F.countDistinct("bench_id").alias("bench_docs_hit"),
    )


def repeated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 8,
    min_docs: int = 2,
    sample_every: int = 1,
) -> DataFrame:
    """Cross-document repeated passages: every ``window``-token span is
    hashed (md5 of the space-joined tokens) and spans appearing in at least
    ``min_docs`` DISTINCT documents are reported with occurrence stats —
    the passage-level exact-duplication pass of a training-data pipeline
    (document-level exact/near dedup misses boilerplate repeated INSIDE
    otherwise-unique documents).

    Output: (span_hash, n_docs, n_occurrences, first_doc_id) — first_doc_id
    is the deterministic survivor (min doc id containing the span).

    Scale shape: the span explosion is map-side (one row per token, same
    order as the scan); the only shuffle is the groupBy on span_hash with
    map-side partial aggregation, and the ``min_docs`` filter runs on the
    aggregated (distinct-hash-sized) frame. Hashes are md5 hex — the
    DuckDB oracle recomputes them byte-for-byte.

    At the 100 TB design point MOST spans are unique, so combiners barely
    shrink the shuffle (~one row per corpus token). ``sample_every=N``
    applies the standard fix: keep only spans whose hash lands in a 1/N
    band — a deterministic uniform sample of SPAN IDENTITIES (every
    occurrence of a kept span is kept, so each surviving span's n_docs /
    n_occurrences stats stay EXACT; the sample drops ~(N-1)/N of the
    boilerplate passages, unbiased w.r.t. content). Shuffle shrinks N×;
    run a few disjoint bands to raise coverage."""
    exploded = _span_hash_frame(df, id_col, text_col, window, "doc_id")
    if sample_every > 1:
        # first 8 hex chars as an int: uniform over spans, identical for
        # every occurrence of the same span (a pushdown-able map-side filter)
        exploded = exploded.filter(
            F.conv(F.substring("span_hash", 1, 8), 16, 10).cast("long") % sample_every == 0
        )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (pairs -> components -> survivor)
# ---------------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Survivor selection over near-duplicate PAIRS: connected components
    via iterative min-label propagation, returning (doc_id, cluster_id)
    where cluster_id is the MINIMUM doc id in the component — the
    deterministic survivor every dedup pipeline keeps. Closes the loop
    behind ``minhash_lsh_pairs``/``simhash_pairs``/``embedding_neardup``:
    pairs alone over-delete (A~B, B~C must drop two docs, not three).

    Spark shape (the GraphFrames/Pregel CC pattern, no graph library):
    symmetrized edge frame pinned once; each iteration is one edge-sized
    join + one min-aggregation, labels monotonically decrease, and the
    driver loop stops on a converged (no-change) iteration. Iterations =
    component diameter — near-dup clusters are shallow (a handful of
    hops), never the whole corpus. Every iteration localCheckpoints the
    label frame: lineage stays O(1), not O(iterations)."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iterations):
        nbr = edges.join(
            labels.select(F.col("node").alias("b"), F.col("label").alias("_nl")), "b"
        ).select(F.col("a").alias("node"), F.col("_nl").alias("label"))
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.select("node", F.col("label").alias("_old")), "node"
            )
            .filter(F.col("label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # a truncated propagation is NOT a clustering: labels would be some
        # intermediate state that neither matches true connected components
        # nor any oracle — refuse rather than return silently-wrong clusters
        raise RuntimeError(
            f"dup_clusters did not converge within max_iterations={max_iterations} "
            "(component diameter exceeds the iteration budget); raise max_iterations"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted LSH index
# ---------------------------------------------------------------------------

def build_lsh_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Persistable MinHash-LSH index of an EXISTING corpus: one row per
    (doc, band) with the band bucket key and the doc's full signature
    array, so a later incremental batch can both find candidates (bucket
    join) and verify them (signature agreement) without ever rescanning
    the old corpus text — the recrawl/refresh path document-level
    re-dedup can't afford at 100 TB.

    Hot buckets (> ``max_bucket`` members — boilerplate shingles) are
    dropped AT BUILD TIME, once, instead of on every incremental batch.
    At scale, write the result bucketed/partitioned by ``band`` +
    ``band_key`` prefix so the incremental join is co-located."""
    sh = spread(df).select(
        F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("_w")
    ).select("_id", shingles_from_tokens("_w", n).alias("_sh"))
    hashed = sh.select("_id", minhash_hashes_col(F.col("_sh")).alias("_h"))
    sigs = hashed.select("_id", *minhash_signature_cols(F.col("_h"), num_perm))
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(num_perm)])
    rows = num_perm // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col("_id").alias("doc_id"),
        sig_arr.alias("sigs"),
        F.explode(F.array(*band_structs)).alias("_bk"),
    ).select("doc_id", "sigs", F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key"))
    sized = banded.withColumn(
        "_bsz", F.count("*").over(Window.partitionBy("band", "band_key"))
    )
    return sized.filter(F.col("_bsz") <= max_bucket).drop("_bsz")


def incremental_lsh_matches(
    new_df: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    min_agree: int = 6,
) -> DataFrame:
    """Near-duplicate matches of a NEW document batch against a persisted
    ``build_lsh_index`` frame: band the new batch the same way, bucket-join
    against the index, and verify candidates by exact signature-position
    agreement (``agree_cnt`` of ``num_perm`` minhashes equal — the unbiased
    Jaccard estimator, integer-exact). Deliberate deviation from
    ``minhash_lsh_pairs``' exact-Jaccard verify, documented: the index
    carries signatures, not shingle sets, so the old corpus is NEVER read
    during the incremental pass — the shuffle is O(new batch + touched
    buckets), independent of corpus size.

    Output: (new_id, old_id, agree_cnt) with agree_cnt ≥ ``min_agree``.
    New-vs-new duplicates are the ordinary ``minhash_lsh_pairs`` job over
    the (small) batch; this operator covers new-vs-corpus."""
    new_banded = build_lsh_index(
        new_df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_perm=num_perm,
        bands=bands,
        max_bucket=2**31 - 1,  # the guard lives in the INDEX build
    ).select(
        F.col("doc_id").alias("new_id"),
        F.col("sigs").alias("new_sigs"),
        "band",
        "band_key",
    )
    cand = new_banded.join(
        index.select(
            F.col("doc_id").alias("old_id"),
            F.col("sigs").alias("old_sigs"),
            "band",
            "band_key",
        ),
        ["band", "band_key"],
    )
    agree = F.size(
        F.filter(F.zip_with("new_sigs", "old_sigs", lambda a, b: a == b), lambda v: v)
    ).cast("long")
    return (
        cand.select("new_id", "old_id", agree.alias("agree_cnt"))
        .distinct()  # a pair may share several bands; agreement is identical
        .filter(F.col("agree_cnt") >= min_agree)
    )
