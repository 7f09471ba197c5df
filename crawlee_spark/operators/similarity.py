"""Similarity search over embedding columns (``array<float>``).

Engine-native extension beyond the reference (which has no vector ops):
approximate-nearest-neighbor primitives a training-data pipeline needs for
embedding-based dedup and retrieval.

- ``cosine_topk`` — exact brute-force cosine top-k: broadcast the (small)
  query set against the corpus, rank per query. The correctness baseline.
- ``with_lsh_buckets`` / ``lsh_ann_topk`` — random-hyperplane (sign) LSH:
  each vector gets a ``nbits``-bit bucket id from the signs of deterministic
  ±1 projections; search only inside the query's bucket. The 100 TB path:
  candidate generation is an equi-join on bucket id — one shuffle, no cross
  join — trading recall for a ~2^nbits fan-in reduction.
- ``embedding_neardup_pairs`` — near-duplicate pairs (cosine ≥ threshold)
  within LSH buckets.

Determinism / portability: hyperplane weights are ±1 derived from md5 parity
(reproducible in any engine); all float math is double-precision sums in
array-index order, so the DuckDB oracle computes bit-identical scores.
Everything is Column expressions (``zip_with``/``aggregate``) — JVM-side,
no Python UDFs; at very high dimensions a Pandas-UDF BLAS path would win,
but 64-dim dot products stay cheaper in codegen than an Arrow round-trip.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crawlee_spark.operators.sizing import spread


def _c(col):
    return F.col(col) if isinstance(col, str) else col


def dot_col(a, b):
    """Σ aᵢ·bᵢ in index order, double precision."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_sq_col(a):
    return dot_col(a, a)


def cosine_col(a, b):
    """cos(a, b); NULL when either norm is zero."""
    d = dot_col(a, b)
    na = norm_sq_col(a)
    nb = norm_sq_col(b)
    return F.when((na > 0) & (nb > 0), d / F.sqrt(na * nb))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding); ``corpus``: (vec_id, embedding).
    Output: (query_id, vec_id, rank, score_e6) — the score is fixed-point
    ×10⁶ (floor) so downstream comparisons are integer-exact; ranking uses
    the full-precision score with vec_id tie-break.

    Scale: the query side is broadcast (ANN workloads query with a small
    batch against a huge corpus); the corpus is scanned once, the per-query
    top-k is a window over |corpus|·|queries| scored rows. For large query
    batches switch to ``lsh_ann_topk``.

    Each side's squared norm is materialized ONCE per row before the join
    (the norms are per-vector, not per-pair — inlining ``cosine_col`` here
    would fold each 64-dim norm aggregate |queries|× per corpus row, and
    the optimizer additionally duplicates it into the null-guard CASE
    branch: 5 folds per pair instead of 1). Same IEEE doubles, ~5× less
    per-pair work."""
    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qn", norm_sq_col("_qvec"))
    c = spread(
        corpus.select(F.col(id_col).alias(id_col), F.col(vec_col).alias("_cvec"))
    ).withColumn("_cn", norm_sq_col("_cvec"))
    score = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        dot_col("_qvec", "_cvec") / F.sqrt(F.col("_qn") * F.col("_cn")),
    )
    scored = c.join(F.broadcast(q)).withColumn("_score", score)
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_score") * 1_000_000).cast("long").alias("score_e6"),
        )
    )


# ---------------------------------------------------------------------------
# sign-projection LSH
# ---------------------------------------------------------------------------


def _hyperplane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 weight for (plane, dim): parity of the first hex
    digit of md5('{plane}:{dim}'). Reproducible in SQL:
    ``strpos('0123456789abcdef', substr(md5(...),1,1)) % 2``."""
    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 1 else -1


def hyperplane_weights(nbits: int, dim: int) -> list[list[int]]:
    return [[_hyperplane_sign(p, d) for d in range(dim)] for p in range(nbits)]


def with_lsh_buckets(
    df: DataFrame, *, vec_col: str = "embedding", dim: int, nbits: int = 4,
    out_col: str = "bucket",
) -> DataFrame:
    """Add an LSH bucket id in [0, 2^nbits): bit p = 1 iff the projection of
    the vector onto hyperplane p is > 0.

    The ±1 weight matrix is tiny and driver-computed; projections are
    zip_with folds in codegen. Bucket id = Σ bit_p · 2^(nbits-1-p)."""
    weights = hyperplane_weights(nbits, dim)
    bucket = F.lit(0).cast("long")
    for p in range(nbits):
        warr = F.array(*[F.lit(float(w)) for w in weights[p]])
        proj = F.aggregate(
            F.zip_with(_c(vec_col), warr, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket * 2 + F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def lsh_bucket_guard(bucketed: DataFrame, max_bucket: int, bucket_col: str = "bucket") -> DataFrame:
    """Hot-bucket guard (same pattern as dedup.py's minhash guard): drop
    buckets larger than ``max_bucket`` so one boilerplate-heavy bucket can
    never go quadratic — at nbits=4, 1/16 of a skewed corpus landing in one
    bucket is O(n²) pairs without this. Dropped buckets trade recall for a
    hard bound; inspect them with ``dropped_buckets``."""
    sized = bucketed.withColumn(
        "_bsz", F.count("*").over(Window.partitionBy(bucket_col))
    )
    return sized.filter(F.col("_bsz") <= max_bucket).drop("_bsz")


def dropped_buckets(bucketed: DataFrame, max_bucket: int, bucket_col: str = "bucket") -> DataFrame:
    """Report of buckets the guard dropped: (bucket, size). Emit/log this
    next to any guarded run — silent truncation reads as full coverage."""
    return (
        bucketed.groupBy(bucket_col)
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket)
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    dim: int,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_bucket: int = 100_000,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's bucket.

    Same output shape as ``cosine_topk``. Recall < 1 by design; the join is
    (bucket ⋈ bucket) — at 100 TB this is the difference between a shuffle
    join on a 2^nbits-way key and an unrunnable cross join. Corpus-side
    buckets above ``max_bucket`` are dropped (guarded fan-in: |q_bucket| ×
    max_bucket bounds the scored pairs)."""
    q = with_lsh_buckets(
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")),
        vec_col="_qvec", dim=dim, nbits=nbits, out_col="bucket",
    ).withColumn("_qn", norm_sq_col("_qvec"))
    c = with_lsh_buckets(
        spread(corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))),
        vec_col="_cvec", dim=dim, nbits=nbits, out_col="bucket",
    ).withColumn("_cn", norm_sq_col("_cvec"))
    c = lsh_bucket_guard(c, max_bucket)
    score = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        dot_col("_qvec", "_cvec") / F.sqrt(F.col("_qn") * F.col("_cn")),
    )
    scored = c.join(F.broadcast(q), "bucket").withColumn("_score", score)
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_score") * 1_000_000).cast("long").alias("score_e6"),
        )
    )


def with_centroid_scores(df: DataFrame, vec_col: str, centroids: list[list[float]], prefix: str) -> DataFrame:
    """Materialize cosine(vec, centroid_i) as columns ``{prefix}{i}``.

    MUST be columns, not inlined expressions: the downstream argmin chains
    reference each score several times, and inlining the 64-literal cosine
    tree into every reference explodes the plan exponentially (OOM in the
    analyzer before a single row is read).

    The vector's squared norm is materialized once (it is the same for all
    centroids — inlining it per score column costs 2·k extra 64-dim folds
    per row), and each centroid's squared norm is folded on the DRIVER in
    array-index order — the identical left-associated IEEE-double sum the
    in-plan aggregate would produce, so scores are bit-identical."""
    vn = f"_vn_{prefix}"
    df = df.withColumn(vn, norm_sq_col(vec_col))
    for i, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        cn = 0.0
        for x in c:
            cn = cn + float(x) * float(x)
        if cn > 0:
            score = F.when(
                F.col(vn) > 0,
                dot_col(vec_col, carr) / F.sqrt(F.col(vn) * F.lit(cn)),
            )
        else:
            score = F.lit(None).cast("double")
        df = df.withColumn(f"{prefix}{i}", F.coalesce(score, F.lit(-2.0)))
    return df.drop(vn)


def _argmax_excluding(n: int, prefix: str, excluded: list):
    """Index of the max score column, ties → lowest index, skipping any
    index equal to one of the ``excluded`` (int columns)."""
    best_idx = F.lit(-1).cast("int")
    best = F.lit(-9.0)
    for i in range(n):
        cond = F.col(f"{prefix}{i}") > best
        for e in excluded:
            cond = cond & (e != F.lit(i))
        best_idx = F.when(cond, F.lit(i)).otherwise(best_idx)
        best = F.when(cond, F.col(f"{prefix}{i}")).otherwise(best)
    return best_idx


def kmeans_fit(
    corpus: DataFrame,
    *,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd k-means as DataFrame aggregations (no RNG, no
    wall clock — reproducible in any engine, which is what lets the DuckDB
    oracle recompute identical centroids):

    - init: the first ``k`` vectors in ``id_col`` order (seedless);
    - assign: argmax cosine against the current centroid literals, ties →
      lowest centroid index (one codegen pass over the corpus);
    - update: per-(cell, dim) sums of round(v·10⁶) as BIGINT — an
      order-independent exact integer aggregation (a raw double sum would be
      partition-order-nondeterministic and could never match the oracle
      bit-for-bit) — then centroid = (sum/count)/10⁶ in double, computed on
      the driver over k×dim rows. Empty cells keep their previous centroid.

    Each iteration is one distributed pass + one tiny collect; at 100 TB the
    same loop holds (k·dim driver state, map-side-combinable integer sums).
    A k-means|| oversampled init would slot in as a different iteration-0."""
    cents = [
        [float(x) for x in r[vec_col]]
        for r in corpus.orderBy(id_col).limit(k).collect()
    ]
    src = spread(corpus.select(F.col(vec_col).alias("_v")))
    for _ in range(iters):
        assigned = with_centroid_scores(src, "_v", cents, "_ks").withColumn(
            "_cell", _argmax_excluding(len(cents), "_ks", [])
        )
        sums = (
            assigned.select("_cell", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("_cell", "_i")
            .agg(
                F.sum(F.round(F.col("_x").cast("double") * 1_000_000).cast("long")).alias("_s"),
                F.count("*").alias("_n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, tuple]] = {}
        for r in sums:
            by_cell.setdefault(r["_cell"], {})[r["_i"]] = (int(r["_s"]), int(r["_n"]))
        for c in range(len(cents)):
            if c in by_cell:
                cents[c] = [
                    (by_cell[c][i][0] / by_cell[c][i][1]) / 1_000_000
                    for i in range(len(cents[c]))
                ]
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_centroids``
    inverted lists, probe each query's ``nprobe`` nearest lists only.

    The coarse quantizer is a deterministic k-means fit (``kmeans_fit``:
    id-ordered init + ``train_iters`` Lloyd iterations over exact integer
    sums). Same output shape as ``cosine_topk``; recall < 1 by design,
    fan-in reduced by ~n_centroids/nprobe. Compared to ``lsh_ann_topk``
    this is the partition-pruning flavor of ANN: the corpus is physically
    clusterable by ``ivf_cell`` (partitionBy on write ⇒ Spark prunes
    non-probed cells at scan time)."""
    cents = kmeans_fit(
        corpus, k=n_centroids, iters=train_iters, id_col=id_col, vec_col=vec_col
    )
    c = with_centroid_scores(
        spread(corpus.select(id_col, F.col(vec_col).alias("_cvec"))), "_cvec", cents, "_cs"
    )
    c = c.withColumn("ivf_cell", _argmax_excluding(n_centroids, "_cs", [])).drop(
        *[f"_cs{i}" for i in range(n_centroids)]
    ).withColumn("_cn", norm_sq_col("_cvec"))
    # each query probes its nprobe nearest cells (p-th pick materialized as
    # a column so later picks reference it by name, keeping the plan linear)
    q = with_centroid_scores(
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")),
        "_qvec", cents, "_qs",
    )
    for p in range(nprobe):
        prev = [F.col(f"_probe{j}") for j in range(p)]
        q = q.withColumn(f"_probe{p}", _argmax_excluding(n_centroids, "_qs", prev))
    q = q.withColumn("_cells", F.array(*[F.col(f"_probe{p}") for p in range(nprobe)])).drop(
        *[f"_qs{i}" for i in range(n_centroids)], *[f"_probe{p}" for p in range(nprobe)]
    )
    # pin the (small) query batch: projection collapse otherwise nests the
    # probe argmax chains exponentially (see ivf_search_index note) and the
    # optimizer/toString pays for it on every downstream action
    q = q.withColumn("_qn", norm_sq_col("_qvec")).localCheckpoint(eager=True)
    score = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        dot_col("_qvec", "_cvec") / F.sqrt(F.col("_qn") * F.col("_cn")),
    )
    scored = (
        c.join(F.broadcast(q), F.array_contains(F.col("_cells"), F.col("ivf_cell")))
        .withColumn("_score", score)
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_score") * 1_000_000).cast("long").alias("score_e6"),
        )
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 8,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Materialize the IVF index: the corpus written PARTITIONED BY its
    coarse cell, plus the trained centroids as a JSON sidecar.

    This is the 100 TB shape of IVF: the inverted lists are physical
    partition directories, so a query that probes ``nprobe`` of
    ``n_centroids`` cells scans only those directories — Catalyst partition
    pruning does the list selection at planning time, no data read from
    unprobed cells (``ivf_search_index`` + tests/test_plans.py pin this)."""
    import json

    cents = kmeans_fit(corpus, k=n_centroids, iters=train_iters, id_col=id_col, vec_col=vec_col)
    assigned = with_centroid_scores(
        spread(corpus.select(id_col, F.col(vec_col).alias("_v"))), "_v", cents, "_cs"
    )
    assigned = assigned.withColumn("ivf_cell", _argmax_excluding(n_centroids, "_cs", [])).drop(
        *[f"_cs{i}" for i in range(n_centroids)]
    )
    assigned.select(id_col, F.col("_v").alias(vec_col), "ivf_cell").write.mode(
        "overwrite"
    ).partitionBy("ivf_cell").parquet(path)
    with open(path.rstrip("/") + ".centroids.json", "w") as f:
        json.dump(cents, f)
    return cents


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN search over a materialized IVF index with partition pruning:
    collect the query batch's probed cells (≤ nprobe × |queries| ints on the
    driver), scan ONLY those cell directories via an ``isin`` partition
    filter, then exact-score and rank inside the probed lists. Output shape
    matches ``cosine_topk``."""
    import json

    with open(path.rstrip("/") + ".centroids.json") as f:
        cents = [list(map(float, c)) for c in json.load(f)]
    n_centroids = len(cents)
    q = with_centroid_scores(
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")),
        "_qvec", cents, "_qs",
    )
    for p in range(nprobe):
        prev = [F.col(f"_probe{j}") for j in range(p)]
        q = q.withColumn(f"_probe{p}", _argmax_excluding(n_centroids, "_qs", prev))
    q = q.withColumn("_cells", F.array(*[F.col(f"_probe{p}") for p in range(nprobe)])).drop(
        *[f"_qs{i}" for i in range(n_centroids)], *[f"_probe{p}" for p in range(nprobe)]
    )
    # pin the (small) query batch: Catalyst's projection collapse would
    # otherwise inline each probe's argmax chain into the next — an
    # exponentially-nested literal tree whose mere toString OOMs the driver
    # (same pathology with_centroid_scores documents) — and the probed-cell
    # collect below would pay it twice
    q = q.withColumn("_qn", norm_sq_col("_qvec")).localCheckpoint(eager=True)
    probed = sorted(
        {int(r["c"]) for r in q.select(F.explode("_cells").alias("c")).distinct().collect()}
    )
    corpus = spark.read.parquet(path).filter(F.col("ivf_cell").isin(probed))
    score = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        dot_col("_qvec", "_cvec") / F.sqrt(F.col("_qn") * F.col("_cn")),
    )
    scored = (
        corpus.select(id_col, F.col(vec_col).alias("_cvec"), "ivf_cell")
        .withColumn("_cn", norm_sq_col("_cvec"))
        .join(F.broadcast(q), F.array_contains(F.col("_cells"), F.col("ivf_cell")))
        .withColumn("_score", score)
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_score") * 1_000_000).cast("long").alias("score_e6"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    nbits: int = 4,
    threshold_e6: int = 950_000,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with cosine ≥ threshold (fixed-point ×10⁶),
    candidate-generated inside LSH buckets; buckets above ``max_bucket`` are
    dropped (the self-join is quadratic inside a bucket — one hot bucket of a
    boilerplate-heavy corpus would otherwise dominate the whole job).

    Output: (id_a, id_b, score_e6)."""
    bucketed = with_lsh_buckets(
        spread(df.select(id_col, vec_col)), vec_col=vec_col, dim=dim, nbits=nbits
    ).withColumn("_n", norm_sq_col(vec_col))
    bucketed = lsh_bucket_guard(bucketed, max_bucket)
    a = bucketed.select(
        "bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = bucketed.select(
        "bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        dot_col("_va", "_vb") / F.sqrt(F.col("_na") * F.col("_nb")),
    )
    score = F.floor(cos * 1_000_000).cast("long")
    return (
        pairs.withColumn("score_e6", score)
        .filter(F.col("score_e6") >= threshold_e6)
        .select("id_a", "id_b", "score_e6")
    )


# ---------------------------------------------------------------------------
# int8 quantization (memory-/IO-compressed ANN index)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    bits: int = 8,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector integer quantization: q_i = floor(v_i · s) with
    s = (2^(bits-1) − 1) / max|v| — the int8 index layout that shrinks a
    float32 ANN corpus 4× on disk and in shuffle. Quantized values and all
    downstream dot products are exact integers, so results are
    engine-reproducible bit-for-bit (the floats feeding floor are identical
    IEEE doubles on any engine).

    The abs-max and scale materialize as their OWN columns before the
    per-element transform references them — the expression-tree rule: a
    lambda body re-evaluates captured expressions per element, so an
    embedded array_max would be O(dim²) per row."""
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    with_amax = df.withColumn(
        "_amax", F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    )
    with_scale = with_amax.withColumn(
        scale_col,
        F.when(F.col("_amax") > 0, F.lit(qmax) / F.col("_amax")).otherwise(F.lit(0.0)),
    )
    return with_scale.withColumn(
        qvec_col,
        F.transform(v, lambda x: F.floor(x.cast("double") * F.col(scale_col)).cast("int")),
    ).drop("_amax")


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 8,
) -> DataFrame:
    """Exact top-k by INTEGER dot product over quantized vectors — the
    compressed-index variant of ``cosine_topk``: 4× less corpus IO, exact
    integer scores (no float-ranking nondeterminism at all), ranking ties
    broken by id. Magnitude bound: 127²·dim < 2²⁴·dim fits BIGINT at any
    realistic dimension.

    Output: (query_id, vec_id, rank, qdot). Note qdot ranks by ANGLE only
    approximately (per-vector scales differ) — the standard int8 retrieval
    trade; use cosine_topk for the uncompressed exact ranking."""
    q = quantize_embeddings(
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col)),
        vec_col=vec_col,
        bits=bits,
    ).select("_qid", F.col("qvec").alias("_qq"))
    c = quantize_embeddings(spread(corpus), vec_col=vec_col, bits=bits).select(
        id_col, F.col("qvec").alias("_qc")
    )
    dot = F.aggregate(
        F.zip_with("_qq", "_qc", lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.join(F.broadcast(q)).withColumn("_dot", dot)
    w = Window.partitionBy("_qid").orderBy(F.col("_dot").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.col("_dot").alias("qdot"),
        )
    )
