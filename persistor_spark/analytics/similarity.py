"""Similarity search over an embedding column (`embeddings` fixture:
vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).

Three strategies:

- brute_force_topk: exact cosine top-k — broadcast the (small) query set
  against the full vector table; one narrow pass + per-query top-k.  The
  correctness baseline and, thanks to broadcast, already the right plan for
  "few queries vs huge corpus" at cluster scale (no shuffle of the corpus).
- cosine_lsh_topk: random-hyperplane (sign) LSH bucketing — the scale path
  when BOTH sides are large: vectors hash to buckets, only same-bucket
  candidates are scored, then exact re-rank.  Deterministic hyperplanes
  (seeded) so results are reproducible.
- ivf_topk: inverted-file (IVF) variant — vectors are assigned to their
  nearest of C coarse centroids; queries probe the closest `nprobe`
  centroid lists.  Mirrors FAISS-IVF's layout as a pure DataFrame plan:
  the corpus is *partitioned by centroid id*, so a probe touches only
  nprobe/C of the data.

The dot product is a JVM `zip_with`+`aggregate` fold over array<double> —
no Python in the hot path.
"""

from __future__ import annotations

import random

import pandas as pd  # module-level: pandas_udf type-hint strings ('pd.Series')
# only resolve against module globals under `from __future__ import annotations`

from pyspark.sql import Column, DataFrame, Observation, functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )


def _normalized(v: DataFrame) -> DataFrame:
    """(id, v) -> (id, v) L2-normalized, computing the norm ONCE per row.

    The obvious `transform(v, x -> x / norm(v))` re-evaluates the whole
    d-element norm fold for EVERY element (O(d^2) interpreted ops per row —
    higher-order functions don't codegen and don't CSE), and writing the
    norm as a separate column doesn't help because CollapseProject
    re-inlines it into the lambda.  So: materialize (v, 1/norm) behind a
    localCheckpoint barrier, then the division is a cheap narrow map.
    """
    withn = v.select(
        "id", "v", (F.lit(1.0) / norm(F.col("v"))).alias("inv")
    ).localCheckpoint()
    return withn.select(
        "id", F.transform("v", lambda x: x * F.col("inv")).alias("v")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, cos) rows.

    Ranking key is (round(cos,4) DESC, vec_id ASC): the 4-decimal tie-break
    makes results reproducible across summation orders/platforms.
    """
    from pyspark.sql import Window

    # norms computed once per SIDE, not once per pair: the scored cross
    # product evaluates its expression per (query, vector) pair, and
    # cosine()'s inline norms would re-run both d-element folds there —
    # 3x the per-pair work of a single dot.  Division by the norm product
    # (not multiplication by precomputed reciprocals) keeps the float
    # rounding identical to the DuckDB oracle's dot/(sqrt*sqrt).
    v = _as_double(vectors, id_col, vec_col).withColumn("vn", norm(F.col("v")))
    q = (
        _as_double(queries, query_id_col, vec_col)
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
    )
    scored = v.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        scored = scored.filter(F.col("id") != F.col("query_id"))
    scored = scored.withColumn(
        "cos",
        F.round(dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")), 4),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("vec_id"), "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from dot products with fixed hyperplanes."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bits.append(F.when(dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _all_buckets_expr(vec: Column, tables: list[list[list[float]]]) -> Column:
    """array<int> of every table's bucket id, in table order — identical
    values to [_bucket_expr(vec, t) for t in tables] but as ONE expression
    over a single plane-cube literal (n_tables separate _bucket_expr trees
    carry n_tables*n_planes*dim literal nodes and made Catalyst analysis
    the dominant cost of the LSH stage)."""
    n_planes = len(tables[0])
    cube = _lit_data(tables, "array<array<array<double>>>")
    pows = _lit_data([1 << i for i in range(n_planes)], "array<int>")
    return F.transform(
        cube,
        lambda planes: F.aggregate(
            F.zip_with(
                planes,
                pows,
                lambda p, w: F.when(dot(vec, p) >= 0, w).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )


def cosine_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 7,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: `n_tables` independent sign-LSH tables of
    `n_planes` bits; candidates = union over tables of same-bucket vectors;
    exact re-rank of candidates.

    Recall rises with n_tables (union) and falls with n_planes (selectivity);
    candidate fraction per table ≈ corpus/2^n_planes.  Tune so candidates
    per query ≈ a few % of the corpus.
    """
    from pyspark.sql import Window

    v = _as_double(vectors, id_col, vec_col)
    q = _as_double(queries, query_id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    # slim-pair pattern (the a12 rewrite): the bucket join and the distinct
    # carry ONLY ids — deduping (query_id, id, qv, v) rows shuffles two
    # d-double arrays per candidate.  Vectors re-attach afterwards: the
    # candidate list is small, so both re-attach joins broadcast it and the
    # corpus never shuffles.  Norms are hoisted once per SIDE (division by
    # the norm product keeps float rounding identical to the brute-force
    # oracle's dot/(sqrt*sqrt)).
    v_buckets = v.select(
        "id", _all_buckets_expr(F.col("v"), tables).alias("bks")
    ).select("id", F.posexplode("bks").alias("table", "bucket"))
    q_buckets = q.select(
        "query_id", _all_buckets_expr(F.col("qv"), tables).alias("bks")
    ).select("query_id", F.posexplode("bks").alias("table", "bucket"))

    cand_ids = (
        v_buckets.join(F.broadcast(q_buckets), ["table", "bucket"])
        .select("query_id", "id")
        .distinct()
    )
    if exclude_self:
        cand_ids = cand_ids.filter(F.col("id") != F.col("query_id"))
    vn = v.withColumn("vn", norm(F.col("v")))
    qn = q.withColumn("qn", norm(F.col("qv")))
    scored = (
        cand_ids.join(vn, "id")
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "cos",
            F.round(dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("vec_id"), "cos", "rank")
    )


def _lit_data(value, sql_type: str) -> Column:
    """Constant array data as ONE plan node: from_json over a string
    literal, which ConstantFolding evaluates once per plan.  Building the
    same data from F.lit/F.array spawns one expression node per element
    (C*d or m*ksub*dsub of them), and Catalyst re-analysis of those trees
    dominated small-stage time (measured 3x slower per job at C=16, d=64).
    Code stays written once too: scoring goes through a single higher-order
    `transform` fold over this literal."""
    import json

    return F.from_json(F.lit(json.dumps(value)), sql_type)


def _lit_matrix(rows: list[list[float]]) -> Column:
    return _lit_data([[float(x) for x in r] for r in rows], "array<array<double>>")


# ---------------------------------------------------------------------------
# SQL-text twins of the scoring expression builders (r14 optimization).
#
# Building a C x d literal-matrix scoring expression through the Column API
# costs hundreds of py4j round-trips per call, and the k-means / PQ loops
# rebuild these expressions EVERY iteration (fresh literals).  Measured on
# the bench host: expression CONSTRUCTION alone was ~0.5 s per Lloyd
# iteration — as much as executing it.  Composing the same expression as one
# SQL string and parsing it JVM-side with a single F.expr produces the
# IDENTICAL analyzed tree (same from_json literal node, same higher-order
# folds, same left-fold summation order — verified bit-identical centroids
# on the bench corpus) at ~no driver cost.  Guide §1.2: per-task work —
# here the "task" was the driver itself.
# ---------------------------------------------------------------------------


def _sql_lit(value, sql_type: str) -> str:
    """Text twin of _lit_data: the same single from_json-over-literal node."""
    import json

    return f"from_json('{json.dumps(value)}', '{sql_type}')"


def _sql_dot(a: str, b: str) -> str:
    """Text twin of dot(): identical sequential left-fold."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _sql_centroid_scores(vec: str, cents: list, l2_bias: bool = False) -> str:
    """Text twin of _centroid_scores."""
    mat = _sql_lit([[float(x) for x in cv] for _, cv in cents], "array<array<double>>")
    scores = f"transform({mat}, c -> {_sql_dot(vec, 'c')})"
    if l2_bias:
        biases = _sql_lit(
            [0.5 * sum(x * x for x in cv) for _, cv in cents], "array<double>"
        )
        scores = f"zip_with({scores}, {biases}, (s, b) -> s - b)"
    return scores


def _sql_argmax_pick(scores: str, picks: list) -> str:
    """Text twin of _argmax_pick (same single-eval array_max-over-structs)."""
    neg = _sql_lit([-int(p) for p in picks], "array<int>")
    return (
        f"cast(-(array_max(zip_with({scores}, {neg}, "
        f"(s, np) -> named_struct('s', s, 'np', np))).np) as int)"
    )


def _sql_argmax_cid(vec: str, cents: list, l2_bias: bool = False) -> str:
    """Text twin of _argmax_cid."""
    return _sql_argmax_pick(
        _sql_centroid_scores(vec, cents, l2_bias), [int(c) for c, _ in cents]
    )


def _sql_sub_scores(
    vec: str, codebook_j: list, j: int, dsub: int, l2_bias: bool = False
) -> str:
    """Text twin of _sub_scores (j is the python subspace index here)."""
    sub = f"slice({vec}, {j * dsub + 1}, {dsub})"
    mat = _sql_lit(
        [[float(x) for x in c] for c in codebook_j], "array<array<double>>"
    )
    scores = f"transform({mat}, c -> {_sql_dot(sub, 'c')})"
    if l2_bias:
        biases = _sql_lit(
            [0.5 * sum(x * x for x in cent) for cent in codebook_j], "array<double>"
        )
        scores = f"zip_with({scores}, {biases}, (s, b) -> s - b)"
    return scores


def _sql_topn_cid_scores(vec: str, cents: list, n: int) -> str:
    """Text twin of _topn_cid_scores."""
    structs = (
        f"zip_with({_sql_centroid_scores(vec, cents)}, "
        f"{_sql_lit([-int(cid) for cid, _ in cents], 'array<int>')}, "
        f"(s, nc) -> named_struct('s', s, 'nc', nc))"
    )
    top = f"slice(sort_array({structs}, false), 1, {n})"
    return (
        f"transform({top}, t -> named_struct('cid', cast(-(t.nc) as int), 's', t.s))"
    )


def _sql_avg_array(vec: str, dim: int, out: str = "m") -> str:
    """array(avg(v[0]), ..., avg(v[d-1])) as one expression: the same
    per-dimension avg aggregates, one py4j call instead of d."""
    return (
        "array(" + ", ".join(f"avg({vec}[{i}])" for i in range(dim)) + f") as {out}"
    )


def _centroid_scores(vec: Column, cents: list[tuple[int, list[float]]], l2_bias: bool = False) -> Column:
    """array<double> of score(vec, centroid) aligned with `cents` order —
    pure JVM expressions over literal centroids, so assignment is a narrow
    per-row map with NO shuffle (replaces the r2 explode+window pattern
    that shuffled n*C rows just to take an argmax)."""
    scores = F.transform(_lit_matrix([cv for _, cv in cents]), lambda c: dot(vec, c))
    if l2_bias:
        # argmin ||v-c||^2 == argmax (v.c - ||c||^2 / 2)
        biases = _lit_data([0.5 * sum(x * x for x in cv) for _, cv in cents], "array<double>")
        scores = F.zip_with(scores, biases, lambda s, b: s - b)
    return scores


def _argmax_pick(scores: Column, picks: list[int]) -> Column:
    """picks[argmax(scores)] with ties -> lowest index, evaluating `scores`
    ONCE: array_max over (score, -pick) structs.  The naive
    array_position(scores, array_max(scores)) duplicates the scores subtree
    — Spark does not CSE higher-order-function subtrees, so the whole
    C-fold would run twice per row."""
    structs = F.zip_with(
        scores,
        _lit_data([-int(p) for p in picks], "array<int>"),
        # named_struct: .alias() inside a lambda does NOT name struct fields
        lambda s, np: F.named_struct(F.lit("s"), s, F.lit("np"), np),
    )
    return (-F.array_max(structs)["np"]).cast("int")


def _argmax_cid(vec: Column, cents: list[tuple[int, list[float]]], l2_bias: bool = False) -> Column:
    """cid of the best-scoring centroid; ties -> lowest cid (cents must be
    sorted by cid)."""
    return _argmax_pick(
        _centroid_scores(vec, cents, l2_bias), [int(c) for c, _ in cents]
    )


def _topn_cid_scores(vec: Column, cents: list[tuple[int, list[float]]], n: int) -> Column:
    """array<struct<cid int, s double>> of the top-n centroids by score
    (desc, cid asc on ties) — the nprobe selection as one array expression."""
    structs = F.zip_with(
        _centroid_scores(vec, cents),
        _lit_data([-int(cid) for cid, _ in cents], "array<int>"),
        # named_struct: .alias() inside a lambda does NOT name struct fields
        lambda s, nc: F.named_struct(F.lit("s"), s, F.lit("nc"), nc),
    )
    top = F.slice(F.sort_array(structs, asc=False), 1, n)
    return F.transform(
        top, lambda t: F.struct((-t["nc"]).cast("int").alias("cid"), t["s"].alias("s"))
    )


def _train_assign_udf(cents: list, l2_bias: bool = False):
    """Arrow-vectorized twin of _sql_argmax_cid for the Lloyd TRAIN loops
    ONLY (r15 opt, guide §4.2/§1.2): re-parsing + re-analyzing the C x d
    literal-matrix SQL text cost ~0.55 s per iteration against ~0.2 s of
    actual execution (measured with the collect-twice probe), because the
    literals CHANGE every iteration and defeat every plan/codegen cache.
    Here the centroid values live in the UDF closure, so the per-iteration
    plan is a tiny constant shape — analysis is paid on a few KB of plan,
    not 20 KB of literal text.

    BIT-PARITY with the SQL expression (the a33 constraint): the score is
    accumulated sequentially over dimensions — acc = (((0 + v0*c0) + v1*c1)
    + ...) — exactly the zip_with-product + left-fold order of _sql_dot,
    and every step is the same IEEE-754 double multiply/add numpy performs
    elementwise; the l2 bias is the identical driver-computed float
    subtracted AFTER the fold, and np.argmax's first-maximum tie-break
    equals array_max over (s, -pick) structs (lowest pick wins ties).
    Search/encode paths keep the JVM expressions (plan-digest-pinned, and
    they build their plan once, not once per iteration)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    picks = np.array([int(c) for c, _ in cents], dtype="int64")
    mats = [np.asarray(cv, dtype="float64") for _, cv in cents]
    biases = (
        [0.5 * sum(x * x for x in cv) for _, cv in cents] if l2_bias else None
    )

    @pandas_udf("int")
    def assign(vs):
        import numpy as np
        import pandas as pd

        v = np.asarray(vs.tolist(), dtype="float64")
        n = v.shape[0]
        scores = np.empty((n, len(mats)), dtype="float64")
        for ci, cv in enumerate(mats):
            acc = np.zeros(n, dtype="float64")
            for i in range(v.shape[1]):
                # sequential in i: the exact left-fold summation order of
                # _sql_dot, vectorized across rows
                acc = acc + v[:, i] * cv[i]
            if biases is not None:
                acc = acc - biases[ci]
            scores[:, ci] = acc
        return pd.Series(picks[np.argmax(scores, axis=1)]).astype("int32")

    return assign


def _pq_train_assign_udf(codebooks: list):
    """Arrow-vectorized twin of the pq_train per-iteration encode expression
    (same motivation and bit-parity argument as _train_assign_udf; the
    subspace codebook is selected by the row's j, scores are the
    sequential-fold dot minus the driver-computed 0.5*||c||^2 bias, ties
    argmax to the lowest code)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mats = [
        [np.asarray(c, dtype="float64") for c in cb_j] for cb_j in codebooks
    ]
    biases = [
        [0.5 * sum(x * x for x in c) for c in cb_j] for cb_j in codebooks
    ]

    @pandas_udf("int")
    def assign(js, svs):
        import numpy as np
        import pandas as pd

        j_arr = js.to_numpy()
        sv = np.asarray(svs.tolist(), dtype="float64")
        out = np.zeros(len(j_arr), dtype="int64")
        for j in np.unique(j_arr):
            mask = j_arr == j
            subv = sv[mask]
            cb_j, bias_j = mats[int(j)], biases[int(j)]
            scores = np.empty((subv.shape[0], len(cb_j)), dtype="float64")
            for k, cv in enumerate(cb_j):
                acc = np.zeros(subv.shape[0], dtype="float64")
                for i in range(subv.shape[1]):
                    acc = acc + subv[:, i] * cv[i]
                scores[:, k] = acc - bias_j[k]
            out[mask] = np.argmax(scores, axis=1)
        return pd.Series(out).astype("int32")

    return assign


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """(cid, cv) rows -> cid-sorted driver list.  Bounded by C (the centroid
    count), never by the corpus — the same driver footprint FAISS keeps."""
    return sorted(
        ((r["cid"], list(r["cv"])) for r in centroids.collect()), key=lambda t: t[0]  # collect-ok: k centroid rows
    )


def kmeans_train(
    vectors: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    n_vectors: int | None = None,
    assign: str = "dot",
    materialize_input: bool = True,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd k-means for the IVF coarse quantizer, returning the
    centroid list driver-side (C x d floats — broadcastable as literals).

    `assign` picks the assignment rule: "dot" (max inner product — right for
    IVF over normalized vectors) or "l2" (min Euclidean via the equivalent
    argmax of dot - ||c||^2/2 — right for PQ sub-quantizers, where the
    objective is small reconstruction error, not angular closeness).

    Spark-first shape: each iteration is ONE 2-stage job — a narrow
    assignment pass (argmax over literal centroids folded into the scan —
    no join, no window, no shuffle of the corpus) feeding a SINGLE hash
    aggregation with one avg(v[i]) aggregate per dimension, so the shuffle
    carries C rows of d partial sums (no posexplode: the earlier
    per-(cid, dim) explode tripled the stage count and shuffled n*d rows).
    Centroid state lives on the driver between iterations — no nested
    lineage, no checkpointing needed.  At 100x data the per-iteration cost
    scales linearly and the centroid list stays a few KiB.

    Deterministic: init picks every (n/C)-th vector by id order (seeded
    jitter only shifts the stride phase), so results are reproducible —
    required for oracle-checkable downstream queries.

    `materialize_input=False` skips the input checkpoint — pass it when the
    input is already a plain-column projection of materialized data
    (ivfpq_build checkpoints the normalized corpus once and shares it).
    """
    v = _as_double(vectors, id_col, vec_col)
    if max_iter > 0 and materialize_input:
        # Lloyd re-scans the input max_iter+1 times; materialize it ONCE.
        # Callers hand in lazily-normalized projections whose per-element
        # x/||v|| lambda re-evaluates the whole norm fold per element
        # (O(d^2) interpreted ops/row) — without this barrier every
        # iteration would pay that again (and CollapseProject re-inlines
        # any norm-as-column trick back into the lambda).
        v = v.localCheckpoint()
    n = n_vectors if n_vectors is not None else v.count()
    step = max(n // n_centroids, 1)
    phase = seed % step if step > 1 else 0
    cents = _collect_centroids(
        v.filter(((F.col("id") - phase) % step == 0) & ((F.col("id") - phase) / step < n_centroids))
        .select(((F.col("id") - phase) / step).cast("int").alias("cid"), F.col("v").alias("cv"))
    )
    if len(cents) < min(n_centroids, n):
        # stride init assumes dense contiguous ids (see _hash_seed_ids)
        seed_ids = _hash_seed_ids(v, n_centroids, seed)
        cid_of = {i: c for c, i in enumerate(seed_ids)}
        cents = sorted(
            (cid_of[r["id"]], list(r["v"]))
            for r in v.filter(F.col("id").isin(seed_ids)).collect()  # collect-ok: k seed vectors
        )
    dim = len(cents[0][1])
    for _ in range(max_iter):
        # Arrow-vectorized assignment with centroids in the UDF closure
        # (r15 opt — see _train_assign_udf): the r14 SQL-text build already
        # cut the py4j cost, but the literal matrix still changed per
        # iteration, so parse+analyze+codegen (~0.55 s) re-ran on every
        # Lloyd round against ~0.2 s of execution.  Scores, tie-breaks and
        # the downstream avg's partial-agg order are bit-identical.
        assigned = v.select(
            _train_assign_udf(cents, l2_bias=(assign == "l2"))(F.col("v")).alias("cid"),
            "v",
        )
        new_rows = (
            assigned.groupBy("cid")
            .agg(F.expr(_sql_avg_array("v", dim)))
            .collect()  # collect-ok: k x dim centroid means
        )
        new = {r["cid"]: list(r["m"]) for r in new_rows}
        # empty clusters keep their previous centroid (standard Lloyd fix)
        cents = [(cid, new.get(cid, cv)) for cid, cv in cents]
    return cents


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    n_vectors: int | None = None,
    assign: str = "dot",
) -> DataFrame:
    """DataFrame facade over kmeans_train: (cid INT, cv ARRAY<DOUBLE>) —
    the train-once / probe-many handle semdedup_pairs accepts."""
    cents = kmeans_train(
        vectors, n_centroids, max_iter, id_col, vec_col, seed, n_vectors, assign
    )
    return vectors.sparkSession.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cid int, cv array<double>"
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
    n_vectors: int | None = None,
    kmeans_iter: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k.

    Coarse quantizer: with `kmeans_iter > 0`, trained inline with that many
    Lloyd iterations; else the deterministic every-(n/C)-th-vector stride
    (cheapest, recall-weakest).  The probe plan is identical in both:
    corpus partitioned by nearest centroid, probes touch nprobe/C of it.

    Pass `n_vectors` when known (table stats / a prior count) to skip the
    driver-side count job this function otherwise needs for the centroid
    stride — on a repeatedly-probed corpus, count once, pass it in.
    """
    from pyspark.sql import Window

    v = _as_double(vectors, id_col, vec_col)
    # spherical IVF: the coarse quantizer TRAINS on L2-normalized vectors
    # (cosine needs angular cell geometry — training on raw vectors lets
    # vector length shape the cells and scatters cosine-neighbors).
    # Assignment and probing then run on RAW vectors: argmax_c dot(v, c)
    # is invariant to positive scaling of v, so normalizing the assigned
    # side would change nothing except paying the O(d^2) per-row normalize.
    nvec = _normalized(v).select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding")
    )
    if kmeans_iter > 0:
        cents = kmeans_train(
            nvec, n_centroids, kmeans_iter, n_vectors=n_vectors
        )
    else:
        n = n_vectors if n_vectors is not None else v.count()
        step = max(n // n_centroids, 1)
        cents = _collect_centroids(
            nvec.filter(
                (F.col("vec_id") % step == 0) & (F.col("vec_id") / step < n_centroids)
            ).select(
                (F.col("vec_id") / step).cast("int").alias("cid"),
                F.col("embedding").alias("cv"),
            )
        )
        if not cents:
            # stride init assumes dense contiguous ids: on a sparse/hashed
            # id space (all-odd ids, md5 ids) `vec_id % step == 0` can
            # match NOTHING and the search would silently return empty —
            # fall back to the distribution-independent hash seeding
            # kmeans_train uses (_hash_seed_ids)
            seed_ids = _hash_seed_ids(
                nvec.select(F.col("vec_id").alias("id")), n_centroids, seed=7
            )
            picked = nvec.filter(F.col("vec_id").isin(seed_ids)).collect()  # collect-ok: k seed vectors
            by_id = {r["vec_id"]: list(r["embedding"]) for r in picked}
            cents = [(i, by_id[sid]) for i, sid in enumerate(sorted(by_id))]
    # assign every vector to its nearest centroid: argmax over literal
    # centroids — narrow map folded into the scan, zero shuffle
    assigned = v.select(_argmax_cid(F.col("v"), cents).alias("cid"), "id", "v")
    q = _as_double(queries, query_id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    # each query probes its nprobe closest centroids (one array expression)
    q_probe = q.select(
        "query_id",
        "qv",
        F.explode(_topn_cid_scores(F.col("qv"), cents, nprobe)).alias("p"),
    ).select("query_id", "qv", F.col("p.cid").alias("cid"))
    candidates = assigned.join(F.broadcast(q_probe), "cid").select("query_id", "qv", "id", "v")
    if exclude_self:
        candidates = candidates.filter(F.col("id") != F.col("query_id"))
    scored = candidates.withColumn("cos", F.round(cosine(F.col("qv"), F.col("v")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("vec_id"), "cos", "rank")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"
# ---------------------------------------------------------------------------

def _hash_seed_ids(v: DataFrame, k: int, seed: int) -> list:
    """Distribution-independent Lloyd seeding: the k ids with the smallest
    md5(seed, id) — a deterministic pseudo-random sample that works for ANY
    id distribution (filtered/sparse/hashed corpora), collected via a
    TakeOrdered (no global window).  Fallback for the stride init, which
    assumes a dense contiguous id space."""
    return [
        r["id"]
        for r in v.select("id")
        .orderBy(F.md5(F.concat_ws("_", F.lit(seed), F.col("id"))), "id")
        .limit(k)
        .collect()  # collect-ok: k ids via limit(k)
    ]


def pq_train(
    vectors: DataFrame,
    m: int = 16,
    ksub: int = 16,
    kmeans_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_vectors: int | None = None,
    train_mod: int = 1,
    seed: int = 7,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: the vector is split into `m` contiguous
    subspaces of dim/m dims; each gets a `ksub`-centroid L2 quantizer.
    Returns codebooks[m][ksub][dsub] collected to the driver — m*ksub*dim/m
    = ksub*dim floats total (4 KiB at dim 64), broadcastable as expression
    literals.

    ALL m sub-quantizers train in ONE grouped Lloyd loop: the corpus
    explodes once into (id, subspace, subvec) rows and every iteration is a
    single broadcast-assign pass + a single (subspace, cid)-keyed mean with
    per-dimension avg aggregates — m jobs collapse into one, and at 100 TB
    each iteration stays one scan regardless of m.  `train_mod > 1` trains on the deterministic id-sampled
    subset (id % train_mod == 0) — the FAISS practice; train on a sample,
    encode everything.

    Vectors are L2-normalized before slicing so ADC dot sums track cosine;
    pass `normalize=False` for inputs that are already in the target space
    (IVF residuals — renormalizing them would distort the quantizer).
    Deterministic: stride init over id order (seeded phase), tie-breaks to
    the lowest code.
    """
    v = _as_double(vectors, id_col, vec_col)
    if train_mod > 1:
        v = v.filter(F.col("id") % train_mod == 0)
    if dim is None:
        dim = len(v.select("v").first()[0])
    dsub = dim // m
    # single-norm-per-row normalize (see _normalized); sub below is
    # persisted, so the projection evaluates once either way — this keeps
    # that one evaluation O(d) per row instead of O(d^2)
    vn = _normalized(v) if normalize else v
    sub = vn.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice("v", j * dsub + 1, dsub),
            )
        ).alias("j", "sv"),
    ).persist()
    n = n_vectors if n_vectors is not None else vn.count()
    step = max(n // ksub, 1)
    phase = seed % step if step > 1 else 0
    # codebook state lives DRIVER-SIDE between Lloyd rounds (m*ksub*dsub =
    # ksub*dim floats — a few KiB): every iteration is one narrow
    # assignment pass (per-subspace argmax against the 3-D literal
    # codebook, selected by j) + one (j, cid)-keyed mean whose shuffle
    # carries m*ksub rows of dsub partials, collected back.  No per-iteration
    # checkpoint, no broadcast join, no nested lineage — each round is a
    # fresh 2-stage job over the persisted subvector table.
    init_rows = sub.filter(
        ((F.col("id") - phase) % step == 0) & ((F.col("id") - phase) / step < ksub)
    ).select("j", ((F.col("id") - phase) / step).cast("int").alias("cid"), "sv").collect()  # collect-ok: m*ksub stride-init rows
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in init_rows:
        by_sub.setdefault(r["j"], {})[r["cid"]] = list(r["sv"])
    if any(len(by_sub.get(j, {})) < min(ksub, n) for j in range(m)):
        # stride init assumes dense contiguous ids; a filtered/sparse corpus
        # (e.g. ivfpq_build on the even-id half — step even, phase odd, zero
        # hits) under-fills it.  Re-seed distribution-independently.
        seed_ids = _hash_seed_ids(vn.select("id"), ksub, seed)
        cid_of = {i: c for c, i in enumerate(seed_ids)}
        by_sub = {}
        for r in sub.filter(F.col("id").isin(seed_ids)).collect():  # collect-ok: ksub seed subvectors per subspace
            by_sub.setdefault(r["j"], {})[cid_of[r["id"]]] = list(r["sv"])
    codebooks = [
        [by_sub[j].get(c, by_sub[j][min(by_sub[j])]) for c in range(ksub)]
        for j in range(m)
    ]
    for _ in range(kmeans_iter):
        # encode rule: argmin L2 == argmax (dot - ||c||^2/2); ties -> lowest
        # code.  Arrow-vectorized assignment with the 3-D codebook in the
        # UDF closure (r15 opt — see _pq_train_assign_udf): the literal
        # codebook changed per iteration, so the giant SQL text re-paid
        # parse+analyze+codegen every Lloyd round.  ONE hash agg with dsub
        # avg(sv[i]) aggregates — the shuffle carries m*ksub rows of dsub
        # partials (the earlier posexplode path tripled the stage count and
        # shuffled n*m*dsub rows)
        new_rows = (
            sub.select(
                "j",
                _pq_train_assign_udf(codebooks)(F.col("j"), F.col("sv")).alias("cid"),
                "sv",
            )
            .groupBy("j", "cid")
            .agg(F.expr(_sql_avg_array("sv", dsub)))
            .collect()  # collect-ok: m*ksub codebook means
        )
        new: dict[int, dict[int, list[float]]] = {}
        for r in new_rows:
            new.setdefault(r["j"], {})[r["cid"]] = list(r["m"])
        # empty clusters keep their previous centroid (standard Lloyd fix)
        codebooks = [
            [new.get(j, {}).get(c, codebooks[j][c]) for c in range(ksub)]
            for j in range(m)
        ]
    sub.unpersist()
    return codebooks


def _sub_scores(
    vec: Column,
    codebook_j: list[list[float]],
    j: int,
    dsub: int,
    l2_bias: bool = False,
) -> Column:
    """array<double> of dot(sub_j(vec), centroid_c) for every code c — pure
    JVM expressions over broadcast-literal centroids.  With `l2_bias`, each
    score is dot - ||c||^2/2 (argmax == argmin L2): the ENCODE rule, which
    must minimize reconstruction error.  The query LUT uses plain dot —
    ADC estimates dot(q, x) = sum_j dot(q_j, c_code_j(x)).  One transform
    fold over the literal codebook matrix (not ksub unrolled folds) keeps
    stage codegen small — see _lit_matrix."""
    sub = F.slice(vec, j * dsub + 1, dsub)
    scores = F.transform(_lit_matrix(codebook_j), lambda c: dot(sub, c))
    if l2_bias:
        biases = _lit_data(
            [0.5 * sum(x * x for x in cent) for cent in codebook_j], "array<double>"
        )
        scores = F.zip_with(scores, biases, lambda s, b: s - b)
    return scores


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, v, codes ARRAY<INT>): per-subspace argmax-dot code assignment
    (same assignment rule as kmeans_centroids' Lloyd step).  A narrow
    per-row map — zero shuffle; at 100 TB this pipelines with the scan and
    the 8-bit-per-subspace codes are what you'd persist.  `normalize=False`
    mirrors pq_train's flag for residual inputs."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    v = _as_double(vectors, id_col, vec_col)
    if normalize:
        # the _normalized pattern (see its docstring): the inline
        # `transform(v, x / norm(v))` re-runs the d-element norm fold per
        # element (O(d^2)/row interpreted), and CollapseProject re-inlines
        # a plain norm column into every _sub_scores slice below
        withn = v.select(
            "id", "v", (F.lit(1.0) / norm(F.col("v"))).alias("inv")
        ).localCheckpoint()
        vn = withn.select(
            "id",
            F.col("v").alias("raw"),
            F.transform("v", lambda x: x * F.col("inv")).alias("v"),
        )
    else:
        vn = v.select("id", F.col("v").alias("raw"), "v")
    # argmax per subspace, ties -> lowest code; whole m-wide code array
    # composed as ONE SQL expression (see _sql_* helpers)
    codes = "array(" + ", ".join(
        _sql_argmax_pick(
            _sql_sub_scores("v", codebooks[j], j, dsub, l2_bias=True),
            list(range(len(codebooks[j]))),
        )
        for j in range(m)
    ) + ")"
    return vn.select("id", F.col("raw").alias("v"), F.expr(codes).alias("codes"))


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 16,
    rerank_factor: int = 4,
    kmeans_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
    codebooks: list[list[list[float]]] | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank.

    Asymmetric distance computation: each query precomputes an m x ksub
    lookup table of dot(query_sub_j, centroid) (JVM expressions over the
    broadcast codebook); every corpus vector is scored by summing m table
    lookups via zip_with over its code array — O(m) per pair instead of
    O(dim), the PQ speedup.  The top rerank_factor*k ADC candidates per
    query are re-ranked with exact cosine, so the output schema and score
    semantics match brute_force_topk (recall < 1 only from candidate
    pruning, never from approximate scores).

    Scale shape: codes are computed scan-side (no shuffle), the query side
    is broadcast (m x ksub doubles per query), candidate selection is a
    per-query window over ADC scores — the same partitioned-window top-k as
    the other ANN paths.  Train once (pq_train) and pass `codebooks` to
    amortize across probe calls.
    """
    from pyspark.sql import Window

    if codebooks is None:
        codebooks = pq_train(
            vectors, m, ksub, kmeans_iter, id_col, vec_col, n_vectors=n_vectors
        )
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    encoded = pq_encode(vectors, codebooks, id_col, vec_col)

    q = _as_double(queries, query_id_col, vec_col)
    qn = q.select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.transform("v", lambda x: x / norm(F.col("v"))).alias("vn"),
    )
    qlut = qn.select(
        "query_id",
        "qv",
        F.array(
            *[_sub_scores(F.col("vn"), codebooks[j], j, dsub) for j in range(m)]
        ).alias("lut"),
    )
    cand = encoded.join(F.broadcast(qlut), F.lit(True))
    if exclude_self:
        cand = cand.filter(F.col("id") != F.col("query_id"))
    # ADC score: sum_j lut[j][code_j]  (element_at is 1-based)
    adc = cand.withColumn(
        "adc",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, lut: F.element_at(lut, c + F.lit(1))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("id").asc())
    shortlist = (
        adc.withColumn("ar", F.row_number().over(w_adc))
        .filter(F.col("ar") <= rerank_factor * k)
        .select("query_id", "qv", "id", "v")
    )
    rescored = shortlist.withColumn("cos", F.round(cosine(F.col("qv"), F.col("v")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("vec_id"), "cos", "rank")
    )


class IvfPqIndex:
    """The persistable IVF-PQ index (FAISS train/add vs search split):
    `cents` (C coarse centroids, driver-side), `codebooks` (residual PQ,
    driver-side, ksub*dim floats), and `cells` — the encoded corpus as a
    DataFrame (cid, id, raw, codes).  At 100 TB `cells` is what you write
    out partitioned/bucketed by cid (the inverted lists); probes then read
    nprobe/C of it.  Build once with ivfpq_build, probe many times with
    ivfpq_search."""

    def __init__(self, cents, codebooks, cells: DataFrame):
        self.cents = cents
        self.codebooks = codebooks
        self.cells = cells


def ivfpq_build(
    vectors: DataFrame,
    n_centroids: int = 16,
    m: int = 16,
    ksub: int = 16,
    kmeans_iter: int = 2,
    pq_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> IvfPqIndex:
    """Train the coarse quantizer + residual PQ and encode the corpus.

    Scale shape: ONE broadcast coarse-assign pass over the corpus (no
    shuffle), residual + code computation narrow per-row.  Residual PQ is
    trained with normalize=False — residuals live in the tangent space of
    the cell, renormalizing them would distort the codebooks (kmeans there
    uses the L2 assignment rule, matching encode).
    """
    v = _as_double(vectors, id_col, vec_col)
    # ONE (id, raw, 1/norm) checkpoint barrier (the naive per-element norm
    # lambda costs O(d^2) interpreted ops/row; with `inv` a plain
    # checkpointed column the normalize transform is O(d)/row).  The
    # normalized vector stays a LAZY projection over the barrier — the
    # downstream re-scans (k-means iterations, assignment) re-run only the
    # cheap O(d) multiply, which costs less than the second
    # checkpoint-materialization job this used to pay (r14 opt).
    obs = Observation()
    withn = (
        v.select("id", "v", (F.lit(1.0) / norm(F.col("v"))).alias("inv"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    mat = withn.select(
        "id",
        F.col("v").alias("raw"),
        F.transform("v", lambda x: x * F.col("inv")).alias("nv"),
    )
    if n_vectors is None:
        # corpus count rides the checkpoint job — kmeans_train AND pq_train
        # would otherwise each run their own count job for the stride init
        n_vectors = obs.get["n"]
    cents = kmeans_train(
        mat.select(F.col("id").alias("vec_id"), F.col("nv").alias("embedding")),
        n_centroids,
        kmeans_iter,
        n_vectors=n_vectors,
        materialize_input=False,
    )
    # argmax over literal centroids (no shuffle); the centroid vector for
    # the residual comes from element_at over the SAME literal matrix —
    # no join stage at all.  localCheckpoint the assignment: it feeds both
    # the PQ training input (residuals) and the probe-side cells table, and
    # recomputing the corpus argmax for each consumer would double the
    # dominant map cost.  Slim to (cid, id, raw, r): nv and the centroid
    # are not needed downstream.
    # matrix indexed BY CID (cents is cid-sorted but may have gaps when the
    # stride init lands on sparse ids); gap slots get a dummy row that the
    # argmax can never pick
    by_cid = dict(cents)
    cmat = _sql_lit(
        [
            [float(x) for x in by_cid.get(c, cents[0][1])]
            for c in range(cents[-1][0] + 1)
        ],
        "array<array<double>>",
    )
    assigned = (
        mat.withColumn("cid", F.expr(_sql_argmax_cid("nv", cents)))
        .select(
            "cid",
            "id",
            "raw",
            F.expr(
                f"zip_with(nv, element_at({cmat}, cid + 1), (a, b) -> a - b)"
            ).alias("r"),
        )
        .localCheckpoint()
    )
    resid = assigned.select("id", "r")
    codebooks = pq_train(
        resid,
        m,
        ksub,
        pq_iter,
        id_col="id",
        vec_col="r",
        dim=len(cents[0][1]),  # known from the trained centroids: skips a first() job
        n_vectors=n_vectors,
        normalize=False,
    )
    dsub = len(codebooks[0][0])
    # encode residual codes INLINE on the checkpointed assignment — a
    # narrow map; an id-keyed join of a separate pq_encode output would
    # shuffle the corpus just to glue columns back together.  The m-wide
    # code array is ONE composed SQL expression (see _sql_* helpers).
    codes = "array(" + ", ".join(
        _sql_argmax_pick(
            _sql_sub_scores("r", codebooks[j], j, dsub, l2_bias=True),
            list(range(ksub)),
        )
        for j in range(len(codebooks))
    ) + ")"
    cells = assigned.select("cid", "id", "raw", F.expr(codes).alias("codes"))
    return IvfPqIndex(cents, codebooks, cells)


def ivfpq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
    id_filter: Column | None = None,
) -> DataFrame:
    """Probe a built IVF-PQ index: queries pick their nprobe closest cells,
    candidates score by dot(q, c) + ADC(q, residual codes) — exact for the
    centroid term, table-lookup for the residual term, since dot(q, v) =
    dot(q, c) + dot(q, r) and the residual decomposes over PQ subspaces.
    Exact cosine re-rank of the shortlist, so scores match brute_force_topk
    on returned pairs.  The candidate join is a cell-id equi-join touching
    nprobe/C of the corpus; per-query window top-k.

    `id_filter` (the FAISS IDSelector analogue) is a boolean Column over the
    cells table (columns: cid, id, raw, codes) applied BEFORE scoring, so a
    metadata-restricted search ("top-k among label<5 vectors") never pays
    ADC for excluded candidates and the filter pushes into the cells scan
    of a persisted index.  The k results are then exact within the filtered
    corpus provided the probed cells cover its true top-k — same coverage
    contract as the unfiltered search."""
    from pyspark.sql import Window

    cents, codebooks, cells = index.cents, index.codebooks, index.cells
    if id_filter is not None:
        cells = cells.filter(id_filter)
    dsub = len(codebooks[0][0])
    q = _as_double(queries, query_id_col, vec_col)
    qn = q.select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.transform("v", lambda x: x / norm(F.col("v"))).alias("qnv"),
    )
    # probe top-nprobe cells; keep the exact dot(q, centroid) term — the
    # selection is one array expression over literal centroids, no window
    q_probe = qn.select(
        "query_id",
        "qv",
        "qnv",
        F.explode(F.expr(_sql_topn_cid_scores("qnv", cents, nprobe))).alias("p"),
    ).select("query_id", "qv", "qnv", F.col("p.cid").alias("cid"), F.col("p.s").alias("qc"))
    # LUT of dot(q_sub_j, residual-codeword) per query — broadcast literals,
    # composed as ONE SQL expression (see _sql_* helpers)
    qlut = q_probe.withColumn(
        "lut",
        F.expr(
            "array("
            + ", ".join(
                _sql_sub_scores("qnv", codebooks[j], j, dsub)
                for j in range(len(codebooks))
            )
            + ")"
        ),
    )
    cand = cells.join(F.broadcast(qlut.select("query_id", "qv", "cid", "qc", "lut")), "cid")
    if exclude_self:
        cand = cand.filter(F.col("id") != F.col("query_id"))
    adc = cand.withColumn(
        "adc",
        F.col("qc")
        + F.aggregate(
            F.zip_with("codes", "lut", lambda c, lut: F.element_at(lut, c + F.lit(1))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("id").asc())
    shortlist = (
        adc.withColumn("ar", F.row_number().over(w_adc))
        .filter(F.col("ar") <= rerank_factor * k)
        .select("query_id", "qv", "id", F.col("raw").alias("v"))
        .distinct()
    )
    rescored = shortlist.withColumn("cos", F.round(cosine(F.col("qv"), F.col("v")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("vec_id"), "cos", "rank")
    )


def ivfpq_save(index: IvfPqIndex, path: str, files_per_cell: int = 1) -> None:
    """Persist a trained IVF-PQ index (the FAISS write_index analogue):

    - `{path}/cells`     — the encoded corpus, PARTITIONED BY cid: the
      on-disk inverted-list layout.  A probe's broadcast equi-join on cid
      triggers dynamic partition pruning, so steady-state searches read
      ~nprobe/C of the files, not the corpus.
    - `{path}/centroids` — (cid, cv), C rows.
    - `{path}/codebooks` — (j, code, cv), m*ksub rows.

    Everything goes through Spark writers (parquet), so the same call works
    against gs://, abfss://, or s3a:// paths on a cluster.

    The cells are repartitioned ON cid before the partitioned write:
    without it every input partition writes its own sliver into every cell
    directory (the dynamic-partition small-file explosion — input_parts x C
    files), whereas an inverted LIST should be one-or-few contiguous
    files.  `files_per_cell > 1` salts the repartition for cells too big
    for one task at scale; rows are identical either way."""
    cells = index.cells
    if files_per_cell <= 1:
        cells = cells.repartition("cid")
    else:
        cells = cells.repartition(
            F.col("cid"),
            F.pmod(F.crc32(F.col("id").cast("string")), F.lit(files_per_cell)),
        )
    cells.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/cells")
    spark = index.cells.sparkSession
    spark.createDataFrame(
        [(cid, cv) for cid, cv in index.cents], "cid int, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (j, code, list(cv))
            for j, cb in enumerate(index.codebooks)
            for code, cv in enumerate(cb)
        ],
        "j int, code int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_load(spark, path: str) -> IvfPqIndex:
    """Read a persisted IVF-PQ index back (FAISS read_index analogue).
    Centroids and codebooks collect to the driver — C*d + ksub*d floats,
    the same bounded footprint ivfpq_build keeps; cells stay a lazy
    partition-pruned DataFrame.  Heals a crashed compaction swap on the
    cells layout first (r11: maintenance.recover_swap — cells is the one
    sub-layout maintenance compacts; centroids/codebooks are
    write-once), and replays any crashed incremental small-file swap
    (r12: compact_small_files journal — half-applied, it duplicates the
    merged rows)."""
    from persistor_spark.plans import maintenance

    maintenance.recover_swap(spark, f"{path}/cells")
    maintenance.recover_small_compactions(spark, f"{path}/cells")
    cents = sorted(
        # collect-ok: k persisted centroid rows
        ((r["cid"], list(r["cv"])) for r in spark.read.parquet(f"{path}/centroids").collect()),
        key=lambda t: t[0],
    )
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()  # collect-ok: m*ksub persisted codebook rows
    by_j: dict[int, dict[int, list[float]]] = {}
    for r in cb_rows:
        by_j.setdefault(r["j"], {})[r["code"]] = list(r["cv"])
    codebooks = [
        [by_j[j][c] for c in sorted(by_j[j])] for j in sorted(by_j)
    ]
    # partition column comes back as its own column; restore the cell layout
    cells = spark.read.parquet(f"{path}/cells").select("cid", "id", "raw", "codes")
    return IvfPqIndex(cents, codebooks, cells)


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 16,
    ksub: int = 16,
    rerank_factor: int = 4,
    kmeans_iter: int = 2,
    pq_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
    n_vectors: int | None = None,
    index: IvfPqIndex | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS IVFPQ composition) — builds the
    index inline and probes it; pass a prebuilt `index` (ivfpq_build) to
    amortize training + encoding across probe calls."""
    if index is None:
        index = ivfpq_build(
            vectors, n_centroids, m, ksub, kmeans_iter, pq_iter,
            id_col, vec_col, n_vectors,
        )
    return ivfpq_search(
        index, queries, k, nprobe, rerank_factor,
        vec_col, query_id_col, exclude_self,
    )


def semdedup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    kmeans_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): semantic near-duplicate
    pairs found WITHIN k-means clusters only — (a, b, cos) with a < b,
    cos >= threshold, and both docs in the same cluster.

    The cluster constraint is the scale lever: the quadratic pairwise step
    runs per cell (~n/C docs each), so total work is n²/C instead of n² —
    grow C with the corpus and cells stay bounded.  Misses only cross-cell
    near-dups, which at SemDeDup's high thresholds (0.95+) are rare because
    near-identical embeddings land in the same cell.  Feed the pairs to
    dedup.dedup_clusters + keep_cluster_representatives for the keep-one
    policy.

    One narrow assignment pass (argmax over literal centroids — no shuffle)
    + one cid-keyed self-join; no Python.
    """
    v = _as_double(vectors, id_col, vec_col)
    if centroids is None:
        # train on normalized vectors (angular cells; kmeans_train
        # materializes this projection once), assign on raw — argmax over
        # centroids is invariant to scaling the assigned vector
        nvec = v.select(
            F.col("id").alias("vec_id"),
            F.transform("v", lambda x: x / norm(F.col("v"))).alias("embedding"),
        )
        cents = kmeans_train(nvec, n_centroids, kmeans_iter, n_vectors=n_vectors)
    else:
        cents = _collect_centroids(centroids)
    # materialize the assignment once: both self-join sides consume it, and
    # without the checkpoint each re-runs the C-dot-product argmax per row
    # (the a4 two-consumer lesson)
    assigned = v.select(
        _argmax_cid(F.col("v"), cents).alias("cid"), "id", F.col("v").alias("raw")
    ).localCheckpoint(eager=True)
    a = assigned.select("cid", F.col("id").alias("a"), F.col("raw").alias("va"))
    b = assigned.select("cid", F.col("id").alias("b"), F.col("raw").alias("vb"))
    return (
        a.join(b, "cid")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# ---------------------------------------------------------------------------
# OPQ — Ge et al. 2013, "Optimized Product Quantization": learn an
# orthonormal rotation R that minimizes PQ reconstruction error, by
# alternating PQ training with the orthogonal-Procrustes update
# R = U V^T from SVD(X^T Y).
# ---------------------------------------------------------------------------

def _rotate_udf(R):
    """pandas_udf applying the broadcast rotation matrix — one GEMM per
    Arrow batch (rotation is the one step that genuinely wants BLAS; d^2
    expression literals would blow up codegen)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Rm = np.asarray(R, dtype=np.float64)

    @pandas_udf("array<double>")
    def rot(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        return pd.Series(list(mat @ Rm))

    return rot


def rotate_vectors(df: DataFrame, R, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id_col, vec_col) with vec_col replaced by vec @ R.  Narrow per-row
    map, no shuffle; R is closure-broadcast (d x d doubles)."""
    rot = _rotate_udf(R)
    return df.select(
        F.col(id_col), rot(F.col(vec_col).cast("array<double>")).alias(vec_col)
    )


def opq_train(
    vectors: DataFrame,
    m: int = 16,
    ksub: int = 16,
    n_iter: int = 3,
    pq_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_vectors: int | None = None,
):
    """Alternating OPQ: rotate -> train PQ on rotated vectors -> decode ->
    Procrustes-update R from SVD(X^T Y).  Returns (R, codebooks) where R is
    a dim x dim orthonormal list-of-lists and codebooks quantize X @ R.

    Distribution shape: the only per-iteration corpus passes are the rotate
    GEMM (narrow), pq_train's grouped Lloyd loop, and ONE mapInPandas
    partial-sum of the d x d cross matrix X^T Y (each Arrow batch emits one
    flattened partial; the driver sums a few thousand doubles and runs a
    64 x 64 SVD).  Nothing driver-side scales with the corpus.
    """
    import numpy as np
    import pandas as pd

    v = _as_double(vectors, id_col, vec_col)
    if dim is None:
        dim = len(v.select("v").first()[0])
    # normalize ONCE (single-norm-per-row, see _normalized); rotation is
    # orthonormal so norms are preserved and cosine in the rotated space
    # equals cosine in the original space
    X = _normalized(v).select("id", F.col("v").alias("x")).localCheckpoint()
    if n_vectors is None:
        # count ONCE off the checkpointed table — otherwise every
        # iteration's pq_train re-counts the corpus for its stride init
        n_vectors = X.count()
    R = np.eye(dim)
    codebooks = None
    dsub = dim // m
    for _ in range(n_iter):
        # checkpoint (id, x, xr) together: pq_train, the inline encode, and
        # the cross-matrix partial-sum all consume the rotation, and
        # carrying the ORIGINAL x through the checkpoint means the
        # cross-matrix pass needs NO id-keyed join to reunite x with the
        # codes (that join shuffled the corpus once per iteration)
        rot = _rotate_udf(R)
        Xr = X.select(
            "id", "x", rot(F.col("x").cast("array<double>")).alias("xr")
        ).localCheckpoint()
        codebooks = pq_train(
            Xr.select(F.col("id").alias(id_col), F.col("xr").alias(vec_col)),
            m, ksub, pq_iter, id_col, vec_col, dim=dim,
            n_vectors=n_vectors, normalize=False,
        )
        cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
        # encode INLINE on the checkpointed rotation (pq_encode's exact
        # assignment expressions) — a narrow map, like ivfpq_build's encode
        code_cols = [
            _argmax_pick(
                _sub_scores(F.col("xr"), codebooks[j], j, dsub, l2_bias=True),
                list(range(ksub)),
            )
            for j in range(m)
        ]
        joined = Xr.select("x", F.array(*code_cols).alias("codes"))

        def partial(batches):
            for pdf in batches:
                Xb = np.stack(pdf["x"].to_numpy()).astype(np.float64)
                codes = np.stack(pdf["codes"].to_numpy())
                Yb = np.concatenate(
                    [cb[j][codes[:, j]] for j in range(cb.shape[0])], axis=1
                )
                yield pd.DataFrame({"m": [list((Xb.T @ Yb).ravel())]})

        parts = joined.mapInPandas(partial, "m array<double>").collect()  # collect-ok: one dim x dim partial sum per task, P rows
        M = np.zeros((dim, dim))
        for r in parts:
            M += np.asarray(r["m"], dtype=np.float64).reshape(dim, dim)
        U, _, Vt = np.linalg.svd(M)
        R = U @ Vt
    return [list(map(float, row)) for row in R], codebooks


def opq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 16,
    rerank_factor: int = 4,
    n_iter: int = 2,
    pq_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
    rotation=None,
    codebooks: list | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """OPQ-ADC top-k: rotate both sides by the learned R, then run the PQ
    pipeline.  Because R is orthonormal, cosine is rotation-invariant — the
    exact re-rank returns the SAME scores as brute force in the original
    space, and only candidate recall depends on the quantizer (which is
    what OPQ improves over plain PQ).  Train once (opq_train) and pass
    (rotation, codebooks) to amortize."""
    if rotation is None or codebooks is None:
        rotation, codebooks = opq_train(
            vectors, m, ksub, n_iter, pq_iter, id_col, vec_col, n_vectors=n_vectors
        )
    vr = rotate_vectors(vectors, rotation, id_col, vec_col)
    qr = rotate_vectors(queries, rotation, query_id_col, vec_col)
    return pq_topk(
        vr, qr, k, m, ksub, rerank_factor,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        exclude_self=exclude_self, codebooks=codebooks,
    )


# ---------------------------------------------------------------------------
# int8 storage quantization (the embedding-store compression step: 4x size
# reduction before ANN indexing; FAISS's SQ8 analogue)
# ---------------------------------------------------------------------------

def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    code_i = round-half-up(x_i / scale), plus the max absolute
    reconstruction error (the quality metric a pipeline monitors).

    Pure narrow per-row expressions — no shuffle, no Python.  Rounding is
    floor(x + 0.5) (round-half-toward-+inf) so the DuckDB oracle can mirror
    it exactly; scale is floored at 1e-12 to keep all-zero vectors finite
    identically on both sides.

    The scale column is materialized behind a localCheckpoint barrier (the
    _normalized pattern): without it CollapseProject re-inlines the max|x|
    fold into the per-element lambdas — O(d^2) interpreted ops per row.
    After the barrier scale is a plain scalar column, and codes / err are
    each ONE O(d) pass (err recomputes the rounding from v and scale
    elementwise rather than referencing the codes column, which would
    re-inline the whole codes fold into the zip_with)."""
    maxabs = F.array_max(F.transform("__v", lambda x: F.abs(x)))
    base = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .withColumn("__scale", F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0))
        .localCheckpoint()
    )
    rounded = lambda x: F.floor(x / F.col("__scale") + F.lit(0.5))  # noqa: E731
    return base.select(
        "vec_id",
        F.round("__scale", 9).alias("scale"),
        F.transform("__v", lambda x: rounded(x).cast("int")).alias("codes"),
        F.round(
            F.array_max(
                F.transform(
                    "__v",
                    lambda x: F.abs(x - rounded(x).cast("double") * F.col("__scale")),
                )
            ),
            9,
        ).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection
# ---------------------------------------------------------------------------

def jl_matrix(in_dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """Seeded Gaussian JL projection matrix (out_dim x in_dim), scaled by
    1/sqrt(out_dim) so expected pairwise distances are preserved.  Plain
    Python floats so the SAME literals can be embedded in a SQL oracle —
    both engines parse the decimal repr to the identical double."""
    import numpy as np

    rng = np.random.default_rng(seed)
    m = rng.standard_normal((out_dim, in_dim)) / float(np.sqrt(out_dim))
    return [[float(x) for x in row] for row in m]


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto `out_dim` seeded Gaussian directions.  The cheap first
    stage of billion-scale clustering / dedup (shrink 64-4096 dims to 16
    before k-means or LSH; distances are preserved within 1+-eps whp).

    Scale shape: a narrow per-row map — the matrix is ONE folded literal
    (`_lit_data`), each output dim one sequential-fold dot product, NO
    shuffle and NO Python in the hot path.  At 100 TB this pipelines with
    the scan; nothing to tune.
    """
    R = _lit_matrix(jl_matrix(in_dim, out_dim, seed))
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(R, lambda r: F.round(dot(v, r), 4)).alias("proj"),
    )


def topk_recall(approx: DataFrame, truth: DataFrame) -> DataFrame:
    """Recall@k evaluation of an approximate top-k result against its exact
    twin: per query, the fraction of true top-k neighbors the approximate
    method returned.  The tuning harness for every ANN operator here —
    sweep (n_tables, n_planes) / (n_centroids, nprobe) and read recall vs
    the candidate-volume cost directly.

    Both inputs are (query_id, vec_id, ...) top-k frames (brute_force_topk,
    cosine_lsh_topk, ivf_topk, ...).  One equi-join on (query_id, vec_id) +
    one agg keyed by query — cost tracks k x queries, never the corpus.
    """
    a = approx.select("query_id", "vec_id")
    t = truth.select("query_id", "vec_id")
    hits = (
        t.join(a, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_truth"), 4
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def centroid_drift(embs: DataFrame, vec_col: str = "embedding", group_col: str = "label") -> DataFrame:
    """Embedding-distribution drift audit: pairwise cosine between group
    centroids (mean vectors).  The dataset-comparison primitive — cosine
    near 1 between two sources/snapshots means interchangeable
    distributions; a drop flags drift worth investigating before mixing.

    Scale shape: the per-dimension mean is one hash aggregation keyed by
    (group, dim) — cost tracks corpus size but reduces to G x d rows — and
    the pairwise stage is a self-join on dim over that tiny frame (G^2 x d
    work, corpus-independent).  No vector ever crosses the shuffle twice.
    """
    per_dim = (
        embs.select(
            F.col(group_col).alias("g"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "v"),
        )
        .groupBy("g", "i")
        .agg(F.avg("v").alias("m"))
    )
    norms = per_dim.groupBy("g").agg(F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm"))
    a, b = per_dim.alias("a"), per_dim.alias("b")
    dots = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.g") < F.col("b.g")))
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(F.sum(F.col("a.m") * F.col("b.m")).alias("dot"))
    )
    na = norms.select(F.col("g").alias("ga"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("g").alias("gb"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "ga")
        .join(F.broadcast(nb), "gb")
        .select(
            F.col("ga").alias("label_a"),
            F.col("gb").alias("label_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cos"),
        )
        .orderBy("label_a", "label_b")
    )


def ivfpq_encode_cells(
    cents,
    codebooks,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors into cell rows (cid, id, raw, codes) with an ALREADY
    trained coarse quantizer + residual codebooks — the shared kernel of
    ivfpq_add / ivfpq_add_to_disk.  One narrow map pass: literal-centroid
    argmax, element_at residual, inline ADC codes; no shuffle, no join."""
    dsub = len(codebooks[0][0])
    ksub = len(codebooks[0])
    v = _as_double(vectors, id_col, vec_col)
    by_cid = dict(cents)
    cmat = _sql_lit(
        [
            [float(x) for x in by_cid.get(c, cents[0][1])]
            for c in range(cents[-1][0] + 1)
        ],
        "array<array<double>>",
    )
    assigned = (
        v.select(
            "id", "v", (F.lit(1.0) / norm(F.col("v"))).alias("inv")
        )
        .localCheckpoint()  # _normalized pattern: norm fold ONCE per row
        .select(
            "id",
            F.col("v").alias("raw"),
            F.transform("v", lambda x: x * F.col("inv")).alias("nv"),
        )
        .withColumn("cid", F.expr(_sql_argmax_cid("nv", cents)))
        .select(
            "cid",
            "id",
            "raw",
            F.expr(
                f"zip_with(nv, element_at({cmat}, cid + 1), (a, b) -> a - b)"
            ).alias("r"),
        )
    )
    codes = "array(" + ", ".join(
        _sql_argmax_pick(
            _sql_sub_scores("r", codebooks[j], j, dsub, l2_bias=True),
            list(range(ksub)),
        )
        for j in range(len(codebooks))
    ) + ")"
    return assigned.select("cid", "id", "raw", F.expr(codes).alias("codes"))


def ivfpq_add(
    index: IvfPqIndex,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """FAISS add() analogue: extend a built index with new vectors WITHOUT
    retraining — encode against the frozen quantizer/codebooks and union
    into the cells.  The streaming-corpus maintenance step: train once on a
    representative sample, then keep appending batches; searches see the
    union immediately.  Quantization error for the new batch depends on how
    well the frozen codebooks cover it — re-train when drift grows
    (centroid_drift measures exactly that)."""
    new_cells = ivfpq_encode_cells(index.cents, index.codebooks, vectors, id_col, vec_col)
    return IvfPqIndex(index.cents, index.codebooks, index.cells.unionByName(new_cells))


def ivfpq_add_to_disk(
    spark,
    path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new batch to a PERSISTED index: encode with the saved
    quantizer/codebooks and parquet-append into the cid-partitioned cells
    layout.  Each batch adds one file per touched cell partition — the
    on-disk inverted lists grow in place, probes keep partition-pruning,
    and no existing file is rewritten (compact cells periodically the same
    way any append-heavy parquet layout is compacted)."""
    idx = ivfpq_load(spark, path)
    new_cells = ivfpq_encode_cells(idx.cents, idx.codebooks, vectors, id_col, vec_col)
    new_cells.write.mode("append").partitionBy("cid").parquet(f"{path}/cells")


def power_iteration_direction(
    df: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sum_digits: int = 4,
    vec_digits: int = 6,
) -> list[float]:
    """Top right-singular direction of the (uncentered) embedding matrix by
    power iteration on X^T X — the first principal axis used for embedding
    whitening / anisotropy removal — WITHOUT materializing the d x d Gram
    matrix: each round computes u_i = sum_rows emb[i] * (emb . v) as one
    projection + one d-expression aggregation (two narrow passes fused by
    Catalyst into a single job; no shuffle wider than d values).  Driver
    state is d floats per round, the kmeans-centroid pattern.

    Cross-engine float parity (the a45 literal-roundtrip trick extended to
    ITERATED state): the per-dimension sums round to `sum_digits` inside
    the aggregation expression, and the normalized direction rounds to
    `vec_digits` before becoming the next round's literal — so a SQL twin
    that rounds at the same points sees bit-identical state at every round
    regardless of summation order."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def _r(x: float, nd: int) -> float:
        # HALF_UP on the exact binary value — matches F.round / SQL round
        return float(Decimal(x).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))

    v_df = _as_double(df, id_col, vec_col)
    if dim is None:
        dim = len(v_df.select("v").head()[0])
    v = [_r(1.0 / math.sqrt(dim), vec_digits)] * dim
    for _ in range(iterations):
        vc = F.array(*[F.lit(x) for x in v])
        scored = v_df.select("v", dot(F.col("v"), vc).alias("s"))
        row = scored.agg(
            *[
                F.round(F.sum(F.element_at("v", i + 1) * F.col("s")), sum_digits).alias(f"u{i}")
                for i in range(dim)
            ]
        ).first()
        sums = [row[i] for i in range(dim)]
        nrm = math.sqrt(sum(x * x for x in sums))
        v = [_r(x / nrm, vec_digits) for x in sums]
    return v


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 0.5,
    n_docs: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs — the lexical-weighted
    complement to dense-embedding similarity (a5/a33) and set-overlap
    Jaccard (a2): pairs (a < b) whose TF-IDF vectors have cosine >=
    `threshold`.

    Scale shape is the posting-list family's: the only wide stages are
    term-keyed joins and (a, b)-keyed partial-sum aggs, so work tracks
    posting-list occupancy, never n².  `max_df_frac` is the hot-list cap
    with a principled default — a term in more than half the corpus
    carries near-zero idf anyway, so dropping it bounds the worst-case
    join quadratic at negligible cosine loss (the tf-idf analogue of
    a93's max_doc_freq).  The cap compares df*2 <= N in exact integers so
    engines can't disagree at the boundary.  Pass `n_docs` when known to
    skip the count job.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if n_docs is None:
        n_docs = df.count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(dfreq.filter(F.col("df") * 2 <= F.lit(n_docs)), "term")
        .withColumn("w", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .select("id", "term", "w")
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select("term", F.col("id").alias("a"), F.col("w").alias("wa"))
    b = w.select("term", F.col("id").alias("b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("id").alias("a"), F.col("nrm").alias("na")), "a")
        .join(norms.select(F.col("id").alias("b"), F.col("nrm").alias("nb")), "b")
        .withColumn("cos", F.col("dot") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("a", "b", F.round("cos", 3).alias("cos"))
    )


def hard_negative_mining(
    vectors: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-pair mining for embedding training: per anchor, the
    most-similar SAME-label vector (the positive) and the most-similar
    DIFFERENT-label vector (the hard negative), plus the margin between
    them — the data-prep step behind every triplet/contrastive fine-tune.

    Exact brute-force shape (the a5 baseline contract): anchors broadcast
    against the corpus, one dot per pair with side-norms precomputed, and
    the per-(anchor, same-label) argmax via window over the scored rows.
    Ranking key (round(cos,4) DESC, id ASC) keeps ties reproducible.  At
    scale, swap the scored cross for the LSH/IVF candidate join (a6/a32)
    — the mining agg is unchanged."""
    from pyspark.sql import Window

    v = (
        _as_double(vectors, id_col, vec_col)
        .join(
            vectors.select(
                F.col(id_col).alias("id"), F.col(label_col).alias("lab")
            ),
            "id",
        )
        .withColumn("vn", norm(F.col("v")))
    )
    q = (
        _as_double(anchors, id_col, vec_col)
        .join(
            anchors.select(
                F.col(id_col).alias("id"), F.col(label_col).alias("qlab")
            ),
            "id",
        )
        .select(
            F.col("id").alias("anchor"), F.col("v").alias("qv"), "qlab"
        )
        .withColumn("qn", norm(F.col("qv")))
    )
    scored = (
        v.join(F.broadcast(q), F.col("id") != F.col("anchor"))
        .withColumn(
            "cos",
            F.round(dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")), 4),
        )
        .withColumn(
            "same", F.when(F.col("lab") == F.col("qlab"), 1).otherwise(0)
        )
    )
    w = Window.partitionBy("anchor", "same").orderBy(
        F.col("cos").desc(), F.col("id").asc()
    )
    top1 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        top1.groupBy("anchor")
        .agg(
            F.max(F.when(F.col("same") == 1, F.col("id"))).alias("pos_id"),
            F.max(F.when(F.col("same") == 1, F.col("cos"))).alias("pos_cos"),
            F.max(F.when(F.col("same") == 0, F.col("id"))).alias("neg_id"),
            F.max(F.when(F.col("same") == 0, F.col("cos"))).alias("neg_cos"),
        )
        .withColumn(
            "margin", F.round(F.col("pos_cos") - F.col("neg_cos"), 4)
        )
        .orderBy("anchor")
    )
