"""Deduplication operators for training-data pipelines over `documents`.

Five strategies, each with a distinct scale profile:

- exact:          hash-groupBy, one shuffle on the digest.
- ngram_jaccard:  exact shingle-set Jaccard via a posting-list (inverted
                  index) self-join — NOT an O(n²) cross join: pairs only
                  materialize for docs sharing a shingle.
- minhash_lsh:    shingle -> 128-perm MinHash -> banded LSH buckets ->
                  candidate pairs -> exact-Jaccard verification.  The sketch
                  is built entirely with JVM expressions (nested
                  `transform` + `xxhash64`), no Python in the hot path.
- simhash:        64-bit SimHash (token-hash bit voting) + banded Hamming
                  candidate search, again pure expressions.
- embedding_cosine: near-dup by cosine over an embedding column (see
                  similarity.py for the top-k/ANN variants).

Scale notes (100 TB): every strategy shuffles on a *derived key* (digest,
shingle, band hash, bit-band) whose cardinality grows with the corpus, so
partitions stay bounded; hot shingles can be frequency-capped
(`max_doc_freq`) to kill the quadratic tail of posting-list joins — the
standard trick in web-scale dedup (cf. Lee et al., "Deduplicating Training
Data Makes Language Models Better").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window, functions as F


def shingles(text: Column | str = "text", k: int = 3) -> Column:
    """Distinct word k-gram shingles, single-space joined."""
    toks = F.split(F.col(text) if isinstance(text, str) else text, " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    # guard: Spark's sequence(1, m) runs DESCENDING when m < 1
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the keeper
    (min id) and the group size.  Equivalent SQL: GROUP BY md5(text)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("group_size"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.  Window
    over the digest (no join back)."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (
        df.withColumn("__rk", F.row_number().over(w.orderBy(id_col)))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via posting-list join
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with shingle-Jaccard >= threshold.

    Plan: explode shingles -> self-join on shingle (pairs share >=1 shingle)
    -> count common shingles -> J = |∩| / (|A|+|B|-|∩|).  The shuffle key is
    the shingle, so work is proportional to posting-list sizes, not n².
    `max_doc_freq` drops shingles appearing in more than that many docs
    (approximation switch for web-scale corpora; None = exact).
    """
    sh = df.select(F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")).withColumn(
        "sh_n", F.size("sh")
    )
    # localCheckpoint: the posting table feeds BOTH sides of the self-join
    # (and the df-cap count when enabled) — without it the shingle
    # explode+split recomputes per consumer (the a4 simhash lesson;
    # measured 1.7x end-to-end at sf0.1, rows identical).  The
    # materialization is shingle-volume, the same footprint the banded
    # MinHash sketch table carries.
    posting = sh.select("id", "sh_n", F.explode("sh").alias("shingle")).localCheckpoint(
        eager=True
    )
    if max_doc_freq is not None:
        freq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        posting = posting.join(
            F.broadcast(freq.filter(F.col("df") <= max_doc_freq).select("shingle")), "shingle"
        )
    a = posting.select(
        F.col("shingle"),
        F.col("id").alias("a"),
        F.col("sh_n").alias("a_n"),
    )
    b = posting.select(
        F.col("shingle"),
        F.col("id").alias("b"),
        F.col("sh_n").alias("b_n"),
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "a_n", "b_n")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("a_n") + F.col("b_n") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 3).alias("jaccard"))
    )
    return pairs


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE61 = (1 << 61) - 1


def _sketch_partitions(df: DataFrame) -> int:
    """Explicit partition count for the CPU-bound sketch exchanges (guide
    §2.1): AQE coalesces post-shuffle partitions by BYTES, and a text
    corpus that is small in bytes but expensive per row (shingling,
    per-shingle hashing, minhash permutations, bit votes) collapses to one
    task — measured: the whole sf0.1 corpus sketched in ONE partition,
    single-threading ~2 s of expression+UDF work.  An explicit count
    (REPARTITION_BY_NUM) opts that one exchange out of coalescing; the
    value scales with the session (total cores locally, the admin-set
    shuffle parallelism on a cluster) rather than being a tuned
    constant."""
    spark = df.sparkSession
    try:
        # non-numeric on some platforms (e.g. "auto" under managed AQE)
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        shuffle_parts = 0
    return max(spark.sparkContext.defaultParallelism, shuffle_parts)


def _perm_params(num_perm: int, seed: int = 1):
    import random

    rng = random.Random(seed)
    return (
        [rng.randrange(1, _MERSENNE61) for _ in range(num_perm)],
        [rng.randrange(0, _MERSENNE61) for _ in range(num_perm)],
    )


def minhash_signature_udf(num_perm: int = 128, seed: int = 1):
    """Arrow-vectorized MinHash over PRE-HASHED shingles (array<long> column
    of xxhash64 values): sig[p] = min_h (a_p·h + b_p mod M61).  One numpy
    matrix op per row; the Python cost is O(num_perm · |shingles|) SIMD ops,
    ~100× cheaper than an interpreted per-permutation
    `transform(xxhash64(shingle, p))` expression (HOF lambdas don't
    codegen)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a_arr, b_arr = _perm_params(num_perm, seed)
    A = np.array(a_arr, dtype=np.uint64)[:, None]
    B = np.array(b_arr, dtype=np.uint64)[:, None]

    @pandas_udf("array<long>")
    def mh(hashes: pd.Series) -> pd.Series:  # noqa: ANN001 — hints drive dispatch
        out = []
        for h in hashes:
            if h is None or len(h) == 0:
                out.append(np.full(num_perm, np.iinfo(np.int64).max))
                continue
            hv = np.asarray(h, dtype=np.uint64)[None, :]
            with np.errstate(over="ignore"):
                m = ((A * hv + B) % np.uint64(_MERSENNE61)).min(axis=1)
            out.append(m.astype(np.int64))
        return pd.Series(out)

    return mh


def band_hashes(sig: Column, bands: int, rows: int) -> Column:
    """Split the signature into `bands` bands of `rows` and hash each band."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(F.array_join(F.slice(sig, b * rows + 1, rows), ",")),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    verify: bool = True,
) -> DataFrame:
    """Candidate pairs from banded MinHash-LSH, exact-Jaccard-verified.

    bands=16 × rows=4 ⇒ candidate probability 1-(1-J⁴)¹⁶ — ~0.999 at J=0.8,
    ~0.025 at J=0.2 (default num_perm=64 halves sketch cost vs the classic
    128 with no recall loss at dedup-grade thresholds).  Verification joins shingle sets back (array_intersect on
    the two bounded arrays) so emitted pairs are exact, making LSH purely a
    *pruning* strategy: same output as ngram_jaccard_pairs whenever recall
    holds, at a fraction of the join volume.
    """
    # One sketch path for batch and incremental dedup: build_band_table
    # (shingle -> xxhash64 once in the JVM -> vectorized permutation UDF ->
    # banding; the UDF doubles as the CollapseProject barrier).
    band_table = build_band_table(df, id_col, text_col, k, num_perm, bands)
    left = band_table.select("band", "bh", F.col("id").alias("a"))
    right = band_table.select("band", "bh", F.col("id").alias("b"))
    # one (id, sh) row per doc WITHOUT a shuffle: every doc has a band 0,
    # so a narrow filter on the checkpointed sketch replaces the previous
    # dropDuplicates, which shuffled the corpus's shingle arrays 16-fold
    sh = band_table.filter(F.col("band") == 0).select("id", "sh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    if not verify:
        return candidates
    sh_a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 3).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_bits(text: Column | str = "text", bits: int = 64, hash_fn=None) -> Column:
    """Charikar SimHash over whitespace tokens as an array<int> of 0/1: bit i
    is the sign of the summed +-1 votes from each token's xxhash64 bit i.

    Pure JVM expressions with a CONSTANT number of higher-order functions:
    per-token hash -> 64-char binary string (`bin` emits the full two's
    complement for longs) -> +-1 vote array; element-wise vector sum via one
    `aggregate` of `zip_with`.  (A formulation with 64 statically-unrolled
    aggregates exceeds the analyzer's resolution budget.)"""
    toks = F.split(F.col(text) if isinstance(text, str) else text, " ")
    h = hash_fn or F.xxhash64
    tok_bits = F.transform(
        toks,
        lambda t: F.transform(
            F.split(F.lpad(F.bin(h(t)), bits, "0"), ""),
            lambda c: F.when(c == "1", 1).otherwise(-1),
        ),
    )
    votes = F.aggregate(
        tok_bits,
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0))


def pack_bits(bits_col: Column) -> Column:
    """Fold a 0/1 bit array (MSB first) into one signed 64-bit value.  The
    sign bit is applied separately: folding all 64 bits would overflow under
    ANSI arithmetic (Spark 4 default)."""
    low = F.aggregate(
        F.slice(bits_col, 2, 63), F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )
    sign = F.element_at(bits_col, 1)
    return F.when(sign == 1, low + F.lit(-(1 << 63))).otherwise(low)


def simhash(text: Column | str = "text", bits: int = 64) -> Column:
    return pack_bits(simhash_bits(text, bits))


def hamming_bits(a: Column, b: Column) -> Column:
    """Hamming distance between two 0/1 bit arrays."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x != y), lambda d: d))


def simhash_pairs(
    df: DataFrame,
    max_distance: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Near-dup candidates by banded SimHash: split the `bits`-bit hash into
    `n_bands` chunks; docs sharing any chunk are candidates (guaranteed to
    catch all pairs with < n_bands differing bits — so with
    max_distance <= n_bands - 1 the result EQUALS the brute-force Hamming
    filter, which is what the a19 oracle exploits); verify by exact Hamming
    distance.  `hash_fn=md5_hash64` + bits=60 gives the oracle-portable
    variant."""
    width = bits // n_bands
    # repartition parallelizes the bit-vote computation across cores; the
    # localCheckpoint MATERIALIZES (id, bits) once — the banding pass and
    # the packed-signature verify pass both consume it, and their differing
    # projections defeat exchange reuse, so without the checkpoint the
    # whole expensive bit-vote expression runs twice (measured 25 s -> 15 s
    # at sf0.1).  (id, bits) is one small array per doc — the same bounded
    # footprint the MinHash band table carries.
    h = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .repartition(_sketch_partitions(df), "id")
        .select("id", simhash_bits("__text", bits, hash_fn).alias("bits"))
        .localCheckpoint(eager=True)
    )
    # band value = the packed bit-slice (aggregate works with the lambda-var
    # band index; a shiftright formulation can't — shift amounts must be
    # Python ints in the py4j bridge)
    chunks = h.select(
        "id",
        "bits",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.aggregate(
                    F.slice(F.col("bits"), b * width + 1, width),
                    F.lit(0),
                    lambda acc, x: acc * 2 + x,
                ),
            )
        ).alias("band", "chunk"),
    )
    # slim candidate join (the a12 lesson): the band shuffle carries IDS
    # ONLY — a pair sharing k bands collapses to one row via distinct
    # BEFORE any Hamming work, instead of paying a k-times-replicated
    # shuffle of both bit arrays plus k Hamming evaluations per pair
    left = chunks.select("band", "chunk", F.col("id").alias("a"))
    right = chunks.select("band", "chunk", F.col("id").alias("b"))
    cand = (
        left.join(right, ["band", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    if bits <= 62:
        # pack the whole signature into one long: the verify becomes a
        # single bit_count(xor) per pair instead of a 60-element zip
        sig = h.select(
            "id",
            F.aggregate(
                "bits", F.lit(0).cast("long"), lambda acc, x: acc * 2 + x
            ).alias("__sig"),
        )
        sa = sig.select(F.col("id").alias("a"), F.col("__sig").alias("__sa"))
        sb = sig.select(F.col("id").alias("b"), F.col("__sig").alias("__sb"))
        verified = (
            cand.join(sa, "a")
            .join(sb, "b")
            .select(
                "a",
                "b",
                F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias(
                    "distance"
                ),
            )
        )
    else:
        # 63/64-bit signatures would overflow the ANSI fold; keep the
        # bit-array Hamming for those
        ba = h.select(F.col("id").alias("a"), F.col("bits").alias("__ba"))
        bb = h.select(F.col("id").alias("b"), F.col("bits").alias("__bb"))
        verified = (
            cand.join(ba, "a")
            .join(bb, "b")
            .select(
                "a", "b", hamming_bits(F.col("__ba"), F.col("__bb")).alias("distance")
            )
        )
    return verified.filter(F.col("distance") <= max_distance)


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling character k-grams, Schleimer et al. / MOSS)
# ---------------------------------------------------------------------------

def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
) -> DataFrame:
    """Training-data decontamination: (corpus_id, eval_id, shared_ngrams)
    for every corpus doc sharing >= min_shared word n-grams with an eval
    doc — the standard benchmark-leak check run before training.

    Scale shape: posting-list EQUI-join on the n-gram string (the same
    pattern as ngram_jaccard_pairs) — shuffles by gram, never an all-pairs
    product; corpus-side grams are distinct per doc, so a doc repeating a
    contaminated phrase counts it once.  For a 100 TB corpus the eval side
    is tiny: its gram list broadcasts and the join is map-side.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(shingles(text_col, n)).alias("g"),
    )
    e = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(shingles(text_col, n)).alias("g"),
    )
    return (
        c.join(F.broadcast(e), "g")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def md5_hash64(c: Column) -> Column:
    """60-bit positive hash from the first 15 hex digits of md5 — chosen
    because it computes IDENTICALLY in DuckDB
    (`CAST(CONCAT('0x', substr(md5(x),1,15)) AS BIGINT)`), making ops built
    on it oracle-checkable.  xxhash64 stays the production default (one JVM
    intrinsic vs md5's digest+parse)."""
    return F.conv(F.md5(c).substr(1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    text: Column | str = "text", k: int = 20, window: int = 8, hash_fn=None
) -> Column:
    """Winnowed document fingerprints: hash every character k-gram (the
    rolling-hash pass), then keep the minimum hash of each `window`-length
    run — guaranteeing any shared substring of length >= k + window - 1
    yields at least one common fingerprint, with only ~2/(window+1) of the
    k-gram hashes retained.

    Unlike md5-of-document (analytics.text.fingerprint), winnowed prints are
    SHIFT-TOLERANT: inserting a paragraph leaves the other regions' prints
    unchanged, so partial overlap is detectable.  Pure JVM expressions:
    Column.substr accepts Column offsets, so the k-gram roll is one
    `transform` over positions."""
    return _window_mins(_kgram_hashes(text, k, hash_fn), window)


def _kgram_hashes(text: Column | str, k: int, hash_fn=None) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    h = hash_fn or F.xxhash64
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: h(c.substr(i, F.lit(k))),
    )


def _window_mins(grams: Column, window: int) -> Column:
    # NB: when `grams` is an un-materialized expression, each window slice
    # re-evaluates it (CollapseProject) — callers over whole corpora must
    # materialize the gram array first (see winnow_overlap_pairs).
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(grams) - (window - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(grams, i, window)),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    window: int = 8,
    hash_fn=None,
) -> DataFrame:
    """Pairs sharing >= min_shared winnowed fingerprints (posting-list join
    on the fingerprint, same scale shape as ngram_jaccard_pairs)."""
    # localCheckpoint MATERIALIZES the exploded fingerprint table once: the
    # self-join's two sides would otherwise each re-run the window-mins
    # transform from the exchange (the a4 simhash lesson — measured 2.1x
    # end-to-end at sf0.1, rows identical).  (id, fp) rows are
    # fingerprint-count-sized, ~2/(window+1) of the k-gram volume.
    fp = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .repartition(_sketch_partitions(df), "id")
        .select("id", _kgram_hashes("__t", k, hash_fn).alias("__g"))
        .select("id", F.explode(_window_mins(F.col("__g"), window)).alias("fp"))
        .localCheckpoint(eager=True)
    )
    a = fp.select("fp", F.col("id").alias("a"))
    b = fp.select("fp", F.col("id").alias("b"))
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs persisted corpus sketch
# ---------------------------------------------------------------------------

def build_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The persistable LSH index for continuous ingestion: one row per
    (band, band_hash, id, shingle set).  At 100 TB this table lives
    partitioned/bucketed by (band, bh); each arriving batch probes it with a
    key-equi join instead of re-sketching the corpus — the difference between
    O(batch x corpus/buckets) and O(corpus²) per ingest cycle."""
    rows = num_perm // bands
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        # docs too short to produce a single k-shingle are excluded from
        # the sketch: their Jaccard with anything is 0/0 (never a verified
        # near-dup), but their empty-input SENTINEL signature is identical,
        # so every band of every short doc would collide — an O(e²)
        # candidate explosion among e short docs (and with verify=False,
        # outright false duplicate pairs).  Exact/normalized dedup owns
        # sub-k-token documents.  The predicate is the CHEAP equivalent
        # token-count test, NOT size(shingles)>0: filtering on the aliased
        # shingle column lets predicate pushdown substitute the whole
        # transform/slice/array_join pipeline into the predicate and
        # compute it twice per row (measured +29 %/+42 % on the two dedup
        # bench lines in r7; a NULL text splits to NULL → NULL predicate →
        # dropped, same as before).
        .filter(F.size(F.split("__text", " ")) >= k)
        .repartition(_sketch_partitions(df), "id")
        .select("id", shingles("__text", k).alias("sh"))
    )
    hashed = sh.withColumn("hs", F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
    sig = hashed.withColumn("sig", minhash_signature_udf(num_perm)(F.col("hs"))).withColumn(
        "bands", band_hashes(F.col("sig"), bands, rows)
    )
    # materialize the sketch ONCE: every consumer fans the band table into
    # several branches (self-join left/right + the shingle-verify side),
    # and without a barrier each branch re-runs the whole shingle ->
    # xxhash -> minhash pipeline over the corpus (measured 3x sketch cost
    # in minhash_lsh_pairs).  At 100 TB this materialization is the
    # persisted LSH index the docstring describes — the checkpoint is the
    # in-session stand-in.
    sig = sig.select("id", "sh", "bands").localCheckpoint()
    return sig.select("id", "sh", F.posexplode("bands").alias("band", "bh"))


def incremental_dup_pairs(
    new_docs: DataFrame,
    band_table: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (new_id, existing_id, jaccard) between an incoming
    batch and the existing corpus represented by `band_table`
    (build_band_table output, freshly built or read back from storage).

    The new batch is sketched (cheap — batch-sized), probed against the band
    table on (band, bh), and candidates are exact-Jaccard verified.  Returns
    only cross pairs; intra-batch dups are minhash_lsh_pairs(new_docs).
    Pass `probe` (the batch's own build_band_table output) when the caller
    already sketched the batch — e.g. to ALSO append it to a persisted
    index — so the sketch isn't computed twice."""
    if probe is None:
        probe = build_band_table(new_docs, id_col, text_col, k, num_perm, bands)
    # slim-pair pattern: the band join and the dedup carry ONLY ids; both
    # shingle sets re-attach afterwards via the narrow band==0 slice of
    # each sketch (the previous plan shuffled BOTH shingle arrays through
    # the band join and the per-pair dedup)
    new_side = probe.select("band", "bh", F.col("id").alias("new_id"))
    old_side = band_table.select("band", "bh", F.col("id").alias("old_id"))
    cand_ids = (
        new_side.join(old_side, ["band", "bh"])
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )
    sh_new = probe.filter(F.col("band") == 0).select(
        F.col("id").alias("new_id"), F.col("sh").alias("sh_new")
    )
    sh_old = band_table.filter(F.col("band") == 0).select(
        F.col("id").alias("old_id"), F.col("sh").alias("sh_old")
    )
    candidates = cand_ids.join(sh_new, "new_id").join(sh_old, "old_id")
    return (
        candidates.withColumn("inter", F.size(F.array_intersect("sh_new", "sh_old")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_new") + F.size("sh_old") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", F.round("jaccard", 3).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    iterative min-label propagation; returns (doc_id, cluster_id) where
    cluster_id is the minimum doc id reachable through the pair graph.

    The downstream dedup policy "keep one representative per near-dup
    cluster" needs components, not pairs — pairs (8,245),(245,300) must
    collapse to ONE keeper.  Each iteration is one join + one aggregation
    (label <- min(label, neighbors' labels)); iteration count is bounded by
    the graph diameter (near-dup clusters are tiny — convergence in 2-3
    rounds), and the loop exits early on fixpoint.  This is the standard
    large-graph CC pattern (cf. GraphFrames' label propagation); data volume
    per round is |edges|, partitioned by vertex id.
    """
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # localCheckpoint (not persist): truncate the iterative lineage so
        # Catalyst re-analysis stays O(1) per round (see two-phase CC note).
        # The convergence check RIDES the checkpoint job as an observation
        # (carrying the old label through the plan) — previously it was a
        # second shuffle join per round just to count changed labels.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
                F.col("label").alias("__old"),
            )
            .observe(obs, F.count(F.when(F.col("label") != F.col("__old"), 1)).alias("changed"))
            .drop("__old")
            .localCheckpoint()
        )
        labels = new_labels
        if obs.get["changed"] == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_clusters_two_phase(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") —
    same output contract as `dedup_clusters` (doc_id -> component-min
    cluster_id), different convergence shape.

    Min-label propagation converges in O(diameter) rounds; star contraction
    converges in O(log^2 n) — the 100 TB choice when near-dup chains are
    long (doc A ~ B ~ C ~ ... chains from templated content produce
    high-diameter components that propagation crawls across).  Each round is
    one groupBy-min on a node key + one re-emit of the (bounded, shrinking)
    edge list; no per-node state table is carried between rounds.

    - large-star: every node u links each STRICTLY GREATER neighbor to
      m(u) = min(N(u) + u) — long tails hook onto small labels fast.
    - small-star: every node u links each neighbor <= u (and itself) to the
      minimum of that closed neighborhood — stars flatten to depth 1.

    Fixpoint when the oriented edge multiset stops changing (checked with a
    count + order-free xxhash64 checksum that rides the round's checkpoint
    job as an observation — no extra job, no collect of edges).  Equality with `dedup_clusters` is pytest-pinned; the driver
    query a26 shares a11's recursive-CTE oracle because component minima are
    algorithm-independent.

    Each round ends in `localCheckpoint` — persist() alone is NOT enough for
    iterative plans: the logical plan still nests every prior round, and
    Catalyst's re-analysis cost grows superlinearly until the driver stalls
    (observed: 3 s/round -> 14 s by round 3 on a 20-edge chain).  Truncating
    lineage per round keeps planning O(1); on a cluster swap in
    `checkpoint()` + setCheckpointDir when executor loss must be survivable.
    """
    # the fixpoint checksum (edge count + order-free xxhash) RIDES each
    # round's checkpoint job as an observation — no separate scan job
    _metrics = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    )

    # oriented canonical edges (hi -> lo), self-loops dropped
    obs0 = Observation()
    edges = (
        pairs.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, *_metrics)
        .localCheckpoint()
    )
    prev = (obs0.get["n"], obs0.get["h"])
    for _ in range(max_iterations):
        # ---- large-star: m(u) over full neighborhood; link neighbors > u
        nbrs = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mu"))
        large = (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mu").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: m over closed LOWER neighborhood; link v<=u and u
        m2 = large.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mu"))
        linked = large.join(m2, "u")
        obs = Observation()
        small = (
            linked.select(F.col("v").alias("u"), F.col("mu").alias("v"))
            .unionByName(linked.select("u", F.col("mu").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .observe(obs, *_metrics)
            .localCheckpoint()
        )
        cur = (obs.get["n"], obs.get["h"])
        edges = small
        if cur == prev:
            break
        prev = cur
    # at fixpoint every node points straight at its component min
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    out = labels.select(F.col("u").alias("doc_id"), "cluster_id").unionByName(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")).distinct()
        .join(labels.select(F.col("u").alias("doc_id")), "doc_id", "left_anti")
    )
    # edges stays checkpointed until GC: `out` is lazy and its lineage ends
    # at the checkpoint, so dropping the blocks here would break the caller
    return out


def keep_cluster_representatives(df: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop every clustered doc except its min-id representative (docs not in
    any cluster are kept)."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs with cosine >= threshold.  Brute-force blocked self-join —
    the RECALL ORACLE for pytest only; `embedding_dup_pairs_lsh` is the
    production op (bucketed equi-join, no cartesian product)."""
    from persistor_spark.analytics.similarity import cosine

    v = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    a = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    return (
        # crossjoin-ok: pytest-only recall oracle (labeled above); production path is the LSH bucketed join
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 4).alias("cos"))
    )


def embedding_dup_pairs_lsh(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 2,
    n_tables: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Pairs with cosine >= threshold via sign-LSH bucketed self-join +
    exact verify — the scale path (same contract as embedding_dup_pairs).

    Candidates are generated from `n_tables` independent random-hyperplane
    tables of `n_planes` sign bits each (similarity._bucket_expr): two
    vectors become a candidate iff they share a bucket in >=1 table, i.e.
    the join is a (table, bucket) EQUI-join that shuffles by bucket key —
    never a cartesian product, so it partitions/scales where the r1
    crossJoin could not.  The exact cosine verify removes all false
    positives; false negatives are bounded by (1 - p^b)^T with
    p = 1 - theta/pi, so per-pair miss probability at cos=0.4 with the
    b=2/T=32 defaults is ~1e-7 (drops steeply for the higher thresholds
    real near-dup uses).  Hyperplanes are seeded => fully deterministic.

    For production dedup at tau >= 0.8, raise n_planes (8-12) so buckets
    prune aggressively; the defaults here favor recall at low tau.
    """
    from persistor_spark.analytics.similarity import _all_buckets_expr, _hyperplanes, norm

    v = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    # Three-stage shape, chosen so NOTHING candidate-volume-sized ever
    # carries vector payload:
    #   1. SLIM candidate join: (table, bucket, id) x (table, bucket, id)
    #      — candidate volume is ~n_tables * sum_buckets B^2 rows of two
    #      longs; joining with vectors attached materializes the same
    #      volume at ~1 KiB/row (measured 8x slower end to end at sf0.1).
    #   2. dropDuplicates on the slim (a, b) pairs — cross-table repeats
    #      collapse BEFORE any per-pair math or payload attach.
    #   3. attach vectors by id equi-joins (broadcast when the corpus side
    #      is small, AQE-planned shuffle join otherwise) and verify with an
    #      Arrow-batched einsum — Spark evaluates array-fold expressions
    #      interpreted row-at-a-time, so the vectorized UDF is ~100x less
    #      CPU on this hot loop.  1/||v|| is computed once per vector and
    #      carried as a scalar.
    # localCheckpoint: the self-join's two sides otherwise each re-run
    # the 2*n_tables hyperplane dot products from the scan (the a4 simhash
    # lesson; ~20% end-to-end warm at sf0.1, rows identical)
    bucketed = v.select(
        "id", _all_buckets_expr(F.col("v"), tables).alias("bks")
    ).select("id", F.posexplode("bks").alias("table", "bucket")).localCheckpoint(
        eager=True
    )
    pairs = (
        bucketed.select("table", "bucket", F.col("id").alias("a"))
        .join(bucketed.select("table", "bucket", F.col("id").alias("b")), ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    # carry the NORM, not its reciprocal: the verify must divide dot/(na*nb)
    # so the float rounding matches the DuckDB oracle's division exactly
    # (reciprocal-multiply can differ by ULPs at threshold/round boundaries).
    # Checkpointed for the same two-consumer reason as `bucketed`.
    withn = v.select("id", "v", norm(F.col("v")).alias("nrm")).localCheckpoint(
        eager=True
    )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_cos(va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
        import numpy as np

        A = np.stack(va.to_numpy())
        B = np.stack(vb.to_numpy())
        return pd.Series(
            np.einsum("ij,ij->i", A, B) / (na.to_numpy() * nb.to_numpy())
        )

    return (
        pairs.join(
            withn.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na")),
            "a",
        )
        .join(
            withn.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")),
            "b",
        )
        .select("a", "b", _pair_cos("va", "vb", "na", "nb").alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 4).alias("cos"))
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr criterion, token-gram
# approximation)
# ---------------------------------------------------------------------------

def duplicate_span_stats(
    df: DataFrame,
    gram_len: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-substring coverage: which fraction of a doc's
    tokens sit inside a token `gram_len`-gram that occurs >= `min_count`
    times across the WHOLE corpus.  (doc_id, n_tokens, dup_grams,
    covered_tokens, dup_fraction) — the per-doc signal ExactSubstr-style
    dedup cuts on; suffix arrays find arbitrary-length repeats, fixed grams
    are the shuffle-friendly approximation (a repeat of length >= gram_len
    always contains a repeated gram).

    Scale shape: grams shuffle on the gram string (cardinality ~corpus
    tokens, partitions bounded); the duplicated-gram table is the only join
    side and is usually tiny after the >= min_count filter.  Coverage is an
    explode(sequence) + distinct per doc — gram_len x token blowup bounded
    by gram_len, all JVM expressions.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    t = df.select(F.col(id_col), toks.alias("toks"), n.alias("n_tokens"))
    gram_structs = F.when(
        F.col("n_tokens") >= gram_len,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - (gram_len - 1)),
            lambda i: F.struct(
                i.alias("pos"), F.array_join(F.slice("toks", i, gram_len), " ").alias("g")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    # NO checkpoint despite the multiple consumers: A/B at sf0.1 measured
    # the no-checkpoint form 3-4x FASTER (0.4 s vs 1.6 s warm) — the gram
    # construction is a narrow, cheap expression while materializing the
    # token-volume gram strings is pure I/O.  The two-consumer checkpoint
    # only pays when the recomputed expression is expensive per row
    # (simhash bit votes, hyperplane dots, window-mins) — see
    # simhash_pairs/winnow_overlap_pairs for the cases where it does.
    grams = t.select(id_col, F.explode(gram_structs).alias("gs")).select(
        id_col, F.col("gs.pos").alias("pos"), F.col("gs.g").alias("g")
    )
    dup_g = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("g")
    )
    dup = grams.join(dup_g, "g")
    per_doc = dup.groupBy(id_col).agg(F.count(F.lit(1)).alias("dup_grams"))
    covered = (
        dup.select(
            id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (gram_len - 1))).alias("idx")
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    return (
        t.select(id_col, "n_tokens")
        .join(per_doc, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"), 4
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# cluster representative selection + per-source dup-rate rollup
# ---------------------------------------------------------------------------

def select_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Pick ONE canonical document per near-dup cluster: the highest-quality
    member (max `quality_col`, ties to the lowest id).  Docs absent from
    `clusters` (no near-dup edge) are their own singleton cluster.

    This is the policy step that turns components (dedup_clusters /
    dedup_clusters_two_phase) into a keep/drop decision — the reference's
    index dedup keeps exactly one blob per unique_id the same way (first
    writer wins, persistor/internal/persistor/persistor.go batch handler);
    here "first" is quality-ranked instead of arrival-ranked.

    Scale shape: a single hash aggregation keyed by cluster_id with a
    map-side-combinable max(struct) — NOT a window (a window would sort
    every partition; the agg keeps only one struct per cluster per task).
    Cluster cardinality ~= corpus size, so partitions stay bounded.
    """
    labeled = (
        docs.select(F.col(id_col), F.col(quality_col))
        .join(clusters, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    best = F.max(
        F.struct(F.col(quality_col).alias("q"), (-F.col(id_col)).alias("negid"))
    ).alias("best")
    return (
        labeled.groupBy("cluster_id")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("best.negid")).alias("rep_doc_id"),
            F.col("best.q").alias("rep_quality"),
            "n_members",
            (F.col("n_members") - F.lit(1)).alias("n_dropped"),
        )
    )


def dup_rate_by_source(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source exact-duplication stats: a doc is a duplicate iff a doc
    with a smaller id anywhere in the corpus has the same md5 fingerprint
    (global first-writer-wins, charged to the source of the LATER copy).
    The question a crawl-curation pipeline asks source by source: "how much
    of this feed is copies of things I already have?"

    Two bounded shuffles: one keyed by the fingerprint (row_number within a
    dup group — group size is the dup multiplicity, not the corpus), one by
    source.  Counts use count(when(...)) so both engines agree on BIGINT
    (DuckDB sums of INT widen to HUGEINT — the a29 hazard).
    """
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    flagged = (
        df.select(
            F.col(id_col),
            F.col(source_col).alias("source"),
            F.md5(F.lower(F.col(text_col))).alias("__fp"),
        )
        .withColumn("__dup", F.row_number().over(w) > 1)
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("__dup"), 1)).alias("n_dups"),
            F.countDistinct("__fp").alias("n_distinct"),
            # UNROUNDED integer quotient (r14, the e46 class): exact counts
            # make the ratio bit-identical in any engine, while round()
            # splits engines on true decimal halfway cases
            (
                F.count(F.when(F.col("__dup"), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def split_leakage(
    pairs: DataFrame, splits: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cross-split contamination audit: count near-dup PAIRS by the
    (canonically ordered) pair of splits their endpoints landed in.  A
    train/test near-dup pair is evaluation leakage — the check every
    pretraining pipeline runs after splitting (cf. GPT-3 appx. C's
    train-test overlap analysis); same-split rows are reported too so the
    off-diagonal is readable as a fraction of all near-dup mass.

    `pairs` is any (a, b) near-dup pair table (exact, Jaccard, MinHash,
    SimHash, embedding); `splits` is (id_col, split) from assign_splits.

    Shape at 100 TB: two id-keyed equi-joins of the (already detected,
    far-smaller-than-corpus) pair list against the split map, then a
    groupBy on at most |splits|^2 keys — no new quadratic stage, and the
    expensive part (pair detection) is shared with the dedup pass the
    pipeline already runs.
    """
    sa = splits.select(F.col(id_col).alias("a"), F.col("split").alias("__sa"))
    sb = splits.select(F.col(id_col).alias("b"), F.col("split").alias("__sb"))
    joined = pairs.join(sa, "a").join(sb, "b")
    return (
        joined.groupBy(
            F.least("__sa", "__sb").alias("split_lo"),
            F.greatest("__sa", "__sb").alias("split_hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count(F.when(F.col("__sa") != F.col("__sb"), 1)).alias("n_cross"),
        )
        .orderBy("split_lo", "split_hi")
    )


def source_dup_matrix(
    pairs: DataFrame, sources: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts by the
    canonically ordered pair of SOURCES their endpoints came from — the
    provenance view of duplication (which feeds copy from which; the
    diagonal is within-source boilerplate).  Same pair-x-label-map shape as
    split_leakage, so it reuses it outright: two id-keyed joins of the
    already-detected pair list, then a groupBy bounded by |sources|².

    `sources` is (id_col, source) — e.g. documents.select("doc_id",
    "source")."""
    labeled = sources.select(id_col, F.col("source").alias("split"))
    out = split_leakage(pairs, labeled, id_col)
    return out.select(
        F.col("split_lo").alias("source_lo"),
        F.col("split_hi").alias("source_hi"),
        "n_pairs",
        "n_cross",
    )


def novelty_fraction(
    df: DataFrame,
    gram_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct
    `gram_len`-grams not seen in any EARLIER document (by `id_col` order) —
    the marginal-information curve that tells a pipeline how much each
    increment of an ordered corpus actually adds (near 0 = the doc is
    assembled from text the corpus already has).

    Plan: one distinct-gram explode, a gram-keyed min(id) agg (the "first
    owner" posting table), and a self-join back — a doc's novel grams are
    exactly those it owns.  Both shuffles key on the gram, so partition
    sizes track posting lists, never the corpus; docs shorter than
    `gram_len` have no grams and are excluded (novelty is undefined)."""
    toks = F.split(F.col(text_col), " ")
    t = df.select(F.col(id_col), toks.alias("toks"), F.size(toks).alias("n"))
    grams = (
        t.filter(F.col("n") >= gram_len)
        .select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.col("n") - (gram_len - 1)),
                        lambda i: F.array_join(F.slice("toks", i, gram_len), " "),
                    )
                )
            ).alias("g"),
        )
    )
    first = grams.groupBy("g").agg(F.min(id_col).alias("__first"))
    per_doc = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        grams.join(first, "g")
        .filter(F.col(id_col) == F.col("__first"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, id_col, "left")
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double") / F.col("n_grams"), 4
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )


def duplicate_substring_intervals(
    df: DataFrame,
    gram_len: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL duplicated-substring spans per document: merge the positions
    of corpus-duplicated `gram_len`-grams (duplicate_span_stats' signal)
    into maximal token intervals — the per-span output ExactSubstr dedup
    (Lee et al. 2022) cuts out of each document.  Suffix arrays find
    arbitrary-length repeats in one machine's RAM; fixed grams + interval
    merge is the shuffle-friendly distributed equivalent (any repeat of
    length >= gram_len is a run of repeated grams, so its maximal span is
    recovered exactly).

    Plan: gram posting shuffle (as a30) -> join against the tiny
    >= min_count gram table -> per-doc gaps-and-islands: a new island
    starts where pos - lag(pos) > gram_len (coverage gap); islands close
    under min/max.  The window is partitioned BY DOCUMENT and ordered by
    position — partition size is a doc's duplicated-gram count, never the
    corpus.  Output (doc_id, span_start, span_end, span_len), 1-based
    inclusive token positions.
    """
    toks = F.split(F.col(text_col), " ")
    t = df.select(F.col(id_col), toks.alias("toks"), F.size(toks).alias("n_tokens"))
    gram_structs = F.when(
        F.col("n_tokens") >= gram_len,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - (gram_len - 1)),
            lambda i: F.struct(
                i.alias("pos"), F.array_join(F.slice("toks", i, gram_len), " ").alias("g")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    # NO checkpoint here, unlike duplicate_span_stats: `dup` has a single
    # consumer (the islands window) and the gram re-compute for the count
    # agg is cheaper than materializing the gram-struct strings (measured
    # 0.5 s vs 1.0+ s for the bench line at sf0.1)
    grams = t.select(id_col, F.explode(gram_structs).alias("gs")).select(
        id_col, F.col("gs.pos").alias("pos"), F.col("gs.g").alias("g")
    )
    dup_g = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("g")
    )
    dup = grams.join(dup_g, "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup.withColumn(
            "__new",
            F.when(
                F.col("pos") - F.lag("pos").over(w) > gram_len, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "grp",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    return (
        islands.groupBy(id_col, "grp")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("span_end"))
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            (F.col("span_end") + (gram_len - 1)).cast("long").alias("span_end"),
            (F.col("span_end") + (gram_len - 1) - F.col("span_start") + 1)
            .cast("long")
            .alias("span_len"),
        )
        .orderBy(id_col, "span_start")
    )


def remove_duplicate_substrings(
    df: DataFrame,
    gram_len: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. 2022): cut every
    maximal duplicated-substring span (duplicate_substring_intervals) out of
    each document and reassemble the surviving tokens in order.

    Plan: spans collapse to one array per doc (groupBy on `id_col`), then a
    single doc-keyed left join re-attaches them to the corpus; the cut itself
    is a pure JVM array expression — positions covered by any span are
    filtered out with nested higher-order functions (`filter` + `exists`),
    no Python, no per-token shuffle.  Both the groupBy and the join key on
    `id_col`, so AQE co-partitions them into one exchange; the span array is
    bounded by a doc's own duplicated-gram count, never the corpus.  Docs
    with no duplicated spans pass through untouched (left join + empty-array
    coalesce).  `exists` is order-independent, so the nondeterministic
    collect_list order cannot change the output.
    """
    spans = duplicate_substring_intervals(df, gram_len, min_count, id_col, text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.col(text_col), " ")
    empty = F.array().cast("array<struct<span_start:long,span_end:long>>")
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("__toks")),
            lambda i: F.struct(
                i.alias("i"), F.element_at("__toks", i).alias("tok")
            ),
        ),
        lambda s: ~F.exists(
            "__spans",
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    return (
        df.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            toks.alias("__toks"),
            F.coalesce("__spans", empty).alias("__spans"),
        )
        .select(
            F.col(id_col),
            F.size("__toks").cast("long").alias("n_tokens"),
            kept.alias("__kept"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.size("__kept")).cast("long").alias("n_removed"),
            F.array_join(
                F.transform("__kept", lambda s: s["tok"]), " "
            ).alias("clean_text"),
        )
        .orderBy(id_col)
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
) -> DataFrame:
    """The REMOVAL half of benchmark decontamination: drop every corpus doc
    that ngram_contamination flags against the eval set, returning the clean
    corpus.  One distinct-project of the flagged ids + a broadcastable
    left-anti join — the flagged side is bounded by contamination volume,
    not corpus size, so the anti-join's build side stays small at 100 TB."""
    flagged = (
        ngram_contamination(corpus, eval_df, n, id_col, text_col, min_shared)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")


def _index_rows(band_table: DataFrame) -> DataFrame:
    """Shingle arrays only on band-0 rows for PERSISTED index layouts:
    every consumer re-attaches `sh` via the band==0 slice (every sketched
    doc has a band 0), so writing the array into all `bands` partitions
    multiplied index bytes — and the save/append shuffle — by the band
    count for data no probe ever reads (r14 opt, guide §6.2: store what
    the read path uses).  Column contract is unchanged (`sh` stays
    array<string>, NULL outside band 0)."""
    return band_table.withColumn(
        "sh", F.when(F.col("band") == 0, F.col("sh"))
    )


def lsh_index_save(band_table: DataFrame, path: str) -> None:
    """Persist a build_band_table output as the on-disk LSH index:
    parquet PARTITIONED BY band, so a probe's (band, bh) equi-join prunes
    to the matching band partitions (the posting-list layout; the dedup
    twin of ivfpq_save's inverted lists).  Spark writers throughout — the
    same call targets gs://, abfss://, s3a:// on a cluster.

    Repartition ON band before the partitioned write: without it every
    input partition writes a sliver into every band directory
    (input_parts x bands small files); with it each band is one
    contiguous file per shuffle partition holding it."""
    _index_rows(band_table).repartition("band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(path)


def lsh_index_load(spark, path: str) -> DataFrame:
    """Read a persisted LSH index back as a lazy, partition-prunable
    DataFrame with the build_band_table column contract.  Heals a
    compaction swap that crashed between its two renames first (r11:
    maintenance.recover_swap) — otherwise a crashed maintenance cycle
    leaves the index unreadable until manual repair — and replays any
    crashed incremental small-file swap (r12: a half-applied
    compact_small_files journal would otherwise serve merged rows
    TWICE)."""
    from persistor_spark.plans import maintenance

    maintenance.recover_swap(spark, path)
    maintenance.recover_small_compactions(spark, path)
    return spark.read.parquet(path).select("id", "sh", "band", "bh")


def lsh_index_append(spark, path: str, new_docs: DataFrame, **kwargs) -> None:
    """Grow a persisted LSH index with a new batch: sketch the batch (batch-
    sized cost) and parquet-append into the band partitions — each ingest
    cycle adds one file per band, no existing file rewrites.  Repartition
    on band first, same as lsh_index_save: the sketch is deliberately
    fanned across cores (_sketch_partitions), so a raw partitionBy write
    would open sketch_parts x bands sliver files per append (guide §6)."""
    _index_rows(build_band_table(new_docs, **kwargs)).repartition(
        "band"
    ).write.mode("append").partitionBy("band").parquet(path)


def containment_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directional near-SUPERSET detection: pairs (a, b) with shingle
    containment C(a in b) = |A ∩ B| / |A| >= threshold and a != b — the
    doc-inside-doc case (quotes, boilerplate wrappers, page-in-crawl) that
    symmetric Jaccard misses when the containing doc is much larger.

    Same posting-list shape as ngram_jaccard_pairs (shuffle key = shingle,
    work tracks posting lists, never n²); each unordered candidate pair
    yields up to TWO directed rows, one per containment direction.
    `max_doc_freq` is the same hot-shingle cap."""
    sh = df.select(F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")).withColumn(
        "sh_n", F.size("sh")
    )
    # two-consumer posting table: materialize once (see ngram_jaccard_pairs)
    posting = sh.select("id", "sh_n", F.explode("sh").alias("shingle")).localCheckpoint(
        eager=True
    )
    if max_doc_freq is not None:
        freq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        posting = posting.join(
            F.broadcast(freq.filter(F.col("df") <= max_doc_freq).select("shingle")), "shingle"
        )
    a = posting.select("shingle", F.col("id").alias("a"), F.col("sh_n").alias("a_n"))
    b = posting.select("shingle", F.col("id").alias("b"))
    return (
        a.join(b, "shingle")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b", "a_n")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn("containment", F.col("inter").cast("double") / F.col("a_n"))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", F.round("containment", 3).alias("containment"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 10,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_prefix_len: int = 20,
    k: int = 3,
    num_partitions: int = 32,
) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernandez & Stolfo 1995,
    the merge/purge method): sort the corpus on a blocking key (here the
    text's first `key_prefix_len` chars), compare each record only to its
    `window` successors in sort order, keep pairs with shingle Jaccard >=
    `threshold`.  The classic record-linkage complement to LSH: candidate
    volume is EXACTLY n*window regardless of key skew, at the cost of
    missing dups whose keys sort far apart (multi-pass with rotated keys
    is the standard recall fix).

    Scale shape: the global sort rank comes from `global_row_number`
    (range partition -> literal prefix offsets -> per-partition window, no
    SinglePartition); candidates join rank-block r//window to {block,
    block+1} — a bounded equi-join, never a range join.  Verification is
    per-pair shingle intersection, volume n*window."""
    from .sampling import global_row_number

    sh = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, key_prefix_len).alias("key"),
        shingles(text_col, k).alias("sh"),
    )
    ranked, _n = global_row_number(sh, ["key", "id"], "rn", num_partitions)
    ranked = ranked.withColumn("blk", ((F.col("rn") - F.lit(1)) / F.lit(window)).cast("long"))
    left = ranked.select(
        F.col("rn").alias("rn_a"), F.col("id").alias("a"), F.col("sh").alias("sha"), "blk"
    )
    # each left row probes its own block and the next one: any successor
    # within `window` ranks lives in one of the two
    left2 = left.withColumn("blk", F.explode(F.array(F.col("blk"), F.col("blk") + 1)))
    right = ranked.select(
        F.col("rn").alias("rn_b"), F.col("id").alias("b"), F.col("sh").alias("shb"), "blk"
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter.cast("double") / union
    return (
        left2.join(right, "blk")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") <= F.lit(window))
        )
        .withColumn("jac", jac)
        .filter(F.col("jac") >= F.lit(threshold))
        .select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            F.round("jac", 3).alias("jaccard"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 40,
    length_band: int = 20,
    length_col: str = "n_chars",
    max_block_size: int | None = None,
) -> DataFrame:
    """Levenshtein-bounded fuzzy pairs over a text prefix: candidates are
    blocked on (first token, length band) with each left row probing its
    own band and both neighbors, then verified with the exact edit
    distance on the first `prefix_len` chars.  The record-linkage
    primitive for typo-level duplicates that token-set Jaccard overshoots
    (word-order invariant) and that full-text edit distance can't afford.

    Scale shape: a pure equi-join on the block key (the band probe is an
    explode to 3 keys, not a range predicate), so Catalyst plans a hash
    join; levenshtein runs only on candidates, never n².  A hot first
    token (e.g. 'the') concentrates one block and its candidate count
    goes quadratic — measured 1.4 s -> 21 s at 5k docs when every doc
    shares tok1 (ARCHITECTURE §6).  `max_block_size` is the production
    cap: (tok1, band) blocks holding more rows are dropped entirely
    (bounded work, recall loss only inside pathological blocks — the
    a93 max_doc_freq discipline; pair it with a second pass on a
    different blocking key if those blocks matter)."""
    t = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("pre"),
        F.split(F.col(text_col), " ").getItem(0).alias("tok1"),
        F.expr(f"{length_col} div {length_band}").alias("lb"),
    )
    if max_block_size is not None:
        sizes = t.groupBy("tok1", "lb").agg(F.count(F.lit(1)).alias("__bn"))
        t = t.join(
            F.broadcast(
                sizes.filter(F.col("__bn") <= max_block_size).select("tok1", "lb")
            ),
            ["tok1", "lb"],
            "left_semi",
        )
    left = t.select(
        F.col("id").alias("a"), F.col("pre").alias("pa"), "tok1",
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("lb"),
    )
    right = t.select(F.col("id").alias("b"), F.col("pre").alias("pb"), "tok1", "lb")
    return (
        left.join(right, ["tok1", "lb"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("dist", F.levenshtein("pa", "pb"))
        .filter(F.col("dist") <= F.lit(max_dist))
        .select("a", "b", "dist")
    )


def blocked_candidate_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    max_block_size: int | None = None,
) -> DataFrame:
    """Blocked candidate generation for entity resolution (the Fellegi–
    Sunter front half): self-join on `block_cols`, each unordered pair
    kept once (id_a < id_b).  All non-block columns come back twice with
    `_a` / `_b` suffixes for the caller's scoring expressions.

    `max_block_size` is the ENFORCED hot-block cap (r6 ADVICE — it was
    docstring-only): any block larger than the cap is SUB-BLOCKED by id
    rank, so per-key candidate volume is bounded by ~n*max_block_size/2
    instead of n²/2 (the engineered worst case — all 15k sf0.1 customers
    in ONE block = 112M pairs, measured 341 s — drops ~8x under cap 2000).
    Pairs crossing sub-blocks inside a hot block are the documented recall
    loss; a second pass with a rotated blocking key recovers them (same
    discipline as a93's max_doc_freq / edit_distance_pairs' drop-cap,
    but splitting loses only cross-sub pairs where dropping loses the
    whole block).  Blocks at or under the cap are split-free, so capped
    and uncapped output are IDENTICAL on a corpus with no hot keys —
    which keeps the full-quadratic SQL oracle valid wherever block sizes
    stay under the cap.

    Scale shape: sub-block assignment is one row_number window PER BLOCK
    (parallel across blocks; a pathological single block costs one
    per-block sort — O(n log n), vastly cheaper than its n² join); the
    candidate join is a pure equi-join on block key + sub-block id."""
    from pyspark.sql import Window

    other = [c for c in df.columns if c not in block_cols]
    if max_block_size is not None:
        w = Window.partitionBy(*[F.col(c) for c in block_cols]).orderBy(id_col)
        # exact integer div (the ntile_exact/pack_sequences rule): `/` is
        # double division and a boundary could flip at extreme ranks
        t = df.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__sub", F.expr(f"(__rn - 1) div {int(max_block_size)}")
        ).drop("__rn")
    else:
        t = df.withColumn("__sub", F.lit(0))
    key = [*block_cols, "__sub"]
    left = t.select(*key, *[F.col(c).alias(f"{c}_a") for c in other])
    right = t.select(*key, *[F.col(c).alias(f"{c}_b") for c in other])
    return (
        left.join(right, key)
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .drop("__sub")
    )
