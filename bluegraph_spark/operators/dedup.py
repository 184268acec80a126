"""Deduplication operators for training-data pipelines.

Five families, scale-ranked:
- exact: hash-groupBy on content digest — one shuffle, no joins;
- fingerprint: same, on the sorted-distinct-token md5 (bag-of-words exact);
- n-gram Jaccard: shingle explode + self-join — exact near-dup at small
  candidate density;
- MinHash + LSH: constant-size signatures + banding so the self-join is on
  band buckets instead of raw shingles — the 100 TB path. Signatures use
  lexicographic minima of seeded md5 hex digests, which are deterministic,
  engine-portable (the DuckDB oracle computes the identical signature), and
  uniform enough for Jaccard estimation;
- SimHash: 64-bit near-dup signature with banded candidate generation and
  Hamming-distance verification;
- embedding-cosine near-dup: sign-LSH bucketed candidate pairs over an
  embedding column, verified with exact cosine — the semantic-dedup
  ("SemDeDup"-style) path for corpora where near-duplicates are
  paraphrases rather than token overlaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itertools import combinations

from bluegraph_spark.functions.text import (
    hamming64,
    simhash_signatures,
    tokens_col,
)
from bluegraph_spark.plans.loop import CacheScope


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(content_hash, n_copies, keep_id, duplicate_ids): md5-groupBy exact
    dedup; keep_id = min id per group."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("ids"),
        )
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram array from a text column (codegen, no Python)."""
    toks = tokens_col(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(grams)


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )


def _exact_jaccard(inter: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) from ``(id_a, id_b, inter)``
    shared-shingle counts and the (id, shingle) table that sizes each id."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _candidate_overlap(cands: DataFrame, sh: DataFrame) -> DataFrame:
    """(id_a, id_b, inter): shared-shingle count of each candidate pair."""
    sha = sh.select(F.col("id").alias("id_a"), "shingle")
    shb = sh.select(F.col("id").alias("id_b"), "shingle")
    return (
        cands.join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_freq_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard): exact n-gram Jaccard over all pairs sharing at
    least one shingle. ``shingle_freq_cap`` drops stopword-like shingles
    (same skew story as co-occurrence factors).

    Eager: the (threshold-pruned, small) result is materialized via
    ``localCheckpoint`` so the shingle cache shared by the size counts and
    both join sides is released before returning."""
    with CacheScope() as scope:
        sh = scope.persist(shingle_table(df, id_col, text_col, n))
        kept = sh
        if shingle_freq_cap is not None:
            freq = sh.groupBy("shingle").agg(F.count("*").alias("_fc"))
            kept = sh.join(freq.filter(F.col("_fc") <= shingle_freq_cap), "shingle").drop("_fc")
        a, b = kept.alias("a"), kept.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
        return scope.result(scope.checkpoint(_exact_jaccard(inter, sh, threshold)))


def minhash_signature(text_col, n: int = 3, num_hashes: int = 8):
    """Array of ``num_hashes`` MinHash values: element i = lexicographic min
    of md5(i || shingle) over the document's shingles."""
    grams = word_shingles(text_col, n)
    sigs = [
        F.array_min(F.transform(grams, lambda g: F.md5(F.concat(F.lit(str(i) + "|"), g))))
        for i in range(num_hashes)
    ]
    return F.array(*sigs)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig: array) from a long (id, shingle) table — same values as
    ``minhash_signature`` but computed as one aggregation over an already-
    materialized shingle table instead of re-shingling the text."""
    mins = sh.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, key) from an (id, sig) signature table."""
    r = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws("|", *[F.col("sig")[b * r + j] for j in range(r)])
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate near-dup pairs: same MinHash band in ≥1 band.

    bands must divide num_hashes; rows-per-band r = num_hashes/bands gives
    the usual S-curve threshold ≈ (1/bands)^(1/r). ``shingles`` optionally
    supplies a pre-built (id, shingle) table to avoid re-shingling.

    Documents with ZERO shingles (fewer than ``n`` tokens) have no MinHash
    signature and are excluded from candidates entirely — intentional:
    their Jaccard similarity to anything is 0/undefined, and the earlier
    behavior (all-null signatures colliding into one giant bucket pairing
    every short doc with every other) was both wrong and a skew bomb.
    Pair empty documents with :func:`exact_duplicates` instead.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    sig = _signatures_from_shingles(sh, num_hashes)
    band_rows = _band_rows(sig, num_hashes, bands)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.

    The shingle table is materialized once (persisted) and shared by the
    signature aggregation, the size counts, and both sides of the
    verification join — shingling the corpus is the dominant cost and
    running it four times is 3x wasted work at any scale. Eager: the small
    verified-pair result is localCheckpoint'ed and the shingle cache
    released before returning. Zero-shingle documents are excluded (see
    :func:`minhash_lsh_candidates`).
    """
    with CacheScope() as scope:
        sh = scope.persist(shingle_table(df, id_col, text_col, n))
        cands = minhash_lsh_candidates(
            df, id_col, text_col, n, num_hashes, bands, shingles=sh
        )
        out = _exact_jaccard(_candidate_overlap(cands, sh), sh, threshold)
        return scope.result(scope.checkpoint(out))


def embedding_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    planes: int = 12,
    tables: int = 3,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: int = 1,
) -> DataFrame:
    """(id_a, id_b, cosine): embedding-space near-duplicate pairs — sign-LSH
    bucketed candidates (id_a < id_b) verified with exact cosine ≥
    ``threshold``.

    The scale shape is the MinHash pipeline's, transplanted to embedding
    space: constant-size signatures (literal hyperplanes, pure projection),
    bucket equi-join candidates, exact verification inside buckets — never
    the O(n²) pair space. Candidate recall follows the sign-LSH collision
    curve; for near-dup thresholds (cosine ≥ 0.9, θ ≤ 26°) per-table
    collision is (1-θ/π)^planes ≈ 0.16 at 12 planes, recovered by tables ×
    multiprobe — measure with :func:`bluegraph_spark.operators.similarity.
    lsh_candidate_report` before a production run.
    """
    from bluegraph_spark.operators.similarity import (
        _cosine,
        _prep,
        lsh_candidate_pairs,
    )

    cand = lsh_candidate_pairs(
        df, df, id_col, vec_col, planes, tables, seed, dim, multiprobe
    ).filter(F.col("query_id") < F.col("neighbor_id"))
    a = _prep(df, id_col, vec_col, "a")
    b = _prep(df, id_col, vec_col, "b")
    return (
        cand.join(a.withColumnRenamed("a_id", "query_id"), "query_id")
        .join(b.withColumnRenamed("b_id", "neighbor_id"), "neighbor_id")
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            _cosine(F.col("a_vec"), F.col("b_vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def duplicate_groups(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, keep_id): resolve near-dup PAIRS into duplicate GROUPS.

    Near-duplication is not transitive pair-by-pair, but a dedup pipeline
    must still pick one survivor per overlapping cluster — the standard
    resolution is connected components over the pair graph (each group =
    one component, survivor = min id). This is pure composition: any pair
    generator in this module (exact / minhash / simhash / embedding) feeds
    :func:`~bluegraph_spark.operators.components.connected_components`,
    which is the engine's O(log n)-round large-star/small-star operator —
    the same code path that carries the 30M-edge stress evidence, so group
    resolution inherits its scale story instead of inventing a new one.

    ``ids`` optionally supplies the full document id set so singletons
    (docs in no pair) appear with ``keep_id = id``.
    """
    from bluegraph_spark.operators.components import connected_components

    cc = connected_components(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        nodes=ids,
    )
    return cc.components.select("id", F.col("component").alias("keep_id"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """(id_a, id_b, hamming): near-dup pairs by 64-bit SimHash.

    Signatures come from :func:`simhash_signatures` — a pure Catalyst plan,
    no Python UDF on the hot path.

    Banding (Manku/Jain/Das Sarma, WWW'07 "Detecting Near-Duplicates for Web
    Crawling"-style chunk combinations): split the 64 bits into ``chunks``
    contiguous blocks. Two signatures within Hamming distance d ≤
    ``max_hamming`` differ in at most d blocks, so they agree *exactly* on at
    least ``chunks - max_hamming`` blocks — candidates are an equi-join on
    every (combination of chunks-max_hamming blocks → concatenated value),
    then an exact Hamming verify.

    Bucket-size math (the scale knob): with k chunks and key size
    q = k - max_hamming, each doc emits C(k, q) keys of ≈ 64·q/k bits, so an
    N-doc corpus expects N / 2^(64q/k) docs per bucket and the candidate join
    is quadratic in that. Defaults (k=4, d=3 → q=1, 16-bit keys) are fine to
    ~10^6 docs; at 10^8-10^9 docs use e.g. chunks=6 (q=3, ~32-bit keys,
    C(6,3)=20 keys/doc: buckets of N/2^32) — more emitted rows, exponentially
    smaller buckets, identical verified output.
    """
    if not (0 < chunks <= 64):
        raise ValueError("chunks must be in 1..64")
    if chunks <= max_hamming:
        # Pigeonhole completeness requires chunks > max_hamming: two
        # signatures within Hamming d can differ in up to d blocks, so only
        # chunks - max_hamming blocks are guaranteed to agree. A smaller
        # chunk count silently drops valid pairs — refuse instead.
        raise ValueError(
            f"chunks ({chunks}) must exceed max_hamming ({max_hamming}): "
            "with k chunks the banding only guarantees full recall for "
            "Hamming distance <= k-1; raise chunks to at least "
            f"{max_hamming + 1}"
        )
    keep = chunks - max_hamming
    # contiguous blocks, widths as equal as possible (64 need not divide)
    base, extra = divmod(64, chunks)
    widths = [base + (1 if c < extra else 0) for c in range(chunks)]
    starts = [sum(widths[:c]) for c in range(chunks)]

    def chunk_val(c: int):
        return F.shiftright("sig", starts[c]).bitwiseAND(
            F.lit((1 << widths[c]) - 1)
        )

    combos = list(combinations(range(chunks), keep))
    sig = simhash_signatures(df, id_col, text_col)
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("band"),
                        F.struct(
                            *[chunk_val(c).alias(f"c{j}") for j, c in enumerate(combo)]
                        ).alias("key"),
                    )
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Persistable MinHash LSH band index of a corpus: ``(id, band, key)``.

    The 100 TB dedup reality is incremental — new batches arrive against an
    already-deduplicated corpus, and re-shingling + re-hashing the corpus
    per batch is O(corpus) wasted work per batch. This index is the part
    worth persisting: ``bands × 1`` constant-size rows per document (a few
    dozen bytes each, ~1000x smaller than the text). Contract for the
    index table: write it partitioned/bucketed by ``(band, key)`` so the
    per-batch candidate join is storage-partitioned; the index for a new
    batch is exactly ``minhash_band_index(batch)`` — append it after the
    batch is processed. Knobs (n, num_hashes, bands) MUST match between
    index build and incremental queries (the band keys are hashes of
    signature slices).
    """
    sh = shingle_table(df, id_col, text_col, n)
    return _band_rows(_signatures_from_shingles(sh, num_hashes), num_hashes, bands)


def minhash_dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch, against an indexed corpus.

    Returns (id_a, id_b, jaccard) with id_a < id_b for every verified pair
    where at least one side is a batch document — batch-vs-corpus and
    batch-vs-batch; corpus-vs-corpus pairs are assumed already resolved
    when the index was built. The result is exactly the batch-involving
    subset of a full ``minhash_dedup_pairs`` run over corpus ∪ batch (the
    differential oracle asserts precisely this invariant), at incremental
    cost:

    - the corpus is NEVER re-shingled for candidate generation — the band
      index replaces it (O(batch) signature work per batch);
    - exact-Jaccard verification re-shingles only the corpus documents
      that actually collide with a batch band (a semi-join pushes the
      candidate id set into the corpus scan), not the corpus.

    ``corpus`` must carry the text of (at least) the candidate documents;
    ``index`` is a prior :func:`minhash_band_index` output with the same
    knobs.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    with CacheScope() as scope:
        batch_sh = scope.persist(shingle_table(batch, id_col, text_col, n))
        batch_bands = scope.persist(
            _band_rows(
                _signatures_from_shingles(batch_sh, num_hashes), num_hashes, bands
            )
        )

        other = index.select("id", "band", "key").unionByName(batch_bands)
        a, b = other.alias("a"), batch_bands.alias("b")
        cands = scope.checkpoint(
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
            .distinct()
        )

        # shingles for verification: batch side is already materialized; the
        # corpus side is shingled ONLY for candidate-matched ids (left-semi
        # prunes the scan before any shingling work happens)
        cand_ids = (
            cands.select(F.col("id_a").alias("id"))
            .unionByName(cands.select(F.col("id_b").alias("id")))
            .distinct()
            .join(batch_sh.select("id").distinct(), "id", "left_anti")
        )
        corpus_cand = corpus.join(
            cand_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
        )
        ver_sh = scope.persist(
            batch_sh.unionByName(shingle_table(corpus_cand, id_col, text_col, n))
        )
        out = _exact_jaccard(_candidate_overlap(cands, ver_sh), ver_sh, threshold)
        return scope.result(scope.checkpoint(out))
