"""Deduplication operators for large-scale corpus curation.

Four families, all expressed as DataFrame plans (no Python in the hot path):

- **exact**: hash-groupBy on a content fingerprint — one shuffle, fully
  scalable; at 100 TB this is the cheapest possible dedup.
- **MinHash + LSH**: word-shingles → k minhash signatures (xxhash64 with k
  seeds) → banded bucket-join → exact-Jaccard verify of candidates only.
  The classic near-dup pipeline (Broder '97 / Leskovec-Rajaraman-Ullman
  ch.3); candidate generation is linear in corpus size, the quadratic
  verify is confined to same-bucket groups.
- **SimHash**: 64-bit sign-aggregated token-hash fingerprint (Charikar '02,
  used by Google for web dedup); near-dups collide on bands of the
  fingerprint; hamming distance verifies.
- **n-gram Jaccard**: exact shingle-set Jaccard over blocked pairs —
  SQL-expressible (array_intersect), used both standalone and as the
  verify stage of the LSH families.

Determinism: all hashing is Spark's xxhash64 with fixed seeds — stable
across runs, sessions and clusters. Random-looking parameters (band seeds)
are fixed constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles, token_chunks, tokens

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep-first-by-fingerprint: one row per distinct content, carrying the
    smallest id (deterministic keeper) and the duplicate count.

    Plan: project(md5) → partial agg → single shuffle on fingerprint →
    final agg. Scales linearly; skew only if one document dominates.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return df minus non-keeper duplicate rows (window-free: min-id join
    back, so the heavy side shuffles once on the fingerprint)."""
    keepers = exact_dedup(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col))
    return df.join(keepers, on=id_col, how="left_semi")


def chunk_rows(df: DataFrame, text_col: str, id_col: str,
               k: int) -> DataFrame:
    """(id, chunk_id, n_toks, txt): every non-overlapping k-token chunk of
    every non-empty document, in document order (last chunk ragged).
    Entirely map-side (transform over a sequence of offsets, one
    posexplode) — the shared chunker behind the exact-substring rewrite
    (batch ``queries/llmdata.py::q_dedup_rewrite`` and the streaming
    ``streaming/sinks.py::rewrite_dedup_sink`` consume identical rows, so
    batch and incremental policies provably act on the same chunk set)."""
    docs = (df.filter(F.col(text_col) != "")
            .select(F.col(id_col), tokens(F.col(text_col)).alias("toks")))
    return (docs
            .select(id_col,
                    F.posexplode(token_chunks(F.col("toks"), k))
                    .alias("chunk_id", "chunk"))
            .select(id_col, "chunk_id",
                    F.size("chunk").cast("long").alias("n_toks"),
                    F.concat_ws(" ", F.col("chunk")).alias("txt")))


#: Curation policy shared by the batch ``curation_pipeline`` /
#: ``chunk_documents`` queries and ``streaming/curation.py``: training
#: chunks are CHUNK_TOKENS-token windows of documents that have at least
#: MIN_DOC_TOKENS tokens.
CHUNK_TOKENS = 50
MIN_DOC_TOKENS = 10


def curation_gate(docs: DataFrame, lang: str = "en") -> DataFrame:
    """The curation gate over a (batch or streaming) frame carrying
    ``lang`` and ``cleaned_text``: keep ``lang`` documents whose cleaned
    text is non-empty and has at least MIN_DOC_TOKENS tokens; add ``toks``
    (the token array the chunker windows) and ``content_fp`` (the exact
    dedup key). Map-side only — each caller applies its own dedup on
    ``content_fp`` (keep-first window in batch, watermarked
    ``dropDuplicatesWithinWatermark`` on a stream)."""
    return (
        docs.filter((F.col("lang") == lang) & (F.col("cleaned_text") != ""))
        .withColumn("toks", tokens(F.col("cleaned_text")))
        .filter(F.size("toks") >= MIN_DOC_TOKENS)
        .withColumn("content_fp", fingerprint(F.col("cleaned_text")))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 32, shingle_k: int = 3) -> DataFrame:
    """doc → array of `num_hashes` minhash values over word-k-shingles.

    Each hash family member is xxhash64(shingle, seed=i); the signature is
    the per-seed minimum. Computed entirely as Column expressions over the
    shingle array (transform + array_min) — no explode, no shuffle: the
    signature projection is map-side only.

    The shingle array is staged as its own column so it is materialized ONCE
    per row; inlining it into all ``num_hashes`` transforms instead makes the
    scan recompute the (expensive) shingling 32× — measured >20× slower.
    """
    staged = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_k).alias("__sh"))

    def seeded_min(seed: int):
        # closure (not a default arg) — a 2-param lambda would be given the
        # array *index* as its second argument by F.transform
        return F.array_min(
            F.transform(F.col("__sh"), lambda s: F.xxhash64(s, F.lit(seed))))

    sig = F.array(*[seeded_min(i) for i in range(num_hashes)])
    return staged.select(F.col(id_col), sig.alias("minhash"))


def band_keys(signatures: DataFrame, id_col: str,
              num_bands: int = 8, rows_per_band: int = 4) -> DataFrame:
    """(id, band, band_hash) LSH band keys: each doc's signature is cut
    into ``num_bands`` bands of ``rows_per_band`` values, each band hashed
    to one key. Docs sharing any (band, band_hash) are near-dup candidates.
    Map-side only (one posexplode); this is the probe/persist unit for
    both batch candidate joins and the incremental streaming band store."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.xxhash64(
                    F.concat_ws(",", *[
                        F.col("minhash")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ]),
                    F.lit(b),
                )
                for b in range(num_bands)
            ])
        ).alias("band", "band_hash"),
    )


def lsh_candidates(signatures: DataFrame, id_col: str,
                   num_bands: int = 8, rows_per_band: int = 4) -> DataFrame:
    """Banded LSH: docs sharing any band of their signature become candidate
    pairs (a_id < b_id). One explode (bands per doc) + one shuffle on the
    band key; bucket sizes stay small for realistic corpora, so the
    within-bucket pairing is cheap. Returns distinct (a_id, b_id)."""
    banded = band_keys(signatures, id_col,
                       num_bands=num_bands, rows_per_band=rows_per_band)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a_id"),
            F.col(f"r.{id_col}").alias("b_id"),
        )
        .distinct()
    )


def jaccard_verify(df: DataFrame, candidates: DataFrame, text_col: str,
                   id_col: str, shingle_k: int = 3,
                   threshold: float = 0.7) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs >= threshold.
    Shingle sets are joined in twice (broadcast-sized in the candidate-verify
    stage since candidates << corpus)."""
    sets_df = df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    a = sets_df.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sets_df.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.array_union(F.col("a_sh"), F.col("b_sh")))
    return (
        candidates.join(a, "a_id").join(b, "b_id")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        shingle_k: int = 3,
                        threshold: float = 0.7) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (a_id, b_id, jaccard).

    Candidate generation is an inverted-index self-join on shingles: two
    documents with Jaccard > 0 share at least one shingle, so joining the
    exploded (shingle -> id) postings to itself has FULL recall for any
    positive threshold — never an all-pairs cross join. Cost is
    sum(|postings|^2) over shingle values, i.e. quadratic only within
    groups sharing a shingle; hot shingles are the skew risk. This is the
    exact baseline that approximate joins are checked against; the
    registry query ``dedup_ngram_jaccard`` blocks on the md5 of the first
    tokens instead (near-linear, full recall when duplicates share a
    prefix — see queries/llmdata.py::_jaccard_pairs).
    """
    sets_df = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    ).filter(F.size("sh") > 0)

    postings = sets_df.select("__id", F.explode("sh").alias("__shingle"))
    cands = (
        postings.alias("l")
        .join(postings.alias("r"),
              (F.col("l.__shingle") == F.col("r.__shingle"))
              & (F.col("l.__id") < F.col("r.__id")))
        .select(F.col("l.__id").alias("a_id"),
                F.col("r.__id").alias("b_id"))
        .distinct()
    )

    a_sets = sets_df.select(F.col("__id").alias("a_id"),
                            F.col("sh").alias("a_sh"))
    b_sets = sets_df.select(F.col("__id").alias("b_id"),
                            F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.array_union(F.col("a_sh"), F.col("b_sh")))
    return (
        cands.join(a_sets, "a_id").join(b_sets, "b_id")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_near_duplicates(df: DataFrame, text_col: str, id_col: str,
                            num_hashes: int = 32, shingle_k: int = 3,
                            num_bands: int = 8, rows_per_band: int = 4,
                            threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline: signatures → banded candidates → exact verify.
    Returns (a_id, b_id, jaccard) pairs at or above threshold."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    cands = lsh_candidates(sigs, id_col, num_bands, rows_per_band)
    return jaccard_verify(df, cands, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text_col: Column, bits: int = 64, shingle_k: int = 3) -> Column:
    """Charikar simhash: for each bit position, sum +1/-1 votes from each
    feature's xxhash64 bit; the sign pattern is the fingerprint.

    Features are word-k-shingles (``shingle_k=0`` falls back to unigram
    tokens). Shingles matter on vocabulary-dense corpora: unigram features
    make unrelated docs with similar word distributions collide, while
    shingles push unrelated pairs to ~random (≈32-bit) hamming distance and
    keep true near-dups within a few bits.

    Pure Column expression (aggregate over the feature array) — map-side only.
    Callers on the hot path should stage the hashed-feature array once with
    ``simhash_features`` and pass it to ``simhash_from_hashes``; this
    convenience form inlines feature hashing into all 64 bit votes.
    """
    feats = tokens(text_col) if shingle_k == 0 else shingles(text_col, shingle_k)
    return simhash_from_hashes(F.transform(feats, lambda t: F.xxhash64(t)), bits)


def simhash_features(text_col: Column, shingle_k: int = 3) -> Column:
    """Hashed feature array (xxhash64 per word-k-shingle) — stage this as a
    column so the expensive shingle+hash work happens once per row, not once
    per bit position."""
    feats = tokens(text_col) if shingle_k == 0 else shingles(text_col, shingle_k)
    return F.transform(feats, lambda t: F.xxhash64(t))


def simhash_votes(hashes: Column, bits: int = 64) -> Column:
    """Per-bit sign votes as one array, built in a SINGLE traversal of the
    feature-hash array (the per-bit-aggregate formulation walks the array
    ``bits`` times). Stage this as its own column before calling
    ``simhash_from_votes`` — the packing step references it per bit."""
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.transform(
            acc,
            # bit_get takes a Column position (shiftright needs a literal)
            lambda x, i: x + F.when(F.bit_get(h, i) == 1, 1).otherwise(-1),
        ),
    )


def simhash_from_votes(votes: Column, bits: int = 64) -> Column:
    """Pack a staged vote array into the 64-bit fingerprint (bit i set iff
    votes[i] > 0). ``votes`` MUST be a materialized column, not an inline
    ``simhash_votes`` expression — each bit references it once, and inlined
    lambda expressions are not unified by codegen subexpression
    elimination."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.when(F.element_at(votes, i + 1) > 0,
                   F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """Sign-aggregate a precomputed feature-hash array into the simhash.

    Convenience single-expression form: inlines the vote array into every
    bit, so the hash array is re-traversed per bit. Hot paths should stage
    ``simhash_votes`` as a column and use ``simhash_from_votes``."""

    def bit_vote(i: int) -> Column:
        # token hash bit i set -> +1 else -1; sum over tokens
        def merge(acc: Column, h: Column) -> Column:
            return acc + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        return F.aggregate(hashes, F.lit(0), merge)

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.when(bit_vote(i) > 0,
                   F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return out


def banded_hamming_pairs(hashed: DataFrame, id_col: str, hash_col: str,
                         band_bits: int, max_hamming: int,
                         block_cols: tuple[str, ...] = ()) -> DataFrame:
    """Banded LSH self-join over 64-bit hashes, shared by every hamming
    near-dup in the engine (text SimHash, media dHash, positional
    frame/segment hashes): candidates collide on any ``band_bits``-wide
    band (and every ``block_cols`` value — modality, frame index, ...),
    then verify by exact ``bit_count(xor)`` hamming ≤ ``max_hamming``.

    Returns (a_id, b_id, *block_cols, hamming) with a_id < b_id, distinct.
    ``64 % band_bits`` must be 0 — otherwise the top bits would silently
    never participate in banding and recall would quietly drop. Callers
    should materialize (localCheckpoint) ``hashed`` when the hash column
    is expensive to compute: the self-join reads it twice.
    """
    if band_bits <= 0 or 64 % band_bits:
        raise ValueError(
            f"band_bits must divide 64 (got {band_bits}): a remainder "
            f"would leave the top bits out of every band")
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = hashed.select(
        id_col, *block_cols, hash_col,
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col(hash_col), b * band_bits)
            .bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ])).alias("band", "band_val"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    cond = ((F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    # verify by exact hamming BEFORE deduplicating band collisions: the
    # bit_count filter is map-side and cheap, while distinct() shuffles —
    # filtering first shrinks the distinct input from every band collision
    # (quadratic in bucket occupancy) to the true near-dup pairs (measured
    # at sf0.1 media: 434k collision rows -> 146 surviving rows, 2.4 s ->
    # 1.0 s). The distinct key drops the hash columns: each (id, blocks)
    # carries ONE hash, so hamming is functionally determined by the pair.
    hamming = F.bit_count(
        F.col(f"l.{hash_col}").bitwiseXOR(F.col(f"r.{hash_col}")))
    return (
        left.join(right, cond)
        .filter(hamming <= max_hamming)
        .select(
            F.col(f"l.{id_col}").alias("a_id"),
            F.col(f"r.{id_col}").alias("b_id"),
            *[F.col(f"l.{c}").alias(c) for c in block_cols],
            hamming.alias("hamming"),
        )
        .distinct()
    )


def simhash_near_duplicates(df: DataFrame, text_col: str, id_col: str,
                            band_bits: int = 8,
                            max_hamming: int = 14,
                            shingle_k: int = 3) -> DataFrame:
    """Near-dups by simhash: candidates collide on any band_bits-wide band of
    the 64-bit fingerprint (8 bands of 8 bits guarantee recall up to hamming
    7 and catch hamming ≲ 16 with high probability); verify by exact hamming
    distance ≤ max_hamming. Banding/verify via ``banded_hamming_pairs``."""
    fp = df.select(
        F.col(id_col),
        simhash_features(F.col(text_col), shingle_k).alias("__h"),
    ).select(
        F.col(id_col),
        simhash_votes(F.col("__h")).alias("__votes"),
    ).select(
        F.col(id_col),
        simhash_from_votes(F.col("__votes")).alias("simhash"))
    return banded_hamming_pairs(
        fp, id_col, "simhash", band_bits, max_hamming)


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine above threshold within blocks)
# ---------------------------------------------------------------------------

def embedding_near_duplicates(df: DataFrame, vec_col: str, id_col: str,
                              block_col: str | None = None,
                              threshold: float = 0.95,
                              allow_full_cartesian: bool = False) -> DataFrame:
    """Cosine-similarity near-dups over an embedding column. Pairs are
    blocked (same ``block_col``; at scale use an LSH bucket column from
    operators.similarity.hyperplane_bucket) so the join is not all-pairs.

    This is the deliberately-EXACT oracle-checkable form: cost is
    Σ|block|², which is fine for label-blocked corpora but quadratic on an
    unblocked one — so calling it with ``block_col=None`` requires an
    explicit ``allow_full_cartesian=True`` opt-in. For unblocked corpora at
    scale use ``ml.lsh.brp_embedding_pairs`` or ``ml.semdedup`` instead.
    """
    if block_col is None and not allow_full_cartesian:
        raise ValueError(
            "embedding_near_duplicates without block_col is an all-pairs "
            "cartesian product (O(n²)); pass block_col (e.g. an LSH bucket "
            "from operators.similarity.hyperplane_bucket), or opt in "
            "explicitly with allow_full_cartesian=True, or use the scale "
            "paths ml.lsh.brp_embedding_pairs / ml.semdedup.")
    from ..functions.vectors import pair_cosine_lookup

    # The candidate pair join carries (id, block) ONLY — no vector is ever
    # copied onto a pair row — and the exact-cosine verify runs as
    # pair_cosine_lookup: the id pairs stream through the Python boundary
    # while the vectors arrive once as a broadcast numpy matrix (with the
    # join-attach + pre-staged-norm Column fold as the above-size-guard
    # fallback). The kernel replays the fold's exact IEEE op order
    # (functions/vectors.py), so values are bit-identical and every oracle
    # twin still hash-matches.
    cols = [F.col(id_col)]
    if block_col:
        cols.append(F.col(block_col))
    base = df.select(*cols)
    a = base.toDF(*[f"a_{id_col}"]
                  + ([f"a_{block_col}"] if block_col else []))
    b = base.toDF(*[f"b_{id_col}"]
                  + ([f"b_{block_col}"] if block_col else []))
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    if block_col:
        cond = cond & (F.col(f"a_{block_col}") == F.col(f"b_{block_col}"))
    return (
        pair_cosine_lookup(a.join(b, cond), df, id_col, vec_col,
                           f"a_{id_col}", f"b_{id_col}")
        .filter(F.col("cosine") >= threshold)
        .select(F.col(f"a_{id_col}").alias("a_id"),
                F.col(f"b_{id_col}").alias("b_id"),
                "cosine")
    )
