"""Document-level deduplication operators for training-data pipelines.

Beyond the reference's record-linkage surface, a 100 TB corpus pipeline
needs document dedup primitives. All are pure DataFrame plans:

  exact_duplicates   — md5(text) hash-groupBy (one shuffle, map-side combine)
  minhash_lsh_pairs  — shingle -> k minhash permutations -> banded LSH join
  simhash            — 64-bit simhash from token hashes (bit ops, no UDF)
  ngram_jaccard_pairs— exact word-n-gram Jaccard verify over LSH (or
                       capped-block / caller-staged) candidates

Design notes for scale: every candidate generator blocks first (LSH bands /
shared shingles) so the pair join never goes quadratic; permutation tables
are tiny literal arrays (broadcast by construction); hashes are xxhash64/
crc32 built-ins (JVM side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparklink.portable import poly_hash, poly_hash_wide
from sparklink.preprocess import tokens
from sparklink.util import widen_to_parallelism

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canon_id, group_size): canon = min id per identical md5(text).

    Mirrors the entity_map convention (canon = min member,
    mysql_example/mysql_example.py:45-50) for byte-identical documents.
    """
    h = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    grp = h.groupBy("h").agg(F.min(id_col).alias("canon_id"), F.count("*").alias("group_size"))
    return h.join(grp, "h").select(F.col(id_col), "canon_id", "group_size")


# --------------------------------------------------------------------------
# shingles + minhash LSH
# --------------------------------------------------------------------------

# Mersenne prime 2^31-1: with x, a, b < p the product a*x + b stays below
# 2^62 — no int64 overflow inside the JVM expression.
_MERSENNE = (1 << 31) - 1


def _perm_params(k: int, seed: int = 17) -> list[tuple[int, int]]:
    """Deterministic (a, b) for h_i(x) = (a*x + b) mod p — no RNG at plan
    build (stable across runs/resumes)."""
    params = []
    a, b = seed | 1, seed * 31 + 7
    for _ in range(k):
        a = (a * 6364136223846793005 + 1442695040888963407) % _MERSENNE
        b = (b * 6364136223846793005 + 1442695040888963407) % _MERSENNE
        params.append(((a % (_MERSENNE - 1)) + 1, b))
    return params


def _norm_ws(col):
    return F.lower(F.regexp_replace(col, r"\s+", " "))


def char_shingles(col, n: int = 5, pre_normalized: bool = False):
    """Distinct character n-gram shingles of the normalized text.

    IMPORTANT for callers: pass a *materialized column* (and set
    pre_normalized=True after projecting _norm_ws yourself) when the input
    expression is non-trivial — expressions inlined into the per-element
    lambda re-evaluate once PER SHINGLE (the normalization regexp would go
    quadratic in document length)."""
    c = col if pre_normalized else _norm_ws(col)
    return F.when(F.length(c) < n, F.array(c)).otherwise(
        F.array_distinct(F.transform(F.sequence(F.lit(1), F.length(c) - (n - 1)), lambda i: c.substr(i, F.lit(n))))
    )


def word_shingles_from_tokens(toks, n: int = 3):
    """Distinct word n-gram shingles of a token array — ~5x fewer rows than
    char shingles on prose; the cheap choice when minhash feeds blocking
    rather than exact near-dup estimation. Pass a materialized token
    column (see char_shingles note)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    shingle_n: int = 5,
    shingle: str = "char",
    hash_mode: str = "xxhash",
) -> DataFrame:
    """(doc_id, sig array<bigint>[k]) — k minhash values per document.

    Plan: explode shingles -> xxhash64 -> one aggregate computing all k
    mins at once (array of min(expr)); one shuffle on doc_id, partial
    aggregation does the heavy lifting map-side. shingle='word' swaps in
    word n-grams (cheaper, for blocking use). hash_mode='portable' swaps
    the shingle hash for the engine-portable polynomial hash (slower;
    used by the oracle-verified catalog entry — see sparklink.portable).
    """
    # byte-small doc frames explode ~200x: re-spread first or the explode
    # and the 32 hash exprs run in the 1-2 AQE-coalesced partitions; a wide
    # production scan is left untouched (no full-text reshuffle)
    docs = widen_to_parallelism(docs)
    # materialize the normalized text / token array BEFORE the shingle
    # lambda so the normalization runs once per row, not once per shingle
    if shingle == "char":
        base = docs.select(F.col(id_col), _norm_ws(F.col(text_col)).alias("__t"))
        sh_expr = char_shingles(F.col("__t"), shingle_n, pre_normalized=True)
    else:
        base = docs.select(F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__t"))
        sh_expr = word_shingles_from_tokens(F.col("__t"), shingle_n)
    return kmin_signatures(base, id_col, sh_expr, k, hash_mode)


def kmin_signatures(frame: DataFrame, id_col: str, shingles, k: int, hash_mode: str = "xxhash") -> DataFrame:
    """(id_col, sig array<bigint>[k]) from a per-row shingle array: hash
    each shingle below p, then ONE aggregate of the k mins of
    (a*x + b) mod p — the minhash signature of minhash_signatures and
    blocking.minhash_band_keys_from_tokens. Groups ``frame`` by id_col as
    given, so a frame already partitioned by id_col adds no exchange."""
    hx = poly_hash(F.col("s")) if hash_mode == "portable" else F.abs(F.xxhash64("s")) % F.lit(_MERSENNE)
    sh = frame.select(F.col(id_col), F.explode(shingles).alias("s")).select(id_col, hx.alias("x"))
    mins = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_params(k))
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig"))


def band_keys(prefix: str, k: int, bands: int, hash_mode: str = "xxhash"):
    """array<string> of one LSH bucket key per band of the ``sig`` column:
    ``<prefix><band>:`` + xxhash64 of the band's k/bands rows.
    hash_mode='portable' keys by the literal band values instead
    (engine-portable; the DuckDB oracle reproduces it exactly)."""
    r = k // bands
    keys = []
    for b in range(bands):
        band = F.slice("sig", b * r + 1, r).cast("array<string>")
        key = F.array_join(band, "_") if hash_mode == "portable" else F.xxhash64(band).cast("string")
        keys.append(F.concat(F.lit(f"{prefix}{b}:"), key))
    return F.array(*keys)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    max_bucket: int = 500,
    hash_mode: str = "xxhash",
    sigs: DataFrame | None = None,
    shingle: str = "char",
    on_oversized=None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over minhash sigs.

    rows/band = k/bands; bucket key = hash of the band slice; self-join per
    bucket with id_a < id_b; oversized buckets dropped (skew guard, same
    rationale as blocking.cap_block_sizes). Returns (id_a, id_b,
    est_jaccard) where est = fraction of agreeing minhashes.
    hash_mode='portable' additionally keys bands by the literal signature
    values (engine-portable; the DuckDB oracle reproduces it exactly).

    Plan contract: the signature frame is read THREE times (bucket-size
    aggregate, anti-join probe, and both sides of the bucket self-join).
    At scale, materialize it once — ``minhash_signatures(...)`` written
    to parquet or checkpointed — and pass it as ``sigs`` (same k /
    shingle params; ``docs``/``text_col`` are then ignored). Left None,
    the shingle explode + 32-min aggregate is re-evaluated per read —
    fine at sandbox sizes, 3x the dominant cost at 100 TB.
    """
    if sigs is None:
        sigs = minhash_signatures(
            docs, text_col, id_col, k=k, shingle_n=shingle_n, shingle=shingle, hash_mode=hash_mode
        )
        # The plan below reads the signature frame THREE times (bucket-size
        # aggregate, anti-join probe, both sides of the bucket self-join);
        # left lazy, the shingle explode + k-min aggregate — the dominant
        # cost — re-evaluates per read (measured ~3x the operator wall).
        # Materialize the slim (id, sig) frame once within this invocation.
        # Caller-staged ``sigs`` (the documented 100 TB contract) skips this.
        sigs = sigs.localCheckpoint(eager=True)
    bm = sigs.select(
        F.col(id_col).alias("record_id"), "sig", F.explode(band_keys("b", k, bands, hash_mode)).alias("block_key")
    )
    sizes = bm.groupBy("block_key").agg(F.count("*").alias("n")).filter(F.col("n") > max_bucket)
    if on_oversized is not None:
        on_oversized(sizes.count(), max_bucket)
    bm = bm.join(F.broadcast(sizes.select("block_key")), "block_key", "left_anti")
    l = bm.select("block_key", F.col("record_id").alias("id_a"), F.col("sig").alias("sig_a"))
    rr = bm.select("block_key", F.col("record_id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        l.join(rr, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z)).cast("double") / F.lit(
        float(k)
    )
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_mode: str = "xxhash") -> DataFrame:
    """(doc_id, simhash bigint): 64-bit simhash over token xxhash64 values.

    Pure bit-arithmetic plan: explode tokens -> per-bit +/-1 contributions
    via shiftright/bitwise-and -> sum per doc -> sign bits recombined.
    One shuffle (groupBy doc), map-side partial agg.
    hash_mode='portable' swaps the token hash for the 62-bit engine-portable
    polynomial hash and emits a 60-bit simhash (non-negative bigint) so the
    DuckDB oracle reproduces it bit-for-bit.
    """
    width = 60 if hash_mode == "portable" else 64
    tok = docs.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
    hx = poly_hash_wide(F.col("t")) if hash_mode == "portable" else F.xxhash64("t")
    h = tok.select(id_col, hx.alias("h"))
    contribs = [
        F.sum(F.when((F.shiftright(F.col("h"), i) % 2) != 0, 1).otherwise(-1)).alias(f"b{i}") for i in range(width)
    ]
    agg = h.groupBy(id_col).agg(*contribs)
    sim = None
    for i in range(width):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = bit * F.lit(1 << i).cast("bigint") if i < 63 else F.when(F.col(f"b{i}") > 0, F.lit(-(1 << 63)).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_mode: str = "xxhash",
    max_bucket: int = 2000,
    on_oversized=None,
) -> DataFrame:
    """Candidate near-dups: block on 4 x 16-bit simhash chunks (a pair within
    hamming distance 3 must agree on >=1 of 4 chunks — pigeonhole), then
    exact hamming filter via bit_count(xor). Portable mode: 4 x 15-bit
    chunks of the 60-bit portable simhash.

    Chunk buckets larger than ``max_bucket`` are DROPPED (broadcast
    anti-join, same skew guard as minhash_lsh_pairs / cosine_neardup_pairs):
    a boilerplate-heavy corpus — the exact thing simhash targets —
    concentrates hamming-close documents into hot 16-bit chunks, and one
    hot chunk is a squared self-join at corpus scale. A pair of genuinely
    near-identical documents usually agrees on ALL four chunks, so it
    survives unless all four of its buckets are hot. ``on_oversized(
    n_dropped_buckets, max_bucket)`` makes the recall loss observable
    (wire to Catalog.log_metric); default None skips the extra count job.
    """
    cw = 15 if hash_mode == "portable" else 16
    # materialized once: the chunk-key plan below reads it three times
    # (sizes aggregate, anti-join probe, self-join sides) and the token
    # explode + 60/64 per-bit aggregate would re-evaluate per read
    s = simhash(docs, text_col, id_col, hash_mode=hash_mode).localCheckpoint(eager=True)
    chunks = F.array(
        *[
            F.concat(F.lit(f"ch{c}:"), ((F.shiftrightunsigned(F.col("simhash"), c * cw)) % (1 << cw)).cast("string"))
            for c in range(4)
        ]
    )
    bm = s.select(F.col(id_col).alias("record_id"), F.col("simhash"), F.explode(chunks).alias("block_key"))
    sizes = bm.groupBy("block_key").agg(F.count("*").alias("n")).filter(F.col("n") > max_bucket)
    if on_oversized is not None:
        on_oversized(sizes.count(), max_bucket)
    bm = bm.join(F.broadcast(sizes.select("block_key")), "block_key", "left_anti")
    l = bm.select("block_key", F.col("record_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    r = bm.select("block_key", F.col("record_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    pairs = (
        l.join(r, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# exact n-gram Jaccard on blocked candidates
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    candidates: DataFrame | None = None,
    blocking: str = "lsh",
    lsh_k: int = 32,
    lsh_bands: int = 16,
    max_bucket: int = 500,
    hash_mode: str = "xxhash",
    block_tokens: int = 1,
    max_block: int = 1000,
    on_oversized=None,
) -> DataFrame:
    """Exact word-n-gram Jaccard >= threshold over blocked candidates —
    the VERIFY stage of near-dup detection. Returns (id_a, id_b, jaccard).

    Candidate generation (the recall stage), in order of preference:
      * caller-supplied ``candidates`` (id_a, id_b) — e.g. a staged
        ``minhash_lsh_pairs`` output materialized once at 100 TB;
      * ``blocking='lsh'`` (default): minhash banded LSH over the SAME
        word-n-gram shingle set this verify stage compares. With
        lsh_k=32 / lsh_bands=16 (r=2 rows per band) a pair at true
        Jaccard 0.5 collides in >=1 band with p = 1-(1-0.25)^16 ≈ 0.99;
        buckets are capped at ``max_bucket`` — never quadratic;
      * ``blocking='first_token'``: the r1 demo blocking, now CAPPED at
        ``max_block`` members per block — first tokens of prose are
        stopword magnets, and an uncapped 'the' block is a
        near-cartesian product at corpus scale (r4 VERDICT #2).

    Documents with zero tokens are excluded (no grams to compare).
    ``on_oversized(n_dropped, cap)`` reports capped blocks/buckets.
    """
    # materialize the token array once per row (see char_shingles note on
    # lambda-inlined expressions re-evaluating per element)
    t = docs.select(F.col(id_col).alias("record_id"), tokens(F.lower(F.col(text_col))).alias("toks")).filter(
        F.size("toks") >= 1
    )
    d = t.select(
        "record_id",
        word_shingles_from_tokens(F.col("toks"), shingle_n).alias("grams"),
        F.array_join(F.slice("toks", 1, block_tokens), " ").alias("block_key"),
    )
    # the gram frame hydrates BOTH pair sides (and the first_token blocking
    # path reads it twice more); materialize the tokenize+shingle work once
    d = d.localCheckpoint(eager=True)
    if candidates is not None:
        pairs = candidates.select("id_a", "id_b")
    elif blocking == "lsh":
        # zero-token docs have no grams to minhash (and the portable
        # per-char hash is undefined on the empty string) — same exclusion
        # the verify stage applies
        nonempty = docs.filter(F.size(tokens(F.lower(F.col(text_col)))) >= 1)
        pairs = minhash_lsh_pairs(
            nonempty,
            text_col,
            id_col,
            k=lsh_k,
            bands=lsh_bands,
            shingle_n=shingle_n,
            max_bucket=max_bucket,
            hash_mode=hash_mode,
            shingle="word",
            on_oversized=on_oversized,
        ).select("id_a", "id_b")
    elif blocking == "first_token":
        bm = d.select("block_key", "record_id")
        sizes = bm.groupBy("block_key").agg(F.count("*").alias("n")).filter(F.col("n") > max_block)
        if on_oversized is not None:
            on_oversized(sizes.count(), max_block)
        bm = bm.join(F.broadcast(sizes.select("block_key")), "block_key", "left_anti")
        l = bm.select("block_key", F.col("record_id").alias("id_a"))
        r = bm.select("block_key", F.col("record_id").alias("id_b"))
        pairs = l.join(r, "block_key").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    else:
        raise ValueError(f"unknown blocking mode {blocking!r}")
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    ga = d.select(F.col("record_id").alias("id_a"), F.col("grams").alias("g_a"))
    gb = d.select(F.col("record_id").alias("id_b"), F.col("grams").alias("g_b"))
    hyd = pairs.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return hyd.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= min_jaccard)
