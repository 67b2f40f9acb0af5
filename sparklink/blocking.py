"""Blocking: predicate key generation -> inverted (block_key, record_id) map.

The reference's ``deduper.fingerprinter(records)`` emits (block_key, id)
pairs per learned predicate (``mysql_example/mysql_example.py:217-224``;
predicate catalog is the public dedupe ``predicates.py`` family, observed
via ``train()`` at ``csv_example/csv_example.py:134``). Here each predicate
is a pure Column expression producing ``array<string>`` of keys; blocking is

    df.select(id, explode(flatten(array(pred_1, ..., pred_k)))) -> distinct

i.e. one narrow projection + one explode — no Python, no shuffle until the
dedup/candidate join. Keys are namespaced ``"<pid>:<key>"`` so different
predicates never collide (same convention as dedupe's fingerprinter).

Scale controls (BASELINE.json north_rule: "skew handled explicitly"):
- ``cap_block_sizes``: drop oversized blocks before the self-join squares
  them (dedupe drops oversized blocks internally [lib]).
- Index predicates (TF-IDF canopy, minhash bands; SURVEY.md §2.3) derive
  from one shared token-stats frame: ``partitioned_token_stats`` ->
  ``record_token_vocab`` -> ``tfidf_canopy_keys_from_vocab``, and
  ``minhash_band_keys_from_tokens`` over the same token arrays. A corpus
  is tokenized only there, through ``SparkDedupe._token_stats``, whose
  memo also feeds every corpus-side tf-idf payload (batch scoring, fit,
  record linkage, the gazetteer index); ``token_tf`` is the lazy tf of a
  gazetteer batch.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklink.dedup import band_keys, kmin_signatures, word_shingles_from_tokens
from sparklink.preprocess import tokens
from sparklink.session import session_expr

# --------------------------------------------------------------------------
# Predicate catalog (dedupe predicates.py family, re-expressed as Columns)
# --------------------------------------------------------------------------


def _nonnull_array(*items: Column) -> Column:
    return F.filter(F.array(*items), lambda x: x.isNotNull() & (x != ""))


def whole_field(col: Column) -> Column:
    return _nonnull_array(col)


def token_field(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def first_token(col: Column) -> Column:
    return _nonnull_array(F.element_at(tokens(col), 1))


def first_two_tokens(col: Column) -> Column:
    return _nonnull_array(F.array_join(F.slice(tokens(col), 1, 2), " "))


def first_n_chars(col: Column, n: int) -> Column:
    return _nonnull_array(F.substring(col, 1, n))


def char_ngrams(col: Column, n: int) -> Column:
    """Distinct character n-grams via sequence+transform (no UDF)."""
    c = F.regexp_replace(col, r"\s+", "")
    return F.when(F.length(c) < n, _nonnull_array(c)).otherwise(
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.length(c) - (n - 1)), lambda i: c.substr(i, F.lit(n)))
        )
    )


def common_integers(col: Column) -> Column:
    return F.array_distinct(F.regexp_extract_all(col, F.lit(r"\d+"), 0))


def sorted_acronym(col: Column) -> Column:
    return _nonnull_array(
        F.array_join(F.array_sort(F.transform(tokens(col), lambda t: F.substring(t, 1, 1))), "")
    )


def array_field(col: Column) -> Column:
    """Each element of an array column is a key (Set fields / tools)."""
    return F.array_distinct(col)


def exact_hash(col: Column) -> Column:
    """md5 of the whole field — equality blocking for long text."""
    return _nonnull_array(F.md5(col))


@dataclass(frozen=True)
class Predicate:
    """A named blocking predicate over one record column."""

    pid: str
    column: str
    keys: Callable[[Column], Column]

    def expr(self) -> Column:
        ks = self.keys(F.col(self.column))
        ks = F.coalesce(ks, F.array())
        return F.transform(ks, lambda k: F.concat(F.lit(self.pid + ":"), k))


# --------------------------------------------------------------------------
# Blocking map builder
# --------------------------------------------------------------------------


def block_keys_column(predicates: list[Predicate]) -> Column:
    # array_distinct makes the per-record key set unique BEFORE the explode:
    # the (block_key, record_id) relation is then distinct by construction
    # (keys can only repeat within one record — across records the
    # record_id differs), so no global dropDuplicates shuffle is needed
    # downstream (guide §2.4: remove shuffles outright). Per-predicate key
    # arrays are already distinct for every predicate in the catalog; the
    # array_distinct also guards custom predicates and cross-predicate
    # pid collisions at per-row cost instead of a full exchange.
    return F.array_distinct(F.flatten(F.array(*[p.expr() for p in predicates])))


def build_blocking_map(records: DataFrame, predicates: list[Predicate], id_col: str = "conv_id") -> DataFrame:
    """records -> (block_key, record_id), the reference's ``blocking_map``
    table (mysql_example/mysql_example.py:190-196). Uniqueness mirrors its
    UNIQUE INDEX (mysql_example/mysql_example.py:233-234) and is enforced
    per row (array_distinct in block_keys_column) rather than with a
    global dropDuplicates — one less full shuffle of the map, identical
    relation."""
    preds = tuple(predicates)
    return records.select(
        *session_expr(
            ("blocking_map", preds, id_col),
            lambda: [F.col(id_col).alias("record_id"), F.explode(block_keys_column(preds)).alias("block_key")],
        )
    )


def blocking_stats(blocking_map: DataFrame, key_col: str = "block_key", id_col: str = "record_id") -> DataFrame:
    """Per-predicate blocking report: how many keys each predicate emits,
    how many (key, record) entries, the largest block, and the candidate
    pairs the predicate implies (sum over blocks of n*(n-1)/2) — the
    numbers a user reads before letting a predicate loose on 100 TB (the
    reference tunes predicates by eyeballing exactly these counts on the
    blocking_map table, mysql_example/mysql_example.py:190-234).

    Predicate = the namespace prefix ``build_blocking_map`` bakes into
    every key (``<pid>:<value>``). Two map-side-combining aggregations
    (per key, then per namespace) — no driver-side state at any scale;
    pair counts use integer arithmetic (n DIV 2 after n*(n-1)) so they
    stay exact past 2^53 where doubles would drift."""
    per_key = blocking_map.groupBy(key_col).agg(F.count(id_col).alias("n"))
    return (
        per_key.withColumn("predicate", F.split_part(F.col(key_col), F.lit(":"), F.lit(1)))
        .groupBy("predicate")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("n").alias("n_entries"),
            F.max("n").alias("max_block"),
            F.sum(F.expr("n * (n - 1) DIV 2")).alias("n_candidate_pairs"),
        )
    )


# --------------------------------------------------------------------------
# Shared token-stats frame: canopy keys, minhash band keys, and the
# scorer's tf-idf vectors all derive from ONE token explode + aggregation
# (r1 bench: three separate explode jobs over the same conv_text were 56%
# of pipeline wall time; this collapses them into one shared shuffle)
# --------------------------------------------------------------------------


def token_tf(records: DataFrame, column: str, id_col: str = "conv_id") -> DataFrame:
    """(record_id, token, tf), tokenized like :func:`partitioned_token_stats`
    but lazy and exploded straight from ``column``: the tf frame of a
    gazetteer batch, which needs no token array and no persisted layout."""
    c = _token_columns(column, id_col)
    return records.select(c.record_id, c.token).groupBy(*c.tf_keys).agg(c.tf)


class _TokenColumns(NamedTuple):
    record_id: Column
    toks: Column  # the lowercased token array
    token: Column  # the same tokens exploded straight from the column
    toks_token: Column  # the token array exploded
    tf_keys: list[Column]  # (record_id, token)
    tf: Column
    df: Column


def _token_columns(column: str, id_col: str) -> _TokenColumns:
    """The expressions of the token-stats builders, built once per session.

    Lowercases before tokenizing: tokens() splits on [^0-9a-z]+, so
    uppercase letters would act as separators and mangle tokens/shingles
    for any caller whose column is not pre-lowercased (r2 ADVICE — the
    pipeline's conv_text happens to be lowered by clean_text, which masked
    this for other callers). Idempotent on already-lowered input."""

    def build() -> _TokenColumns:
        toks = tokens(F.lower(F.col(column)))
        return _TokenColumns(
            F.col(id_col).alias("record_id"),
            toks.alias("toks"),
            F.explode(toks).alias("token"),
            F.explode("toks").alias("token"),
            [F.col("record_id"), F.col("token")],
            F.count("*").alias("tf"),
            F.count("*").alias("df"),
        )

    return session_expr(("token_stats", column, id_col), build)


def partitioned_token_stats(
    records: DataFrame, column: str, id_col: str = "conv_id"
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """ONE tokenization of a corpus column -> (toks, tf, dfreq, n_docs):
    toks(record_id, toks array<string>), the ordered token array shingle
    builders derive from; tf(record_id, token, tf); dfreq(token, df); and
    the corpus size. toks and tf are persisted HASH-PARTITIONED BY
    record_id and eagerly materialized; dfreq stays lazy over the
    persisted tf. SparkDedupe._token_stats is its one caller.

    Partitioning the token arrays BEFORE the explode means the
    (record, token) tf aggregate, the per-record vocab collect
    (record_token_vocab) and the minhash band k-min aggregate all satisfy
    their clustered distributions from the cache and add no exchange:
    the one exchange moves ~n_records array rows instead of shuffling the
    exploded token rows (~30-200x more of them) once per consumer. The
    eager counts matter — an unmaterialized AQE-cached plan reports
    unknown partitioning, and consumers planned against it would
    re-insert the exchanges. toks holds one row per record, so its count
    is the corpus size. Callers own unpersisting toks and tf.
    """
    c = _token_columns(column, id_col)
    toks = records.select(c.record_id, c.toks).repartition("record_id")
    toks = toks.persist()
    n_docs = toks.count()
    tf = toks.select(c.tf_keys[0], c.toks_token).groupBy(*c.tf_keys).agg(c.tf)
    tf = tf.persist()
    tf.count()
    return toks, tf, tf.groupBy("token").agg(c.df), n_docs


def record_token_vocab(tf: DataFrame, dfreq: DataFrame) -> DataFrame:
    """(record_id, vocab array<struct<token,tf,df>>): each record's token
    stats collected into ONE row — the shared base for canopy keys and the
    scorer's tf-idf arrays, which both rank it with :func:`ranked_vocab`.

    Why: both consumers rank a record's tokens by tf*idf, which the r1-r5
    shape did with a window (partitionBy record_id + sort) EACH — two
    full shuffles + sorts of the (record, token) frame. Collecting once
    per record (one exchange, hash aggregate, no sort) and ranking
    array-side replaces both (guide §2.4: operations keyed the same way
    share one exchange). Selection and weights are bit-identical: the
    array comparator replicates the windows' (w desc, token asc) order.

    ``dfreq`` is joined as given: callers pass it broadcast-hinted
    (``F.broadcast``), so the (record, token) side is never shuffled for
    the join. A caller that probes the same dfreq repeatedly hints it once.
    """
    record_id, vocab = session_expr(
        ("token_vocab",), lambda: (F.col("record_id"), F.collect_list(F.struct("token", "tf", "df")).alias("vocab"))
    )
    return tf.join(dfreq, "token").groupBy(record_id).agg(vocab)


def ranked_vocab(n_docs: int, max_df_frac: float) -> Column:
    """The ``vocab`` column's tokens with df <= max_df_frac*n_docs as
    array<struct<token, w>>, w = tf*log((n_docs+1)/(df+1)), sorted by
    (w desc, token asc) — the one tf-idf ranking behind canopy keys and
    the scorer's tf-idf arrays. Tokens above the df cut are stop-worded
    out: they would create huge, useless blocks and carry near-zero idf."""
    max_df = int(max(1, max_df_frac * n_docs))
    eligible = F.filter("vocab", lambda s: s["df"] <= max_df)
    wt = F.transform(
        eligible,
        lambda s: F.struct(
            s["token"].alias("token"),
            (s["tf"] * F.log(F.lit(float(n_docs + 1)) / (s["df"] + 1.0))).alias("w"),
        ),
    )
    return F.array_sort(
        wt,
        lambda a, b: F.when(a["w"] > b["w"], -1)
        .when(a["w"] < b["w"], 1)
        .otherwise(F.when(a["token"] < b["token"], -1).when(a["token"] > b["token"], 1).otherwise(0)),
    )


def tfidf_canopy_keys_from_vocab(
    vocab: DataFrame,
    n_docs: int,
    column_label: str,
    top_m: int = 3,
    max_df_frac: float = 0.2,
) -> DataFrame:
    """Per-record canopy keys = its top_m :func:`ranked_vocab` tokens
    (no window, no new shuffle). Mirrors dedupe's TfidfTextCanopyPredicate
    index build (mysql_example/mysql_example.py:202-211 [lib]).
    Returns (record_id, block_key)."""
    keys = F.transform(
        F.slice(ranked_vocab(n_docs, max_df_frac), 1, top_m),
        lambda s: F.concat(F.lit(f"canopy({column_label})"), F.lit(":"), s["token"]),
    )
    return vocab.select("record_id", F.explode(keys).alias("block_key"))


def minhash_band_keys_from_tokens(
    toks: DataFrame, k: int = 32, bands: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash band keys over word n-gram shingles of the shared token-array
    frame (``toks`` of partitioned_token_stats): records agreeing on any
    band of their signature share a key. The recall backstop for noisy
    text where token/prefix predicates miss (scattered word drops/typos):
    with k=32, bands=8 (r=4), a pair at word-shingle Jaccard 0.7 bands
    together with p≈0.89 while random pairs rarely collide. This is
    dedupe's LSH index-predicate idea [lib] on the signature and band key
    of dedup.minhash_lsh_pairs.

    Groups ``toks`` as given: over the persisted record-partitioned frame
    the k-min aggregate adds no exchange.

    Word-shingle (not token-set) minhash is deliberate: token-set bands at
    equal (k, bands) collide far more readily — measured 5.8x the candidate
    pairs at the bench corpus for the same F1 — so shingles are the right
    precision point for the recall-backstop role; the cost of their explode
    is small once the token array is already materialized.
    Returns (record_id, block_key).
    """
    sigs = kmin_signatures(toks, "record_id", word_shingles_from_tokens(F.col("toks"), shingle_n), k)
    # one band key per (record, band) with a distinct 'mh<band>:' prefix —
    # the (block_key, record_id) relation is distinct by construction, so
    # the former dropDuplicates was a no-op shuffle (guide §2.4)
    return sigs.select(F.col("record_id"), F.explode(band_keys("mh", k, bands)).alias("block_key"))


# --------------------------------------------------------------------------
# Skew control
# --------------------------------------------------------------------------


def cap_block_sizes(blocking_map: DataFrame, max_block_size: int = 200) -> DataFrame:
    """Drop blocks larger than max_block_size (a block of size s yields
    s*(s-1)/2 pairs; one hot key — a ubiquitous token — squares the join).
    dedupe applies the same internal guard [lib]; the north_rule requires it
    explicitly. The oversize list is tiny -> broadcast anti-join.

    Plan contract: the input is read TWICE (the sizes aggregate and the
    anti-join probe). Callers whose map is an expensive plan should
    persist/stage it first (pipeline.blocking_map does). This shape is
    deliberate over a count-over-window filter: the groupBy combines
    map-side so a degenerate hot key never ships its rows to one task,
    whereas a window would shuffle the entire hot block to a single
    partition — the exact skew this cap exists to remove."""
    n, too_big = session_expr(
        ("block_cap", max_block_size), lambda: (F.count("*").alias("n"), F.col("n") > max_block_size)
    )
    oversized = blocking_map.groupBy("block_key").agg(n).filter(too_big).select("block_key")
    return blocking_map.join(F.broadcast(oversized), "block_key", "left_anti")
