"""Driver-contract query catalog: Spark implementations + DuckDB oracles.

Each entry exercises one operator family from SURVEY.md §2 (or a
training-data op) at ``sf_dir``. The oracle SQL is ANSI DuckDB over the
same parquet views. Rules for hash-parity with the driver's comparator:

- every computed column aliased identically in both engines;
- float outputs either derived from integer arithmetic (money as cents
  BIGINT) or ``round(x, 6)`` applied identically in both engines;
- deterministic top-k: explicit tiebreak column in every ORDER BY/rank.

The ER entries run over a *derived transcripts view* built
deterministically from ``documents`` (conv of 4 turns per 4 docs) so that
DuckDB can replicate it exactly — the engine's own synthetic fixtures
(synth.py) are used in pytest where no SQL oracle is required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparklink import ann, dedup, textops
from sparklink.blocking import (
    Predicate,
    blocking_stats,
    build_blocking_map,
    common_integers,
    first_n_chars,
    first_token,
    sorted_acronym,
)
from sparklink.canonicalize import canonicalize
from sparklink.pairs import candidate_pairs


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("bigint")


# ===========================================================================
# derived transcripts view (deterministic from documents; both engines)
# ===========================================================================

DERIVED_TRANSCRIPTS_SQL = """
    SELECT 'c' || lpad(CAST(doc_id // 4 AS VARCHAR), 7, '0') AS conv_id,
           CAST(doc_id % 4 AS INTEGER)                        AS turn_idx,
           CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           text                                               AS text,
           CASE WHEN doc_id % 7 = 0 THEN 'search'
                WHEN doc_id % 7 = 3 THEN 'db_query' END       AS tool,
           CAST(NULL AS TIMESTAMP)                            AS ts
    FROM documents
"""

# cleaned per-turn text (must mirror sparklink.preprocess.clean_text on this
# ASCII corpus: strip newline/quote chars, collapse runs of spaces, lower,
# trim, ''->NULL; accent folding is a no-op here)
DUCK_CLEAN = (
    "nullif(lower(trim(regexp_replace(regexp_replace({c}, '[\\n\\r\"'']+', ' ', 'g'),"
    " '\\s{{2,}}', ' ', 'g'))), '')"
)

DUCK_TOKENS = "list_filter(string_split_regex({c}, '[^0-9a-z]+'), t -> t <> '')"

DUCK_RECORDS_CTE = f"""
WITH transcripts AS ({DERIVED_TRANSCRIPTS_SQL}),
cleaned AS (
    SELECT conv_id, turn_idx, role, {DUCK_CLEAN.format(c="text")} AS ctext
    FROM transcripts
),
records AS (
    SELECT conv_id,
           count(*)                                            AS n_turns,
           string_agg(ctext, ' ' ORDER BY turn_idx)            AS conv_text,
           arg_min(ctext, turn_idx) FILTER (role = 'user')     AS first_user_text
    FROM cleaned
    GROUP BY conv_id
)
"""


def derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("c"), F.lpad(F.floor(F.col("doc_id") / 4).cast("bigint").cast("string"), 7, "0")).alias(
            "conv_id"
        ),
        (F.col("doc_id") % 4).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, "search").when(F.col("doc_id") % 7 == 3, "db_query").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def er_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eagerly materialized: most consumers reference the records frame
    # several times (blocking map self-join sides, both hydration sides),
    # and left lazy the canonicalize window+aggregate re-evaluates per
    # reference — measured 2-4x the query wall for er_candidate_pairs /
    # er_pair_scores (guide §5: localCheckpoint to cut repeated subtrees)
    return (
        canonicalize(derived_transcripts(spark, sf_dir))
        .select("conv_id", "n_turns", "conv_text", "first_user_text", "n_tokens")
        .localCheckpoint(eager=True)
    )


ER_PREDICATES = [
    Predicate("ft", "first_user_text", first_token),
    Predicate("p6", "first_user_text", lambda c: first_n_chars(c, 6)),
    Predicate("ac", "first_user_text", sorted_acronym),
    Predicate("nm", "conv_text", common_integers),
]

DUCK_BLOCKKEYS_CTE = (
    DUCK_RECORDS_CTE
    + f""",
toks AS (SELECT conv_id, {DUCK_TOKENS.format(c="first_user_text")} AS ts FROM records),
bk AS (
    SELECT 'ft:' || ts[1] AS block_key, conv_id AS record_id FROM toks WHERE len(ts) >= 1
    UNION
    SELECT 'p6:' || substr(first_user_text, 1, 6), conv_id FROM records
        WHERE first_user_text IS NOT NULL AND substr(first_user_text, 1, 6) <> ''
    UNION
    SELECT 'ac:' || array_to_string(list_sort(list_transform(ts, t -> substr(t, 1, 1))), ''), conv_id
        FROM toks WHERE len(ts) >= 1
    UNION
    SELECT 'nm:' || n, conv_id
        FROM (SELECT conv_id, unnest(list_distinct(regexp_extract_all(conv_text, '\\d+'))) AS n FROM records)
        WHERE n <> ''
)
"""
)


# ===========================================================================
# query registry
# ===========================================================================

QUERIES: dict = {}
ORACLES: dict = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --- ER pipeline stages (oracle-checked) -----------------------------------


@q(
    "er_canonicalize",
    DUCK_RECORDS_CTE
    + f"""
SELECT conv_id, n_turns, conv_text, first_user_text,
       len({DUCK_TOKENS.format(c="conv_text")}) AS n_tokens
FROM records
""",
)
def er_canonicalize(spark, sf_dir):
    """Canonicalization: stable (conv_id, turn_idx) ordered aggregation
    (SURVEY §1.2; csv_example readData+preProcess analogue)."""
    return er_records(spark, sf_dir)


@q(
    "er_block_keys",
    DUCK_BLOCKKEYS_CTE + "SELECT block_key, record_id FROM bk",
)
def er_block_keys(spark, sf_dir):
    """Predicate blocking: fingerprinter -> (block_key, record_id)
    (mysql_example/mysql_example.py:217-224)."""
    return build_blocking_map(er_records(spark, sf_dir), ER_PREDICATES)


@q(
    "er_blocking_stats",
    DUCK_BLOCKKEYS_CTE
    + """,
per_key AS (
    SELECT split_part(block_key, ':', 1) AS predicate, block_key, count(*) AS n
    FROM bk GROUP BY 1, 2
)
SELECT predicate,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_entries,
       CAST(max(n) AS BIGINT) AS max_block,
       CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_candidate_pairs
FROM per_key GROUP BY predicate
""",
)
def er_blocking_stats(spark, sf_dir):
    """Per-predicate blocking report (key/entry/max-block/implied-pair
    counts) — the tuning numbers the reference reads off its blocking_map
    table (mysql_example/mysql_example.py:190-234)."""
    return blocking_stats(er_block_keys(spark, sf_dir))


@q(
    "er_candidate_pairs",
    DUCK_BLOCKKEYS_CTE
    + """
SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
FROM bk l JOIN bk r USING (block_key)
WHERE l.record_id < r.record_id
""",
)
def er_candidate_pairs(spark, sf_dir):
    """Blocked self-join with l<r + DISTINCT
    (mysql_example/mysql_example.py:256-260)."""
    # the self-join reads the blocking map twice; materialize the
    # predicate-explode once instead of evaluating it per side
    return candidate_pairs(er_block_keys(spark, sf_dir).localCheckpoint(eager=True))


@q(
    "er_pair_scores",
    DUCK_BLOCKKEYS_CTE
    + f""",
pairs AS (
    SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
    FROM bk l JOIN bk r USING (block_key)
    WHERE l.record_id < r.record_id
),
feat AS (SELECT conv_id, list_distinct({DUCK_TOKENS.format(c="conv_text")}) AS tokset, n_turns FROM records)
SELECT p.id_a, p.id_b,
       round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
             / nullif(len(list_distinct(a.tokset || b.tokset)), 0), 6) AS token_jaccard,
       CAST(a.n_turns = b.n_turns AS INTEGER)                          AS same_turns
FROM pairs p JOIN feat a ON p.id_a = a.conv_id JOIN feat b ON p.id_b = b.conv_id
""",
)
def er_pair_scores(spark, sf_dir):
    """Deterministic pair features (the SQL-expressible slice of the scorer:
    Set-style Jaccard + Exact comparators, SURVEY §2.6)."""
    from sparklink.preprocess import tokens

    recs = er_records(spark, sf_dir)
    feat = recs.select(
        F.col("conv_id"),
        F.array_distinct(tokens(F.col("conv_text"))).alias("tokset"),
        F.col("n_turns"),
    )
    pairs = candidate_pairs(build_blocking_map(recs, ER_PREDICATES).localCheckpoint(eager=True))
    a = feat.select(F.col("conv_id").alias("id_a"), F.col("tokset").alias("ts_a"), F.col("n_turns").alias("nt_a"))
    b = feat.select(F.col("conv_id").alias("id_b"), F.col("tokset").alias("ts_b"), F.col("n_turns").alias("nt_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("ts_a", "ts_b")).cast("double")
    union = F.size(F.array_union("ts_a", "ts_b"))
    return j.select(
        "id_a",
        "id_b",
        F.round(inter / F.nullif(union.cast("double"), F.lit(0.0)), 6).alias("token_jaccard"),
        (F.col("nt_a") == F.col("nt_b")).cast("int").alias("same_turns"),
    )


@q(
    "er_most_uncertain",
    DUCK_BLOCKKEYS_CTE
    + f""",
pairs AS (
    SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
    FROM bk l JOIN bk r USING (block_key)
    WHERE l.record_id < r.record_id
),
feat AS (SELECT conv_id, list_distinct({DUCK_TOKENS.format(c="conv_text")}) AS tokset, n_turns FROM records),
sc AS (
    SELECT p.id_a, p.id_b,
           round(1.0 / (1.0 + exp(-(3.0 * coalesce(round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                 / nullif(len(list_distinct(a.tokset || b.tokset)), 0), 6), 0.0)
                 + 0.75 * CAST(a.n_turns = b.n_turns AS INTEGER) - 2.0))), 6) AS score
    FROM pairs p JOIN feat a ON p.id_a = a.conv_id JOIN feat b ON p.id_b = b.conv_id
)
SELECT id_a, id_b, score, round(abs(score - 0.5), 6) AS uncertainty FROM sc
ORDER BY abs(score - 0.5) ASC, id_a ASC, id_b ASC LIMIT 10
""",
)
def er_most_uncertain(spark, sf_dir):
    """Active-learning uncertainty sampling (learn.most_uncertain — the
    console_label surface, csv_example/csv_example.py:130 [lib]) over the
    SQL-expressible scorer slice: a fixed-weight LR on (token_jaccard,
    same_turns) picks the 10 pairs closest to P=0.5. Score rounded to 6dp
    BEFORE ranking so the DuckDB oracle reproduces the top-k exactly."""
    from sparklink.learn import most_uncertain

    sp = er_pair_scores(spark, sf_dir)
    z = (
        F.lit(3.0) * F.coalesce(F.col("token_jaccard"), F.lit(0.0))
        + F.lit(0.75) * F.col("same_turns")
        - F.lit(2.0)
    )
    scored = sp.select("id_a", "id_b", F.round(1.0 / (1.0 + F.exp(-z)), 6).alias("score"))
    u = most_uncertain(scored, n=10)
    return u.select("id_a", "id_b", "score", F.round("uncertainty", 6).alias("uncertainty"))


@q(
    "er_exact_entity_map",
    DUCK_RECORDS_CTE
    + """
, h AS (SELECT conv_id, md5(conv_text) AS hh FROM records)
SELECT h.conv_id AS record_id, g.canon_id, g.group_size
FROM h JOIN (SELECT hh, min(conv_id) AS canon_id, count(*) AS group_size FROM h GROUP BY hh) g USING (hh)
""",
)
def er_exact_entity_map(spark, sf_dir):
    """Exact-equality clustering with canon = min(id) — the entity_map
    convention (mysql_example/mysql_example.py:45-50,283-287)."""
    recs = er_records(spark, sf_dir)
    h = recs.select(F.col("conv_id"), F.md5("conv_text").alias("hh"))
    h = h.localCheckpoint(eager=True)  # read by both the group agg and the join
    g = h.groupBy("hh").agg(F.min("conv_id").alias("canon_id"), F.count("*").alias("group_size"))
    return h.join(g, "hh").select(F.col("conv_id").alias("record_id"), "canon_id", "group_size")


# --- reference-shape analytics (SURVEY §2.4/2.5) ---------------------------


@q(
    "q_top_entities",
    """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_cents DESC, c.c_custkey ASC
LIMIT 10
""",
)
def q_top_entities(spark, sf_dir):
    """Aggregate-then-join top-k — the payoff query
    (mysql_example/mysql_example.py:324-336)."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("total_cents"), F.asc("c_custkey"))
        .limit(10)
    )


@q(
    "er_pair_levenshtein",
    DUCK_BLOCKKEYS_CTE
    + """,
pairs AS (
    SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
    FROM bk l JOIN bk r USING (block_key)
    WHERE l.record_id < r.record_id
),
t AS (SELECT conv_id, substr(coalesce(first_user_text, ''), 1, 64) AS t64 FROM records)
SELECT p.id_a, p.id_b,
       round(CAST(levenshtein(a.t64, b.t64) AS DOUBLE)
             / greatest(length(a.t64), length(b.t64), 1), 6) AS lev_dist
FROM pairs p JOIN t a ON p.id_a = a.conv_id JOIN t b ON p.id_b = b.conv_id
""",
)
def er_pair_levenshtein(spark, sf_dir):
    """Cross-engine validation of the production ``kind='levenshtein'``
    comparator (distances.levenshtein_distance): the normalized edit
    distance of every blocked candidate pair's first_user_text must
    hash-match DuckDB's native levenshtein()/max(len) over the same
    64-char prefixes, NULL read as ''."""
    from sparklink.distances import levenshtein_distance

    recs = er_records(spark, sf_dir)
    pairs = candidate_pairs(build_blocking_map(recs, ER_PREDICATES).localCheckpoint(eager=True))
    a = recs.select(F.col("conv_id").alias("id_a"), F.col("first_user_text").alias("ta"))
    b = recs.select(F.col("conv_id").alias("id_b"), F.col("first_user_text").alias("tb"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    return j.select("id_a", "id_b", F.round(levenshtein_distance(F.col("ta"), F.col("tb")), 6).alias("lev_dist"))


@q(
    "q_money_format",
    """
WITH t AS (
    SELECT c.c_custkey,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY total_cents DESC, c.c_custkey ASC
    LIMIT 10
)
SELECT c_custkey,
       format('{:,}', total_cents // 100) || '.' || lpad(CAST(total_cents % 100 AS VARCHAR), 2, '0')
           AS total_display
FROM t
""",
)
def q_money_format(spark, sf_dir):
    """Currency/locale display formatting (SURVEY §2.2 'currency format';
    the reference prints payoff totals, mysql_example/mysql_example.py:
    330-358). Built from integer cents so the grouped string is exact and
    identical in the DuckDB oracle."""
    from sparklink.sinks import money_display

    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    top = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"))
        .orderBy(F.desc("total_cents"), F.asc("c_custkey"))
        .limit(10)
    )
    return top.select("c_custkey", money_display("total_cents").alias("total_display"))


@q(
    "q_group_agg",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)      AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_group_agg(spark, sf_dir):
    """Partial+final hash aggregation with pushed-down filter (GROUP BY SUM,
    mysql_example/mysql_example.py:328-332)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
            F.count("*").alias("n_rows"),
        )
    )


@q("q_distinct", "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")
def q_distinct(spark, sf_dir):
    """SELECT DISTINCT (donors dedup, mysql_example/mysql_init_db.py:134-143)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@q(
    "q_multikey_join",
    """
SELECT o.o_orderkey, c.c_name, n.n_name, CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
""",
)
def q_multikey_join(spark, sf_dir):
    """Chained equi-joins + filter (raw->donors multi-key join shape,
    mysql_example/mysql_init_db.py:187-208); nation is broadcast-size."""
    o, c, n = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "c_name", "n_name", _cents(F.col("o_totalprice")).alias("price_cents"))
    )


@q(
    "q_outer_coalesce",
    """
SELECT c.c_custkey,
       coalesce(a.n_orders, 0) AS n_orders,
       coalesce(a.total_cents, 0) AS total_cents
FROM customer c
LEFT JOIN (
    SELECT o_custkey, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders GROUP BY o_custkey
) a ON c.c_custkey = a.o_custkey
""",
)
def q_outer_coalesce(spark, sf_dir):
    """Right-outer + COALESCE: every record gets a value; singletons their
    own (entity_map pattern, mysql_example/mysql_example.py:316-322)."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    a = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"), F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"))
    return c.join(a, c.c_custkey == a.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("total_cents"), F.lit(0)).alias("total_cents"),
    )


@q(
    "q_anti_join",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def q_anti_join(spark, sf_dir):
    """Anti-join (unmatched gazetteer rows,
    gazetteer_example/gazetteer_postgres_example.py:331-345)."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "q_window_topn",
    """
SELECT o_custkey, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, rn AS rank
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
) WHERE rn <= 2
""",
)
def q_window_topn(spark, sf_dir):
    """Window top-n per key (gazetteer search n_matches=2,
    gazetteer_example/gazetteer_example.py:159)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("o_custkey", "o_orderkey", _cents(F.col("o_totalprice")).alias("price_cents"), "rank")
    )


@q(
    "q_events_daily",
    """
SELECT date_trunc('day', ts) AS day, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY date_trunc('day', ts), event_type
""",
)
def q_events_daily(spark, sf_dir):
    """Time-bucketed aggregation over the event stream table (batch form of
    the streaming rollup; SURVEY §2.5 note)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type").agg(
        F.count("*").alias("n_events"), F.sum(_cents(F.col("value"))).alias("value_cents")
    )


# --- training-data ops ------------------------------------------------------


@q(
    "dedup_exact",
    """
WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents)
SELECT h.doc_id, g.canon_id, g.group_size
FROM h JOIN (SELECT hh, min(doc_id) AS canon_id, count(*) AS group_size FROM h GROUP BY hh) g USING (hh)
""",
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


def _duck_ngram_lsh_sql(shingle_n: int = 3, min_jaccard: float = 0.5, k: int = 32, bands: int = 16, max_bucket: int = 500) -> str:
    """DuckDB oracle for the COMPOSED near-dup path (r4 VERDICT #2):
    minhash banded LSH over word n-gram shingles (recall stage, capped
    buckets) + exact word-n-gram Jaccard on the candidates (verify stage)
    — identical shingling, polynomial hash, permutations, band keys, and
    Jaccard arithmetic to ngram_jaccard_pairs(blocking='lsh',
    hash_mode='portable')."""
    from sparklink.dedup import _MERSENNE, _perm_params
    from sparklink.portable import duck_poly

    r = k // bands
    sig_items = ", ".join(f"list_min(list_transform(xs, x -> (x*{a}+{b}) % {_MERSENNE}))" for a, b in _perm_params(k))
    band_items = ", ".join(
        "'b{b}:' || {key}".format(b=b, key=" || '_' || ".join(f"sig[{b * r + 1 + j}]" for j in range(r)))
        for b in range(bands)
    )
    lo = shingle_n - 1
    return f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS.format(c="lower(text)")} AS ts FROM documents
),
grams AS (
    SELECT doc_id,
           list_distinct([array_to_string(ts[i:i+{lo}], ' ') for i in range(1, greatest(len(ts) - {lo}, 1) + 1)]) AS gs
    FROM toks WHERE len(ts) >= 1
),
hx AS (SELECT doc_id, list_transform(gs, s -> {duck_poly('s')}) AS xs FROM grams),
sig AS (SELECT doc_id, [{sig_items}] AS sig FROM hx),
bm AS (SELECT doc_id, unnest([{band_items}]) AS block_key FROM sig),
ok AS (SELECT block_key FROM bm GROUP BY block_key HAVING count(*) <= {max_bucket}),
bmf AS (SELECT bm.doc_id, bm.block_key FROM bm JOIN ok USING (block_key)),
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bmf l JOIN bmf r USING (block_key) WHERE l.doc_id < r.doc_id)
SELECT p.id_a, p.id_b,
       round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / nullif(len(list_distinct(a.gs || b.gs)), 0), 6) AS jaccard
FROM pairs p JOIN grams a ON p.id_a = a.doc_id JOIN grams b ON p.id_b = b.doc_id
WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      / nullif(len(list_distinct(a.gs || b.gs)), 0) >= {min_jaccard}
"""


@q("dedup_ngram_jaccard", _duck_ngram_lsh_sql())
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard VERIFY over minhash-LSH RECALL candidates
    (the composed path, r4 VERDICT #2): the LSH stage minhashes the SAME
    word-gram shingle set the verify stage compares (r=2 rows/band -> a
    J=0.5 pair collides with p≈0.99), buckets capped; exact Jaccard runs
    only on candidates — never a first-token stopword block."""
    out = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), min_jaccard=0.5, blocking="lsh", hash_mode="portable"
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _duck_minhash_sql(k: int = 32, bands: int = 8, shingle_n: int = 5, max_bucket: int = 500) -> str:
    """DuckDB oracle for minhash_lsh_pairs(hash_mode='portable'): identical
    shingling, polynomial hash, (a*x+b) mod p permutations, band keys,
    bucket cap, and est_jaccard — integer arithmetic end to end."""
    from sparklink.dedup import _MERSENNE, _perm_params
    from sparklink.portable import duck_poly

    r = k // bands
    sig_items = ", ".join(f"list_min(list_transform(xs, x -> (x*{a}+{b}) % {_MERSENNE}))" for a, b in _perm_params(k))
    band_items = ", ".join(
        "'b{b}:' || {key}".format(b=b, key=" || '_' || ".join(f"sig[{b * r + 1 + j}]" for j in range(r)))
        for b in range(bands)
    )
    lo = shingle_n - 1
    return f"""
WITH d AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS c FROM documents),
sh AS (SELECT doc_id, CASE WHEN length(c) < {shingle_n} THEN [c]
        ELSE list_distinct(list_transform(range(1, length(c)-{lo - 1}), i -> substr(c, CAST(i AS INT), {shingle_n}))) END AS ss FROM d),
hx AS (SELECT doc_id, list_transform(ss, s -> {duck_poly('s')}) AS xs FROM sh),
sig AS (SELECT doc_id, [{sig_items}] AS sig FROM hx),
bm AS (SELECT doc_id, unnest([{band_items}]) AS block_key FROM sig),
ok AS (SELECT block_key FROM bm GROUP BY block_key HAVING count(*) <= {max_bucket}),
bmf AS (SELECT bm.doc_id, bm.block_key FROM bm JOIN ok USING (block_key)),
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bmf l JOIN bmf r USING (block_key) WHERE l.doc_id < r.doc_id),
ws AS (SELECT p.id_a, p.id_b, a.sig AS sa, b.sig AS sb
       FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id)
SELECT id_a, id_b,
       round(CAST(len(list_filter(range(1, {k + 1}), i -> sa[CAST(i AS INT)] = sb[CAST(i AS INT)])) AS DOUBLE) / {k}, 6)
           AS est_jaccard
FROM ws
"""


@q("dedup_minhash_lsh", _duck_minhash_sql())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + banded LSH near-dup candidates, verified end-to-end by a
    DuckDB oracle via the engine-portable hash (sparklink.portable); the
    production xxhash64 path (bench.py) runs the same operator code."""
    out = dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), k=32, bands=8, hash_mode="portable")
    return out.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def _duck_simhash_sql(width: int = 60, chunk_w: int = 15, max_hamming: int = 3, max_bucket: int = 2000) -> str:
    """DuckDB oracle for simhash_near_pairs(hash_mode='portable')."""
    from sparklink.portable import duck_poly_wide

    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(width)
    )
    sim_terms = " + ".join(f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)" for i in range(width))
    chunk_items = ", ".join(
        f"'ch{c}:' || CAST((simhash >> {c * chunk_w}) & {(1 << chunk_w) - 1} AS VARCHAR)" for c in range(4)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), t -> t <> '')) AS t
             FROM documents),
h AS (SELECT doc_id, {duck_poly_wide('t')} AS h FROM tok),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, {sim_terms} AS simhash FROM bits),
bm AS (SELECT doc_id, simhash, unnest([{chunk_items}]) AS block_key FROM sh),
ok AS (SELECT block_key FROM bm GROUP BY block_key HAVING count(*) <= {max_bucket}),
bmf AS (SELECT bm.* FROM bm JOIN ok USING (block_key)),
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.simhash AS sa, r.simhash AS sb
          FROM bmf l JOIN bmf r USING (block_key) WHERE l.doc_id < r.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


@q("dedup_simhash", _duck_simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs over the portable 60-bit token hash; the
    production xxhash64/64-bit path runs the same operator code."""
    out = dedup.simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3, hash_mode="portable")
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@q(
    "text_quality",
    """
WITH f AS (
    SELECT doc_id, text,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), t -> t <> '')) AS DOUBLE) AS n_tok,
           CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), t -> t <> ''))) AS DOUBLE) AS n_dis,
           CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) AS n_punct
    FROM documents
)
SELECT doc_id,
       n_tok AS n_tokens,
       CASE WHEN n_tok > 0 THEN n_dis / n_tok ELSE 0.0 END AS distinct_ratio,
       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
       round(least(n_tok / 20.0, 1.0) * 0.4
             + (CASE WHEN n_tok > 0 THEN n_dis / n_tok ELSE 0.0 END) * 0.4
             + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0, 1.0)) * 0.2,
             6) AS quality
FROM f
""",
)
def text_quality(spark, sf_dir):
    out = textops.quality_score(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_tokens", "distinct_ratio", "punct_ratio", "quality")


@q(
    "text_langid",
    """
WITH t AS (
    SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), x -> x <> '')) AS toks
    FROM documents
), s AS (
    SELECT doc_id,
        CAST(len(list_intersect(toks, ['der','die','das','und','ist','von','zu','mit','den','ein'])) AS DOUBLE) / 10 AS score_de,
        CAST(len(list_intersect(toks, ['the','a','of','and','to','in','is','that','it','for'])) AS DOUBLE) / 10 AS score_en,
        CAST(len(list_intersect(toks, ['el','la','de','que','y','en','un','es','por','con'])) AS DOUBLE) / 10 AS score_es,
        CAST(len(list_intersect(toks, ['le','la','de','et','est','en','un','que','pour','dans'])) AS DOUBLE) / 10 AS score_fr
    FROM t
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
       CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
            WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM s
""",
)
def text_langid(spark, sf_dir):
    return textops.language_scores(_t(spark, sf_dir, "documents"))


@q(
    "text_fingerprint",
    "SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint FROM documents",
)
def text_fingerprint(spark, sf_dir):
    return textops.content_fingerprint(_t(spark, sf_dir, "documents"))


@q(
    "ann_topk_bruteforce",
    """
WITH unitv AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
    FROM embeddings
), q AS (SELECT vec_id AS query_id, u AS qu FROM unitv WHERE vec_id % 100 = 0),
scored AS (
    SELECT q.query_id, c.vec_id,
           round(list_sum(list_transform(range(1, len(c.u) + 1), i -> c.u[i] * q.qu[i])), 6) AS cos
    FROM unitv c, q WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos, rank FROM (
    SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
""",
)
def ann_topk_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    return ann.brute_force_topk(emb, qs, k=10)


DUCK_UNITV = """
unitv AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
    FROM embeddings
)"""

_LSH_PLANE_IDS = [1, 2, 3, 4, 5, 6, 7, 8]

_DUCK_LSH_SQL = (
    "WITH "
    + DUCK_UNITV
    + f""",
planes AS (SELECT vec_id AS pid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
           FROM embeddings WHERE vec_id IN ({", ".join(map(str, _LSH_PLANE_IDS))})),
buckets AS (
    SELECT v.vec_id,
           CAST(sum(CASE WHEN round(list_sum(list_transform(range(1, len(v.u)+1), i -> v.u[i] * p.pv[i])), 6) >= 0
                         THEN 1 << (CAST(p.pid AS INT) - 1) ELSE 0 END) AS BIGINT) AS bucket
    FROM unitv v CROSS JOIN planes p GROUP BY v.vec_id
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id,
           round(list_sum(list_transform(range(1, len(cu.u)+1), i -> cu.u[i] * qu.u[i])), 6) AS cos
    FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
    JOIN unitv cu ON cu.vec_id = c.vec_id JOIN unitv qu ON qu.vec_id = q.vec_id
    WHERE q.vec_id % 100 = 0
)
SELECT query_id, vec_id, cos, rank FROM (
    SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""
)


@q("ann_topk_lsh", _DUCK_LSH_SQL)
def ann_topk_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN with deterministic data-derived planes (raw
    vectors of fixed vec_ids) so the DuckDB oracle reproduces buckets and
    ranking exactly; the seeded-random-plane production path runs the same
    operator code (ann.lsh_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    planes = ann.data_planes(emb, _LSH_PLANE_IDS)
    return ann.lsh_topk(emb, qs, k=10, planes=planes)


_NEARDUP_PLANE_IDS = [11, 12, 13, 14, 15, 16, 17, 18]

_DUCK_NEARDUP_SQL = (
    "WITH "
    + DUCK_UNITV
    + f""",
planes AS (SELECT vec_id AS pid,
           row_number() OVER (ORDER BY vec_id) - 1 AS pidx,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
           FROM embeddings WHERE vec_id IN ({", ".join(map(str, _NEARDUP_PLANE_IDS))})),
bits AS (
    SELECT v.vec_id, CAST(p.pidx // 2 AS INT) AS band,
           sum(CASE WHEN round(list_sum(list_transform(range(1, len(v.u)+1), i -> v.u[i] * p.pv[i])), 6) >= 0
                    THEN 1 << CAST(p.pidx % 2 AS INT) ELSE 0 END) AS bits
    FROM unitv v CROSS JOIN planes p GROUP BY v.vec_id, p.pidx // 2
),
bm AS (SELECT vec_id, 'b' || band || ':' || bits AS bk FROM bits),
-- same max_bucket=1000 skew guard the Spark operator applies (each
-- 2-plane band has only 4 possible keys, so buckets exceed the cap once
-- the corpus grows past ~4k rows — r2 ADVICE: without this the oracle
-- keeps buckets Spark drops and parity diverges at larger sf)
keep AS (SELECT bk FROM bm GROUP BY bk HAVING count(*) <= 1000),
pairs AS (
    SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
    FROM bm l JOIN bm r USING (bk) JOIN keep USING (bk) WHERE l.vec_id < r.vec_id
)
SELECT p.id_a, p.id_b,
       round(list_sum(list_transform(range(1, len(a.u)+1), i -> a.u[i] * b.u[i])), 6) AS cos
FROM pairs p JOIN unitv a ON a.vec_id = p.id_a JOIN unitv b ON b.vec_id = p.id_b
WHERE round(list_sum(list_transform(range(1, len(a.u)+1), i -> a.u[i] * b.u[i])), 6) >= 0.45
"""
)


@q("dedup_embedding_neardup", _DUCK_NEARDUP_SQL)
def dedup_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (banded hyperplane LSH + exact
    verify). Threshold 0.45 fits the synth corpus's cosine range (max
    ~0.51); production near-dup thresholds (0.9+) use the same operator
    with tighter bands. Planes are data-derived for oracle parity."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = ann.data_planes(emb, _NEARDUP_PLANE_IDS)
    return ann.cosine_neardup_pairs(emb, threshold=0.45, planes=planes, bands=4)


_DUCK_MULTIMODAL_SQL = """
WITH d AS (SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        text, length(text) AS n FROM documents),
b AS (SELECT media_id, kind, n, text,
        list_transform(range(1, n+1), i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS bytes
      FROM d)
SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes, sha256(text) AS payload_sha,
       array_to_string(list_transform(range(0, 8),
           j -> CAST(coalesce(list_sum(bytes[CAST(j*n//8+1 AS INT):CAST((j+1)*n//8 AS INT)]), 0) AS VARCHAR)),
           ',') AS chunk_sums_csv
FROM b
"""


@q("multimodal_features", _DUCK_MULTIMODAL_SQL)
def multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing (mapInPandas over binary payloads) made
    oracle-checkable: the media table derives from the documents corpus
    (payload = UTF-8 text bytes) and the deterministic decode stub's
    integer chunk sums are emitted as a scalar CSV — exact arithmetic the
    DuckDB oracle recomputes byte-for-byte. pytest covers the RNG-payload
    synth_media path and the strict NotImplementedError mode."""
    from sparklink.multimodal import extract_features, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "payload_sha",
        F.array_join(F.col("chunk_sums").cast("array<string>"), ",").alias("chunk_sums_csv"),
    )


# --- additional operator coverage (round 1 extension) -----------------------


@q(
    "er_topn_matches",
    DUCK_BLOCKKEYS_CTE
    + f""",
pairs AS (
    SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
    FROM bk l JOIN bk r USING (block_key)
    WHERE l.record_id < r.record_id
),
feat AS (SELECT conv_id, list_distinct({DUCK_TOKENS.format(c="conv_text")}) AS tokset FROM records),
scored AS (
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                 / nullif(len(list_distinct(a.tokset || b.tokset)), 0), 6) AS sim
    FROM pairs p JOIN feat a ON p.id_a = a.conv_id JOIN feat b ON p.id_b = b.conv_id
)
SELECT id_a, id_b, sim, rank FROM (
    SELECT id_a, id_b, sim, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b ASC) AS rank
    FROM scored
) WHERE rank <= 2
""",
)
def er_topn_matches(spark, sf_dir):
    """Gazetteer search shape: top-n matches per record via window rank
    (gazetteer_example/gazetteer_example.py:159)."""
    from pyspark.sql import Window

    sp = er_pair_scores(spark, sf_dir).withColumnRenamed("token_jaccard", "sim").drop("same_turns")
    w = Window.partitionBy("id_a").orderBy(F.desc("sim"), F.asc("id_b"))
    return sp.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 2)


@q(
    "er_one_to_one",
    DUCK_BLOCKKEYS_CTE
    + f""",
pairs AS (
    SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
    FROM bk l JOIN bk r USING (block_key)
    WHERE l.record_id < r.record_id
),
feat AS (SELECT conv_id, list_distinct({DUCK_TOKENS.format(c="conv_text")}) AS tokset FROM records),
scored AS (
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                 / nullif(len(list_distinct(a.tokset || b.tokset)), 0), 6) AS sim
    FROM pairs p JOIN feat a ON p.id_a = a.conv_id JOIN feat b ON p.id_b = b.conv_id
)
SELECT id_a, id_b, sim FROM (
    SELECT id_a, id_b, sim,
           row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b ASC) AS ra,
           row_number() OVER (PARTITION BY id_b ORDER BY sim DESC, id_a ASC) AS rb
    FROM scored
) WHERE ra = 1 AND rb = 1
""",
)
def er_one_to_one(spark, sf_dir):
    """RecordLink greedy one-to-one as mutual-rank-1 (SURVEY §2.8
    linker.join semantics)."""
    from sparklink.linkage import SparkRecordLink

    sp = er_pair_scores(spark, sf_dir).withColumnRenamed("token_jaccard", "score").drop("same_turns")
    return SparkRecordLink.one_to_one(sp, threshold=-1.0).withColumnRenamed("score", "sim")


# shared CTE chain ending in a `comp(record_id, component)` relation —
# the recursive-CTE mirror of connected_components over token-jaccard>=0.8
# edges; used by er_components (the map itself) and er_cluster_stats (the
# size-distribution report over it)
DUCK_COMPONENTS_CTE = (
    DUCK_BLOCKKEYS_CTE
    + f""",
pairs AS (
    SELECT DISTINCT l.record_id AS id_a, r.record_id AS id_b
    FROM bk l JOIN bk r USING (block_key)
    WHERE l.record_id < r.record_id
),
feat AS (SELECT conv_id, list_distinct({DUCK_TOKENS.format(c="conv_text")}) AS tokset FROM records),
edges AS (
    SELECT id_a, id_b FROM (
        SELECT p.id_a, p.id_b,
               CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
               / nullif(len(list_distinct(a.tokset || b.tokset)), 0) AS sim
        FROM pairs p JOIN feat a ON p.id_a = a.conv_id JOIN feat b ON p.id_b = b.conv_id
    ) WHERE sim >= 0.8
),
sym AS (SELECT id_a AS src, id_b AS dst FROM edges UNION SELECT id_b, id_a FROM edges),
cc AS (
    WITH RECURSIVE reach(id, label) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.id
    )
    SELECT id, min(label) AS component FROM reach GROUP BY id
),
comp AS (
    SELECT r.conv_id AS record_id, coalesce(cc.component, r.conv_id) AS component
    FROM records r LEFT JOIN cc ON r.conv_id = cc.id
)
"""
)


@q(
    "er_components",
    DUCK_COMPONENTS_CTE + "SELECT record_id, component FROM comp",
)
def er_components(spark, sf_dir):
    """Distributed connected components vs a recursive-CTE oracle — the
    clustering operator (SURVEY §2.8; transitive closure of score>=t
    edges). Singletons are their own component (coalesce pattern)."""
    from sparklink.cluster import connected_components

    recs = er_records(spark, sf_dir)
    sp = er_pair_scores(spark, sf_dir)
    edges = sp.filter(F.col("token_jaccard") >= 0.8).select("id_a", "id_b")
    comps = connected_components(edges)
    return (
        recs.select(F.col("conv_id").alias("record_id"))
        .join(comps, "record_id", "left")
        .select("record_id", F.coalesce(F.col("component"), F.col("record_id")).alias("component"))
    )


@q(
    "er_cluster_stats",
    DUCK_COMPONENTS_CTE
    + """,
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_records
FROM sizes GROUP BY cluster_size
""",
)
def er_cluster_stats(spark, sf_dir):
    """Cluster-size distribution over the entity map — the monitoring
    report a production ER pipeline watches for drift (a sudden giant
    cluster = an over-broad predicate or threshold regression; the
    mysql_example README's 'a few hours' run is exactly where you want
    this before writing back). Two small post-map aggregations — each
    introduces an exchange, but both are map-side combinable and the
    shuffled volume (one row per component, then one per distinct size)
    is negligible next to the component map build."""
    em = er_components(spark, sf_dir)
    sizes = em.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_records"),
    )


@q(
    "er_pairs_intersect",
    DUCK_BLOCKKEYS_CTE
    + """
SELECT l.record_id AS id_a, r.record_id AS id_b
FROM bk l JOIN bk r USING (block_key)
WHERE l.record_id < r.record_id AND l.block_key LIKE 'ft:%'
INTERSECT
SELECT l.record_id, r.record_id
FROM bk l JOIN bk r USING (block_key)
WHERE l.record_id < r.record_id AND l.block_key LIKE 'p6:%'
""",
)
def er_pairs_intersect(spark, sf_dir):
    """Relation set-op (INTERSECT) over pair sets — the evaluation
    primitives of csv_evaluation.py:6-17 expressed relationally."""
    bk = er_block_keys(spark, sf_dir).localCheckpoint(eager=True)  # read 4x below

    def pairs_of(prefix):
        b = bk.filter(F.col("block_key").startswith(prefix))
        l = b.select("block_key", F.col("record_id").alias("id_a"))
        r = b.select("block_key", F.col("record_id").alias("id_b"))
        return l.join(r, "block_key").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()

    return pairs_of("ft:").intersect(pairs_of("p6:"))


@q(
    "q_json_roundtrip",
    "SELECT c_custkey, c_name AS name2, c_mktsegment AS seg2 FROM customer",
)
def q_json_roundtrip(spark, sf_dir):
    """JSON payload projection + decode (to_json/from_json round-trip;
    mysql_example/mysql_example.py:243-255 + 33-39)."""
    from pyspark.sql.types import StringType, StructField, StructType

    c = _t(spark, sf_dir, "customer")
    schema = StructType([StructField("c_name", StringType()), StructField("c_mktsegment", StringType())])
    packed = c.select("c_custkey", F.to_json(F.struct("c_name", "c_mktsegment")).alias("payload"))
    return packed.select(
        "c_custkey",
        F.from_json("payload", schema)["c_name"].alias("name2"),
        F.from_json("payload", schema)["c_mktsegment"].alias("seg2"),
    )


@q(
    "q_events_json_extract",
    """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events WHERE event_type = 'error'
""",
)
def q_events_json_extract(spark, sf_dir):
    """JSON decode of the props payload (json_object/row_to_json analogue,
    SURVEY §2.2)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "error").select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


def _duck_winnowing_sql(k: int = 8, window: int = 4) -> str:
    """DuckDB oracle for winnowing_fingerprints(hash_mode='portable'):
    same md5-derived k-gram hashes, windowed min, distinct set — emitted as
    a sorted CSV string (hash-stable scalar for the driver comparator)."""
    from sparklink.portable import duck_md5_hash60

    gram = duck_md5_hash60(f"substr(c, CAST(i AS INT), {k})")
    return f"""
WITH d AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS c FROM documents),
g AS (SELECT doc_id,
        list_transform(range(1, greatest(length(c)-{k - 1}, 1)+1), i -> {gram}) AS grams FROM d),
w AS (SELECT doc_id, list_transform(range(0, greatest(len(grams)-{window}, 0)+1),
        w -> list_min(grams[CAST(w+1 AS INT):CAST(least(w+{window}, len(grams)) AS INT)])) AS wins FROM g)
SELECT doc_id, array_to_string(list_sort(list_distinct(wins)), ',') AS fp_csv,
       len(list_distinct(wins)) AS n_fp
FROM w
"""


@q("text_winnowing", _duck_winnowing_sql())
def text_winnowing(spark, sf_dir):
    """Winnowing fingerprints via the portable k-gram hash, scalarized to a
    sorted CSV (driver comparator can't hash array cells); the library API
    keeps the array form."""
    fp = textops.winnowing_fingerprints(_t(spark, sf_dir, "documents"), hash_mode="portable")
    return fp.select(
        "doc_id",
        F.array_join(F.array_sort("fingerprints").cast("array<string>"), ",").alias("fp_csv"),
        F.size("fingerprints").alias("n_fp"),
    )


_IVF_CENT_IDS = [7, 70, 140, 210, 280, 350, 420, 490]

_DUCK_IVF_SQL = (
    "WITH "
    + DUCK_UNITV
    + f""",
cents AS (SELECT CASE vec_id {" ".join(f"WHEN {v} THEN {i}" for i, v in enumerate(_IVF_CENT_IDS))} END AS cell, u AS cu
          FROM unitv WHERE vec_id IN ({", ".join(map(str, _IVF_CENT_IDS))})),
cd AS (SELECT v.vec_id, c.cell,
              round(list_sum(list_transform(range(1, len(v.u)+1), i -> v.u[i] * c.cu[i])), 6) AS d
       FROM unitv v CROSS JOIN cents c),
assign AS (SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn FROM cd
) WHERE rn = 1),
qp AS (SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn
    FROM cd WHERE vec_id % 100 = 0
) WHERE rn <= 3),
scored AS (
    SELECT q.query_id, a.vec_id,
           round(list_sum(list_transform(range(1, len(cu.u)+1), i -> cu.u[i] * qu.u[i])), 6) AS cos
    FROM qp q JOIN assign a USING (cell)
    JOIN unitv cu ON cu.vec_id = a.vec_id JOIN unitv qu ON qu.vec_id = q.query_id
    WHERE a.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos, rank FROM (
    SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""
)


@q("ann_topk_ivf", _DUCK_IVF_SQL)
def ann_topk_ivf(spark, sf_dir):
    """IVF probe path (cell assignment -> n_probe nearest cells -> exact
    rerank) with deterministic data-derived centroids (unit vectors of
    fixed vec_ids) so the DuckDB oracle reproduces it exactly. Lloyd
    training (ann.train_ivf_centroids) is verified separately in pytest —
    its centroids are not SQL-expressible."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = ann.unit_centroids(emb, _IVF_CENT_IDS)
    return ann.ivf_topk(emb, qs, cents, k=10, n_probe=3)


@q(
    "q_sessionize",
    """
WITH s AS (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT event_id, user_id,
       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
FROM s
""",
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (lag + running sum over one window
    partitioning; segmenting interaction logs into conversations)."""
    from sparklink.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    return sessionize(e, gap_minutes=30).select("event_id", "user_id", F.col("session_idx").cast("bigint").alias("session_idx"))


@q(
    "q_session_stats",
    """
WITH s AS (
    SELECT *,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s2 AS (
    SELECT *, user_id || '#' || CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS session_id
    FROM s
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s2 GROUP BY user_id, session_id
""",
)
def q_session_stats(spark, sf_dir):
    """Per-session rollup (hypertable-rollup-style aggregate over derived
    session keys)."""
    from sparklink.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_minutes=30)


# ===========================================================================
# structured person-name comparison (r4: split + nickname fold + middle)
# ===========================================================================


def _duck_name_comp(side: str) -> str:
    """DuckDB mirror of score._name_components for column name_<side>:
    suffix strip, comma-form vs space-form split, NULLable middle. Same
    RE2 patterns as the Spark Column expressions (score.py:60)."""
    n = f"trim(regexp_replace(lower(trim(name_{side})), '[,\\s]+\\b(jr|sr|ii|iii|iv|v)\\.?\\s*$', ''))"
    return f"""
    sp_{side} AS (
        SELECT doc_id, {n} AS n_{side} FROM named
    ),
    comp_{side} AS (
        SELECT doc_id,
               CASE WHEN contains(n_{side}, ',')
                    THEN regexp_extract(trim(regexp_extract(n_{side}, ',\\s*(.*)$', 1)), '^(\\S+)', 1)
                    ELSE regexp_extract(n_{side}, '^(\\S+)', 1) END AS first_{side},
               CASE WHEN contains(n_{side}, ',')
                    THEN regexp_extract(trim(regexp_extract(n_{side}, '^([^,]*)', 1)), '(\\S+)$', 1)
                    ELSE regexp_extract(n_{side}, '(\\S+)$', 1) END AS last_{side},
               nullif(trim(CASE WHEN contains(n_{side}, ',')
                    THEN regexp_extract(trim(regexp_extract(n_{side}, ',\\s*(.*)$', 1)), '^\\S+\\s+(.*)$', 1)
                    ELSE regexp_extract(n_{side}, '^\\S+\\s+(.*)\\s+\\S+$', 1) END), '') AS middle_{side}
        FROM sp_{side}
    )"""


def _duck_name_scores_sql() -> str:
    from sparklink.score import _NICKNAMES

    items = sorted(_NICKNAMES.items())
    nvals = ", ".join(f"({i}, '{k}', '{v}')" for i, (k, v) in enumerate(items))
    n = len(items)
    lev = (
        "round(1 - CAST(levenshtein({a}, {b}) AS DOUBLE)"
        " / greatest(length({a}), length({b}), 1), 6)"
    )
    return f"""
WITH nick(idx, nick, canon) AS (VALUES {nvals}),
toks AS (
    SELECT doc_id, {DUCK_TOKENS.format(c="lower(text)")} AS ts FROM documents
),
base AS (
    SELECT doc_id, ts[1] AS tok1, ts[2] AS tok2,
           doc_id % {n} AS idx,
           (doc_id + 7) % {n} AS midx
    FROM toks WHERE len(ts) >= 2
),
named AS (
    SELECT b.doc_id,
           CASE WHEN b.doc_id % 4 = 2 THEN na.nick || ' ' || b.tok2 || ' ' || b.tok1
                ELSE na.nick || ' ' || b.tok1 END AS name_a,
           CASE b.doc_id % 4
                WHEN 0 THEN cb.canon || ' ' || b.tok1
                WHEN 1 THEN upper(b.tok1) || ', ' || upper(cb.canon)
                WHEN 2 THEN cb.canon || ' ' || substr(b.tok2, 1, 1) || ' ' || b.tok1 || ' jr'
                ELSE b.tok1 || ', ' || cb.canon || ' ' || b.tok2 END AS name_b
    FROM base b
    JOIN nick na ON b.idx = na.idx
    JOIN nick cb ON (CASE WHEN b.doc_id % 3 = 0 THEN b.midx ELSE b.idx END) = cb.idx
),{_duck_name_comp("a")},{_duck_name_comp("b")},
joined AS (
    SELECT n.doc_id, n.name_a, n.name_b,
           coalesce(fa.canon, a.first_a) AS cf_a,
           coalesce(fb.canon, b.first_b) AS cf_b,
           a.last_a, b.last_b, a.middle_a, b.middle_b
    FROM named n
    JOIN comp_a a ON n.doc_id = a.doc_id
    JOIN comp_b b ON n.doc_id = b.doc_id
    LEFT JOIN nick fa ON a.first_a = fa.nick
    LEFT JOIN nick fb ON b.first_b = fb.nick
)
SELECT doc_id, name_a, name_b,
       {lev.format(a="cf_a", b="cf_b")} AS first_sim,
       {lev.format(a="last_a", b="last_b")} AS last_sim,
       CASE WHEN middle_a IS NULL OR middle_b IS NULL THEN 1.0
            WHEN (length(middle_a) = 1 AND substr(middle_b, 1, 1) = middle_a)
                 OR (length(middle_b) = 1 AND substr(middle_a, 1, 1) = middle_b) THEN 1.0
            WHEN middle_a = middle_b THEN 1.0
            ELSE 0.0 END AS middle_sim
FROM joined
"""


@q("er_name_scores", _duck_name_scores_sql())
def er_name_scores(spark, sf_dir):
    """Structured person-name comparison (the non-CRF approximation of
    dedupe-variable-name, extended-variables/officers.py:109-110), verified
    value-for-value cross-engine: the production component splitter
    (score._name_components — 'LAST, FIRST [MIDDLE]' / 'FIRST [MIDDLE]
    LAST' forms, jr/sr suffix strip), diminutive fold (score._canonical_first
    — 'bill' folds to 'william') and middle-name semantics
    (score._middle_score — absence is neutral, an initial matches the full
    name) run over person names constructed deterministically from
    documents tokens x the nickname table; a DuckDB mirror recomputes every
    component. Name pairs cover all four surface forms plus deliberate
    canonical-name mismatches (doc_id%3==0 pairs a nick with a DIFFERENT
    canonical name) so first_sim varies. Comparator here is the
    normalized Levenshtein (distances.levenshtein_distance; exact
    cross-engine rational parity, as er_pair_levenshtein); the production
    name variable uses Jaro-Winkler, whose unconditional-prefix-boost
    variant has no DuckDB built-in twin —
    that kernel is differential-tested in pytest instead
    (test_distance_properties.py)."""
    from sparklink.preprocess import tokens
    from sparklink.distances import levenshtein_distance
    from sparklink.score import _NICKNAMES, _canonical_first, _middle_score, _name_components

    items = sorted(_NICKNAMES.items())
    n = len(items)
    nicks = F.array(*[F.lit(k) for k, _ in items])
    canons = F.array(*[F.lit(v) for _, v in items])
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    b = (
        d.select("doc_id", tokens(F.lower(F.col("text"))).alias("ts"))
        .filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.element_at("ts", 1).alias("tok1"),
            F.element_at("ts", 2).alias("tok2"),
            F.element_at(nicks, (did % n + 1).cast("int")).alias("nick_a"),
            F.when(
                did % 3 == 0, F.element_at(canons, ((did + 7) % n + 1).cast("int"))
            ).otherwise(F.element_at(canons, (did % n + 1).cast("int"))).alias("canon_b"),
        )
    )
    name_a = F.when(did % 4 == 2, F.concat_ws(" ", "nick_a", "tok2", "tok1")).otherwise(
        F.concat_ws(" ", "nick_a", "tok1")
    )
    name_b = (
        F.when(did % 4 == 0, F.concat_ws(" ", "canon_b", "tok1"))
        .when(did % 4 == 1, F.concat(F.upper("tok1"), F.lit(", "), F.upper("canon_b")))
        .when(
            did % 4 == 2,
            F.concat_ws(" ", "canon_b", F.substring("tok2", 1, 1), F.col("tok1"), F.lit("jr")),
        )
        .otherwise(F.concat(F.col("tok1"), F.lit(", "), F.col("canon_b"), F.lit(" "), F.col("tok2")))
    )
    # the components are bound as columns: each feeds several comparisons,
    # and levenshtein_distance reads its inputs twice, so an inlined regex
    # chain would run once per reference instead of once per row
    named = b.select("doc_id", name_a.alias("name_a"), name_b.alias("name_b"))
    named = named.withColumns({"ca": _name_components(F.col("name_a")), "cb": _name_components(F.col("name_b"))})
    ca, cb = F.col("ca"), F.col("cb")

    def lev_sim(x, y):
        return F.round(1.0 - levenshtein_distance(x, y), 6)

    return named.select(
        "doc_id",
        "name_a",
        "name_b",
        lev_sim(_canonical_first(ca["first"]), _canonical_first(cb["first"])).alias("first_sim"),
        lev_sim(ca["last"], cb["last"]).alias("last_sim"),
        F.round(_middle_score(ca["middle"], cb["middle"]), 6).alias("middle_sim"),
    )
