"""Canonicalize transcripts: turns -> one record per conversation.

The dedupe "record" (the analogue of the reference's ``data_d`` dict entry,
``csv_example/csv_example.py:41-55``) is one conversation, canonicalized by
stable ``(conv_id, turn_idx)`` ordering with per-turn text equality
preserved (BASELINE.json north_star).

Plan shape: one shuffle. ``sort_array(collect_list(struct(turn_idx, ...)))``
gives the stable ordering without a global sort. The turn-collision dedup
window partitions by ``(conv_id, turn_idx)`` while the aggregate groups by
``conv_id`` — left alone, Catalyst inserts one exchange per key set, so the
full turn rows cross the wire twice. ``canonicalize`` therefore
pre-partitions the input on ``conv_id``: hash(conv_id) co-locates every
``(conv_id, turn_idx)`` group, which satisfies the window's clustered
distribution AND the groupBy's, collapsing the plan to a single exchange
(asserted in tests/test_plan_assertions.py). The REPARTITION_BY_COL origin
leaves AQE free to coalesce the post-shuffle partitions; per-conv_id skew
is bounded by conversation length, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparklink.preprocess import clean_text, tokens
from sparklink.session import session_expr

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _dedup_filter() -> tuple[Column, Column]:
    """(row-number column, survivor filter) of :func:`dedup_turns`."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").asc_nulls_last(),
        F.col("text"),
        F.col("role").asc_nulls_last(),
        F.col("tool").asc_nulls_last(),
    )
    return F.row_number().over(w), F.col("_rn") == 1


def dedup_turns(transcripts: DataFrame) -> DataFrame:
    """Drop duplicate (conv_id, turn_idx) collisions keeping the earliest ts
    (deterministic; SURVEY.md §2.5 window note). The sort key is a TOTAL
    order over the payload — collisions tying on (ts, text) but differing
    in role/tool would otherwise be broken by partition arrival order,
    i.e. nondeterministically across runs and cluster layouts."""
    rn, keep = session_expr(("dedup_turns",), _dedup_filter)
    return transcripts.withColumn("_rn", rn).filter(keep).drop("_rn")


def _canonical_columns(extra_cols: tuple[str, ...]) -> tuple[list[Column], list[Column], Column]:
    """(aggregates, projection, n_tokens) of :func:`canonicalize`."""
    turn = F.struct(
        F.col("turn_idx"),
        F.col("role"),
        clean_text(F.col("text")).alias("text"),
        F.col("tool"),
        F.col("ts"),
    )
    agg = [
        F.array_sort(F.collect_list(turn)).alias("turns"),
        F.min("ts").alias("first_ts"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).cast("long").alias("duration_s"),
    ]
    for c in extra_cols:
        agg.append(F.min(c).alias(c))
    txt = lambda t: t["text"]  # noqa: E731
    projection = [
        F.col("conv_id"),
        F.size("turns").alias("n_turns"),
        F.array_join(F.transform("turns", txt), " ").alias("conv_text"),
        F.array_join(
            F.transform(F.filter("turns", lambda t: t["role"] == "user"), txt), " "
        ).alias("user_text"),
        # try_element_at: a conversation without a user (assistant) turn
        # gets a NULL first_user_text (last_assistant_text) instead of an
        # ANSI index error
        F.try_element_at(F.transform(F.filter("turns", lambda t: t["role"] == "user"), txt), F.lit(1)).alias(
            "first_user_text"
        ),
        F.try_element_at(
            F.transform(F.filter("turns", lambda t: t["role"] == "assistant"), txt), F.lit(-1)
        ).alias("last_assistant_text"),
        F.array_sort(
            F.array_distinct(F.filter(F.transform("turns", lambda t: t["tool"]), lambda x: x.isNotNull()))
        ).alias("tools"),
        F.transform("turns", txt).alias("turn_texts"),
        F.col("first_ts"),
        F.col("duration_s"),
        *[F.col(c) for c in extra_cols],
    ]
    return agg, projection, F.size(tokens(F.col("conv_text")))


def canonicalize(transcripts: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """transcripts -> canonical records DataFrame, one row per conv_id.

    Output columns (the engine's comparison-field surface, the analogue of
    the cleaned record dict built by ``readData``):
      conv_id, n_turns, conv_text (cleaned, order-stable concat),
      first_user_text, last_assistant_text, tools (sorted distinct array),
      turn_texts (array, per-turn cleaned text in turn order),
      n_tokens, duration_s, first_ts
    extra_cols (e.g. ['source']) are carried through via min() — identical
    to the value when it is constant per conversation (the intended use),
    and deterministic GIVEN deterministic dedup survivors (unlike
    first(), which is arrival-order-dependent even then). Caveat: two
    colliding turns identical in (ts, text, role, tool) but differing
    only in an extra column are themselves dropped by arrival order
    (dedup_turns' tie-break is total over TRANSCRIPT_COLS only), so
    min() over the survivor set can vary run to run in that edge case.
    """
    extra = tuple(extra_cols or ())
    agg, projection, n_tokens = session_expr(("canonicalize", extra), lambda: _canonical_columns(extra))
    # single-exchange contract (module docstring): hash(conv_id) serves both
    # the dedup window's (conv_id, turn_idx) clustering and the groupBy
    g = dedup_turns(transcripts.repartition("conv_id")).groupBy("conv_id").agg(*agg)
    return g.select(*projection).withColumn("n_tokens", n_tokens)
