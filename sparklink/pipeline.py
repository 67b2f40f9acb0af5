"""End-to-end pipelines: Dedupe / RecordLink facades (SURVEY §2.7-2.8).

``SparkDedupe`` mirrors the reference lifecycle
(csv_example/csv_example.py:90-180):
  canonicalize (readData+preProcess) -> fit from labeled pairs (replaces
  console_label+train) -> blocking_map -> candidate pairs -> hydrate ->
  distances -> score -> threshold -> connected components -> entity_map.

Every stage is materialized before the next reads it: a checkpoints.Catalog
table (resumable) when one is attached, else a localCheckpoint. The
default transcript field model compares the canonical conversation surface
(conv_text affine-gap, first_user_text Jaro-Winkler, tools Jaccard,
n_turns relative diff, conv_text TF-IDF cosine).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklink import blocking as B
from sparklink import distances as D
from sparklink import pairs as P
from sparklink.canonicalize import canonicalize
from sparklink.checkpoints import Catalog, _fingerprint
from sparklink.cluster import entity_map
from sparklink.score import FieldModel, Variable
from sparklink.session import session_expr


def _input_fingerprint(df: DataFrame) -> str:
    """Identity of a source DataFrame for stage invalidation: logical-plan
    semantic hash + source file list (+ sizes for local files). A rerun
    pointed at different --transcripts (or at rewritten parquet under the
    same path, locally) therefore invalidates every downstream stage.
    Remote object-store rewrites in-place under identical paths are not
    caught (immutable-file assumption — an Iceberg snapshot id replaces
    this wholesale when the catalog is real)."""
    files = sorted(df.inputFiles())
    sized = []
    for f in files[:1000]:
        p = f.removeprefix("file:")
        try:
            sized.append((f, os.path.getsize(p)))
        except OSError:
            sized.append((f, -1))
    try:
        plan_hash = df.semanticHash()
    except Exception:
        plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
    return _fingerprint({"plan": plan_hash, "n_files": len(files), "files": sized})


def _renamed_arrays(vecs: DataFrame, id_name: str, column: str, suffix: str) -> DataFrame:
    """tf-idf arrays (record_id, tfh, tfw) of ``column`` as hydration
    fields (``id_name``, tfh_<column><suffix>, tfw_<column><suffix>)."""
    cols = session_expr(
        ("tfidf_fields", id_name, column, suffix),
        lambda: [
            F.col("record_id").alias(id_name),
            F.col("tfh").alias(f"tfh_{column}{suffix}"),
            F.col("tfw").alias(f"tfw_{column}{suffix}"),
        ],
    )
    return vecs.select(*cols)


def default_transcript_model() -> FieldModel:
    return FieldModel(
        variables=[
            Variable("conv_text", "string"),
            Variable("first_user_text", "shortstring"),
            Variable("last_assistant_text", "shortstring"),
            Variable("tools", "jaccard"),
            Variable("n_turns", "relnum", has_missing=False),
            Variable("conv_text", "text", has_missing=False),
        ]
    )


def default_transcript_predicates() -> list[B.Predicate]:
    return [
        B.Predicate("first_tok(first_user_text)", "first_user_text", B.first_token),
        B.Predicate("pre6(first_user_text)", "first_user_text", lambda c: B.first_n_chars(c, 6)),
        B.Predicate("acronym(first_user_text)", "first_user_text", B.sorted_acronym),
        B.Predicate("ints(conv_text)", "conv_text", B.common_integers),
    ]


class _TokenStats(NamedTuple):
    """One text column's token statistics over a records frame
    (blocking.partitioned_token_stats plus the per-record vocab)."""

    toks: DataFrame  # (record_id, toks), persisted, partitioned by record_id
    tf: DataFrame  # (record_id, token, tf), persisted
    dfreq: DataFrame  # (token, df), lazy over tf
    vocab: DataFrame  # (record_id, vocab), persisted
    n_docs: int


@dataclass
class SparkDedupe:
    model: FieldModel = field(default_factory=default_transcript_model)
    predicates: list[B.Predicate] = field(default_factory=default_transcript_predicates)
    max_block_size: int = 200
    threshold: float = 0.5
    # hierarchical refinement within components (reference cluster()
    # semantics — pure transitive closure over-merges weak chains); the
    # benchmarked configuration
    refine: bool = True
    # components above this skip HAC refinement (keep their CC label);
    # skips are logged to the catalog's metrics table when one is attached
    max_component: int = 2000
    catalog: Catalog | None = None
    # each stage's fingerprint by name (see _stage)
    _chain: dict[str, str] = field(default_factory=dict, init=False, repr=False)
    # _token_stats' memo: the records frame it holds, one entry per text column
    _stats_records: DataFrame | None = field(default=None, init=False, repr=False)
    _stats: dict[str, _TokenStats] = field(default_factory=dict, init=False, repr=False)
    # persisted frames freed as soon as the blocking_map stage is
    # materialized: each column's tf and the uncapped blocking map
    _held_frames: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    # ---- stages ----------------------------------------------------------
    # Fingerprints chain: each stage's params embed the upstream stage's
    # fingerprint (and the root stage embeds the input-data fingerprint),
    # so changing the input, predicates, flags, or model invalidates every
    # stage downstream — never a silent resume of stale parquet.
    def _stage(self, name: str, params: dict, thunk) -> DataFrame:
        """The one place a stage's rows are materialized: a durable catalog
        table (written or resumed), else an eager, executor-local
        localCheckpoint. No later action re-runs the stage (the reference
        writes its tables likewise, mysql_example/mysql_example.py:217-224)."""
        self._chain[name] = _fingerprint(params)
        if self.catalog is None:
            return thunk().localCheckpoint(eager=True)
        return self.catalog.stage(name, params, thunk)

    def _upstream(self, name: str) -> str:
        return self._chain.get(name, "unchained")

    def canonical_records(self, transcripts: DataFrame) -> DataFrame:
        params = {"stage": "canonicalize", "input": _input_fingerprint(transcripts)}
        return self._stage("records", params, lambda: canonicalize(transcripts))

    def _token_stats(self, records: DataFrame, column: str = "conv_text") -> _TokenStats:
        """The one tokenization of a corpus column: toks, tf, dfreq, the
        per-record vocab and n_docs, shared by canopy keys, minhash band
        keys and every corpus-side tf-idf payload (batch scoring, fit,
        label_session, record linkage, the gazetteer index's dfreq and
        slim tables) — memoized per records frame, one entry per text
        column (r1 bench: separate explodes were 56% of pipeline wall
        time). A new records frame releases everything held for the old
        one first.

        r6 shape: the token-array frame is persisted HASH-PARTITIONED BY
        record_id, so every downstream aggregate keyed on record_id — the
        (record, token) tf counts, the per-record vocab collect
        (blocking.record_token_vocab), and the minhash band-key k-min
        aggregate — satisfies its clustered distribution from the cache
        and adds NO exchange (guide §2.4: operations keyed the same way
        share one exchange; a partitioning on a subset of the grouping
        keys satisfies the distribution). The one exchange this costs
        moves ~n_records array rows instead of the exploded token rows
        (~30-200x more of them) that the r5 shape shuffled twice more.
        Canopy keys and tf-idf arrays rank array-side over the vocab,
        replacing their two window shuffles+sorts.

        Release: blocking_map frees the tf frames and the uncapped map once
        its stage is materialized, and partition frees the rest once
        scored_pairs is."""
        if records is not self._stats_records:
            self.release_token_stats()
            self._stats_records = records
        if column not in self._stats:
            toks, tf, dfreq, n_docs = B.partitioned_token_stats(records, column)
            self._held_frames.append(tf)
            vocab = B.record_token_vocab(tf, F.broadcast(dfreq)).persist()
            self._stats[column] = _TokenStats(toks, tf, dfreq, vocab, n_docs)
        return self._stats[column]

    def release_token_stats(self) -> None:
        """Unpersist the shared token-stats frames. partition calls it once
        the scored_pairs stage is materialized: nothing downstream reads
        them, and holding ~|tokens| cached rows through the clustering
        stage wastes executor memory (at scale: eviction/spill pressure).
        A caller that composes the stages itself calls it once it has
        read the last of them."""
        for st in self._stats.values():
            st.toks.unpersist()
            st.vocab.unpersist()
        for df in self._held_frames:
            df.unpersist()
        self._stats_records, self._stats, self._held_frames = None, {}, []

    def _blocking_map_plan(self, records: DataFrame) -> DataFrame:
        """The blocking_map stage body: predicate keys, tf-idf canopy keys
        and minhash band keys of ``records``, block-capped."""
        bm = B.build_blocking_map(records, self.predicates)
        st = self._token_stats(records)
        bm = bm.unionByName(B.tfidf_canopy_keys_from_vocab(st.vocab, st.n_docs, "conv_text", top_m=4))
        # recall backstop: hard-noised members can lose first-turn
        # tokens entirely, defeating prefix/token predicates, and
        # canopy keys of common tokens die at the block cap; minhash
        # bands key on whole-text word-shingle similarity instead
        bm = bm.unionByName(B.minhash_band_keys_from_tokens(st.toks))
        # cap_block_sizes reads its input twice (skew-safe sizes agg +
        # anti-join probe); persist the uncapped map so the explode-
        # heavy predicate/canopy/band plan above is evaluated ONCE
        # (measured 2x the whole blocking stage otherwise). Narrow
        # (block_key, record_id) rows; blocking_map frees them once its
        # stage is materialized.
        bm = bm.persist()
        self._held_frames.append(bm)
        return B.cap_block_sizes(bm, self.max_block_size)

    def blocking_map(self, records: DataFrame) -> DataFrame:
        params = {
            "preds": [p.pid for p in self.predicates],
            "cap": self.max_block_size,
            "upstream": self._upstream("records"),
        }
        fresh = self.catalog is not None and not self.catalog.has_stage("blocking_map", params)
        bm = self._stage("blocking_map", params, lambda: self._blocking_map_plan(records))
        # materialized: no later stage reads the uncapped map or the tf frames
        for df in self._held_frames:
            df.unpersist()
        self._held_frames = []
        if fresh:
            # per-predicate blocking report into the metrics table on every
            # BUILD (not resume): the numbers a user reads to catch a
            # predicate going quadratic at 100 TB before the candidate
            # join squares it (r3 VERDICT #8). Aggregates the materialized
            # stage output — two map-side-combining aggs, rows = #predicates.
            for r in B.blocking_stats(bm).collect():
                self.catalog.log_metric(
                    "blocking_map",
                    event="predicate_stats",
                    predicate=r["predicate"],
                    n_keys=r["n_keys"],
                    n_entries=r["n_entries"],
                    max_block=r["max_block"],
                    n_candidate_pairs=r["n_candidate_pairs"],
                )
        return bm

    def _slim_fields(self) -> list[str]:
        return sorted({v.column for v in self.model.variables if v.kind != "text"})

    def _slim_columns(self, id_name: str, suffix: str) -> list[Column]:
        """The hydration payload's projection before the tf-idf arrays:
        ``conv_id`` as ``id_name``, then each non-text field as
        ``<field><suffix>`` — 64-char prefixes for string-kernel columns so
        the full text never crosses the hydration shuffle. Built once per
        session, layout and naming."""
        fields = tuple(self._slim_fields())
        string_cols = frozenset(v.column for v in self.model.variables if v.kind in ("string", "shortstring", "levenshtein"))
        return session_expr(
            ("slim", fields, string_cols, id_name, suffix),
            lambda: [
                F.col("conv_id").alias(id_name),
                *[(F.substring(F.col(f), 1, 64) if f in string_cols else F.col(f)).alias(f + suffix) for f in fields],
            ],
        )

    def hydration_fields(self) -> list[str]:
        """The hydrated payload's fields in order: the non-text fields, then
        ``tfh_<col>``, ``tfw_<col>`` per text variable."""
        text_cols = [v.column for v in self.model.variables if v.kind == "text"]
        return self._slim_fields() + [f"{a}_{c}" for c in text_cols for a in ("tfh", "tfw")]

    def hydration_payload(self, records: DataFrame, vecs_by_col: dict[str, DataFrame], id_name: str, suffix: str) -> DataFrame:
        """The complete per-record hydration payload, given prebuilt tf-idf
        array frames per text column: ``conv_id`` as ``id_name`` and every
        :meth:`hydration_fields` entry with ``suffix`` appended. The
        building block of both hydration sides, and of the canonical side
        SparkGazetteer stages at index() time."""
        payload = records.select(*self._slim_columns(id_name, suffix))
        for v in self.model.variables:
            if v.kind == "text":
                arrays = _renamed_arrays(vecs_by_col[v.column], id_name, v.column, suffix)
                payload = payload.join(arrays, id_name, "left")
        return payload

    def corpus_payload(self, records: DataFrame) -> DataFrame:
        """``records``' own hydration payload (``conv_id`` plus every
        :meth:`hydration_fields` entry), its tf-idf arrays ranked over the
        memoized :meth:`_token_stats` of ``records``: the slim frame both
        hydration sides read."""
        vecs_by_col = {}
        for v in self.model.variables:
            if v.kind == "text":
                st = self._token_stats(records, v.column)
                vecs_by_col[v.column] = D.tfidf_token_arrays_from_vocab(st.vocab, st.n_docs)
        return self.hydration_payload(records, vecs_by_col, "conv_id", "")

    def _hydrate_pairs(self, records: DataFrame, pairs: DataFrame) -> DataFrame:
        """pairs(id_a, id_b[, label]) -> hydrated pair frame (pre-distance).

        One hydration join per side carrying (a) 64-char prefixes for the
        string kernels (full text never crosses the shuffle) and (b) top-m
        tf-idf token-hash/weight arrays for Text comparators, whose cosine
        is a per-row Arrow-batched sparse dot — no pairs-x-tokens shuffle.
        This is the shuffle-heavy JVM half of pair scoring; the CPU-bound
        Arrow/pandas half is ``FieldModel.distance_frame``. Keeping them
        separable lets a cluster stage the hydrated frame to storage and
        run the scoring stage on a differently-sized fleet (the shape
        bench.py's N-vs-4N executor proxy measures).
        """
        # r6: the old repartition(n, id_a, id_b) here was a WASTED exchange
        # — the very next operator joins on id_a alone, which cannot reuse
        # an (id_a, id_b) hash partitioning and immediately re-shuffles
        # (guide §2.4: check for Exchange nodes you did not expect). The
        # scorer-stage parallelism it was buying is preserved by AQE's
        # parallelismFirst coalescing (post-join partitions target
        # defaultParallelism, not advisory bytes).
        slim, fields = self.corpus_payload(records), self.hydration_fields()
        if any(v.kind == "text" for v in self.model.variables):
            # both hydration sides read the slim frame; materialize it so
            # the tf-idf array build (vocab sort/slice/normalize chain)
            # runs once instead of once per side — a few MB of slim rows.
            # The checkpoint also cuts the payload's lineage: releasing the
            # token stats afterwards never recomputes them.
            slim = slim.localCheckpoint(eager=True)
        return P.hydrate(pairs, slim, fields)

    def _pair_features(self, records: DataFrame, pairs: DataFrame) -> DataFrame:
        """pairs(id_a, id_b[, label]) -> + all model distance columns."""
        return self.model.distance_frame(self._hydrate_pairs(records, pairs))

    def hydrated_pairs(
        self, records: DataFrame, bm: DataFrame, pair_slice: tuple[int, int] | None = None
    ) -> DataFrame:
        """Candidate pairs + both hydration joins, WITHOUT the distance /
        scoring UDFs: the stage boundary a production cluster checkpoints.
        Hydration is shuffle-bound (JVM); scoring is CPU-bound (Arrow +
        pandas UDFs); materializing this frame lets the two run on
        independently-sized fleets, and is how bench.py emulates an
        N-vs-4N executor scale-up of the scoring stage (each executor
        scores one hash-slice of the materialized frame).
        """
        return self._hydrate_pairs(records, P.candidate_pairs(bm, pair_slice=pair_slice))

    def score_hydrated(self, hyd: DataFrame) -> DataFrame:
        """Score a (possibly re-read) hydrated pair frame: distance UDFs +
        LR score. Equivalent to the tail of ``scored_pairs`` (regression-
        tested identical); accepts extra columns (e.g. a slice id) and
        drops them."""
        withd = self.model.distance_frame(hyd)
        return self.model.score(withd).select(
            "id_a", "id_b", *self.model.feature_cols(), "score"
        )

    def _pair_features_two(self, left: DataFrame, right: DataFrame, pairs: DataFrame) -> DataFrame:
        """Two-source variant of _pair_features. conv_ids may collide
        ACROSS sources, so records get internal per-source uid prefixes
        (the synthetic-id trick of record_linkage_example.py:54-60) before
        the shared hydration machinery — a shared id can no longer pull
        both sources' rows into one hydration side. Pair ids are mapped
        back afterwards; IDF statistics for text comparators are computed
        over the union corpus (both datasets, matching the reference's
        indexing over data_1 + data_2)."""
        lu = left.withColumn("conv_id", F.concat(F.lit("l:"), F.col("conv_id")))
        ru = right.withColumn("conv_id", F.concat(F.lit("r:"), F.col("conv_id")))
        passthrough = [c for c in pairs.columns if c not in ("id_a", "id_b")]
        pu = pairs.select(
            F.concat(F.lit("l:"), F.col("id_a")).alias("id_a"),
            F.concat(F.lit("r:"), F.col("id_b")).alias("id_b"),
            *passthrough,
        )
        withd = self._pair_features(lu.unionByName(ru), pu)
        # the union corpus is private to this call: nothing can reuse its
        # token stats, and the hydrated payload is already checkpointed
        self.release_token_stats()
        return withd.withColumn("id_a", F.expr("substring(id_a, 3)")).withColumn(
            "id_b", F.expr("substring(id_b, 3)")
        )

    def scored_pairs(
        self, records: DataFrame, bm: DataFrame, pair_slice: tuple[int, int] | None = None
    ) -> DataFrame:
        def thunk():
            return self.score_hydrated(self.hydrated_pairs(records, bm, pair_slice=pair_slice))

        params = {"model": self.model.to_json(), "upstream": self._upstream("blocking_map")}
        if pair_slice is not None:
            params["pair_slice"] = list(pair_slice)
        return self._stage("scored_pairs", params, thunk)

    def fit(self, records: DataFrame, labeled_pairs: DataFrame, recall_weight: float = 1.0) -> None:
        """Fit LR weights from labeled pairs (FIXTURES.md §4; replaces the
        interactive console_label loop, csv_example/csv_example.py:130),
        then pick the F-beta-optimal decision threshold from the labeled
        score distribution (≙ gazetteer.threshold, recall_weight semantics,
        gazetteer_example/gazetteer_postgres_example.py:303)."""
        from sparklink.score import select_threshold

        pairs = labeled_pairs.select(F.col("conv_id_a").alias("id_a"), F.col("conv_id_b").alias("id_b"), "label")
        withd = self._pair_features(records, pairs)
        feats: pd.DataFrame = withd.select("label", *self.model.feature_cols()).toPandas()
        self.model.fit(feats)
        probs = self.model.predict_proba(feats)
        self.threshold = select_threshold(probs, feats["label"].to_numpy(), recall_weight=recall_weight)

    def label_session(
        self,
        records: DataFrame,
        labeler,
        labeled_pairs: DataFrame | None = None,
        rounds: int = 5,
        per_round: int = 10,
        n_random: int = 500,
        n_blocked: int = 500,
        recall_weight: float = 1.0,
        seed: int = 42,
    ) -> dict:
        """The CLOSED active-learning loop — the reference's defining
        label→retrain workflow (console_label + train,
        csv_example/csv_example.py:115-140, mysql_example/mysql_example.py:
        160-180): sample a candidate pool, surface the pairs the CURRENT
        model is least sure about, consume the human's labels, refit, and
        repeat — each round's uncertainty sampling uses the weights the
        previous round learned.

        ``labeler(batch_pd) -> list[bool|None]`` receives a pandas frame
        with id_a/id_b plus every non-text model column as <col>_a/<col>_b
        (64-char prefixes for string kinds — the display surface); None =
        unsure/skip (dedupe's 'u'); raising learn.StopLabeling(partial)
        ends the session keeping the partial batch. See learn.console_labeler
        (interactive) and learn.file_labeler (batch answers table).

        Plan shape: the candidate pool is sampled and featurized ONCE as a
        distributed job (sample_training_pairs + the same hydrate/distance
        stages production scoring uses), then collected — the pool is a few
        hundred to a few thousand rows by construction, exactly the
        reference's in-memory console_label working set. Every subsequent
        round is driver-side numpy (predict_proba over the pool): zero
        Spark jobs per round, so an interactive user sees millisecond
        re-ranking between labels, not cluster round trips.

        Starting weights: uses the model as-is when fitted; otherwise fits
        from ``labeled_pairs`` when given; otherwise starts at zero weights
        (every score 0.5 — the first round is effectively random sampling
        from the blocked pool, which is how the reference's first
        console_label round behaves too).

        Returns {"rounds": [...], "n_labeled", "threshold", "model"} — and
        leaves self.model refit and self.threshold re-selected in place.
        """
        import numpy as np

        from sparklink.learn import StopLabeling, sample_training_pairs
        from sparklink.score import select_threshold

        pool = sample_training_pairs(
            records, self.predicates, n_random=n_random, n_blocked=n_blocked, seed=seed, id_col="conv_id"
        ).select(F.col("conv_id_a").alias("id_a"), F.col("conv_id_b").alias("id_b"))
        display_cols = [
            c for v in self.model.variables if v.kind != "text" for c in (f"{v.column}_a", f"{v.column}_b")
        ]
        display_cols = list(dict.fromkeys(display_cols))
        feat_cols = self.model.feature_cols()
        pool_pd = (
            self._pair_features(records, pool)
            .select("id_a", "id_b", *display_cols, *feat_cols)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        labeled = pd.DataFrame(columns=["id_a", "id_b", "label", *feat_cols])
        if labeled_pairs is not None:
            seed_pairs = labeled_pairs.select(
                F.col("conv_id_a").alias("id_a"), F.col("conv_id_b").alias("id_b"), "label"
            )
            labeled = (
                self._pair_features(records, seed_pairs)
                .select("id_a", "id_b", "label", *feat_cols)
                .toPandas()
            )
        if self.model.weights is None:
            if len(labeled):
                self.model.fit(labeled.assign(label=labeled["label"].astype(bool)))
            else:
                self.model.weights = np.zeros(len(feat_cols))
                self.model.bias = 0.0
        done: set[tuple[str, str]] = set(zip(labeled["id_a"], labeled["id_b"]))
        report: list[dict] = []
        stopped = False
        for rnd in range(rounds):
            mask = [
                (a, b) not in done for a, b in zip(pool_pd["id_a"], pool_pd["id_b"])
            ]
            avail = pool_pd[mask]
            if not len(avail):
                break
            probs = self.model.predict_proba(avail)
            batch = (
                avail.assign(_p=probs, _u=np.abs(probs - 0.5))
                .sort_values(["_u", "id_a", "id_b"])
                .head(per_round)
            )
            try:
                answers = labeler(batch.reset_index(drop=True))
            except StopLabeling as e:
                answers = list(e.args[0]) if e.args else []
                stopped = True
            answers = list(answers) + [None] * (len(batch) - len(answers))
            new_rows = batch.assign(label=answers)
            done |= set(zip(new_rows["id_a"], new_rows["id_b"]))
            new_rows = new_rows[new_rows["label"].notna()][["id_a", "id_b", "label", *feat_cols]]
            if len(new_rows):
                # concat with the empty typed shell trips pandas' all-NA
                # deprecation — replace it outright on first labels
                labeled = new_rows.copy() if not len(labeled) else pd.concat([labeled, new_rows], ignore_index=True)
            n_pos = int(labeled["label"].astype(bool).sum()) if len(labeled) else 0
            if n_pos and n_pos < len(labeled):  # fit needs both classes
                self.model.fit(labeled.assign(label=labeled["label"].astype(bool)))
                probs_l = self.model.predict_proba(labeled)
                self.threshold = select_threshold(
                    probs_l, labeled["label"].astype(bool).to_numpy(), recall_weight=recall_weight
                )
            report.append(
                {
                    "round": rnd,
                    "asked": int(len(batch)),
                    "answered": int(len(new_rows)),
                    "n_labeled": int(len(labeled)),
                    "n_pos": n_pos,
                    "threshold": float(self.threshold),
                }
            )
            if stopped:
                break
        return {
            "rounds": report,
            "n_labeled": int(len(labeled)),
            "threshold": float(self.threshold),
            "model": self.model.to_json(),
        }

    def partition(self, transcripts: DataFrame) -> DataFrame:
        """The fused pipeline (≙ deduper.partition(data, 0.5),
        csv_example/csv_example.py:152) -> entity_map DataFrame. Every stage
        is materialized (_stage): each candidate pair is scored once, and the
        map carries no upstream lineage."""
        records = self.canonical_records(transcripts)
        bm = self.blocking_map(records)
        scored = self.scored_pairs(records, bm)
        self.release_token_stats()
        ckpt_dir = None
        on_oversized = None
        if self.catalog is not None:
            ckpt_dir = os.path.join(self.catalog.warehouse, "_cc_checkpoints")
            cat = self.catalog
            on_oversized = lambda k, mx: cat.log_metric(  # noqa: E731
                "refine_components", event="oversized_skipped", count=k, max_size=mx
            )
        return self._stage(
            "entity_map",
            {
                "threshold": self.threshold,
                "refine": self.refine,
                "max_component": self.max_component,
                "upstream": self._upstream("scored_pairs"),
            },
            lambda: entity_map(
                scored,
                records,
                threshold=self.threshold,
                refine=self.refine,
                checkpoint_dir=ckpt_dir,
                max_component=self.max_component,
                on_oversized=on_oversized,
            ),
        )

    def match_new(
        self,
        transcripts_new: DataFrame,
        existing_records: DataFrame,
        entity_map_existing: DataFrame,
        threshold: float | None = None,
        close_chains: bool = True,
    ) -> DataFrame:
        """Incremental dedupe: assign a batch of NEW transcripts against an
        already-partitioned corpus WITHOUT re-running the quadratic
        pipeline over old+new — the daily-ingest operation the reference
        runs through its indexed gazetteer (gazetteer_postgres_example.py:
        285-345: search new rows against indexed_records, UPDATE matches,
        INSERT the rest). Cost is O(new x blocked-existing), not
        O((old+new)^2). Index cost: without a catalog every call rebuilds
        the gazetteer index over ``existing_records`` (one blocking pass
        and one tokenization of the whole existing corpus per batch); with
        one the index tables are staged in the child warehouse, keyed on
        the existing records, and later calls resume them. The gazetteer
        matches and the unmatched slice are stages of the in-batch
        SparkDedupe, like the stages of its pipeline.

        Three-way split: (1) new records whose best gazetteer match in the
        existing corpus clears the threshold inherit that record's
        canon_id; (2) the remaining new records are deduped among
        THEMSELVES with the full fused pipeline (new entities appearing
        more than once in one batch still cluster); (3) nothing about the
        existing entity_map changes. Returns the entity-map DELTA for the
        new records — (record_id, canon_id, cluster_score) — to union/MERGE
        onto the existing map.

        With ``close_chains=True`` (default) the in-batch pipeline runs
        over ALL new records (not only the gazetteer-unmatched ones) and
        each in-batch cluster inherits the existing canon_id of its
        best-gazetteer-scored assigned member: a chain new-B ~ new-A ~
        existing-X where only A clears the gazetteer threshold lands B in
        X's entity (confidence = least(B's in-batch cluster score, A's
        gazetteer score)). Costs one in-batch pipeline over the full batch
        instead of the unmatched slice — linear in batch size, same order
        as the gazetteer match itself. ``close_chains=False`` restores the
        cheaper unmatched-only behavior.

        Known approximation (documented, inherent to incremental ER):
        chains routed through existing records that never cleared the
        gazetteer threshold stay unclosed either way; a periodic full
        ``partition`` re-consolidates."""
        from sparklink.linkage import SparkGazetteer

        t = self.threshold if threshold is None else threshold
        new_records = canonicalize(transcripts_new)
        gaz = SparkGazetteer(
            model=self.model,
            predicates=self.predicates,
            threshold=t,
            max_block_size=self.max_block_size,
        )
        # with a catalog attached, the whole incremental run is staged into
        # a CHILD warehouse (<warehouse>/match_new_batch, own namespace):
        # the in-batch pipeline reuses the parent's stage NAMES, and
        # sharing the warehouse would clobber the full-corpus stages and
        # their resumability (r3 VERDICT #2/#3)
        child = None
        base_params: dict = {}
        if self.catalog is not None:
            child = Catalog(
                self.catalog.spark,
                os.path.join(self.catalog.warehouse, "match_new_batch"),
                iceberg_catalog=self.catalog.iceberg_catalog,
                namespace=self.catalog.namespace + "_match_new",
            )
            base_params = {
                "new": _input_fingerprint(transcripts_new),
                "existing": _input_fingerprint(existing_records),
                "entity_map": _input_fingerprint(entity_map_existing),
                "model": self.model.to_json(),
                "threshold": t,
                "preds": [p.pid for p in self.predicates],
                "cap": self.max_block_size,
                "close_chains": close_chains,
            }
        gaz.index(existing_records, catalog=child)
        batch = SparkDedupe(
            model=self.model,
            predicates=self.predicates,
            max_block_size=self.max_block_size,
            threshold=t,
            refine=self.refine,
            max_component=self.max_component,
            catalog=child,
        )
        # read by the assigned branch and, via the anti-join, the in-batch
        # pipeline: staged, so neither re-runs the match (PLANS.md)
        matches = batch._stage(
            "gazetteer_matches", {**base_params, "stage": "gazetteer_matches"}, lambda: gaz.match(new_records)
        )
        em = entity_map_existing.select(F.col("record_id").alias("canonical_id"), "canon_id")
        # LEFT join: a match whose canonical record is missing from the
        # supplied entity map (the CLI accepts --entity-map and
        # --transcripts-existing independently) must fall back into the
        # in-batch pool, not vanish from the delta (r3 ADVICE)
        matched = matches.join(em, "canonical_id", "left")
        assigned = matched.filter(F.col("canon_id").isNotNull()).select(
            F.col("messy_id").alias("record_id"), "canon_id", F.col("score").alias("cluster_score")
        )
        if not close_chains:
            resolved = matched.filter(F.col("canon_id").isNotNull()).select(
                F.col("messy_id").alias("conv_id")
            )
            unmatched_ids = new_records.join(resolved, "conv_id", "left_anti").select("conv_id")
            sub = batch._stage(
                "unmatched_new",
                {**base_params, "stage": "unmatched_new"},
                lambda: transcripts_new.join(unmatched_ids, "conv_id"),
            )
            em_batch = batch.partition(sub)
            gaz.unindex()
            return assigned.unionByName(em_batch)
        # chain closure: dedupe the WHOLE batch among itself, then let each
        # in-batch cluster inherit the existing canon of its best-scored
        # gazetteer-assigned member (deterministic tiebreak), so
        # new-B ~ new-A ~ existing-X lands B in X's entity
        em_batch = batch.partition(transcripts_new)
        anchors = (
            em_batch.withColumnRenamed("canon_id", "batch_canon")
            .join(
                assigned.select(
                    "record_id",
                    F.col("canon_id").alias("ex_canon"),
                    F.col("cluster_score").alias("gaz_score"),
                ),
                "record_id",
            )
            .groupBy("batch_canon")
            .agg(
                F.max_by(
                    F.struct("gaz_score", "ex_canon"),
                    # record_id is unique, so the ordering struct is
                    # tie-free: equal scores break on the larger id —
                    # deterministic across runs and partitionings
                    F.struct(F.col("gaz_score"), F.col("record_id")),
                ).alias("best"),
            )
            .select("batch_canon", F.col("best.ex_canon").alias("ex_canon"), F.col("best.gaz_score").alias("gaz_score"))
        )
        inherited = (
            em_batch.join(assigned.select("record_id"), "record_id", "left_anti")
            .withColumnRenamed("canon_id", "batch_canon")
            .join(anchors, "batch_canon", "left")
            .select(
                "record_id",
                F.coalesce("ex_canon", "batch_canon").alias("canon_id"),
                F.when(
                    F.col("ex_canon").isNotNull(), F.least("cluster_score", "gaz_score")
                ).otherwise(F.col("cluster_score")).alias("cluster_score"),
            )
        )
        gaz.unindex()
        return assigned.unionByName(inherited)
