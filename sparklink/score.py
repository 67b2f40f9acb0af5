"""Pairwise scoring: field model -> distance vector -> logistic regression.

The reference's ``deduper.score(pairs)`` computes a per-variable distance
vector per candidate pair and applies trained LR weights -> P(match)
(mysql_example/mysql_example.py:269-271 [lib], parallelized there with
``num_cores=4`` multiprocessing; here executor parallelism + one Arrow
pandas UDF per string variable does the same work vectorized).

Missing data: each ``has_missing`` variable contributes a not-missing dummy
so NULLs don't zero the score (csv_example/csv_example.py:105-106 [lib]):
distance is imputed 0 where either side is NULL and the dummy flags it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from sparklink import distances as D
from sparklink.session import session_expr

# ---------------------------------------------------------------------------
# pandas UDFs for the string comparators (one Arrow batch per call)
# ---------------------------------------------------------------------------


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(D.jaro_winkler(a, b))


@pandas_udf(DoubleType())
def affine_gap_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(D.affine_gap(a, b))


@pandas_udf(DoubleType())
def sparse_dot_udf(ha: pd.Series, wa: pd.Series, hb: pd.Series, wb: pd.Series) -> pd.Series:
    return pd.Series(D.sparse_dot(ha, wa, hb, wb))


def _name_components(c: Column) -> Column:
    """(first, last, middle) struct from a person-name column: 'LAST,
    FIRST [MIDDLE...]' if a comma is present, else first token = first
    name / last token = last name / anything between = middle. middle is
    NULL when the form has no middle tokens. Generational suffixes
    (jr/sr/ii/iii/iv/v) are stripped first so 'JOHN SMITH JR' pairs with
    'SMITH, JOHN'. Pure JVM regexp — no UDF."""
    n = F.lower(F.trim(c))
    n = F.trim(F.regexp_replace(n, r"[,\s]+\b(jr|sr|ii|iii|iv|v)\.?\s*$", ""))
    has_comma = n.contains(",")
    before = F.trim(F.regexp_extract(n, r"^([^,]*)", 1))
    after = F.trim(F.regexp_extract(n, r",\s*(.*)$", 1))
    first_tok = F.regexp_extract(n, r"^(\S+)", 1)
    last_tok = F.regexp_extract(n, r"(\S+)$", 1)
    middle = F.when(has_comma, F.regexp_extract(after, r"^\S+\s+(.*)$", 1)).otherwise(
        F.regexp_extract(n, r"^\S+\s+(.*)\s+\S+$", 1)
    )
    return F.struct(
        F.when(has_comma, F.regexp_extract(after, r"^(\S+)", 1)).otherwise(first_tok).alias("first"),
        F.when(has_comma, F.regexp_extract(before, r"(\S+)$", 1)).otherwise(last_tok).alias("last"),
        F.nullif(F.trim(middle), F.lit("")).alias("middle"),
    )


# common English given-name diminutives -> canonical form, folded into the
# first-name comparison so 'Bill Smith' ≡ 'William Smith' scores as a
# first-name match (the dedupe-variable-name behavior users hit most,
# extended-variables/officers.py:109). Tiny literal map — broadcast by
# construction, O(1) plan size.
_NICKNAMES = {
    "bill": "william", "billy": "william", "will": "william", "willie": "william", "liam": "william",
    "bob": "robert", "bobby": "robert", "rob": "robert", "robbie": "robert", "bert": "robert",
    "dick": "richard", "rick": "richard", "ricky": "richard", "rich": "richard", "richie": "richard",
    "jim": "james", "jimmy": "james", "jamie": "james",
    "jack": "john", "johnny": "john", "jon": "john",
    "tom": "thomas", "tommy": "thomas",
    "mike": "michael", "mikey": "michael",
    "dave": "david", "davey": "david",
    "dan": "daniel", "danny": "daniel",
    "joe": "joseph", "joey": "joseph",
    "chris": "christopher", "kit": "christopher",
    "chuck": "charles", "charlie": "charles",
    "ed": "edward", "eddie": "edward", "ted": "edward", "teddy": "edward", "ned": "edward",
    "tony": "anthony",
    "drew": "andrew", "andy": "andrew",
    "steve": "steven",
    "ken": "kenneth", "kenny": "kenneth",
    "matt": "matthew",
    "pete": "peter",
    "greg": "gregory",
    "ron": "ronald", "ronnie": "ronald",
    "don": "donald", "donnie": "donald",
    "ray": "raymond",
    "sam": "samuel", "sammy": "samuel",
    "alex": "alexander",
    "fred": "frederick", "freddie": "frederick",
    "frank": "francis", "frankie": "francis",
    "hank": "henry", "harry": "henry",
    "nick": "nicholas",
    "zack": "zachary", "zach": "zachary",
    "gabe": "gabriel",
    "ben": "benjamin", "benny": "benjamin",
    "abe": "abraham",
    "larry": "lawrence",
    "jerry": "gerald",
    "tim": "timothy", "timmy": "timothy",
    "walt": "walter",
    "gene": "eugene",
    "herb": "herbert",
    "stan": "stanley",
    "phil": "philip",
    "doug": "douglas",
    "russ": "russell",
    "wes": "wesley",
    "stu": "stuart",
    "liz": "elizabeth", "beth": "elizabeth", "betsy": "elizabeth", "betty": "elizabeth", "eliza": "elizabeth",
    "peggy": "margaret", "meg": "margaret", "maggie": "margaret", "marge": "margaret",
    "kate": "katherine", "katie": "katherine", "kathy": "katherine", "kay": "katherine",
    "cathy": "catherine",
    "sue": "susan", "susie": "susan",
    "patty": "patricia", "trish": "patricia",
    "debbie": "deborah", "deb": "deborah",
    "barb": "barbara",
    "jen": "jennifer", "jenny": "jennifer",
    "jess": "jessica",
    "mandy": "amanda",
    "becky": "rebecca",
    "vicky": "victoria",
    "ginny": "virginia",
    "nan": "nancy",
}


def _nickname_map() -> Column:
    items: list[Column] = []
    for k, v in _NICKNAMES.items():
        items += [F.lit(k), F.lit(v)]
    return F.create_map(*items)


def _canonical_first(c: Column) -> Column:
    """Fold diminutives to the canonical given name (identity off-table).
    try_element_at (not [key]) — missing keys must be NULL, not an ANSI
    error."""
    return F.coalesce(F.try_element_at(_nickname_map(), c), c)


def _first_score(fl: Column, fr: Column) -> Column:
    """First-name component: Jaro-Winkler on diminutive-folded names, with
    an initial rule — a single-letter given name matching the other side's
    first letter reads as an abbreviated form ('J SMITH' ≡ 'JOHN SMITH',
    extended-variables/officers.py name semantics). Floored at 0.9 rather
    than set to 1.0: an initial is weaker evidence than full-name equality
    (it also matches 'JANE'), and the LR weight calibrates on top."""
    cl, cr = _canonical_first(fl), _canonical_first(fr)
    initial = ((F.length(cl) == 1) & (F.substring(cr, 1, 1) == cl)) | (
        (F.length(cr) == 1) & (F.substring(cl, 1, 1) == cr)
    )
    jw = jaro_winkler_udf(cl, cr)
    return F.when(initial, F.greatest(jw, F.lit(0.9))).otherwise(jw)


def _middle_score(ml: Column, mr: Column) -> Column:
    """Middle-name component: neutral 1.0 unless BOTH sides carry a middle
    token (absence is not evidence against a match); an initial matching
    the other side's first letter counts as agreement ('q' ≡ 'quincy');
    otherwise Jaro-Winkler. The LR weight therefore learns the cost of a
    CONFLICTING middle name only."""
    initial = ((F.length(ml) == 1) & (F.substring(mr, 1, 1) == ml)) | (
        (F.length(mr) == 1) & (F.substring(ml, 1, 1) == mr)
    )
    return (
        F.when(ml.isNull() | mr.isNull(), F.lit(1.0))
        .when(initial, F.lit(1.0))
        .otherwise(jaro_winkler_udf(ml, mr))
    )


_STREET_NORMS = [
    # USPS-style street-type + directional abbreviations ('st'≡'street'):
    # without these, 'Main St' vs 'Main Street' is a spurious JW penalty
    (r"\bst\b\.?", "street"),
    (r"\bave?\b\.?", "avenue"),
    (r"\brd\b\.?", "road"),
    (r"\bblvd\b\.?", "boulevard"),
    (r"\bdr\b\.?", "drive"),
    (r"\bln\b\.?", "lane"),
    (r"\bct\b\.?", "court"),
    (r"\bpl\b\.?", "place"),
    (r"\bhwy\b\.?", "highway"),
    (r"\bpkwy\b\.?", "parkway"),
    (r"\bn\b\.?", "north"),
    (r"\bs\b\.?", "south"),
    (r"\be\b\.?", "east"),
    (r"\bw\b\.?", "west"),
]


def _normalize_street(s: Column) -> Column:
    for pat, rep in _STREET_NORMS:
        s = F.regexp_replace(s, pat, rep)
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def _address_components(c: Column) -> Column:
    """(number, street, unit) struct from a street-address column. number =
    leading digit run; unit = value after apt/unit/suite/ste/# marker;
    street = what remains, with USPS-style street-type/directional
    abbreviations expanded (_STREET_NORMS). Pure JVM regexp."""
    a = F.lower(F.trim(c))
    number = F.nullif(F.regexp_extract(a, r"^\s*(\d+)", 1), F.lit(""))
    # multi-token units: up to TWO trailing tokens after the marker
    # ('suite 100 b'), compared space/hyphen-insensitively so
    # 'suite 100 b' ≡ 'suite 100b' ≡ 'ste 100-b'. The two-token cap keeps
    # a LEADING unit ('unit b main street') from swallowing the street.
    # \b anchor: without it the marker matches INSIDE street-name words
    # ('we[ste]rn ave', 'che[ste]r st') and corrupts both components
    unit_raw = F.regexp_extract(a, r"(?:\b(?:apt|unit|suite|ste)\.?|#)\s*([0-9a-z-]+(?: [0-9a-z-]+)?)\s*$", 1)
    unit = F.nullif(F.regexp_replace(unit_raw, r"[ -]", ""), F.lit(""))
    street = _normalize_street(
        F.regexp_replace(
            F.regexp_replace(a, r"^\s*\d+\s*", ""),
            r"(?:\b(?:apt|unit|suite|ste)\.?|#)\s*[0-9a-z-]+(?: [0-9a-z-]+)?\s*$",
            "",
        )
    )
    return F.struct(number.alias("number"), street.alias("street"), unit.alias("unit"))


def select_threshold(scores: np.ndarray, labels: np.ndarray, recall_weight: float = 1.0) -> float:
    """F-beta-optimal decision threshold from labeled pair scores — the
    analogue of ``gazetteer.threshold(messy, recall_weight=1.0)``
    (gazetteer_example/gazetteer_postgres_example.py:303 [lib]).

    Sweeps midpoints between adjacent distinct scores; beta=recall_weight
    (recall_weight>1 favors recall, <1 favors precision).
    """
    order = np.argsort(scores)
    s, y = scores[order], labels[order].astype(bool)
    cands = np.unique(s)
    if len(cands) > 512:
        cands = np.quantile(cands, np.linspace(0, 1, 512))
    mids = (cands[1:] + cands[:-1]) / 2.0
    best_t, best_f = 0.5, -1.0
    beta2 = recall_weight**2
    n_pos = y.sum()
    for t in mids:
        pred = s >= t
        tp = (pred & y).sum()
        fp = (pred & ~y).sum()
        prec = tp / (tp + fp) if (tp + fp) else 1.0
        rec = tp / n_pos if n_pos else 1.0
        denom = beta2 * prec + rec
        f = (1 + beta2) * prec * rec / denom if denom else 0.0
        if f > best_f:
            best_f, best_t = f, float(t)
    return best_t

# ---------------------------------------------------------------------------
# Field model — the analogue of the declared ``fields = [...]`` list
# (csv_example/csv_example.py:102-110)
# ---------------------------------------------------------------------------

_COMPARATORS = {
    # name -> fn(l_col, r_col) -> Column
    "exact": D.exact_cmp,
    "jaccard": D.jaccard_arrays,
    "price": D.price_diff,
    "relnum": D.rel_num_diff,
    # dedupe Categorical (extended-variables/officers.py:115-117) compared
    # as same-category indicator (documented deviation from per-category
    # dummy encoding; LR weight absorbs the scale)
    "categorical": D.exact_cmp,
}


@dataclass(frozen=True)
class Variable:
    """One comparison (≙ one dedupe variable declaration).

    kind: 'string' (affine_gap), 'shortstring' (jaro_winkler),
          'levenshtein', 'exact', 'jaccard' (Set), 'price', 'relnum',
          'text' (TF-IDF cosine sub-plan), 'latlong',
          'categorical' (with ``categories`` declared: per-category-pair
          dummy features, dedupe CategoricalType semantics,
          extended-variables/officers.py:115-117; without: same-category
          indicator), 'name' / 'address' (structured component split +
          per-component comparators, re-creating dedupe-variable-name/
          -address, extended-variables/officers.py:109-110).

    parser (for 'name'/'address' only): 'regex' = pure-Column heuristic
    split (JVM-side, no UDF — the default); 'crf' = the probabilistic
    linear-chain tagger in nameparse.py (lexicon-driven Viterbi decode,
    handles adversarial orderings like 'Dr Smith John R' and multi-token
    particle surnames the regex form cannot represent — the reference
    plugin's CRF behavior). Downstream component comparators are identical
    for both parsers, so feature layout and weights are parser-portable.

    has_missing is forced False for 'text': its cosine reads the hydrated
    tf-idf arrays, whose missing sides are imputed 0 inside the kernel,
    and no raw column is hydrated to derive a dummy from (a True value
    would emit a feature column nothing creates -> AnalysisException).
    """

    column: str
    kind: str
    has_missing: bool = True
    categories: tuple = ()
    parser: str = "regex"

    def __post_init__(self):
        if self.kind == "text" and self.has_missing:
            object.__setattr__(self, "has_missing", False)
        if self.categories:
            object.__setattr__(self, "categories", tuple(self.categories))
        if self.parser not in ("regex", "crf"):
            raise ValueError(f"unknown parser {self.parser!r} (expected 'regex' or 'crf')")

    @property
    def name(self) -> str:
        return f"{self.kind}({self.column})"

    @property
    def dist_col(self) -> str:
        return f"d_{self.kind}_{self.column}"

    @property
    def components(self) -> tuple[str, ...]:
        """Structured sub-fields of 'name'/'address' variables. Each is a
        SEPARATE LR feature (r2 VERDICT #6): the model learns how much a
        house-number mismatch vs a street typo matters, matching the
        reference plugin's component-feature semantics
        (extended-variables/officers.py:109-110) instead of a hand-fixed
        blend."""
        return {"name": ("first", "last", "middle"), "address": ("number", "street", "unit")}.get(self.kind, ())

    def component_cols(self) -> list[str]:
        return [f"{self.dist_col}__{c}" for c in self.components]

    @property
    def category_combos(self) -> list[tuple[str, str]]:
        """Unordered category pairs, baseline (first, first) dropped —
        dedupe's dummy expansion of CategoricalComparator output."""
        cats = list(self.categories)
        combos = [(cats[i], cats[j]) for i in range(len(cats)) for j in range(i, len(cats))]
        return combos[1:]

    def combo_cols(self) -> list[str]:
        return [f"d_cat_{self.column}__{a}__{b}" for a, b in self.category_combos]


@dataclass
class FieldModel:
    variables: list[Variable]
    weights: np.ndarray | None = None  # (n_features,)
    bias: float = 0.0
    interactions: list[tuple[str, str]] = field(default_factory=list)  # pairs of variable names

    # -- feature layout: [dist_1..dist_k, missing_dummy per has_missing var,
    #    interaction products] ----------------------------------------------
    def feature_cols(self) -> list[str]:
        cols = []
        for v in self.variables:
            if v.kind == "categorical" and v.categories:
                cols += v.combo_cols()
            elif v.components:
                # per-component distances as separate features; the blended
                # dist_col is still emitted (for interactions/back-compat)
                # but NOT a feature — it would be collinear
                cols += v.component_cols()
            else:
                cols.append(v.dist_col)
        cols += [f"m_{v.dist_col}" for v in self.variables if v.has_missing]
        cols += [f"x_{a}__{b}" for a, b in self.interactions]
        return cols

    def _var_by_name(self) -> dict[str, Variable]:
        return {v.name: v for v in self.variables}

    def _layout_key(self) -> tuple:
        return (tuple(self.variables), tuple(tuple(x) for x in self.interactions))

    def distance_frame(self, hydrated: DataFrame) -> DataFrame:
        """hydrated pairs (fields as <col>_a / <col>_b) -> + distance columns.

        Column-expression comparators stay in whole-stage codegen; string
        comparators go through one vectorized pandas UDF each; 'text'
        variables get the sparse-dot cosine of the hydrated tf-idf arrays
        (``tfh_<col>_a``/``tfw_<col>_a`` and the ``_b`` pair).

        One ``withColumns`` per dependency level: the first adds every
        column computed from the hydrated fields, the next those that read
        first-level columns (name/address blends, interactions), and so
        on. The columns depend only on the variable layout, so they are
        built once per session and layout (session.session_expr) and
        re-applied.
        """
        out = hydrated
        for level in session_expr(("distances", self._layout_key()), self._distance_columns):
            out = out.withColumns(dict(level))
        return out

    def _distance_columns(self) -> list[list[tuple[str, Column]]]:
        """(name, expression) pairs distance_frame adds, grouped by
        dependency level; an expression reads only hydrated fields and
        columns of earlier levels."""
        out: list[tuple[str, Column]] = []
        level: dict[str, int] = {}

        def add(name: str, col: Column, reads: tuple[str, ...] = ()) -> None:
            level[name] = 1 + max((level.get(r, 0) for r in reads), default=0)
            out.append((name, col))

        for v in self.variables:
            l, r = F.col(v.column + "_a"), F.col(v.column + "_b")
            missing = l.isNull() | r.isNull()
            if v.kind == "categorical" and v.categories:
                # per-category-pair dummy encoding (dedupe CategoricalType,
                # extended-variables/officers.py:115-117): one indicator per
                # unordered category combination, baseline combo dropped;
                # values outside the declared set behave as baseline
                for (ca, cb), cname in zip(v.category_combos, v.combo_cols()):
                    hit = ((l == ca) & (r == cb)) | ((l == cb) & (r == ca))
                    add(cname, F.when(missing, F.lit(0.0)).otherwise(hit.cast("double")))
                if v.has_missing:
                    add(f"m_{v.dist_col}", (~missing).cast("double"))
                continue
            if v.kind == "string":
                # the DP kernels cap at 48/64 chars — truncate JVM-side so
                # the Arrow transfer ships bytes the kernel will read
                raw: Column = 1.0 - affine_gap_udf(F.substring(l, 1, 48), F.substring(r, 1, 48))
            elif v.kind == "shortstring":
                raw = jaro_winkler_udf(F.substring(l, 1, 64), F.substring(r, 1, 64))
            elif v.kind == "levenshtein":
                # JVM-native (r4 VERDICT #4): Spark's levenshtein built-in
                # over the 64-char prefixes, no Arrow hop and no Python
                # worker; er_pair_levenshtein checks its values against
                # DuckDB's native levenshtein
                raw = 1.0 - D.levenshtein_distance(l, r)
            elif v.kind == "latlong":
                raw = 1.0 / (1.0 + D.haversine_km(l["lat"], l["lng"], r["lat"], r["lng"]))
            elif v.kind == "name":
                # structured person-name comparison (non-CRF approximation
                # of dedupe-variable-name, extended-variables/officers.py:
                # 109): split into (first, last, middle) components
                # JVM-side — "LAST, FIRST [MIDDLE]" and "FIRST [MIDDLE]
                # LAST" forms — diminutives folded to canonical first names
                # ('Bill' ≡ 'William'), then Jaro-Winkler per component,
                # each a SEPARATE LR feature (weights learned, not
                # hand-fixed — r2 VERDICT #6).
                # Component-wise comparison scores "JOHN SMITH" vs
                # "SMITH, JOHN" as a match where whole-string JW does not.
                # parser='crf' swaps the component SOURCE for the
                # probabilistic tagger (nameparse.py) — lexicon-driven
                # Viterbi handles 'Dr Smith John R' / particle surnames;
                # every comparator below is identical for both parsers.
                if v.parser == "crf":
                    from . import nameparse as _NP

                    _nudf = _NP.name_struct_udf()
                    fl_l, fl_r = _nudf(l), _nudf(r)
                else:
                    fl_l, fl_r = _name_components(l), _name_components(r)
                comp = {
                    "first": _first_score(fl_l["first"], fl_r["first"]),
                    "last": jaro_winkler_udf(fl_l["last"], fl_r["last"]),
                    "middle": _middle_score(fl_l["middle"], fl_r["middle"]),
                }
                for cname, ccol in zip(v.component_cols(), (comp[c] for c in v.components)):
                    add(cname, F.when(missing, F.lit(0.0)).otherwise(ccol))
                # blended mean kept as dist_col for interactions / display
                # only (NOT a feature — collinear with the components)
                raw = sum(F.col(c) for c in v.component_cols()) / float(len(v.components))
            elif v.kind == "address":
                # structured street-address comparison (non-CRF
                # approximation of dedupe-variable-address): house number
                # exact, street name Jaro-Winkler (USPS abbreviations
                # expanded), unit exact-or-both-absent — each a SEPARATE
                # LR feature; the model learns the relative costs
                if v.parser == "crf":
                    from . import nameparse as _NP

                    _audf = _NP.address_struct_udf()
                    ad_l, ad_r = _audf(l), _audf(r)
                    # the tagger emits RAW street tokens; normalize
                    # abbreviations Column-side exactly like the regex path
                    street_l = _normalize_street(ad_l["street"])
                    street_r = _normalize_street(ad_r["street"])
                else:
                    ad_l, ad_r = _address_components(l), _address_components(r)
                    street_l, street_r = ad_l["street"], ad_r["street"]
                unit_score = F.when(
                    ad_l["unit"].isNull() & ad_r["unit"].isNull(), F.lit(1.0)
                ).otherwise(F.coalesce((ad_l["unit"] == ad_r["unit"]).cast("double"), F.lit(0.0)))
                comp = {
                    "number": F.coalesce((ad_l["number"] == ad_r["number"]).cast("double"), F.lit(0.0)),
                    "street": jaro_winkler_udf(street_l, street_r),
                    "unit": unit_score,
                }
                for cname, ccol in zip(v.component_cols(), (comp[c] for c in v.components)):
                    add(cname, F.when(missing, F.lit(0.0)).otherwise(ccol))
                # the r1/r2 fixed blend survives as the non-feature
                # dist_col so interactions keep working
                raw = (
                    0.35 * F.col(f"{v.dist_col}__number")
                    + 0.55 * F.col(f"{v.dist_col}__street")
                    + 0.10 * F.col(f"{v.dist_col}__unit")
                )
            elif v.kind == "text":
                # cosine of the hydrated tf-idf arrays; a missing side's
                # arrays are empty inside the kernel, so no missing dummy
                c = v.column
                add(
                    v.dist_col,
                    sparse_dot_udf(F.col(f"tfh_{c}_a"), F.col(f"tfw_{c}_a"), F.col(f"tfh_{c}_b"), F.col(f"tfw_{c}_b")),
                )
                continue
            elif v.kind in _COMPARATORS:
                raw = _COMPARATORS[v.kind](l, r)
            else:
                raise ValueError(f"unknown comparator kind {v.kind}")
            add(v.dist_col, F.when(missing, F.lit(0.0)).otherwise(raw), tuple(v.component_cols()))
            if v.has_missing:
                add(f"m_{v.dist_col}", (~missing).cast("double"))
        byname = self._var_by_name()
        for a, b in self.interactions:
            da, db = byname[a].dist_col, byname[b].dist_col
            add(f"x_{a}__{b}", F.col(da) * F.col(db), (da, db))
        return [[(n, c) for n, c in out if level[n] == k] for k in sorted(set(level.values()))]

    def _check_layout(self) -> None:
        """weights must align 1:1 with feature_cols() — zip() would
        silently truncate and apply every weight after a mismatch to the
        wrong feature (r3 ADVICE: a model serialized under an older
        feature layout must refuse, not mis-score)."""
        n_feat = len(self.feature_cols())
        if self.weights is not None and len(self.weights) != n_feat:
            raise ValueError(
                f"model weight count {len(self.weights)} != feature count {n_feat} "
                f"(features: {self.feature_cols()}); the artifact was serialized "
                "under a different feature layout — refit or migrate it"
            )

    def score_expr(self) -> Column:
        """sigmoid(w·x + b) as a pure Column expression (JVM-side), built
        once per session, layout, weights and bias."""
        assert self.weights is not None, "fit or load the model first"
        self._check_layout()

        def build() -> Column:
            z = F.lit(float(self.bias))
            for w, c in zip(self.weights, self.feature_cols()):
                z = z + F.lit(float(w)) * F.coalesce(F.col(c), F.lit(0.0))
            return 1.0 / (1.0 + F.exp(-z))

        return session_expr(self.score_key(), build)

    def score_key(self) -> tuple:
        """What score_expr depends on: layout, weights and bias (the
        session_expr key of anything built from it)."""
        weights = None if self.weights is None else tuple(float(w) for w in self.weights)
        return ("score", self._layout_key(), weights, float(self.bias))

    def score(self, with_distances: DataFrame) -> DataFrame:
        return with_distances.withColumn("score", self.score_expr())

    # -- training (replaces console_label + train(); SURVEY §2.7) -----------
    def fit(self, labeled_features: pd.DataFrame, l2: float = 1e-3, iters: int = 500, lr: float = 0.5) -> None:
        """Driver-side numpy logistic regression on the labeled pairs'
        feature matrix (labeled sets are small — 300..15k pairs in the
        reference, record_linkage_example.py:128-131)."""
        X = labeled_features[self.feature_cols()].fillna(0.0).to_numpy(dtype=np.float64)
        y = labeled_features["label"].astype(float).to_numpy()
        n, k = X.shape
        w = np.zeros(k)
        b = 0.0
        for _ in range(iters):
            z = X @ w + b
            p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
            g = p - y
            gw = X.T @ g / n + l2 * w
            gb = g.mean()
            w -= lr * gw
            b -= lr * gb
        self.weights = w
        self.bias = float(b)

    def predict_proba(self, features: pd.DataFrame) -> np.ndarray:
        self._check_layout()
        X = features[self.feature_cols()].fillna(0.0).to_numpy(dtype=np.float64)
        z = X @ self.weights + self.bias
        return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))

    # -- persistence: the model artifact (≙ settings file,
    #    csv_example/csv_example.py:94-97 StaticDedupe path) ----------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "variables": [
                    {
                        "column": v.column,
                        "kind": v.kind,
                        "has_missing": v.has_missing,
                        **({"categories": list(v.categories)} if v.categories else {}),
                        **({"parser": v.parser} if v.parser != "regex" else {}),
                    }
                    for v in self.variables
                ],
                "interactions": self.interactions,
                "weights": None if self.weights is None else list(map(float, self.weights)),
                "bias": self.bias,
                # feature-layout record: lets from_json refuse artifacts
                # whose weights were learned under a different expansion
                # of the same variable list (r3 ADVICE)
                "feature_layout": self.feature_cols(),
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "FieldModel":
        d = json.loads(s)
        m = cls(
            variables=[Variable(**v) for v in d["variables"]],
            interactions=[tuple(x) for x in d.get("interactions", [])],
        )
        if d.get("weights") is not None:
            m.weights = np.asarray(d["weights"], dtype=np.float64)
        m.bias = float(d.get("bias", 0.0))
        stored = d.get("feature_layout")
        if stored is not None and list(stored) != m.feature_cols():
            raise ValueError(
                f"model artifact feature layout {list(stored)} does not match this "
                f"version's layout {m.feature_cols()} for the same variables — "
                "refit the model"
            )
        m._check_layout()
        return m
