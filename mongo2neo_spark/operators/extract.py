"""Extract stage (U1 + U2): batched mention detection and (subj, pred,
obj) triple extraction per conversation turn, as ONE Arrow-batched
scalar-iterator pandas UDF (SURVEY.md §2.10).

Why one UDF: mention detection and triple extraction share the per-turn
parse, so fusing them halves the Arrow transfer and keeps exactly one
ArrowEvalPython island in the plan — everything around it stays in
whole-stage codegen.  The UDF body delegates to the shared
``mongo2neo_spark.rules`` module, the same functions the pure-Python
oracle runs, so triple-set parity is by construction.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import rules

# Flat parallel primitive arrays, NOT array<struct>: pyarrow converts
# lists of primitives ~10x faster than lists of Python tuples, and the
# struct shape is rebuilt JVM-side with arrays_zip (free in codegen).
EXTRACT_TYPE = T.StructType(
    [
        T.StructField("m_start", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("m_end", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("m_surface", T.ArrayType(T.StringType(), False), False),
        T.StructField("m_norm", T.ArrayType(T.StringType(), False), False),
        T.StructField("m_kind", T.ArrayType(T.StringType(), False), False),
        T.StructField("t_subj", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("t_pred", T.ArrayType(T.StringType(), False), False),
        T.StructField("t_obj", T.ArrayType(T.IntegerType(), False), False),
    ]
)


@pandas_udf(EXTRACT_TYPE)
def extract_turn_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """text -> flat mention/triple arrays (one row per turn).

    Scalar-iterator form amortizes per-batch setup; inside a batch the
    compiled regex in ``rules`` does the work (Arrow moves the data, not
    per-row Python serialization).

    Surface forms and predicate gaps are vocabulary-bounded, so their
    normalize/kind lookups are memoized across the worker's lifetime —
    pure-function caching, bit-identical to calling ``rules`` directly
    (which the oracle-parity tests assert end-to-end).
    """
    finditer = rules.MENTION_RE.finditer
    normalize = rules.normalize
    infer_kind = rules.infer_kind
    predicates = rules.PREDICATE_SET
    surf_cache: dict = {}
    gap_cache: dict = {}

    for texts in batches:
        cols = {k: [] for k in
                ("m_start", "m_end", "m_surface", "m_norm", "m_kind",
                 "t_subj", "t_pred", "t_obj")}
        for text in texts:
            text = text or ""
            starts, ends, surfs, norms, kinds = [], [], [], [], []
            for m in finditer(text):
                surface = m.group(0)
                cached = surf_cache.get(surface)
                if cached is None:
                    norm = normalize(surface)
                    cached = (norm, infer_kind(norm))
                    if len(surf_cache) < 2_000_000:
                        surf_cache[surface] = cached
                starts.append(m.start())
                ends.append(m.end())
                surfs.append(surface)
                norms.append(cached[0])
                kinds.append(cached[1])
            t_subj, t_pred, t_obj = [], [], []
            for i in range(len(starts) - 1):
                gap_raw = text[ends[i] : starts[i + 1]]
                pred = gap_cache.get(gap_raw)
                if pred is None:
                    pred = normalize(gap_raw.strip(" .,;:!?"))
                    if len(gap_cache) < 2_000_000:
                        gap_cache[gap_raw] = pred
                if pred in predicates:
                    t_subj.append(i)
                    t_pred.append(pred)
                    t_obj.append(i + 1)
            cols["m_start"].append(starts)
            cols["m_end"].append(ends)
            cols["m_surface"].append(surfs)
            cols["m_norm"].append(norms)
            cols["m_kind"].append(kinds)
            cols["t_subj"].append(t_subj)
            cols["t_pred"].append(t_pred)
            cols["t_obj"].append(t_obj)
        yield pd.DataFrame(cols)


# ---------------------------------------------------------------------------
# JVM-side extraction (impl="jvm"): the U1/U2 rules are regular-language
# + arithmetic, so the whole stage compiles into whole-stage codegen with
# ZERO Python in the hot path.  regexp_extract_all gives the mention
# surfaces in order; split(text, MENTION_RE, -1) gives the inter-mention
# gaps (leading/trailing included), so span offsets are prefix sums of
# the two length arrays and predicate detection is a filter over the
# interior gaps.  Java and Python regex agree on this pattern for the
# ASCII alphabet the rules target (\b, [A-Z], [A-Za-z0-9] are identical).
# The default is the Arrow UDF path below (impl="arrow", measured faster
# when every field is consumed, see extract()); the jvm==arrow parity
# property is pinned by tests.
# ---------------------------------------------------------------------------
_MENTION_PATTERN = rules.MENTION_RE.pattern


def _normalize_col(c):
    """JVM replica of rules.normalize: lowercase + collapse/trim any
    whitespace (== ' '.join(s.lower().split()))."""
    return F.array_join(
        F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != ""), " "
    )


def _kind_col(norm):
    """JVM replica of rules.infer_kind (same branch order)."""
    toks = F.split(norm, " ")
    last = F.element_at(toks, -1)
    return (
        F.when(last.isin(*rules.ORG_SUFFIXES), "org")
        .when(
            (F.size(toks) == 1) & last.isin(*sorted(rules.PLACE_NAMES)), "place"
        )
        .when(
            (F.size(toks) == 1) & last.startswith(rules.TOOL_PREFIX), "tool"
        )
        .when(F.size(toks) == 2, "person")
        .otherwise("artifact")
    )


def _gap_pred_col(gap):
    """JVM replica of the U2 gap -> predicate normalization:
    normalize(gap.strip(' .,;:!?'))."""
    return _normalize_col(F.trim(gap, F.lit(" .,;:!?")))


def extract_jvm(turns: DataFrame) -> DataFrame:
    """turns -> the same (conv_id, turn_idx, ts, ex) rows as
    :func:`extract`, built entirely from codegen expressions.

    Span arithmetic: with gaps g[0..n] and mentions m[0..n-1],
    start_i = sum(len(g[0..i])) + sum(len(m[0..i-1])) — prefix sums over
    two small per-turn arrays (mention counts per turn are tiny, so the
    O(n^2) slice-sum is noise next to the scan)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    # Staged projections: each expensive array (normalized predicates,
    # span prefix sums, triple indices) is ALIASED ONCE and referenced
    # downstream — CollapseProject keeps non-cheap multi-referenced
    # aliases as separate projections, so nothing is recomputed.
    s1 = turns.select(
        "conv_id", "turn_idx", "ts",
        F.regexp_extract_all(txt, F.lit(_MENTION_PATTERN), 0).alias("ms"),
        F.split(txt, _MENTION_PATTERN, -1).alias("gs"),
    )
    # pr[i] = normalized predicate candidate of the gap between mentions
    # i and i+1 (interior gaps are gs[2..n] 1-based, length n-1)
    s2 = s1.select(
        "conv_id", "turn_idx", "ts", "ms", "gs",
        F.transform("ms", F.length).alias("ml"),
        F.transform("gs", F.length).alias("gl"),
        F.transform(
            F.slice("gs", 2, F.greatest(F.size("ms") - 1, F.lit(0))),
            _gap_pred_col,
        ).alias("pr"),
    )

    def _sum(arr):
        return F.aggregate(arr, F.lit(0), lambda a, x: a + x)

    def _start(i):  # i is 1-based mention index
        return _sum(F.slice("gl", 1, i)) + _sum(F.slice("ml", 1, i - 1))

    # clamp+filter everywhere: sequence(1,0) would DESCEND on empty input
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size("ms"), F.lit(1))),
        lambda i: i <= F.size("ms"),
    )
    s3 = s2.select(
        "conv_id", "turn_idx", "ts", "ms", "pr",
        F.transform(idx, lambda i: _start(i).cast("int")).alias("m_start"),
        F.transform(
            idx,
            lambda i: (_start(i) + F.element_at("ml", i)).cast("int"),
        ).alias("m_end"),
        F.transform("ms", _normalize_col).alias("m_norm"),
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("pr"), F.lit(1))),
            lambda i: (i <= F.size("pr"))
            & F.try_element_at("pr", i).isin(*rules.PREDICATES),
        ).alias("tri"),
    )
    return s3.select(
        "conv_id", "turn_idx", "ts",
        F.struct(
            F.col("m_start"),
            F.col("m_end"),
            F.col("ms").alias("m_surface"),
            F.col("m_norm"),
            F.transform("m_norm", _kind_col).alias("m_kind"),
            F.transform("tri", lambda i: (i - 1).cast("int")).alias("t_subj"),
            F.transform(
                "tri", lambda i: F.element_at("pr", i)
            ).alias("t_pred"),
            F.transform("tri", lambda i: i.cast("int")).alias("t_obj"),
        ).alias("ex"),
    )


def extract_arrow(turns: DataFrame) -> DataFrame:
    """Arrow-batched path: one pandas-UDF island that runs the shared
    ``rules`` module verbatim (parity-by-construction with the
    pure-Python oracle); tests assert jvm == arrow on every fixture
    corpus."""
    return turns.select(
        "conv_id", "turn_idx", "ts",
        extract_turn_udf(F.col("text")).alias("ex"),
    )


def extract(turns: DataFrame, impl: str = "arrow") -> DataFrame:
    """turns -> one row per turn with mention/triple arrays attached.

    Input should already be salted-repartitioned (operators.skew) so a
    hot conversation's turns spread across executors; extraction is
    row-local, so salting is lossless here.

    impl="arrow" (default): the fused pandas UDF running the shared
    rules module — MEASURED faster when all struct fields are consumed
    (937k turns, local[32], best-of-3: 2.75s vs 3.85s) because Spark's
    higher-order array functions execute interpreted, not codegen'd.
    impl="jvm": pure column expressions, zero Python anywhere — wins
    when downstream prunes to a field subset (321k vs 290k turns/s on a
    t_pred-only scan) and on clusters where Python worker memory is the
    constraint.  Both paths are property-tested value-identical.
    """
    if impl == "jvm":
        return extract_jvm(turns)
    if impl == "arrow":
        return extract_arrow(turns)
    raise ValueError(f"unknown extract impl: {impl!r}")


def mentions(extracted: DataFrame) -> DataFrame:
    """Unnest the flat mention arrays into the MENTIONS contract (one
    shuffle-free explode of a JVM-side arrays_zip;
    mention_id = xxhash64(conv_id, turn_idx, span_start))."""
    zipped = extracted.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.explode(
            F.arrays_zip(
                F.col("ex.m_start").alias("span_start"),
                F.col("ex.m_end").alias("span_end"),
                F.col("ex.m_surface").alias("surface"),
                F.col("ex.m_norm").alias("norm"),
                F.col("ex.m_kind").alias("kind"),
            )
        ).alias("m"),
    )
    return zipped.select(
        F.xxhash64("conv_id", "turn_idx", F.col("m.span_start")).alias("mention_id"),
        "conv_id",
        "turn_idx",
        "ts",
        F.col("m.span_start").alias("span_start"),
        F.col("m.span_end").alias("span_end"),
        F.col("m.surface").alias("surface"),
        F.col("m.norm").alias("norm"),
        F.col("m.kind").alias("kind"),
    )


def raw_triples(extracted: DataFrame) -> DataFrame:
    """Unnest the flat triple arrays, resolving mention indexes to norms
    in-place (array indexing — no join needed)."""
    t = extracted.select(
        "conv_id",
        "turn_idx",
        F.col("ex.m_norm").alias("norms"),
        F.explode(
            F.arrays_zip(
                F.col("ex.t_subj").alias("subj_idx"),
                F.col("ex.t_pred").alias("pred"),
                F.col("ex.t_obj").alias("obj_idx"),
            )
        ).alias("t"),
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.element_at("norms", F.col("t.subj_idx") + 1).alias("subj_norm"),
        F.col("t.pred").alias("pred"),
        F.element_at("norms", F.col("t.obj_idx") + 1).alias("obj_norm"),
    )
