"""Quality scoring — Gopher/C4-style heuristics + model-based scorers.

North-rule layer (BASELINE.json north_star). Heuristics are pure
Column expressions; model scorers (fastText langid, KenLM perplexity)
are Arrow-batched pandas UDFs with a per-executor model cache. Since
the real model artifacts aren't shipped in this environment, the
default scorers are deterministic stand-ins with the same UDF
signature, batch shape and caching structure — swap `_load_model` to
point at real artifacts on a cluster.

The corpus-derived unigram LM perplexity (``unigram_perplexity``) is a
REAL distributed implementation: build the LM as a small aggregate
(token → prob), broadcast-join it to exploded tokens, average
per-document. That's the Spark-native shape of "score every doc
against an n-gram LM" — the LM table replaces the KenLM binary.
"""

from __future__ import annotations

import hashlib
import math
import operator
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from fineweb_domain_analyzer_spark.functions.textfns import (
    sql_ident,
    sql_list,
    sql_num,
    sql_str,
    ws_tokens,
)

# --- Gopher/C4-style heuristic features (all JVM-side) ----------------------

STOPWORDS_EN = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")
#: runs of what symbol_ratio does NOT count: ASCII letters, digits,
#: whitespace
SYMBOL_KEEP_RUNS = r"[A-Za-z0-9\s]+"


def with_quality_features(
    df: DataFrame, text_col: str = "text", lower_tokens_col: str | None = None
) -> DataFrame:
    """The heuristic feature set as staged-projection columns:

    * word_count, mean_word_len        (Gopher doc-length rules)
    * symbol_ratio                     (non-alnum/space chars ÷ chars)
    * stopword_density                 (C4/Gopher stop-word rule)
    * max_word_repeat_ratio            (most frequent token ÷ tokens —
                                        repeated-token fraction; computed
                                        as the longest run in the sorted
                                        token array — no shuffle)

    Why staged projections: computing all five features in ONE
    projection inlines the shared tokenize/sort/zip subtrees once per
    feature; the generated Java for that projection took >100 s to
    Janino-compile on the bench (the per-row work itself is trivial).
    Staging shared intermediates as their own columns turns them into
    attribute references — CollapseProject keeps multi-referenced
    non-trivial expressions in separate projects, so each codegen
    method stays small and the whole thing still fuses into one map
    stage. Intermediates referenced only once (the run-break array, the
    longest run) are written inline: the optimizer would inline them
    anyway, so staging them only cost plan-building time.

    Driver cost: every column is SQL text parsed by ONE ``F.expr`` call
    (functions/textfns.py, "SQL-text expressions"); built through the
    Column API, the stop-word literals and the repeat-run lambdas took
    ~660 py4j round trips per call, as text ~75. Independent columns
    share one projection (``withColumns``), which leaves the optimized
    plan unchanged.

    Executor cost: symbol_ratio deletes RUNS of letters, digits and
    whitespace (``[A-Za-z0-9\\s]+``) — the same remainder as deleting
    them one char at a time, with one replacement per run instead of
    one per char.

    Expression notes: the run-break sentinel " " can never equal a
    whitespace-split token (a NUL literal breaks codegen string
    comparison — results come back null); the slice length uses the
    real array size, not Integer.MAX_VALUE, so start+length can't
    overflow int (which makes slice silently return null); run length i
    = end_i - end_{i-1} via 1-based element_at against the 0-based
    lambda index; empty text tokenizes to [''] and must not count as a
    run.
    """
    if lower_tokens_col is None:
        df = df.withColumn("_qf_lw", ws_tokens(F.lower(F.col(text_col))))
        lower_tokens_col, drop_cols = "_qf_lw", ["_qf_lw"]
    else:
        drop_cols = []
    text, lw = sql_ident(text_col), sql_ident(lower_tokens_col)
    # word_count reads the LOWERCASED token array (whitespace-splitting
    # commutes with lower(), so token counts are identical), dropping
    # the original-case tokenize pass; mean_word_len's length sum is
    # length(whitespace-stripped ORIGINAL text) — one regex scan, same
    # cost as summing the array, and deliberately case-mapping-free:
    # Spark (Java full case mapping) and DuckDB (utf8proc simple
    # mapping) lowercase chars like U+0130 to different lengths, so any
    # lower()-based sum would break oracle parity on such text.
    # Together ~1s/1.2M docs off the feature stage vs the original
    # tokenize + per-token aggregate.
    # sort_array, not array_sort: the same ascending order for tokens
    # (never null), sorted with a native comparator instead of
    # array_sort's interpreted comparator lambda
    df = df.withColumns(
        {
            "_qf_n": F.expr(f"CASE WHEN length(trim({text})) = 0 THEN 0 ELSE size({lw}) END"),
            "_qf_st": F.expr(f"sort_array({lw})"),
        }
    )
    # run ends: 1-based positions i where sorted token i differs from
    # token i+1 (the sentinel closes the last run)
    df = df.withColumn(
        "_qf_ix",
        F.expr(
            "filter(transform(zip_with(_qf_st, slice(concat(_qf_st, array(' ')), 2, "
            "size(_qf_st)), (_qf_a, _qf_b) -> CAST(_qf_a != _qf_b AS INT)), "
            "(_qf_x, _qf_i) -> CASE WHEN _qf_x = 1 THEN _qf_i + 1 ELSE -1 END), "
            "_qf_v -> _qf_v >= 0)"
        ),
    )
    max_run = (
        "coalesce(array_max(transform(_qf_ix, (_qf_v, _qf_i) -> _qf_v - coalesce("
        "CASE WHEN _qf_i > 0 THEN element_at(_qf_ix, CAST(_qf_i AS INT)) END, 0))), 0)"
    )
    n1 = "greatest(_qf_n, 1)"
    ws_run = sql_str(r"\s+")
    stop = sql_list(STOPWORDS_EN)
    df = df.withColumns(
        {
            "word_count": F.col("_qf_n"),
            "mean_word_len": F.expr(
                f"round(length(regexp_replace(trim({text}), {ws_run}, '')) / {n1}, 4)"
            ),
            "symbol_ratio": F.expr(
                f"round(length(regexp_replace({text}, {sql_str(SYMBOL_KEEP_RUNS)}, '')) "
                f"/ greatest(length({text}), 1), 4)"
            ),
            "stopword_density": F.expr(
                f"round(size(filter({lw}, _qf_t -> array_contains(array({stop}), _qf_t))) "
                f"/ {n1}, 4)"
            ),
            "max_word_repeat_ratio": F.expr(
                f"CASE WHEN _qf_n = 0 THEN 0.0D ELSE round({max_run} / {n1}, 4) END"
            ),
        }
    )
    return df.drop("_qf_n", "_qf_st", "_qf_ix", *drop_cols)


def gopher_rules(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.2,
    min_stopword_density: float = 0.0,
    max_repeat_ratio: float = 0.35,
) -> list[tuple[str, str, float]]:
    """The Gopher keep rule as (feature, comparison, threshold) rows
    over the :func:`with_quality_features` columns; a doc is kept when
    every row holds.  :func:`gopher_keep` renders it over Columns,
    :func:`gopher_keep_sql` as SQL text."""
    return [
        ("word_count", ">=", min_words),
        ("word_count", "<=", max_words),
        ("mean_word_len", ">=", min_mean_word_len),
        ("mean_word_len", "<=", max_mean_word_len),
        ("symbol_ratio", "<=", max_symbol_ratio),
        ("stopword_density", ">=", min_stopword_density),
        ("max_word_repeat_ratio", "<=", max_repeat_ratio),
    ]


def gopher_keep(
    word_count: Column,
    mean_word_len: Column,
    symbol_ratio: Column,
    stopword_density: Column,
    max_word_repeat_ratio: Column,
    **thresholds,
) -> Column:
    """Gopher-rule keep decision over the heuristic features
    (``thresholds``: the keyword arguments of :func:`gopher_rules`)."""
    features = {
        "word_count": word_count,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "stopword_density": stopword_density,
        "max_word_repeat_ratio": max_word_repeat_ratio,
    }
    compare = {">=": operator.ge, "<=": operator.le}
    return reduce(
        lambda a, b: a & b,
        [compare[op](features[f], t) for f, op, t in gopher_rules(**thresholds)],
    )


def gopher_keep_sql(**thresholds) -> str:
    """:func:`gopher_keep` as SQL text over the feature columns by name:
    one ``F.expr`` parse instead of a Column call per comparison."""
    return " AND ".join(
        f"{f} {op} {sql_num(t)}" for f, op, t in gopher_rules(**thresholds)
    )


def with_approx_quality_bands(
    df: DataFrame,
    score_col: str,
    by_col: str,
    k: int = 10,
    accuracy: int = 10_000,
    out_col: str = "band",
) -> DataFrame:
    """Scale-path banding: assign each row a quantile band of
    ``score_col`` within its ``by_col`` group WITHOUT a global sort.

    The exact formulation (q47's ntile window) funnels every row of a
    group through ONE reducer — at web scale 'en' is most of the
    corpus, so that task never finishes. Here: one small aggregation
    computes approx quantile cut points per group
    (``percentile_approx``, GK-sketch, mergeable map-side), which
    broadcast-join back and the band assignment is a map-only array
    probe. Bands are approximate at sketch accuracy (1/accuracy
    relative rank error) but the plan is two scans and a broadcast —
    the shape that survives 100×.

    Band semantics: band i (1-based) ⇔ score > cut[i-1] (cuts are the
    1/k … (k-1)/k approx quantiles); ties at a cut fall into the lower
    band, mirroring ntile's ordering by score alone.

    Null group keys form their own band group: groupBy produces a
    null-keyed cut row, and the join-back is null-safe (``eqNullSafe``)
    so null-keyed rows are banded rather than silently dropped by the
    equi-join (ADVICE r3)."""
    from pyspark.sql import functions as F  # local alias for clarity

    probs = [i / k for i in range(1, k)]
    cuts = df.groupBy(by_col).agg(
        F.percentile_approx(score_col, probs, accuracy).alias("_cuts")
    )
    cuts = cuts.withColumnRenamed(by_col, "_cut_key")
    joined = df.join(
        F.broadcast(cuts), F.col(by_col).eqNullSafe(F.col("_cut_key"))
    ).drop("_cut_key")
    band = (
        F.aggregate(
            F.col("_cuts"),
            F.lit(1),
            lambda acc, c: acc + F.when(F.col(score_col) > c, 1).otherwise(0),
        )
    ).cast("int")
    return joined.withColumn(out_col, band).drop("_cuts")


# --- corpus-derived unigram LM perplexity (distributed, no model file) ------

def unigram_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Perplexity against a unigram LM estimated from the corpus itself.

    Two shuffles total: (1) token-count aggregation to build the LM,
    (2) doc-level average after joining the LM back onto the exploded
    tokens. The explode never materializes to disk.

    ``broadcast_lm=True`` fits corpora whose distinct-token table is
    executor-memory-sized; a full web-scale vocabulary (hundreds of
    millions of distinct tokens once typo/noise tokens are counted)
    will not fit an executor broadcast, so pass False to fall back to
    a shuffle join keyed by token — Zipf-skewed, but the hot keys
    ("the", ...) are exactly the ones AQE's skew-join splitting
    handles, and the join carries only (token, tok_cnt). Mirrors
    ``bigram_perplexity``'s switch.

    Returns (id_col, perplexity) where
    perplexity = 2 ** avg(-log2 p(token)).
    """
    toks = docs.select(
        F.col(id_col), F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token")
    )
    # LM with the corpus total folded in as a broadcast scalar — no
    # driver-side count action, and the exploded tokens are scanned
    # twice (LM build + scoring join) instead of three times. The
    # total is ONE row regardless of broadcast_lm, so it always
    # broadcasts.
    lm = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tok_cnt"))
    total_df = lm.agg(F.sum("tok_cnt").cast("double").alias("_total"))
    if broadcast_lm:
        lm = F.broadcast(lm)
    scored = toks.join(lm, "token").crossJoin(F.broadcast(total_df))
    return (
        scored.groupBy(id_col)
        .agg(F.avg(-F.log2(F.col("tok_cnt") / F.col("_total"))).alias("avg_nll"))
        .select(
            F.col(id_col),
            F.round(F.pow(F.lit(2.0), F.col("avg_nll")), 4).alias("perplexity"),
        )
    )


def bigram_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Perplexity against a corpus-estimated bigram LM (MLE,
    p(w|prev) = c(prev,w)/c(prev)) — one step closer to the KenLM-style
    n-gram scorer, still fully distributed with no model artifact.

    Plan: bigram pairs built INSIDE the token array (adjacency is known
    there — a lag window would shuffle every token by doc_id for
    nothing) → explode → two count aggregations (bigram,
    unigram-prefix) → join both LM tables back onto the bigram stream →
    per-doc average. Docs with fewer than 2 tokens have no bigrams and
    are excluded (consistent in both engines).

    ``broadcast_lm=True`` fits corpora whose observed-bigram table is
    executor-memory-sized; at full web scale that table is itself huge
    (observed bigrams grow ~linearly with corpus size), so pass False
    to fall back to shuffle joins keyed by (prev, token) / prev —
    near-uniform keys, AQE handles the residue.

    Returns (id_col, bigram_perplexity = 2 ** avg(-log2 p)).
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i.cast("int")).alias("prev"),
                F.element_at(toks, (i + 1).cast("int")).alias("token"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,token:string>>"))
    bigrams = docs.select(
        F.col(id_col), F.explode(pairs).alias("_bg")
    ).select(id_col, "_bg.prev", "_bg.token")
    bi_lm = bigrams.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("bi_cnt"))
    uni_lm = bigrams.groupBy("prev").agg(F.count(F.lit(1)).alias("prev_cnt"))
    if broadcast_lm:
        bi_lm, uni_lm = F.broadcast(bi_lm), F.broadcast(uni_lm)
    scored = bigrams.join(bi_lm, ["prev", "token"]).join(uni_lm, ["prev"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.avg(-F.log2(F.col("bi_cnt") / F.col("prev_cnt"))).alias("avg_nll")
        )
        .select(
            F.col(id_col),
            F.round(F.pow(F.lit(2.0), F.col("avg_nll")), 4).alias(
                "bigram_perplexity"
            ),
        )
    )


# --- model-based scorers (pandas UDFs, pluggable artifacts) -----------------
#
# Artifact contract (the real-cluster mechanism, works identically in
# local mode):
#   1. driver: ``register_model_artifact(spark, "langid", path)`` ships
#      the file to every executor via ``sparkContext.addFile`` under the
#      well-known name ``fwda_<name>.model``.
#   2. worker: each UDF batch re-probes SparkFiles for that name (an
#      os.path.exists — cheap); the CONSTRUCTED model is cached per
#      Python worker keyed by (name, artifact_path), so registering an
#      artifact mid-session takes effect without restarting workers.
#   3. loader: JSON artifacts use the table-stub format below (tests
#      exercise this end-to-end); binary artifacts load through the
#      real libs (fasttext.load_model / kenlm.Model) when importable,
#      and raise loudly if the lib is absent — an explicitly shipped
#      artifact must never silently degrade to the heuristic.
#   4. no artifact → deterministic heuristic stand-in (same interface).
#
# Model interface: langid → .predict_batch(pd.Series) -> pd.Series of
# labels; perplexity → .perplexity(str) -> float. The UDF plan is
# identical for all three backends — swapping models touches zero
# query code.

_MODEL_CACHE: dict[tuple[str, str | None], object] = {}


def artifact_basename(name: str) -> str:
    return f"fwda_{name}.model"


def register_model_artifact(spark, name: str, path: str) -> None:
    """Ship a model artifact to all executors under the well-known
    SparkFiles name the UDFs probe for. One registration per name per
    SparkContext (addFile semantics); re-registering the same bytes is
    a no-op so query callables can register their fixture unconditionally."""
    import os
    import shutil
    import tempfile

    import filecmp

    existing = _find_artifact(name)
    if existing is not None:
        # chunked compare (shallow=False) — real model artifacts run
        # 100MB–GBs; never pull two full copies into driver memory
        if filecmp.cmp(existing, path, shallow=False):
            return
        # falling through to addFile would collide on the basename and
        # surface as an obscure Spark 'file does not match contents'
        # failure mid-job — fail here with the actual conflict instead
        raise ValueError(
            f"model artifact {name!r} is already registered with "
            f"different bytes (existing: {existing}, new: {path}); "
            "artifact names are immutable per SparkContext — register "
            "the new model under a new name"
        )
    staged = os.path.join(tempfile.mkdtemp(prefix="fwda_model_"), artifact_basename(name))
    shutil.copyfile(path, staged)
    spark.sparkContext.addFile(staged)


def _find_artifact(name: str) -> str | None:
    import os

    try:
        from pyspark import SparkFiles

        p = os.path.join(SparkFiles.getRootDirectory(), artifact_basename(name))
        return p if os.path.exists(p) else None
    except Exception:
        return None


class _HeuristicLangID:
    """Deterministic stand-in honoring the fastText-wrapper interface."""

    @staticmethod
    def _guess(t: str | None) -> str | None:
        if t is None:
            return None
        if not t:
            return "unk"
        cjk = sum(1 for c in t[:2000] if "一" <= c <= "鿿")
        if cjk / max(len(t[:2000]), 1) > 0.15:
            return "zh"
        low = t.lower()
        scores = {
            "en": sum(low.count(f" {w} ") for w in ("the", "and", "of", "to")),
            "de": sum(low.count(f" {w} ") for w in ("der", "und", "ist", "das")),
            "fr": sum(low.count(f" {w} ") for w in ("le", "et", "est", "les")),
            "es": sum(low.count(f" {w} ") for w in ("el", "es", "los", "para")),
        }
        best = max(scores, key=lambda k: (scores[k], -list(scores).index(k)))
        return best if scores[best] > 0 else "unk"

    def predict_batch(self, texts: pd.Series) -> pd.Series:
        return texts.map(self._guess)


class _TableLangID:
    """JSON table-stub backend: exact-text lookup with a default label.
    Honors the loader contract so tests can inject a real artifact file
    without fastText being installed."""

    def __init__(self, spec: dict):
        self.table: dict = spec.get("table", {})
        self.default: str = spec.get("default", "unk")

    def predict_batch(self, texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None if t is None else self.table.get(t, self.default)
        )


class _FastTextLangID:
    """Wrapper over a real fasttext model (.bin)."""

    def __init__(self, model):
        self.model = model

    def predict_batch(self, texts: pd.Series) -> pd.Series:
        clean = ["" if t is None else t.replace("\n", " ") for t in texts]
        labels, _ = self.model.predict(clean)
        out = [
            (ls[0].removeprefix("__label__") if ls else "unk") for ls in labels
        ]
        return pd.Series(
            [None if t is None else lab for t, lab in zip(texts, out)],
            index=texts.index,
        )


class _HeuristicCharLM:
    """Deterministic stand-in honoring the KenLM-wrapper interface:
    fixed hash-based character-trigram scorer."""

    @staticmethod
    def perplexity(t: str | None) -> float | None:
        if t is None:
            return None
        if len(t) < 3:
            return 1e6
        s = 0.0
        n = 0
        for i in range(0, min(len(t), 3000) - 2):
            tri = t[i : i + 3]
            h = int.from_bytes(
                hashlib.md5(tri.encode("utf-8", "ignore")).digest()[:4], "big"
            )
            # pseudo-probability in (2^-14, 2^-1]
            s += (h % 14) + 1.0
            n += 1
        return round(2 ** (s / max(n, 1)), 4)


class _TableCharLM:
    """JSON table-stub backend: exact-text perplexity lookup."""

    def __init__(self, spec: dict):
        self.scores: dict = spec.get("scores", {})
        self.default: float = float(spec.get("default", 1e6))

    def perplexity(self, t: str | None) -> float | None:
        if t is None:
            return None
        return float(self.scores.get(t, self.default))


class _KenLM:
    """Wrapper over a real kenlm model (.arpa/.bin)."""

    def __init__(self, model):
        self.model = model

    def perplexity(self, t: str | None) -> float | None:
        if t is None:
            return None
        return float(self.model.perplexity(t.replace("\n", " ")))


def _construct_model(name: str, path: str | None):
    if path is None:
        return _HeuristicLangID() if name == "langid" else _HeuristicCharLM()
    import json as _json

    try:
        with open(path, encoding="utf-8") as f:
            spec = _json.load(f)
        is_json = isinstance(spec, dict) and "kind" in spec
    except (UnicodeDecodeError, ValueError):
        is_json, spec = False, None
    if is_json:
        kind = spec["kind"]
        if kind == "table-langid":
            return _TableLangID(spec)
        if kind == "table-perplexity":
            return _TableCharLM(spec)
        raise ValueError(f"unknown model artifact kind {kind!r} in {path}")
    # Real-format artifact → sniff the bytes and load it. The C++ wheels
    # are preferred when installed; otherwise the pure-Python readers in
    # functions/model_formats.py parse the same on-disk format, so a
    # shipped artifact ALWAYS loads for real — it never silently degrades
    # to the heuristic, and an unrecognized file still raises loudly.
    from fineweb_domain_analyzer_spark.functions.model_formats import (
        ArpaLM,
        PureFastTextSupervised,
        sniff_model_format,
    )

    fmt = sniff_model_format(path)
    if fmt == "fasttext-bin":
        try:
            import fasttext  # type: ignore

            return _FastTextLangID(fasttext.load_model(path))
        except ImportError:
            return PureFastTextSupervised(path)
    if fmt == "arpa":
        try:
            import kenlm  # type: ignore

            return _KenLM(kenlm.Model(path))
        except ImportError:
            return ArpaLM(path)
    raise RuntimeError(
        f"artifact {path} for {name!r} is neither a JSON table stub, a "
        "fastText .bin, nor an ARPA LM — refusing to fall back to the "
        "heuristic for an explicitly shipped artifact"
    )


def _load_model(name: str):
    """Per-Python-worker model cache keyed by (name, artifact path) so a
    mid-session artifact registration takes effect on reused workers."""
    path = _find_artifact(name)
    key = (name, path)
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = _construct_model(name, path)
    return _MODEL_CACHE[key]


@pandas_udf(StringType())
def fasttext_like_langid_udf(texts: pd.Series) -> pd.Series:
    """fastText-shaped langid UDF. Backend resolved per the artifact
    contract above (real .bin → fasttext; JSON stub → table; none →
    deterministic heuristic). The Arrow batch shape, caching and plan
    are identical for all backends."""
    return _load_model("langid").predict_batch(texts)


@pandas_udf(DoubleType())
def kenlm_like_perplexity_udf(texts: pd.Series) -> pd.Series:
    """KenLM-shaped perplexity UDF. Backend resolved per the artifact
    contract above (real .arpa/.bin → kenlm; JSON stub → table; none →
    deterministic hash-trigram stand-in)."""
    m = _load_model("kenlm")
    return texts.map(m.perplexity)


def langid_udf_for(artifact_name: str):
    """Parameterized variant of ``fasttext_like_langid_udf``: resolves
    the model from a caller-chosen artifact name, so several langid
    models (e.g. a production .bin and a fixture) can coexist in one
    SparkContext without clobbering the default ``langid`` slot."""

    @pandas_udf(StringType())
    def _udf(texts: pd.Series) -> pd.Series:
        m = _load_model(artifact_name)
        if not hasattr(m, "predict_batch"):
            raise TypeError(
                f"artifact {artifact_name!r} loaded as {type(m).__name__}, "
                "which is not a langid classifier"
            )
        return m.predict_batch(texts)

    return _udf


def perplexity_udf_for(artifact_name: str):
    """Parameterized variant of ``kenlm_like_perplexity_udf`` (see
    ``langid_udf_for``)."""

    @pandas_udf(DoubleType())
    def _udf(texts: pd.Series) -> pd.Series:
        m = _load_model(artifact_name)
        if not hasattr(m, "perplexity"):
            raise TypeError(
                f"artifact {artifact_name!r} loaded as {type(m).__name__}, "
                "which is not a perplexity LM"
            )
        return texts.map(m.perplexity)

    return _udf


def perplexity_bits_py(t: str | None) -> float | None:
    """Driver-side mirror of kenlm_like_perplexity_udf for unit tests."""
    if t is None:
        return None
    if len(t) < 3:
        return 1e6
    s = 0.0
    n = 0
    for i in range(0, min(len(t), 3000) - 2):
        tri = t[i : i + 3]
        h = int.from_bytes(hashlib.md5(tri.encode("utf-8", "ignore")).digest()[:4], "big")
        s += (h % 14) + 1.0
        n += 1
    return round(math.pow(2, s / max(n, 1)), 4)


# --- classifier-style quality score -----------------------------------------

# FineWeb-style pipelines follow the heuristic gates with a trained
# quality classifier; the engine ships the SERVING side — a logistic
# score over the staged heuristic features with fixed weights — as pure
# codegen expressions. Swap the weights for a trained model's without
# touching the plan (the training loop is out of scope, like the
# fastText/KenLM artifacts; see _load_model for the pluggable pattern).
QUALITY_LOGIT_WEIGHTS = {
    "bias": -1.0,
    "word_count_log": 0.8,     # applied to ln(1 + word_count)
    "mean_word_len": 0.3,
    "symbol_ratio": -4.0,
    "stopword_density": 6.0,
    "max_word_repeat_ratio": -3.0,
}


def with_quality_score(
    df: DataFrame, weights: dict | None = None, out_col: str = "quality_score"
) -> DataFrame:
    """sigmoid(w·x) over the `with_quality_features` columns, rounded
    to 4 dp. Input features are integer-ratio-derived doubles, the
    expression is a fixed arithmetic tree, so the score is bit-stable
    across engines/partitionings. Map-only."""
    w = weights or QUALITY_LOGIT_WEIGHTS
    z = (
        F.lit(float(w["bias"]))
        + F.lit(float(w["word_count_log"])) * F.log1p(F.col("word_count"))
        + F.lit(float(w["mean_word_len"])) * F.col("mean_word_len")
        + F.lit(float(w["symbol_ratio"])) * F.col("symbol_ratio")
        + F.lit(float(w["stopword_density"])) * F.col("stopword_density")
        + F.lit(float(w["max_word_repeat_ratio"]))
        * F.col("max_word_repeat_ratio")
    )
    return df.withColumn(out_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4))


def _banded_weighted_offsets(
    df: DataFrame,
    score_col: str,
    by_cols: list,
    weight,
    n_bands: int,
    accuracy: int,
):
    """The ONE banded prefix-offset derivation shared by
    ``select_within_token_budget`` (global, weight = tokens) and
    ``keep_top_pct_by_group`` (per group, weight = 1): assign each row
    an approximate score band within its group (``by_cols``; empty =
    global), then compute per (group, band) the band weight ``_bw``
    and the total weight of all HIGHER bands ``_off`` via a tiny
    triangular self-join — the rank/weight offset of the band's first
    row in the (score desc, id) order.

    Null-safe throughout: group keys join with eqNullSafe, and the
    band is ``coalesce(…, 1)`` so a null cut array (a group whose
    scores are all null, or ``n_bands == 1`` → no cut points) lands
    every row in band 1 instead of silently falling out of the plan —
    nulls sort last under ``desc`` exactly like band 1 sorts last, so
    band-monotonicity holds. Returns ``(df2, offsets)``; offsets has
    (by_cols…, _band, _bw, _off).
    """
    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    probs = [i / n_bands for i in range(1, n_bands)]
    cut_aliases = [f"_cut_{c}" for c in by_cols]
    if by_cols:
        cuts = df.groupBy(
            *[F.col(c).alias(a) for c, a in zip(by_cols, cut_aliases)]
        ).agg(F.percentile_approx(score_col, probs, accuracy).alias("_cuts"))
        cond = None
        for c, a in zip(by_cols, cut_aliases):
            clause = F.col(c).eqNullSafe(F.col(a))
            cond = clause if cond is None else (cond & clause)
        df2 = df.join(F.broadcast(cuts), cond).drop(*cut_aliases)
    else:
        cuts = df.agg(
            F.percentile_approx(score_col, probs, accuracy).alias("_cuts")
        )
        df2 = df.crossJoin(F.broadcast(cuts))
    # higher score → more cuts below it → higher band number; equal
    # scores always share a band, so in-group order is band-monotone
    band = F.aggregate(
        F.col("_cuts"),
        F.lit(1),
        lambda acc, c: acc + F.when(F.col(score_col) > c, 1).otherwise(0),
    ).cast("int")
    df2 = df2.withColumn("_band", F.coalesce(band, F.lit(1))).drop("_cuts")
    bw = df2.groupBy(*by_cols, "_band").agg(F.sum(weight).alias("_bw"))
    a, b = bw.alias("a"), bw.alias("b")
    group_match = F.lit(True)
    for c in by_cols:
        group_match = group_match & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    offsets = (
        a.join(b, group_match & (F.col("b._band") > F.col("a._band")), "left")
        .groupBy(
            *[F.col(f"a.{c}").alias(c) for c in by_cols],
            F.col("a._band").alias("_band"),
            F.col("a._bw").alias("_bw"),
        )
        .agg(F.coalesce(F.sum("b._bw"), F.lit(0).cast("long")).alias("_off"))
    )
    return df2, offsets



def select_within_token_budget(
    scored: DataFrame,
    token_budget: int,
    score_col: str = "quality_score",
    tokens_col: str = "word_count",
    id_col: str = "doc_id",
    banded: bool = True,
    n_bands: int = 64,
    accuracy: int = 10_000,
) -> DataFrame:
    """Greedy best-first curation under a token budget: order by
    (score desc, id) and keep docs while the RUNNING token total stays
    within ``token_budget`` — how a training-mix slice is actually cut
    ("the best B tokens", not "the best N docs"). Emits the running
    total as ``_cum_tokens``.

    ``banded=True`` (the default — VERDICT r3: the safe plan must be
    the one users get) computes the SAME exact result as a
    distributed prefix-sum, with no global single-partition sort:

      1. ``n_bands`` approximate score quantiles (one tiny GK-sketch
         aggregate, broadcast back) split the corpus into score bands.
         Equal scores always land in the same band, so global
         (score desc, id) order is band-monotone — banding changes
         WHERE rows are summed, never the result.
      2. per-band token totals (k rows) turn into each band's
         prefix offset via a k×k triangular join — no window at all
         on this side, so the plan has zero unpartitioned windows.
      3. the cumulative window runs PARTITIONED BY band: each band
         sorts only ~1/k of the corpus, in parallel, and
         ``_cum_tokens = band_offset + in-band running total`` is
         bit-identical to the global window's value.
      4. bands whose offset already exceeds the budget are pruned
         BEFORE the sort — with budget ≪ corpus (the normal case)
         almost all data never reaches a window at all.

    Sizing: each band is a single window task; pick ``n_bands`` ≈
    corpus_rows / rows-that-fit-one-task (the default 64 is right for
    the test scales; a 10^12-doc curation run wants 10^4–10^5, which
    ``percentile_approx`` handles fine at ``accuracy`` ≥ bands).

    ``banded=False`` is the one-global-window kernel — simplest plan,
    fine up to ~10^8 rows per slice, single-partition sort beyond."""
    from pyspark.sql.window import Window

    if not banded:
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = scored.withColumn("_cum_tokens", F.sum(tokens_col).over(w))
        return out.filter(F.col("_cum_tokens") <= token_budget)

    df2, offsets = _banded_weighted_offsets(
        scored, score_col, [], F.col(tokens_col), n_bands, accuracy
    )
    # <= not <: a band whose offset EQUALS the budget can still hold
    # zero-token rows the global kernel keeps (_cum_tokens == budget);
    # pruning it would break the bit-identical-to-global contract
    pruned = df2.join(
        F.broadcast(
            offsets.select("_band", F.col("_off").alias("_offset"))
        ),
        "_band",
    ).filter(F.col("_offset") <= token_budget)
    w_in = Window.partitionBy("_band").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = pruned.withColumn(
        "_cum_tokens", F.col("_offset") + F.sum(tokens_col).over(w_in)
    )
    return (
        out.filter(F.col("_cum_tokens") <= token_budget)
        .drop("_band", "_offset")
    )


def keep_top_pct_by_group(
    df: DataFrame,
    pct: int,
    score_col: str = "quality_score",
    by_col: str = "lang",
    id_col: str = "doc_id",
    banded: bool = True,
    n_bands: int = 64,
    accuracy: int = 10_000,
) -> DataFrame:
    """Group-adaptive curation cut: keep the best ``pct`` percent of
    rows WITHIN each group — the FineWeb2 move, where one global
    threshold either guts low-resource languages (their score
    distributions sit lower) or keeps every doc of the high-resource
    ones; a per-language percentile keeps the same fraction everywhere.

    Rank-based and integer-exact: a row stays iff
    ``rank * 100 <= pct * group_count`` with rank ordered by
    (score desc, id) — pure integer arithmetic, so the kept set is
    bit-identical across engines/partitionings (no percentile
    interpolation, whose float arithmetic differs between engines).
    Groups smaller than 100/pct rows keep nothing (their first row
    already overshoots the fraction) — the standard floor semantics.

    ``banded=True`` (the default — the safe plan must be the one users
    get) produces the SAME kept set without ever sorting a whole
    group: per-group approximate score quantiles split each group into
    bands (equal scores share a band, so global in-group order is
    band-monotone); per-(group, band) counts and the group total give
    each band's rank offset as a tiny aggregate; bands wholly inside
    the integer threshold keep all rows, bands wholly outside drop,
    and only each group's ONE boundary band runs the exact rank
    window — partitioned by (group, band), so no task ever sorts more
    than ~1/n_bands of a language, no matter how dominant it is.

    ``banded=False`` is the one-window-per-group kernel — simplest
    plan, single sorted partition per language, fine while every
    language fits one task.

    The banded path consumes its input in several small aggregates
    (quantile cuts, band counts, offsets) plus the final probe — each
    re-executes unmaterialized lineage. Feed it a materialized table,
    or persist() upstream when the lineage is expensive (measured in
    BENCH/capstone_bench.json: scoring persisted once, the whole
    downstream chain then runs in a third of one lineage re-execution).
    """
    from pyspark.sql.window import Window

    if not banded:
        w_rank = Window.partitionBy(by_col).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        w_all = Window.partitionBy(by_col)
        return (
            df.withColumn("_rn", F.row_number().over(w_rank))
            .withColumn("_n", F.count(F.lit(1)).over(w_all))
            # _rn is IntegerType: cast to long before *100 or groups
            # past ~21.4M rows overflow int (ANSI error / silent wrap)
            .filter(
                F.col("_rn").cast("long") * 100
                <= F.lit(int(pct)).cast("long") * F.col("_n")
            )
            .drop("_rn", "_n")
        )

    df2, offsets = _banded_weighted_offsets(
        df, score_col, [by_col], F.lit(1), n_bands, accuracy
    )
    totals = offsets.groupBy(by_col).agg(F.sum("_bw").alias("_n"))
    # integer threshold rank per group: keep rank <= (pct * n) div 100.
    # eqNullSafe, NOT a name-list join — a null group key must still
    # find its total (plain equi-joins silently drop the null group)
    offsets = (
        offsets.join(
            totals.select(F.col(by_col).alias("_tot_key"), "_n"),
            F.col(by_col).eqNullSafe(F.col("_tot_key")),
        )
        .drop("_tot_key")
        .withColumn("_thr", F.expr(f"({int(pct)} * _n) div 100"))
        .drop("_n")
    )
    return _keep_by_rank_threshold(df2, offsets, score_col, by_col, id_col)


def _keep_by_rank_threshold(df2, offsets, score_col, by_col, id_col):
    """Shared tail of the banded per-group cuts: given the banded rows
    (``df2``) and per-(group, band) offsets carrying an integer rank
    threshold column ``_thr``, keep exactly the rows whose global
    in-group rank (by score desc, id) is <= _thr — whole bands inside
    the threshold pass untouched, whole bands outside drop, and only
    each group's ONE boundary band runs an exact rank window,
    partitioned by (group, band)."""
    from pyspark.sql.window import Window

    joined = df2.join(
        F.broadcast(
            offsets.select(
                F.col(by_col).alias("_off_key"),
                F.col("_band").alias("_off_band"),
                F.col("_bw").alias("_bc"),
                "_off",
                "_thr",
            )
        ),
        F.col(by_col).eqNullSafe(F.col("_off_key"))
        & (F.col("_band") == F.col("_off_band")),
    ).drop("_off_key", "_off_band")
    keep_all = joined.filter(F.col("_off") + F.col("_bc") <= F.col("_thr"))
    boundary = joined.filter(
        (F.col("_off") < F.col("_thr"))
        & (F.col("_off") + F.col("_bc") > F.col("_thr"))
    )
    w_in = Window.partitionBy(by_col, "_band").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    kept_boundary = boundary.withColumn(
        "_rn", F.row_number().over(w_in)
    ).filter(F.col("_off") + F.col("_rn").cast("long") <= F.col("_thr"))
    helper = ["_band", "_bc", "_off", "_thr"]
    return keep_all.drop(*helper).unionByName(
        kept_boundary.drop(*helper, "_rn")
    )


def keep_top_n_by_group(
    df: DataFrame,
    n: int,
    score_col: str = "quality_score",
    by_col: str = "source",
    id_col: str = "doc_id",
    banded: bool = True,
    n_bands: int = 64,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group diversity cap: keep at most ``n`` rows per group,
    preferring (score desc, id) — the C4/Gopher-style anti-domination
    move that stops a single mega-domain (or dump, or template farm)
    from owning the kept corpus. Rank-exact integer semantics: a row
    stays iff its in-group rank <= n, so the kept set is bit-identical
    across engines and partitionings.

    ``banded=True`` (default) rides the shared banded prefix-offset
    machinery: per-group approximate score quantiles band each group,
    tiny aggregates give every band its exact rank offset, bands wholly
    inside/outside the cap short-circuit, and only each group's ONE
    boundary band runs a rank window partitioned by (group, band) —
    the hot-domain group never sorts in a single task. ``banded=False``
    is the one-window-per-group kernel, kept as the oracle mirror
    (q73's SQL is exactly that window)."""
    from pyspark.sql.window import Window

    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    if not banded:
        w_rank = Window.partitionBy(by_col).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        return (
            df.withColumn("_rn", F.row_number().over(w_rank))
            .filter(F.col("_rn") <= n)
            .drop("_rn")
        )
    df2, offsets = _banded_weighted_offsets(
        df, score_col, [by_col], F.lit(1), n_bands, accuracy
    )
    offsets = offsets.withColumn("_thr", F.lit(int(n)).cast("long"))
    return _keep_by_rank_threshold(df2, offsets, score_col, by_col, id_col)


def exact_ntile_by_group(
    df: DataFrame,
    k: int,
    order_col: str = "word_count",
    by_col: str = "lang",
    id_col: str = "doc_id",
    out_col: str = "ntile",
    banded: bool = True,
    n_bands: int = 64,
    accuracy: int = 10_000,
) -> DataFrame:
    """EXACT ``ntile(k)`` per group over (order_col asc, id asc) —
    quality deciles/percentile bands for per-band curation — without
    ever sorting a whole group in one task.

    ``banded=False`` is the textbook kernel: ``ntile(k)`` over a window
    PARTITIONED BY group — which funnels every row of a group through
    ONE reducer. At web scale the dominant language is ~80% of the
    corpus, so that task never finishes; this kernel exists as the
    spec/oracle mirror.

    ``banded=True`` (the DEFAULT — the safe plan must be the one users
    get) computes the identical assignment via the shared banded
    prefix-offset machinery (``_banded_weighted_offsets``, the same
    derivation the token-budget cut and the per-group percentage cut
    ride):

      1. per-group approximate quantile cut points on the NEGATED
         order column band each group (equal values share a band, so
         ascending in-group order is band-monotone; approximation
         moves band boundaries, never the result);
      2. per-(group, band) counts give each band's exact rank offset
         through a tiny triangular aggregate (broadcast back);
      3. the only windows run PARTITIONED BY (group, band) — no task
         sorts more than ~1/n_bands of a group;
      4. global rank = band offset + in-band row_number, and the
         ntile bucket follows in closed form from the exact rank and
         the group size: with q = n div k, r = n mod k, the first r
         buckets hold q+1 rows —
         bucket = (rank-1) div (q+1) + 1           while rank ≤ r(q+1)
                  r + (rank - r(q+1) - 1) div q + 1 otherwise
         (pure integer arithmetic → bit-identical across engines).

    Sizing note: n_bands bounds the largest window task at
    ~group_size/n_bands rows; a 10^12-doc corpus wants 10^4–10^5 bands
    (see select_within_token_budget). Feed materialized/persisted
    input — the banded path consumes its lineage in several small
    aggregates plus the final probe."""
    from pyspark.sql.window import Window

    if not banded:
        w = Window.partitionBy(by_col).orderBy(F.col(order_col), F.col(id_col))
        return df.withColumn(out_col, F.ntile(k).over(w).cast("int"))

    df2, offsets = _banded_weighted_offsets(
        df.withColumn("_negord", -F.col(order_col)),
        "_negord",
        [by_col],
        F.lit(1),
        n_bands,
        accuracy,
    )
    totals = offsets.groupBy(by_col).agg(F.sum("_bw").alias("_n"))
    offsets = offsets.join(
        totals.select(F.col(by_col).alias("_tot_key"), "_n"),
        F.col(by_col).eqNullSafe(F.col("_tot_key")),
    ).drop("_tot_key")
    joined = df2.join(
        F.broadcast(
            offsets.select(
                F.col(by_col).alias("_off_key"),
                F.col("_band").alias("_off_band"),
                "_off",
                "_n",
            )
        ),
        F.col(by_col).eqNullSafe(F.col("_off_key"))
        & (F.col("_band") == F.col("_off_band")),
    ).drop("_off_key", "_off_band")
    w_in = Window.partitionBy(by_col, "_band").orderBy(
        F.col(order_col), F.col(id_col)
    )
    ranked = joined.withColumn(
        "_rank", F.col("_off") + F.row_number().over(w_in).cast("long")
    )
    kk = int(k)
    bucket = F.when(
        F.col("_rank") <= F.expr(f"(_n % {kk}) * ((_n div {kk}) + 1)"),
        F.expr(f"(_rank - 1) div ((_n div {kk}) + 1) + 1"),
    ).otherwise(
        F.expr(
            f"(_n % {kk}) + (_rank - (_n % {kk}) * ((_n div {kk}) + 1) - 1)"
            f" div (_n div {kk}) + 1"
        )
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop(
        "_negord", "_band", "_off", "_n", "_rank"
    )


def plan_sequence_packing(
    df: DataFrame,
    seq_len: int,
    n_shards: int,
    tokens_col: str = "word_count",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence-packing PLAN (the GPT-style batch
    layout: concatenate documents in a deterministic order, slice the
    stream into fixed ``seq_len``-token training sequences, documents
    crossing boundaries): for each doc, which shard-local sequence it
    starts in and at what offset. Emits ``(id, shard, tokens,
    start_seq, start_offset)`` — the deterministic placement map a
    tokenize-and-pack writer consumes; no text moves here.

    Sharding makes it web-scale: real packers lay out WITHIN a shard
    (a training file), never across the corpus, so the running token
    total is a window per shard — shuffle keyed by the shard, per-shard
    sort by id, no global sort anywhere. ``shard_col`` lets callers
    bring their own layout key (dump id, path bucket); the default
    ``id % n_shards`` is the portable deterministic choice.

    All-integer arithmetic (cumulative sums, floor division), so the
    plan is bit-identical across engines and partitionings.
    """
    from pyspark.sql.window import Window

    shard = (
        F.col(shard_col)
        if shard_col is not None
        else F.pmod(F.col(id_col), F.lit(n_shards))
    )
    staged = df.select(
        F.col(id_col),
        shard.cast("long").alias("shard"),
        F.col(tokens_col).cast("long").alias("tokens"),
    )
    # ROWS frame pinned explicitly: the default RANGE frame sums all
    # ORDER-BY peers, so duplicate ids would each absorb the other's
    # tokens — ROWS keeps the layout well-defined on any input
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("tokens").over(w)
    placed = staged.withColumn("_start", (cum - F.col("tokens")).cast("long"))
    # `div` (integral division), NOT `/`: Divide produces DoubleType,
    # which goes inexact past 2^53 cumulative tokens and can disagree
    # with the exact pmod offset — breaking the all-integer guarantee
    return placed.select(
        F.col(id_col),
        "shard",
        "tokens",
        F.expr(f"_start div {int(seq_len)}").cast("long").alias("start_seq"),
        F.pmod(F.col("_start"), F.lit(seq_len)).cast("long").alias(
            "start_offset"
        ),
    )


def deterministic_shuffle(
    df: DataFrame,
    seed: int,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Seeded deterministic corpus shuffle — the pre-training layout
    stage that decorrelates crawl order. Scan order is *adversarially*
    correlated for training (a domain's pages are id-adjacent, a dump's
    docs are contiguous), so packers shuffle before laying out training
    files; doing it seeded makes the data order reproducible across
    re-runs and engines.

    Shape: a 60-bit engine-portable hash of ``(id, seed)`` (md5-prefix,
    the same portable family the Bloom/MinHash oracles use — NOT
    xxhash64, which DuckDB can't replay) assigns each doc a shard
    (``hash % n_shards``) and its rank within that shard
    (``row_number`` by hash, id-tiebreak ⇒ a total order even on
    hash collisions). Emits ``(id, shuffle_hash, shard, shard_rank)``
    — the placement map a training-file writer consumes; combine with
    ``plan_sequence_packing(shard_col='shard')`` for shuffled packing.

    Scale: one hash shuffle keyed by shard + a per-shard sort window.
    ``n_shards`` is the number of output training files, which real
    writers size to the corpus (corpus_tokens / file_token_budget —
    e.g. ~100k files for 100 TB), so per-shard row counts stay bounded
    and no reducer sees more than one file's worth of docs. A global
    total order is deliberately NOT offered: no consumer needs one, and
    it would funnel the corpus through a single sort range at scale.

    Determinism contract: same (ids, seed, n_shards) ⇒ bit-identical
    output on any partitioning/engine (all arithmetic is exact integer;
    the hash is data-derived, no RNG state anywhere).
    """
    from pyspark.sql.window import Window

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    # 15 hex chars = 60 bits: fits a signed 64-bit int in both engines
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"), F.lit(str(int(seed)))
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    staged = df.select(
        F.col(id_col), h.alias("shuffle_hash")
    ).withColumn("shard", F.pmod(F.col("shuffle_hash"), F.lit(n_shards)))
    w = Window.partitionBy("shard").orderBy("shuffle_hash", id_col)
    return staged.select(
        id_col,
        "shuffle_hash",
        F.col("shard").cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("shard_rank"),
    )


# --- compression-ratio quality signal ---------------------------------------

def _compression_ratio_udf():
    """Arrow-batched zlib compression ratio (compressed/raw bytes):
    templated/repetitive boilerplate compresses far better than organic
    prose, making the ratio a cheap model-free quality signal (low
    ratio = repetitive = suspect). zlib is CPU-bound C inside the
    worker, amortized over Arrow batches — the legitimate pandas-UDF
    case, like the reference-parity decode UDF. Not SQL-expressible, so
    the driver's check for q57 is rows-only; the unit test verifies
    against direct python zlib on the same strings."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def compression_ratio(text: pd.Series) -> pd.Series:
        import zlib

        def ratio(s):
            if s is None:
                return None
            raw = s.encode("utf-8", "ignore")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 4)

        return text.map(ratio)

    return compression_ratio


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "compression_ratio"
) -> DataFrame:
    return df.withColumn(out_col, _compression_ratio_udf()(F.col(text_col)))


# ---------------------------------------------------------------------------
# Gopher doc-shape rules (line-level + symbol-to-word; Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------

BULLET_MARKERS = ("- ", "* ", "•", "– ")  # -, *, •, –


def with_doc_shape_features(
    df: DataFrame, text_col: str = "text", lower_tokens_col: str | None = None
) -> DataFrame:
    """The Gopher doc-shape rules the heuristic feature set lacked:

    * ``n_lines``             — non-blank line count
    * ``bullet_start_frac``   — fraction of non-blank lines whose
                                ltrim starts with a bullet marker
                                (Gopher drops > 0.9)
    * ``ellipsis_end_frac``   — fraction of non-blank lines whose
                                rtrim ends with ``...`` or ``…``
                                (Gopher drops > 0.3)
    * ``alpha_word_frac``     — fraction of words containing at least
                                one letter of any script (Gopher keeps
                                ≥ 0.8)
    * ``hash_word_ratio``     — ``#`` chars per word (Gopher drops > 0.1)
    * ``ellipsis_word_ratio`` — ellipsis occurrences per word
                                (Gopher drops > 0.1)

    All whole-stage codegen: one newline split + array lambdas + literal
    ``replace`` counting — no UDFs, no shuffles; fuses into the same map
    stage as ``with_quality_features``. Ellipsis counting is
    replace-based (``(len - len(replace(text,'...','')))/3``) rather
    than regex so the DuckDB oracle applies the identical expression.
    Fractions round to 4dp like the rest of the feature surface; null
    text yields null features (the gates' permissive null semantics).
    """
    text = F.col(text_col)
    if lower_tokens_col is None:
        lw = ws_tokens(F.lower(text))
    else:
        lw = F.col(lower_tokens_col)
    lines = F.filter(
        F.split(text, "\n"), lambda ln: F.length(F.trim(ln)) > 0
    )
    n_lines = F.size(lines)
    nl1 = F.greatest(n_lines, F.lit(1))
    bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.reduce(
                F.array(*[F.lit(m) for m in BULLET_MARKERS]),
                F.lit(False),
                lambda acc, m: acc | F.ltrim(ln).startswith(m),
            ),
        )
    )
    ell_end = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...")
            | F.rtrim(ln).endswith("…"),
        )
    )
    words = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(lw))
    w1 = F.greatest(words, F.lit(1))
    # \p{L}: a letter of any script, so CJK and accented words count
    alpha = F.size(F.filter(lw, lambda t: t.rlike(r"\p{L}")))
    hash_cnt = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3 + (
        F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    )
    return (
        df.withColumn("n_lines", n_lines.cast("long"))
        .withColumn("bullet_start_frac", F.round(bullet / nl1, 4))
        .withColumn("ellipsis_end_frac", F.round(ell_end / nl1, 4))
        .withColumn("alpha_word_frac", F.round(alpha / w1, 4))
        .withColumn("hash_word_ratio", F.round(hash_cnt / w1, 4))
        .withColumn("ellipsis_word_ratio", F.round(ell_cnt / w1, 4))
    )


def gopher_doc_shape_keep(
    bullet_start_frac: Column,
    ellipsis_end_frac: Column,
    alpha_word_frac: Column,
    hash_word_ratio: Column,
    ellipsis_word_ratio: Column,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    max_symbol_word_ratio: float = 0.1,
) -> Column:
    """Gopher's doc-shape keep decision (paper §A1.1 thresholds)."""
    return (
        (bullet_start_frac <= max_bullet_frac)
        & (ellipsis_end_frac <= max_ellipsis_frac)
        & (alpha_word_frac >= min_alpha_word_frac)
        & (hash_word_ratio <= max_symbol_word_ratio)
        & (ellipsis_word_ratio <= max_symbol_word_ratio)
    )
