"""Text scalar functions: decode, tokenization, language ID, fingerprints.

All hot-path functions are pure Column expressions (JVM, whole-stage
codegen). Python appears only in ``decode_utf8_ignore_udf``, where
byte-exact parity with the reference's ``bytes.decode('utf-8',
errors='ignore')`` (/root/reference/fineweb_analyzer.py:95) is
invariant-critical and Spark's ``decode()`` has no 'ignore' mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


@pandas_udf(StringType())
def decode_utf8_ignore_udf(payload: pd.Series) -> pd.Series:
    """BINARY html → STRING text with Python's errors='ignore' semantics.

    Spark's `decode(col,'UTF-8')` replaces/raises on invalid bytes;
    the reference silently drops them, and the byte-identical-text
    invariant requires exactly that.
    """
    return payload.map(lambda b: None if b is None else bytes(b).decode("utf-8", "ignore"))


# --- unicode normalization -------------------------------------------------

@pandas_udf(StringType())
def nfc_normalize_udf(text: pd.Series) -> pd.Series:
    """Unicode NFC canonical composition (combining sequences →
    precomposed forms).  NFC is normative and stable, so Python's
    unicodedata and the DuckDB oracle's utf8proc agree byte-for-byte
    on assigned codepoints — differential-tested."""
    import unicodedata

    return text.map(
        lambda s: None if s is None else unicodedata.normalize("NFC", s)
    )


#: C0/C1 controls (minus \t \n \r, handled by the whitespace collapse)
#: plus the zero-width format chars and the BOM — the characters a
#: web-text pipeline strips before tokenization.
CONTROL_FORMAT_CLASS = (
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f"
    "\\u200b\\u200c\\u200d\\ufeff]"
)


def normalize_text(text: Column) -> Column:
    """The standard pre-tokenization normalization stage: strip
    control/format characters, map NBSP to space, NFC-compose, then
    collapse whitespace runs and trim.

    Scale shape: every step except NFC is a JVM ``regexp_replace``
    (whole-stage codegen).  The NFC crossing is GATED — only rows that
    still contain a non-ASCII byte take the Arrow pandas UDF; NFC is
    the identity on ASCII, and the overwhelmingly-ASCII web hot path
    never leaves the JVM.  The oracle applies NFC unconditionally
    (identity on ASCII ⇒ equivalent).
    """
    cleaned = F.regexp_replace(text, CONTROL_FORMAT_CLASS, "")
    cleaned = F.regexp_replace(cleaned, "\\u00a0", " ")
    nfc = F.when(
        cleaned.rlike("[^\x00-\x7f]"), nfc_normalize_udf(cleaned)
    ).otherwise(cleaned)
    return F.trim(F.regexp_replace(nfc, "[ \t\r\n]+", " "))


# --- SQL-text expressions ---------------------------------------------------
#
# Every pyspark.sql.functions / Column call is a py4j round trip — with
# the DataFrame call-site tracking, about ten — so a literal-heavy
# expression built call by call costs hundreds of round trips of driver
# time for every plan built. The flagship plan's static expressions are
# therefore written as SQL text and parsed by ONE ``F.expr`` call per
# staged column; the parser builds the same expression trees the
# Column API does (``x IN (...)`` → In, ``CASE`` → CaseWhen, ``a -> e``
# → LambdaFunction). Literal types are spelled out where SQL would
# infer another: ``0.15D`` (a bare 0.15 is a DECIMAL), ``CAST(0 AS
# BIGINT)``.

def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslashes and quotes are
    escaped, so a regex pattern reaches the function unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_num(x: float) -> str:
    """A Python number as the SQL literal of the type the Column API
    gives it: an int stays an int (or BIGINT), a float is a DOUBLE."""
    return repr(x) + "D" if isinstance(x, float) else str(int(x))


def sql_ident(name: str) -> str:
    """A column name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_list(values) -> str:
    """Comma-separated SQL string literals, for ``IN (...)`` and
    ``array(...)``."""
    return ", ".join(sql_str(v) for v in values)


# --- tokenization ----------------------------------------------------------

def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column. Matches
    ``re.split(r'\\s+')`` on trimmed text (both Spark and DuckDB agree
    on this shape, which the oracle queries rely on)."""
    return F.split(F.trim(text), r"\s+")


def ws_token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(ws_tokens(text))
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-flavored regex tokenizer: alpha runs, digit runs, single
    punctuation — a cheap stand-in for subword counts, fully JVM-side."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


# --- language ID (n-gram/stopword heuristic) -------------------------------

# Tiny per-language stopword lists. A real deployment swaps in fastText
# via a pandas UDF (see operators/quality.py:fasttext_like_langid_udf);
# this heuristic is the deterministic, JVM-only fallback that needs no
# model artifact and is oracle-expressible in ANSI SQL.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"),
    "fr": ("le", "la", "les", "et", "est", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "una", "para", "en", "que", "por"),
}


#: CJK unified ideographs, the chars ``cjk_char_count`` counts
CJK_CLASS = "[一-鿿]"


def stopword_hits(text: Column, lang: str = "en") -> Column:
    words = ws_tokens(F.lower(text))
    arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(words, lambda t: F.array_contains(arr, t)))


def cjk_char_count(text: Column) -> Column:
    """Count CJK-unified-ideograph chars (the reference fixtures carry a
    chinese_chars field computed the same way upstream).  Pure-ASCII
    text (as many chars as UTF-8 bytes) holds none, so it skips the
    regex pass: see :func:`_cjk_count_sql`."""
    count = F.length(text) - F.length(F.regexp_replace(text, CJK_CLASS, ""))
    return F.when(F.length(text) == F.octet_length(text), F.lit(0)).otherwise(count)


def langid_hits_from_tokens(lowered_tokens: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(lowered_tokens, lambda t: F.array_contains(arr, t)))


def langid_from_hits(
    hit_cols: dict[str, Column], cjk_ratio: Column
) -> Column:
    """Decision over integer hit counts (no float-equality hazards):
    CJK-ratio > 0.15 → 'zh'; else argmax hits with priority
    en > de > fr > es on ties; all-zero → 'unk'."""
    best = F.greatest(*hit_cols.values())
    guess = F.lit("unk")
    for lang in reversed(list(hit_cols)):  # earlier langs win ties
        guess = F.when(hit_cols[lang] == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best <= 0, F.lit("unk")).otherwise(guess)
    return F.when(cjk_ratio > 0.15, F.lit("zh")).otherwise(guess)


def _cjk_count_sql(text: str) -> str:
    """:func:`cjk_char_count` as SQL text over the SQL expression
    ``text``.  The gate is exact: ``length`` counts chars and
    ``octet_length`` UTF-8 bytes, so they are equal only for pure-ASCII
    text, which holds no CJK char (null text stays null)."""
    return (
        f"CASE WHEN length({text}) = octet_length({text}) THEN 0 "
        f"ELSE length({text}) - length(regexp_replace({text}, {sql_str(CJK_CLASS)}, '')) END"
    )


def _lang_argmax_sql(hits: dict[str, str]) -> str:
    """The non-CJK half of :func:`langid_from_hits` as SQL text over SQL
    hit-count expressions: argmax with earlier languages winning ties,
    all-zero → 'unk'."""
    best = f"greatest({', '.join(hits.values())})"
    guess = "'unk'"
    for lang in reversed(list(hits)):  # earlier langs win ties
        guess = f"CASE WHEN {hits[lang]} = {best} THEN {sql_str(lang)} ELSE {guess} END"
    return f"CASE WHEN {best} <= 0 THEN 'unk' ELSE {guess} END"


def langid_heuristic(text: Column) -> Column:
    """Deterministic heuristic language ID (single-expression form —
    fine for one-off use; the pipeline uses with_langid to stage the
    token array once, keeping codegen methods small)."""
    toks = ws_tokens(F.lower(text))
    hits = {lang: langid_hits_from_tokens(toks, lang) for lang in LANG_STOPWORDS}
    cjk_ratio = cjk_char_count(text) / F.greatest(F.length(text), F.lit(1))
    return langid_from_hits(hits, cjk_ratio)


def with_langid(
    df,
    text_col: str = "text",
    out_col: str = "langid",
    lower_tokens_col: str | None = None,
):
    """Staged-projection langid: token array materialized once, per-lang
    hit counts as their own columns, decision from attribute refs; the
    same labels as :func:`langid_heuristic`.

    ``lower_tokens_col`` lets the caller share an already-staged
    ws_tokens(lower(text)) column (the pipeline stages it once for
    langid AND the quality features — tokenization is the dominant
    per-row cost, so computing it once matters).

    Driver cost: each staged column is SQL text parsed by ONE
    ``F.expr`` call (see "SQL-text expressions" above). Built through
    the Column API, the stop-word literals, lambdas and decision tree
    took ~1,460 py4j round trips per call; as text they take ~50. The
    independent hit columns share one projection, which leaves the
    optimized plan unchanged.

    Executor cost: the CJK count skips its regex pass on pure-ASCII
    text (``_cjk_count_sql``). Docs past the packed path's 32,767-token
    limit count all languages in one aggregate pass."""
    if lower_tokens_col is None:
        df = df.withColumn("_li_toks", ws_tokens(F.lower(F.col(text_col))))
        lower_tokens_col, drop_toks = "_li_toks", ["_li_toks"]
    else:
        drop_toks = []
    text, toks = sql_ident(text_col), sql_ident(lower_tokens_col)
    # ALL per-language hit counts in ONE token pass: each token adds
    # 1 << (16 * lang_index) to a packed long (IN compiles to an InSet
    # hash probe), and the counts unpack as 16-bit fields — ~25%
    # cheaper than one filter() pass per language (measured 2.9 s vs
    # 3.9 s per 1.2M docs). The fast path is gated to docs with
    # < 32,768 tokens: per-field hit counts then max at 32,767, so no
    # field carries into its neighbor AND the top field stays below
    # 32767 << 48 < 2^63 — the packed sum can never overflow a signed
    # long (ANSI mode throws on overflow at COMPUTE time, so the sum
    # must also only be computed on that branch: CaseWhen evaluates
    # branches lazily per row, making the gate itself the protection).
    langs = list(LANG_STOPWORDS)
    assert len(langs) <= 4, "packed langid fields: 4 × 16-bit max in a long"
    zero = "CAST(0 AS BIGINT)"
    enc = " + ".join(
        [zero]
        + [
            f"CASE WHEN _li_t IN ({sql_list(LANG_STOPWORDS[lang])}) "
            f"THEN CAST({1 << (16 * i)} AS BIGINT) ELSE {zero} END"
            for i, lang in enumerate(langs)
        ]
    )
    small = f"size({toks}) < 32768"
    df = df.withColumn(
        "_li_packed",
        F.expr(
            f"CASE WHEN {small} THEN aggregate({toks}, {zero}, "
            f"(_li_acc, _li_t) -> _li_acc + ({enc})) ELSE {zero} END"
        ),
    )
    # hit counts STAGED as columns: the decision references each count
    # several times (greatest + per-lang equality); per-hit CASE guards
    # here measured +20% on the whole stage, so the size guard is ONE
    # top-level CASE on the final decision instead — the slow
    # per-language branch only executes for monster docs
    df = df.withColumns(
        {
            f"_li_h_{lang}": F.expr(f"shiftright(_li_packed, {16 * i}) & 65535")
            for i, lang in enumerate(langs)
        }
    )
    # the decision: CJK ratio first (one text scan, either path), then
    # the packed counts. Monster docs, where the packed long could
    # overflow, count into an array<int> accumulator and decide in the
    # aggregate's finish lambda; the coalesce keeps null text (null
    # tokens) at 'unk', the label per-language counts always gave it
    cjk_ratio = f"{_cjk_count_sql(text)} / greatest(length({text}), 1)"
    fast = _lang_argmax_sql({lang: f"_li_h_{lang}" for lang in langs})
    count = ", ".join(
        f"_li_c[{i}] + CASE WHEN _li_t IN ({sql_list(LANG_STOPWORDS[lang])}) THEN 1 ELSE 0 END"
        for i, lang in enumerate(langs)
    )
    slow = _lang_argmax_sql({lang: f"_li_c[{i}]" for i, lang in enumerate(langs)})
    zeros = ", ".join("0" for _ in langs)
    df = df.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN {cjk_ratio} > 0.15D THEN 'zh' WHEN {small} THEN {fast} "
            f"ELSE coalesce(aggregate({toks}, array({zeros}), "
            f"(_li_c, _li_t) -> array({count}), _li_c -> {slow}), 'unk') END"
        ),
    )
    return df.drop(
        *drop_toks, "_li_packed", *[f"_li_h_{lang}" for lang in langs]
    )


# --- fingerprinting ---------------------------------------------------------

def content_fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct whitespace tokens. Detects bag-of-words duplicates
    regardless of word order; JVM-only."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(ws_tokens(F.lower(text)))), " ")
    )


def exact_fingerprint(text: Column) -> Column:
    """Byte-exact duplicate key."""
    return F.md5(text)


def with_lang_consistency(
    df,
    text_col: str = "text",
    seg_tokens: int = 25,
    lower_tokens_col: str | None = None,
):
    """Mixed-language detection by segment-level language ID (the
    CCNet-style paragraph-langid idea, token-windowed so it also works
    on break-free extracted text): the token stream is cut into
    ``seg_tokens``-token segments, each segment gets the stopword-hit
    language decision (same argmax + tie order as ``with_langid``;
    zh stays a DOC-level decision via the cjk ratio, so segment IDs
    cover the latin-script languages + 'unk'), and the doc is
    summarized as

    * ``n_segments``     — token-window count
    * ``majority_lang``  — most common segment language (ties break in
                           the langid order, then 'unk')
    * ``majority_frac``  — its share of segments (4dp)
    * ``n_langs``        — distinct segment languages
    * ``lang_mixed``     — n_langs > 1 (the curation flag: spam and
                           template pages interleave languages; a
                           doc-level ID hides that)

    All nested array lambdas inside whole-stage codegen — no UDFs, no
    shuffles. Null text behaves like empty text (the null token count
    fails the ``n_segs > 0`` gate, so both yield 0 segments / 'unk' /
    0.0 / 0 / false — CaseWhen treats a null condition as false, and
    the DuckDB oracle's CASE does the same).
    """
    langs = list(LANG_STOPWORDS)
    text = F.col(text_col)
    if lower_tokens_col is None:
        toks = ws_tokens(F.lower(text))
    else:
        toks = F.col(lower_tokens_col)
    n = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(toks))
    n_segs = F.ceil(n / F.lit(float(seg_tokens))).cast("int")
    segs = F.when(
        n_segs > 0,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.slice(toks, i * seg_tokens + 1, seg_tokens),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))

    def _seg_lang(s):
        hits = [
            F.size(F.filter(s, lambda t: t.isin(*LANG_STOPWORDS[lang])))
            for lang in langs
        ]
        g = F.greatest(*hits)
        out = F.when(g <= 0, F.lit("unk"))
        for lang, h in zip(langs[:-1], hits[:-1]):
            out = out.when(h == g, F.lit(lang))
        return out.otherwise(F.lit(langs[-1]))

    df = df.withColumn("_lc_seg_langs", F.transform(segs, _seg_lang))
    seg_langs = F.col("_lc_seg_langs")
    counts = [
        F.size(F.filter(seg_langs, lambda x: x == F.lit(lang)))
        for lang in langs + ["unk"]
    ]
    maxc = F.greatest(*counts)
    majority = F.when(F.size(seg_langs) == 0, F.lit("unk"))
    for lang, c in zip(langs + ["unk"], counts):
        majority = majority.when(c == maxc, F.lit(lang))
    n_segments = F.size(seg_langs)
    return (
        df.withColumn("n_segments", n_segments.cast("long"))
        .withColumn("majority_lang", majority)
        .withColumn(
            "majority_frac",
            F.round(maxc / F.greatest(n_segments, F.lit(1)), 4),
        )
        .withColumn(
            "n_langs", F.size(F.array_distinct(seg_langs)).cast("long")
        )
        .withColumn("lang_mixed", F.col("n_langs") > 1)
        .drop("_lc_seg_langs")
    )


# ---------------------------------------------------------------------------
# Mojibake repair (ftfy-lite: undo UTF-8 bytes mis-decoded as cp1252/latin-1)
# ---------------------------------------------------------------------------

# Markers of UTF-8 read as single-byte: '\u00c2'/'\u00c3' followed by
# another high-latin1 char (2-byte sequences for U+0080-U+07FF) or the
# '\u00e2\u20ac' prefix cp1252 shows for the 3-byte punctuation block.
_MOJIBAKE_PAT = "(?:[\u00c2\u00c3][\u0080-\u00ff])|\u00e2\u20ac"
import re as _re_mod

_MOJIBAKE_RE = _re_mod.compile(_MOJIBAKE_PAT)  # compiled once; the UDF
# maps fix_mojibake_text per row, so a per-call compile would sit in the
# hottest Python path of the repair stage


def corrupt_utf8_as_latin1(s: str | None) -> str | None:
    """Test/fixture helper: the classic corruption itself — UTF-8 bytes
    re-read as latin-1 (what a mislabeled HTTP charset does)."""
    if s is None:
        return None
    return s.encode("utf-8").decode("latin-1")


def fix_mojibake_text(s: str | None) -> str | None:
    """One ftfy-style repair pass: if mojibake markers are present, try
    re-encoding via cp1252 then latin-1 and strict-decoding as UTF-8;
    accept the FIRST candidate that strictly reduces marker count.
    Deterministic, conservative (marker-free or unrepairable text is
    returned unchanged; a failed strict round-trip never corrupts
    further). Single pass — doubly-encoded text needs two applications,
    deliberately not looped so cost is bounded."""
    if s is None:
        return None
    pat = _MOJIBAKE_RE
    base = len(pat.findall(s))
    if base == 0:
        return s
    for enc in ("cp1252", "latin-1"):
        try:
            cand = s.encode(enc, "strict").decode("utf-8", "strict")
        except (UnicodeEncodeError, UnicodeDecodeError):
            continue
        if len(pat.findall(cand)) < base:
            return cand
    return s


def fix_mojibake_udf():
    """Arrow-batched pandas UDF over :func:`fix_mojibake_text` — the
    encode/decode round-trip is not SQL-expressible, so this is a
    legitimate Python crossing (same class as the decode/zlib UDFs);
    the oracle joins the committed ``artifacts/mojibake.parquet``
    fixture generated from these exact functions."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _fix(text: pd.Series) -> pd.Series:
        return text.map(fix_mojibake_text)

    return _fix


def with_mojibake_fix(
    df,
    text_col: str = "text",
    out_col: str = "fixed_text",
    flag_col: str = "mojibake_fixed",
):
    """``out_col`` = repaired text, ``flag_col`` = whether the repair
    changed anything (null-safe; null text stays null / flag false)."""
    fixed = fix_mojibake_udf()(F.col(text_col))
    df = df.withColumn(out_col, fixed)
    return df.withColumn(
        flag_col, ~F.col(out_col).eqNullSafe(F.col(text_col))
    )


def corrupt_utf8_as_latin1_udf():
    """Arrow UDF over :func:`corrupt_utf8_as_latin1` — used by tests and
    the q111 driver query to plant deterministic corruption."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _corrupt(text: pd.Series) -> pd.Series:
        return text.map(corrupt_utf8_as_latin1)

    return _corrupt
