"""Text-analysis column functions for the documents table.

Large-scale training-data pipeline operators: tokenization, token
counting (whitespace + BPE-ish regex), quality scoring, language-ID
heuristic, document fingerprinting. Everything is built-in Spark SQL
expressions (JVM-side, codegen'd) — no Python UDFs — and every function
has an exact DuckDB-SQL equivalent so the driver oracle can verify it.

Cross-engine hash primitive: ``md5_long`` maps any string to a 60-bit
integer identically in Spark (``conv(substr(md5(x),1,15),16,10)``) and
DuckDB (``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``) — the foundation
for deterministic MinHash / SimHash in ``operators.dedup``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenization: word runs or single non-space punctuation — a cheap
# stand-in for subword token counting with identical regex semantics in
# Spark (Java regex) and DuckDB (RE2): \w and \s agree on ASCII input.
BPE_REGEX = r"\w+|[^\w\s]"

PUNCT_CLASS = r"[^.,!?;:]"  # regexp_replace keep-list used for punct counting

STOPWORDS = ("the", "a", "is", "of", "and", "to", "in")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "of", "and"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "une", "et", "est"),
    "es": ("el", "los", "una", "y", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish markers
}
LANG_PRIORITY = ("en", "de", "fr", "es", "zh")


def ws_tokens(c: Column) -> Column:
    """Whitespace tokenization (== DuckDB ``string_split_regex(trim(x),'\\s+')``)."""
    return F.split(F.trim(c), r"\s+")


def ws_token_count(c: Column) -> Column:
    return F.size(ws_tokens(c))


def bpe_token_count(c: Column) -> Column:
    """Count of BPE-ish regex tokens (== DuckDB ``len(regexp_extract_all(...))``)."""
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), 0))


def punct_ratio(c: Column) -> Column:
    """Punctuation chars / total chars."""
    return F.length(F.regexp_replace(c, PUNCT_CLASS, "")) / F.length(c)


def stopword_ratio(c: Column) -> Column:
    """Stopword tokens / all tokens (with multiplicity)."""
    toks = ws_tokens(c)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return hits / F.size(toks)


def quality_score(c: Column) -> Column:
    """Composite quality heuristic in [0, 1]:
    0.4 x capped length signal + 0.3 x stopword signal + 0.3 x low-punct
    signal. An arbitrary-but-documented formula; what matters is that it is
    deterministic and cheap (one codegen'd projection at any scale)."""
    length_signal = F.least(ws_token_count(c) / F.lit(100.0), F.lit(1.0))
    stop_signal = F.least(stopword_ratio(c) * 5, F.lit(1.0))
    return 0.4 * length_signal + 0.3 * stop_signal + 0.3 * (1 - punct_ratio(c))


def lang_hit_count(c: Column, lang: str) -> Column:
    toks = ws_tokens(c)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_id(c: Column) -> Column:
    """Marker-word language ID: argmax of per-language marker hit counts,
    ties broken by fixed priority order, 'und' when nothing matches."""
    counts = {lg: lang_hit_count(c, lg) for lg in LANG_PRIORITY}
    best = F.greatest(*counts.values())
    expr = F.when(best == 0, "und")
    for lg in LANG_PRIORITY:
        expr = expr.when(counts[lg] == best, lg)
    return expr


def normalized_text(c: Column) -> Column:
    """lower + collapse whitespace + trim — canonical form for hashing."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(c: Column) -> Column:
    """md5 fingerprint of the normalized text (exact-dup key)."""
    return F.md5(normalized_text(c))


def md5_long(c: Column) -> Column:
    """60-bit integer hash, identical in Spark and DuckDB (see module doc)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# PERFORMANCE NOTE (measured 7x at sf0.1): an expression captured inside a
# higher-order-function lambda is RE-EVALUATED per array element — a
# regex-split referenced inside ``transform``'s lambda turns O(tokens)
# shingling into O(tokens^2). Hot paths must therefore stage the token
# array into its own projection (a plain column reference is cheap to
# re-evaluate) and build shingles with the ``*_from_tokens`` variants
# below. Catalyst's CollapseProject will NOT inline a multi-referenced
# expensive alias, so a two-step select keeps the split evaluated once.


def _index_range(hi: Column) -> Column:
    """``[1 .. hi]``, EMPTY when ``hi < 1``. Spark's ``sequence(1, 0)``
    counts DOWN to ``[1, 0]`` (step defaults to sign(stop-start)), unlike
    DuckDB's ``generate_series(1, 0) = []`` — unguarded, a row shorter
    than the shingle width feeds ``slice`` a 0 start and aborts the whole
    stage. Clamped branch-free: build ``[1 .. max(hi, 1)]`` and slice it
    to ``max(hi, 0)`` elements (``slice(_, 1, 0)`` is ``[]``). A CASE
    WHEN form measured 2.3x slower on the contamination shingle path at
    sf0.1 — the conditional blocks subexpression reuse between the
    shingle transform and the hash transform stacked on top of it."""
    return F.slice(
        F.sequence(F.lit(1), F.greatest(hi, F.lit(1))),
        1,
        F.greatest(hi, F.lit(0)),
    )


def grams_from_tokens(toks: Column, n: int) -> Column:
    """Position-ordered word n-grams from a MATERIALIZED token-array
    column (see performance note above; pass a plain column reference).

    Built by zipping the token array against its own 1..n-1 shifts —
    n-1 linear array passes — instead of ``transform(sequence(...),
    i -> concat_ws(' ', slice(toks, i, n)))``, whose per-position
    ``slice`` allocates an n-element array for every gram (measured
    1.7x slower for bigrams over the sf0.1 documents corpus, 1.04 s vs
    0.62 s min-of-3). ``zip_with`` pads the shorter side with NULLs and
    ``concat`` propagates them, so the trailing n-1 partial grams come
    out NULL and the final ``slice`` drops them — identical output to
    the index form (DuckDB twin: ``list_transform(generate_series(1,
    len(t)-n+1), i -> array_to_string(t[i:i+n-1], ' '))``).

    NULL-array behavior: a NULL ``toks`` yields NULL (the DuckDB twin's
    behavior too), where the pre-r11 sequence/slice form yielded ``[]``
    — no caller feeds NULL (tokenizers never return it), but note the
    contract change. NULL-element behavior: a NULL element INSIDE the
    array produces NULL grams at every window covering it (``concat``
    propagates NULLs, where the old ``concat_ws`` form skipped them),
    and those NULLs stay mid-array — they would flow into any hash
    stacked on top. This never happens in practice either: ``F.split``
    and ``regexp_extract_all`` cannot emit NULL elements
    (``tests/test_text_functions.py`` pins both guarantees), so the
    semantics are documented rather than guarded — a filter() pass on
    every shingle call would cost more than the hazard it prevents."""
    if n == 1:
        return toks
    size = F.size(toks)
    cur = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(size - k, F.lit(0)))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.slice(cur, 1, F.greatest(size - (n - 1), F.lit(0)))


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a materialized token-array
    column — :func:`grams_from_tokens` + dedup."""
    return F.array_distinct(grams_from_tokens(toks, n))


def positional_hashes_from_tokens(toks: Column, n: int) -> Column:
    """Position-ordered (no dedup) shingle hashes from a materialized
    token-array column — input for rolling-window schemes (winnowing)."""
    return F.transform(grams_from_tokens(toks, n), md5_long)


def winnowing_from_hashes(h: Column, window: int) -> Column:
    """Winnowing (Schleimer/Wilkerson/Aiken, MOSS) over a MATERIALIZED
    positional-hash array column (``h`` is sliced inside the lambda —
    stage it first): slide a ``window`` over the hash sequence, keep each
    window's minimum hash, dedup. Every match of length >= window+n-1
    tokens shares a fingerprint, at ~2/(window+1) the density of full
    shingling. (Simplified tie rule: min VALUE per window rather than
    rightmost-min position — deterministic and engine-agnostic.)"""
    starts = _index_range(F.size(h) - (window - 1))
    mins = F.transform(starts, lambda i: F.array_min(F.slice(h, i, window)))
    return F.array_distinct(mins)


# PII redaction patterns — character classes + bounded repetition only,
# which Java regex (Spark) and RE2 (DuckDB) evaluate identically; no
# lookarounds (RE2 has none).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\+?\d[\d .-]{7,14}\d", "[PHONE]"),
)


def redact_pii(c: Column) -> Column:
    """Strike emails, IPv4 addresses, and phone-shaped digit runs,
    replacing each with a typed placeholder. Chained ``regexp_replace``
    — one codegen'd projection, applied in a fixed order (emails first
    so their digits are not half-eaten by the phone rule)."""
    out = c
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def sql_redact_pii(col: str) -> str:
    """DuckDB twin of :func:`redact_pii` (same patterns, same order)."""
    out = col
    for pat, repl in PII_PATTERNS:
        # DuckDB single-quoted strings pass backslashes through verbatim,
        # so the Python pattern string is already the RE2 pattern
        out = f"regexp_replace({out}, '{pat.replace(chr(39), chr(39) * 2)}', '{repl}', 'g')"
    return out


# --- DuckDB SQL fragments (kept adjacent to their Spark twins) -------------


def sql_ws_tokens(col: str) -> str:
    return f"string_split_regex(trim({col}), '\\s+')"


def sql_md5_long(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def sql_list_literal(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def sql_stop_hits(col: str, words: tuple[str, ...]) -> str:
    return (
        f"len(list_filter({sql_ws_tokens(col)}, "
        f"t -> list_contains({sql_list_literal(words)}, t)))"
    )


def sql_normalized(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def sql_word_shingles(col: str, n: int) -> str:
    toks = f"string_split_regex({sql_normalized(col)}, '\\s+')"
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')))"
    )


def sql_hashed_word_shingles(col: str, n: int) -> str:
    return f"list_transform({sql_word_shingles(col, n)}, s -> {sql_md5_long('s')})"


def sql_hashed_shingle_table(
    col: str,
    n: int,
    source: str = "documents",
    id_col: str = "doc_id",
    where: str = "",
) -> str:
    """Staged table form of ``sql_hashed_word_shingles``: SELECT
    (id, sh) with the token list materialized through a CTE so the regex
    split runs once per row instead of once per lambda element (measured
    0.78 s -> 0.07 s on the sf0.01 shingle stage; equality-tested).
    ``where`` filters the source rows inside the CTE."""
    wc = f"WHERE {where}" if where else ""
    return f"""
WITH __stoks AS MATERIALIZED (
  SELECT {id_col}, string_split_regex({sql_normalized(col)}, '\\s+') AS tl
  FROM {source} {wc}
)
SELECT {id_col},
       list_transform(
         list_distinct(
           list_transform(generate_series(1, greatest(len(tl) - {n - 1}, 0)),
                          i -> array_to_string(tl[i:i+{n - 1}], ' '))),
         s -> {sql_md5_long('s')}) AS sh
FROM __stoks
"""


def sql_positional_shingle_hashes(col: str, n: int) -> str:
    toks = f"string_split_regex({sql_normalized(col)}, '\\s+')"
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' '))"
    )
    return f"list_transform({grams}, s -> {sql_md5_long('s')})"


def sql_winnowing_fingerprints(col: str, n: int, window: int) -> str:
    h = sql_positional_shingle_hashes(col, n)
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({h}) - {window - 1}, 0)), "
        f"i -> list_min(({h})[i:i+{window - 1}])))"
    )


def sql_winnowing_fingerprint_rows(
    col: str, n: int, window: int, source: str = "documents", id_col: str = "doc_id"
) -> str:
    """Staged table-form winnowing: SELECT (id, fingerprint) rows.

    Same math as ``sql_winnowing_fingerprints`` (equality-tested at
    sf0.01), but the token list and positional hashes are staged through
    MATERIALIZED CTEs and the window-min runs as a frame window over
    unnested positions. The scalar form inlines the whole
    tokenize+shingle+md5 pipeline inside nested list_transform lambdas,
    which DuckDB re-evaluates per element — measured 49.4 s -> 0.11 s
    (450x) on the sf0.01 corpus. The driver runs these oracles inside its
    correctness budget, so oracle-side cost is budget too."""
    hv = sql_md5_long(f"array_to_string(tl[i:i+{n - 1}], ' ')")
    return f"""
WITH __wtoks AS MATERIALIZED (
  SELECT {id_col}, string_split_regex({sql_normalized(col)}, '\\s+') AS tl
  FROM {source}
),
__wpos AS MATERIALIZED (
  SELECT {id_col}, i, {hv} AS hv
  FROM __wtoks,
       LATERAL unnest(generate_series(1, greatest(len(tl) - {n - 1}, 0))) AS u(i)
),
__wmin AS (
  SELECT {id_col}, i,
         min(hv) OVER (PARTITION BY {id_col} ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
           AS fingerprint,
         max(i) OVER (PARTITION BY {id_col}) AS n_pos
  FROM __wpos
)
SELECT DISTINCT {id_col}, fingerprint FROM __wmin WHERE i <= n_pos - {window - 1}
"""
