"""Text-analysis / dedup queries over the documents table, with
programmatically generated DuckDB oracles.

Per-row derived floats (ratios, scores) are NOT rounded: both engines
evaluate the identical IEEE arithmetic on identical operands, and we keep
the expression order identical on both sides. Only order-dependent
aggregates would need rounding (none here beyond counts/mins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.parity import round_dp, sql_round_dp
from ..operators import dedup as DD
from ..sources.tables import (
    load_table_fanned,
    load_table_spread,
    load_tables,
    table_identity,
)

N_SHINGLE = 3
JACCARD_TAU = 0.2
MINHASH_K = 16
MINHASH_BANDS = 4
MAX_DOC_FREQ = 100
SIMHASH_MAX_HAMMING = 15
SIMHASH_CHUNKS = 4


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # spread=True: scan-fanout repartition + persisted barrier for
    # queries whose per-row tokenize/shingle/hash work dominates (see
    # sources.tables.load_table_spread). Light single-pass queries opt
    # out: the extra exchange + cache build costs ~0.1-0.3 s at sf0.1,
    # more than their whole runtime.
    if not spread:
        return load_tables(spark, sf_dir, "documents")["documents"]
    return load_table_spread(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Token counts + quality scoring
# ---------------------------------------------------------------------------


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir, spread=False)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.ws_token_count(t).alias("n_ws_tokens"),
        TX.bpe_token_count(t).alias("n_bpe_tokens"),
        TX.punct_ratio(t).alias("punct_ratio"),
        TX.stopword_ratio(t).alias("stopword_ratio"),
        TX.quality_score(t).alias("quality_score"),
    )


_SQL_TOKS = TX.sql_ws_tokens("text")
_SQL_NTOK = f"len({_SQL_TOKS})"
_SQL_STOP_HITS = TX.sql_stop_hits("text", TX.STOPWORDS)
_SQL_PUNCT = "CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)"
_SQL_STOPR = f"CAST({_SQL_STOP_HITS} AS DOUBLE) / {_SQL_NTOK}"
_SQL_LEN_SIG = f"least({_SQL_NTOK} / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))"
_SQL_STOP_SIG = f"least(({_SQL_STOPR}) * 5, CAST(1.0 AS DOUBLE))"

DOC_TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       {_SQL_NTOK} AS n_ws_tokens,
       len(regexp_extract_all(text, '{TX.BPE_REGEX}')) AS n_bpe_tokens,
       {_SQL_PUNCT} AS punct_ratio,
       {_SQL_STOPR} AS stopword_ratio,
       CAST(0.4 AS DOUBLE) * ({_SQL_LEN_SIG})
         + CAST(0.3 AS DOUBLE) * ({_SQL_STOP_SIG})
         + CAST(0.3 AS DOUBLE) * (1 - ({_SQL_PUNCT})) AS quality_score
FROM documents
"""


# ---------------------------------------------------------------------------
# Language ID
# ---------------------------------------------------------------------------


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.lang_id(t).alias("predicted_lang"),
        (TX.lang_id(t) == F.col("lang")).cast("int").alias("is_match"),
    )


def _sql_lang_id() -> str:
    hits = {
        lg: TX.sql_stop_hits("text", TX.LANG_MARKERS[lg]) for lg in TX.LANG_PRIORITY
    }
    greatest = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "\n         ".join(
        f"WHEN {hits[lg]} = {greatest} THEN '{lg}'" for lg in TX.LANG_PRIORITY
    )
    return f"CASE WHEN {greatest} = 0 THEN 'und'\n         {whens} END"


DOC_LANG_ID_ORACLE = f"""
SELECT doc_id,
       lang AS labeled_lang,
       {_sql_lang_id()} AS predicted_lang,
       CAST(({_sql_lang_id()}) = lang AS INTEGER) AS is_match
FROM documents
"""


# ---------------------------------------------------------------------------
# Fingerprint + exact dedup
# ---------------------------------------------------------------------------


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir, spread=False)
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


DOC_FINGERPRINT_ORACLE = f"""
SELECT doc_id, md5({TX.sql_normalized('text')}) AS fingerprint FROM documents
"""


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup_groups(_docs(spark, sf_dir, spread=False), "text", "doc_id")


DOC_EXACT_DEDUP_ORACLE = f"""
SELECT md5({TX.sql_normalized('text')}) AS fingerprint,
       min(doc_id) AS representative_id,
       count(*) AS n_duplicates
FROM documents GROUP BY 1
"""


def doc_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup_keep_first(_docs(spark, sf_dir, spread=False), "text", "doc_id")


DOC_DEDUP_KEEP_FIRST_ORACLE = f"""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (
    PARTITION BY md5({TX.sql_normalized('text')}) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ = 0.2 on purpose: training-data near-dup dedup is recall-oriented
    (a missed near-dup poisons eval sets; a false candidate just costs one
    verification), so the threshold sits low and tractability comes from
    the df cap + the postings-count verification.

    ``prefix_filter=False`` is a MEASURED choice (r13 sf10 sweep): at
    τ = 0.2 the AllPairs prefix cuts candidates only ~20% (1.13M → 0.90M
    at sf0.1) while its array-carrying verify join costs ~50x the bytes
    per candidate — at 100x corpus the prefix branch overflowed 79 GB of
    sort-spill scratch where the postings-count branch finished in 148 s
    warm with exactly linear output. The prefix branch stays available
    (and equality-tested) for high-τ jobs where it prunes most
    candidates; see ``operators/dedup.jaccard_pairs``."""
    return DD.jaccard_pairs(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        n=N_SHINGLE,
        threshold=JACCARD_TAU,
        max_doc_freq=MAX_DOC_FREQ,
        prefix_filter=False,
    )


_SQL_SH_TABLE = TX.sql_hashed_shingle_table("text", N_SHINGLE)

DOC_NGRAM_JACCARD_ORACLE = f"""
WITH d0 AS MATERIALIZED ({_SQL_SH_TABLE}),
dd AS (SELECT * FROM d0 WHERE len(sh) > 0),
sizes AS (SELECT doc_id, len(sh) AS sz FROM dd),
ex AS (SELECT doc_id, unnest(sh) AS s FROM dd),
rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= {MAX_DOC_FREQ}),
exr AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare USING (s)),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM exr a JOIN exr b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id1, id2,
       CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
FROM inter
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {JACCARD_TAU}
"""


# ---------------------------------------------------------------------------
# MinHash-LSH pairs
# ---------------------------------------------------------------------------


def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH index of the corpus file, a ``SESSION`` entry
    shared by the pairs and accuracy queries."""
    return DD.minhash_index(
        load_table_fanned(spark, sf_dir, "documents"),
        table_identity(sf_dir, "documents"),
        "text",
        "doc_id",
        n=N_SHINGLE,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
    )


def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(_minhash(spark, sf_dir), threshold=JACCARD_TAU)


def _sql_minhash_prefix() -> str:
    """Shared CTE chain through ``cand`` (signatures -> bands ->
    candidate pairs) for the LSH-pairs and accuracy oracles.

    Map-side signature mirror of operators.dedup.minhash_signatures:
    one md5 per shingle, a/b = 60-bit ints of hex chars [1,15]/[16,30],
    m_i = list_min over the affine transform — staged through
    MATERIALIZED CTEs (DuckDB re-evaluates lambda-inlined expressions
    per element otherwise)."""
    from ..operators.dedup import MINHASH_PRIME as P

    k, bands = MINHASH_K, MINHASH_BANDS
    r = k // bands
    min_cols = ",\n       ".join(
        f"list_min(list_transform(generate_series(1, len(al)), "
        f"j -> (al[j] + {i} * bl[j]) % {P})) AS m{i}"
        for i in range(k)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"m{b * r + j}" for j in range(r))
        + ")) AS bsig FROM sig"
        for b in range(bands)
    )
    return f"""
WITH d0 AS MATERIALIZED ({_SQL_SH_TABLE}),
dd AS (SELECT * FROM d0 WHERE len(sh) > 0),
hsx AS MATERIALIZED (
  SELECT doc_id, list_transform(sh, s -> md5(CAST(s AS VARCHAR))) AS hsl
  FROM dd),
abx AS MATERIALIZED (
  SELECT doc_id,
    list_transform(hsl, h -> CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % {P}) AS al,
    list_transform(hsl, h -> CAST(('0x' || substr(h, 16, 15)) AS BIGINT) % {P}) AS bl
  FROM hsx),
sig AS MATERIALIZED (SELECT doc_id,
       {min_cols}
       FROM abx),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
  FROM bands x JOIN bands y USING (band, bsig) WHERE x.doc_id < y.doc_id
)"""


def _sql_minhash_oracle() -> str:
    return f"""{_sql_minhash_prefix()}
SELECT id1, id2,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM cand
JOIN dd a ON id1 = a.doc_id
JOIN dd b ON id2 = b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= {JACCARD_TAU}
"""


def doc_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_accuracy_pairs(_minhash(spark, sf_dir))


def _sql_minhash_accuracy_oracle() -> str:
    k = MINHASH_K
    agree = " + ".join(
        f"CASE WHEN sx.m{i} = sy.m{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    exact = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(a.sh, b.sh)))"
    )
    return f"""{_sql_minhash_prefix()}
SELECT id1, id2,
       {sql_round_dp(f"CAST({agree} AS DOUBLE) / {k}")} AS est_jaccard,
       {sql_round_dp(exact)} AS jaccard,
       {sql_round_dp(f"abs(CAST({agree} AS DOUBLE) / {k} - {exact})")} AS abs_err
FROM cand
JOIN sig sx ON id1 = sx.doc_id
JOIN sig sy ON id2 = sy.doc_id
JOIN dd a ON id1 = a.doc_id
JOIN dd b ON id2 = b.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash(_docs(spark, sf_dir), "text", "doc_id")


def _sql_simhash_core() -> str:
    toks = f"string_split_regex({TX.sql_normalized('text')}, '\\s+')"
    h = TX.sql_md5_long("t")
    sum_cols = ",\n       ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(DD.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(DD.SIMHASH_BITS)
    )
    return f"""
tok AS (SELECT doc_id, unnest({toks}) AS t FROM documents),
hh AS (SELECT doc_id, {h} AS h FROM tok),
sums AS (SELECT doc_id,
       {sum_cols}
       FROM hh GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums)
"""


DOC_SIMHASH_ORACLE = f"WITH {_sql_simhash_core()} SELECT doc_id, simhash FROM sims"


def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic subset: banding over a small-vocab corpus collides
    # heavily, so bound the candidate space for the correctness query
    subset = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return DD.simhash_pairs(
        subset,
        "text",
        "doc_id",
        max_hamming=SIMHASH_MAX_HAMMING,
        chunks=SIMHASH_CHUNKS,
    )


def _sql_simhash_pairs() -> str:
    width = DD.SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << width) - 1
    core = _sql_simhash_core().replace(
        "FROM documents", "FROM documents WHERE doc_id % 10 = 0"
    )
    chunk_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {c} AS chunk, (simhash >> {c * width}) & {mask} AS cval FROM sims"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH {core},
chunked AS ({chunk_selects}),
cand AS (
  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
         x.simhash AS h1, y.simhash AS h2
  FROM chunked x JOIN chunked y USING (chunk, cval) WHERE x.doc_id < y.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(h1, h2)) <= {SIMHASH_MAX_HAMMING}
"""


WINNOW_WINDOW = 4


def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash fingerprints, one row per (doc, fingerprint).

    Tokens and positional hashes are staged into their own projections so
    the regex split / hash array aren't re-evaluated per lambda element
    (see functions/text.py performance note)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", TX.ws_tokens(TX.normalized_text(F.col("text"))).alias("__toks")
    )
    hashes = toks.select(
        "doc_id",
        TX.positional_hashes_from_tokens(F.col("__toks"), N_SHINGLE).alias("__h"),
    )
    fps = TX.winnowing_from_hashes(F.col("__h"), WINNOW_WINDOW)
    return hashes.select("doc_id", F.explode(fps).alias("fingerprint"))


DOC_WINNOWING_ORACLE = TX.sql_winnowing_fingerprint_rows(
    "text", N_SHINGLE, WINNOW_WINDOW
)


def doc_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the n-gram
    Jaccard pair graph, each doc labeled with its component's min id.
    Iterative min-label propagation in Spark; the DuckDB oracle computes
    the same fixpoint via a recursive-CTE transitive closure."""
    from ..operators.graph import connected_components

    pairs = doc_ngram_jaccard_pairs(spark, sf_dir)
    return connected_components(pairs).withColumnRenamed("node", "doc_id")


# Connected-components CTE prefix (pairs -> symmetric edges -> recursive
# transitive closure), exported so downstream oracles (curation's
# cluster-best) can extend the SAME fixpoint instead of string-replacing
# this oracle's final SELECT out of it
SQL_CC_CTE_PREFIX = f"""WITH RECURSIVE pairs AS ({DOC_NGRAM_JACCARD_ORACLE.strip()}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach (src, dst) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)"""

DOC_NEARDUP_CLUSTERS_ORACLE = f"""
{SQL_CC_CTE_PREFIX}
SELECT src AS doc_id, min(dst) AS cluster_rep FROM reach GROUP BY src
"""


# SQL twin of functions.text.quality_score — identical arithmetic shape
_SQL_QSCORE = (
    f"CAST(0.4 AS DOUBLE) * ({_SQL_LEN_SIG})"
    f" + CAST(0.3 AS DOUBLE) * ({_SQL_STOP_SIG})"
    f" + CAST(0.3 AS DOUBLE) * (1 - ({_SQL_PUNCT}))"
)


def doc_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION artifact: for every near-dup-clustered doc, the
    canonical keeper (argmax quality score, ties to the lowest id) and
    the drop verdict — the list a pipeline actually applies after
    candidate generation + clustering. Closes the loop candidate pairs
    -> connected components -> keep/drop.

    Scale shape: the cluster labels and quality scores join on doc_id
    (broadcast-sized right side is the per-cluster keeper frame); the
    keeper itself is one ``max_by`` aggregation over the clustered docs,
    so nothing rescans the corpus text beyond the one quality
    projection."""
    clusters = doc_neardup_clusters(spark, sf_dir)
    q = _docs(spark, sf_dir).select(
        "doc_id", TX.quality_score(F.col("text")).alias("__q")
    )
    j = clusters.join(q, "doc_id")
    per = j.groupBy("cluster_rep").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("__q"), (-F.col("doc_id")).alias("n"))
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return j.join(per, "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        "n_members",
        round_dp(F.col("__q")).alias("quality_score"),
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


DOC_DEDUP_DECISIONS_ORACLE = f"""
WITH clusters AS ({DOC_NEARDUP_CLUSTERS_ORACLE.strip()}),
q AS (SELECT doc_id, {_SQL_QSCORE} AS qs FROM documents),
j AS (
  SELECT c.doc_id, c.cluster_rep, q.qs
  FROM clusters c JOIN q USING (doc_id)
),
r AS (
  SELECT doc_id, cluster_rep, qs,
         row_number() OVER (
           PARTITION BY cluster_rep ORDER BY qs DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_rep) AS n_members
  FROM j
)
SELECT doc_id, cluster_rep, n_members,
       {sql_round_dp("qs")} AS quality_score,
       (rn = 1) AS keep
FROM r
"""


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filter
# ---------------------------------------------------------------------------

# Rule thresholds (Gopher/Rae-et-al-shaped, tuned so each rule actually
# fires on this corpus): word-count band, mean-word-length band, minimum
# stopword density, maximum punctuation density.
QF_MIN_WORDS = 25
QF_MAX_WORDS = 90
QF_WL_MIN = 3.8
QF_WL_MAX = 5.2
QF_STOP_MIN = 0.05
QF_PUNCT_MAX = 0.2


def quality_keep_rules(n, wl, text):
    """The six-rule Gopher keep verdict as ONE Column builder — the
    filter query and the curation manifest both call it, so a rule or
    threshold change cannot reach one gate and miss the other.
    ``n``/``wl`` are the caller's word-count and mean-word-length
    Columns; ``text`` the raw text Column."""
    return ~(
        (n < QF_MIN_WORDS)
        | (n > QF_MAX_WORDS)
        | (wl < QF_WL_MIN)
        | (wl > QF_WL_MAX)
        | (TX.stopword_ratio(text) < QF_STOP_MIN)
        | (TX.punct_ratio(text) > QF_PUNCT_MAX)
    )


def sql_quality_keep(n_words: str, wl: str, stopr: str, punctr: str) -> str:
    """DuckDB twin of :func:`quality_keep_rules` — interpolates the
    caller's SQL fragments for the four signals."""
    return (
        f"NOT ({n_words} < {QF_MIN_WORDS} OR {n_words} > {QF_MAX_WORDS}"
        f" OR {wl} < {QF_WL_MIN} OR {wl} > {QF_WL_MAX}"
        f" OR {stopr} < {QF_STOP_MIN} OR {punctr} > {QF_PUNCT_MAX})"
    )


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rule flags + the keep verdict — the rule-based quality
    gate a pretraining pipeline runs before dedup. One codegen'd
    projection, no shuffle; raw (unrounded) doubles feed the comparisons
    so the verdict is exact in both engines."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    staged = d.select("doc_id", t.alias("text"), TX.ws_tokens(t).alias("__toks"))
    n = F.size("__toks")
    wl = F.aggregate(
        F.transform(F.col("__toks"), lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / n
    flags = staged.select(
        "doc_id",
        n.alias("n_words"),
        round_dp(wl).alias("mean_word_len"),
        (n < QF_MIN_WORDS).alias("too_short"),
        (n > QF_MAX_WORDS).alias("too_long"),
        ((wl < QF_WL_MIN) | (wl > QF_WL_MAX)).alias("bad_word_len"),
        (TX.stopword_ratio(t) < QF_STOP_MIN).alias("low_stopword"),
        (TX.punct_ratio(t) > QF_PUNCT_MAX).alias("high_punct"),
    )
    return flags.withColumn(
        "keep",
        ~(
            F.col("too_short")
            | F.col("too_long")
            | F.col("bad_word_len")
            | F.col("low_stopword")
            | F.col("high_punct")
        ),
    )


DOC_QUALITY_FILTER_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         len({_SQL_TOKS}) AS n_words,
         CAST(list_sum(list_transform({_SQL_TOKS}, t -> len(t))) AS DOUBLE)
           / len({_SQL_TOKS}) AS wl,
         {_SQL_STOPR} AS stopr,
         {_SQL_PUNCT} AS punctr
  FROM documents
)
SELECT doc_id, n_words, {sql_round_dp("wl")} AS mean_word_len,
       n_words < {QF_MIN_WORDS} AS too_short,
       n_words > {QF_MAX_WORDS} AS too_long,
       (wl < {QF_WL_MIN} OR wl > {QF_WL_MAX}) AS bad_word_len,
       stopr < {QF_STOP_MIN} AS low_stopword,
       punctr > {QF_PUNCT_MAX} AS high_punct,
       {sql_quality_keep("n_words", "wl", "stopr", "punctr")} AS keep
FROM s
"""


# ---------------------------------------------------------------------------
# Winnowing-fingerprint overlap pairs (shared-substring detection)
# ---------------------------------------------------------------------------

WINNOW_MIN_SHARED = 3  # pairs must share >= this many winnowed fingerprints
WINNOW_DF_CAP = 50  # fingerprints in more docs than this are stop-grams


def doc_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs sharing >= WINNOW_MIN_SHARED winnowed fingerprints — the
    MOSS-style shared-substring (plagiarism / boilerplate) detector.
    Same inverted-index shape as the Jaccard join: equi-join on the
    fingerprint, never all-pairs; fingerprints above the document-
    frequency cap (boilerplate n-grams, the quadratic contributors) are
    dropped via a broadcast anti-join of the small hot set. The
    fingerprint frame feeds the df-count and both join sides, so it is
    persisted (registered in ``operators.dedup``'s hygiene registry) —
    the winnow pipeline runs once, not three times."""
    fps = DD._persist(doc_winnowing_fingerprints(spark, sf_dir))
    hot = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > WINNOW_DF_CAP)
        .select("fingerprint")
    )
    rare = fps.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = rare.select(F.col("doc_id").alias("doc_id_1"), "fingerprint")
    b = rare.select(F.col("doc_id").alias("doc_id_2"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


DOC_WINNOWING_PAIRS_ORACLE = f"""
WITH fp AS MATERIALIZED (
{TX.sql_winnowing_fingerprint_rows('text', N_SHINGLE, WINNOW_WINDOW)}
),
rare AS MATERIALIZED (
  SELECT * FROM fp WHERE fingerprint IN (
    SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) <= {WINNOW_DF_CAP})
)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_shared_fps
FROM rare a JOIN rare b USING (fingerprint)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# Incremental ingest dedup + corpus census reports
# ---------------------------------------------------------------------------

INGEST_STRIDE = 10
INGEST_REM = 7  # docs with doc_id % STRIDE == REM play the incoming batch
INGEST_PREFIX = 128  # leading-content fingerprint length (this corpus has
# no byte-exact dups; near-dup re-crawls share their first ~128 chars)


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify an incoming ingest batch against the already-ingested
    corpus: kept / dup_of_seen / dup_in_batch (see
    ``operators.dedup.incremental_dedup``)."""
    d = _docs(spark, sf_dir, spread=False)
    new_batch = d.filter(F.col("doc_id") % INGEST_STRIDE == INGEST_REM)
    seen = d.filter(F.col("doc_id") % INGEST_STRIDE != INGEST_REM)
    return DD.incremental_dedup(
        new_batch, seen, "text", "doc_id", prefix=INGEST_PREFIX
    )


DOC_INCREMENTAL_DEDUP_ORACLE = f"""
WITH fp AS (
  SELECT doc_id,
         md5(substr({TX.sql_normalized('text')}, 1, {INGEST_PREFIX}))
           AS fingerprint
  FROM documents
),
seen AS (
  SELECT DISTINCT fingerprint FROM fp
  WHERE doc_id % {INGEST_STRIDE} <> {INGEST_REM}
),
nb AS (
  SELECT doc_id, fingerprint,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fp WHERE doc_id % {INGEST_STRIDE} = {INGEST_REM}
)
SELECT nb.doc_id, nb.fingerprint,
       CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_of_seen'
            WHEN rn > 1 THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM nb LEFT JOIN seen s ON nb.fingerprint = s.fingerprint
"""


def doc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus census — docs, volume, language spread, and
    distinct-text count (1 - unique/docs = the per-source dup rate a
    crawl report tracks). One shuffle; the count-distincts expand to
    Spark's standard two-phase partial-distinct aggregation."""
    d = _docs(spark, sf_dir, spread=False)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct(TX.fingerprint(F.col("text"))).alias("n_unique_texts"),
    )


DOC_SOURCE_STATS_ORACLE = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT md5({TX.sql_normalized('text')})) AS BIGINT)
         AS n_unique_texts
FROM documents GROUP BY source
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the length-distribution
    report behind truncation/packing decisions. The bucket is the BIT
    LENGTH of n_chars (exact integer arithmetic via the binary string —
    no float log2, so cross-engine parity is exact at bucket edges)."""
    d = _docs(spark, sf_dir, spread=False)
    return (
        d.select(F.length(F.bin(F.col("n_chars"))).alias("bucket_bits"), "n_chars")
        .groupBy("bucket_bits")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


DOC_LENGTH_HISTOGRAM_ORACLE = """
SELECT CAST(length(bin(n_chars)) AS INTEGER) AS bucket_bits,
       count(*) AS n_docs, min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM documents GROUP BY 1
"""


REP_N = 2  # duplicate-bigram fraction (the Gopher repetition signal)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition: duplicate word-bigram fraction (Gopher's
    'repetition' quality family — boilerplate and low-quality generators
    repeat n-grams). Pure codegen projection over staged token arrays,
    no shuffle; docs shorter than one bigram are excluded (no 0/0)."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id",
        TX.ws_tokens(TX.normalized_text(F.col("text"))).alias("__toks"),
    ).filter(F.size("__toks") >= REP_N)
    idx = F.sequence(F.lit(1), F.size("__toks") - (REP_N - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, REP_N))
    )
    g = staged.select("doc_id", grams.alias("__g"))
    return g.select(
        "doc_id",
        F.size("__g").alias("n_grams"),
        F.size(F.array_distinct("__g")).alias("n_distinct_grams"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("__g")).cast("double") / F.size("__g")
        ).alias("dup_gram_frac"),
    )


DOC_REPETITION_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex({TX.sql_normalized('text')}, '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - {REP_N - 1}),
                        i -> array_to_string(toks[i:i+{REP_N - 1}], ' ')) AS gl
  FROM t WHERE len(toks) >= {REP_N}
)
SELECT doc_id,
       CAST(len(gl) AS INTEGER) AS n_grams,
       CAST(len(list_distinct(gl)) AS INTEGER) AS n_distinct_grams,
       1.0 - CAST(len(list_distinct(gl)) AS DOUBLE) / len(gl)
         AS dup_gram_frac
FROM g
"""


# ---------------------------------------------------------------------------
# edit-distance near-dup pairs
# ---------------------------------------------------------------------------

EDIT_PREFIX = 24
EDIT_TAU = 64
EDIT_MAX_BLOCK = 64


def doc_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact thresholded-levenshtein near-dup pairs over prefix blocks —
    see operators.dedup.edit_distance_pairs for the blocking math and the
    ASCII parity domain (Spark codepoint vs DuckDB byte levenshtein)."""
    return DD.edit_distance_pairs(
        _docs(spark, sf_dir, spread=False),
        "text",
        "doc_id",
        prefix_len=EDIT_PREFIX,
        threshold=EDIT_TAU,
        max_block=EDIT_MAX_BLOCK,
    )


DOC_EDIT_DISTANCE_ORACLE = f"""
WITH d AS (
  SELECT doc_id AS id, text AS t, length(text) AS ln,
         md5(substring(text, 1, {EDIT_PREFIX})) AS blk
  FROM documents
  WHERE regexp_matches(text, '^[\\x00-\\x7F]*$')
),
ok AS (
  SELECT blk FROM d GROUP BY blk
  HAVING count(*) BETWEEN 2 AND {EDIT_MAX_BLOCK}
),
p AS (
  SELECT a.id AS id1, b.id AS id2,
         levenshtein(a.t, b.t) AS edit_distance,
         greatest(a.ln, b.ln) AS mx
  FROM d a JOIN d b USING (blk) JOIN ok USING (blk)
  WHERE a.id < b.id AND abs(a.ln - b.ln) <= {EDIT_TAU}
)
SELECT id1, id2, edit_distance,
       {sql_round_dp(
           "CASE WHEN mx = 0 THEN 1.0 "
           "ELSE 1.0 - CAST(edit_distance AS DOUBLE) / CAST(mx AS DOUBLE) END"
       )}
         AS similarity
FROM p WHERE edit_distance <= {EDIT_TAU}
"""


QUERIES = {
    "doc_edit_distance_pairs": doc_edit_distance_pairs,
    "doc_quality_filter": doc_quality_filter,
    "doc_repetition_stats": doc_repetition_stats,
    "doc_incremental_dedup": doc_incremental_dedup,
    "doc_source_stats": doc_source_stats,
    "doc_length_histogram": doc_length_histogram,
    "doc_winnowing_pairs": doc_winnowing_pairs,
    "doc_text_stats": doc_text_stats,
    "doc_winnowing_fingerprints": doc_winnowing_fingerprints,
    "doc_neardup_clusters": doc_neardup_clusters,
    "doc_dedup_decisions": doc_dedup_decisions,
    "doc_lang_id": doc_lang_id,
    "doc_fingerprint": doc_fingerprint,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_dedup_keep_first": doc_dedup_keep_first,
    "doc_ngram_jaccard_pairs": doc_ngram_jaccard_pairs,
    "doc_minhash_lsh_pairs": doc_minhash_lsh_pairs,
    "doc_minhash_accuracy": doc_minhash_accuracy,
    "doc_simhash": doc_simhash,
    "doc_simhash_pairs": doc_simhash_pairs,
}

ORACLES = {
    "doc_edit_distance_pairs": DOC_EDIT_DISTANCE_ORACLE,
    "doc_quality_filter": DOC_QUALITY_FILTER_ORACLE,
    "doc_repetition_stats": DOC_REPETITION_STATS_ORACLE,
    "doc_incremental_dedup": DOC_INCREMENTAL_DEDUP_ORACLE,
    "doc_source_stats": DOC_SOURCE_STATS_ORACLE,
    "doc_length_histogram": DOC_LENGTH_HISTOGRAM_ORACLE,
    "doc_winnowing_pairs": DOC_WINNOWING_PAIRS_ORACLE,
    "doc_text_stats": DOC_TEXT_STATS_ORACLE,
    "doc_winnowing_fingerprints": DOC_WINNOWING_ORACLE,
    "doc_neardup_clusters": DOC_NEARDUP_CLUSTERS_ORACLE,
    "doc_dedup_decisions": DOC_DEDUP_DECISIONS_ORACLE,
    "doc_lang_id": DOC_LANG_ID_ORACLE,
    "doc_fingerprint": DOC_FINGERPRINT_ORACLE,
    "doc_exact_dedup": DOC_EXACT_DEDUP_ORACLE,
    "doc_dedup_keep_first": DOC_DEDUP_KEEP_FIRST_ORACLE,
    "doc_ngram_jaccard_pairs": DOC_NGRAM_JACCARD_ORACLE,
    "doc_minhash_lsh_pairs": _sql_minhash_oracle(),
    "doc_minhash_accuracy": _sql_minhash_accuracy_oracle(),
    "doc_simhash": DOC_SIMHASH_ORACLE,
    "doc_simhash_pairs": _sql_simhash_pairs(),
}
