"""Deduplication operator family for document corpora.

Four strategies, all deterministic and fully JVM-side (no Python UDFs):

- **exact**: md5 fingerprint of normalized text -> group -> keep lowest id.
- **n-gram Jaccard**: word-shingle inverted index self-join -> exact
  Jaccard on candidate pairs. The join is on the *shingle*, never a cross
  join; a document-frequency cap drops stop-shingles so the hottest keys
  can't quadratically blow up the pair generation at scale.
- **MinHash + LSH**: k md5-derived hash functions -> per-doc signature ->
  banded bucketing -> candidates = docs sharing a band -> verified with
  exact Jaccard. Identical hash arithmetic exists in DuckDB, so even the
  LSH path is oracle-checkable.
- **SimHash**: 60-bit signature from token hashes; near-dup candidates via
  banded chunks (pigeonhole on Hamming distance), verified with
  ``bit_count(xor)``.

Scale posture (100 TB): every step is explode -> hash-partitioned
aggregation or equi-join on a derived key — the classic shuffle-bounded
dedup pipeline. Signatures are ~constant bytes per doc, so the LSH
candidate join operates on data orders of magnitude smaller than the
corpus; only verified candidates touch the full shingle sets again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.parity import round_dp
from ..functions.text import (
    fingerprint,
    md5_long,
    normalized_text,
    shingles_from_tokens,
    ws_tokens,
)

# Persisted intermediates (postings, signatures) go through the SHARED
# registry (operators/storage.py) — one unpersist_all() drains every
# operator module's caches. Module-level aliases kept for callers.
from . import storage  # noqa: E402
from .storage import persist_tracked as _persist  # noqa: E402
from .storage import unpersist_all  # noqa: E402,F401

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: representative (min id) + count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").alias("n_duplicates"),
        )
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deduplicated corpus: keep the lowest-id row per fingerprint.

    Deterministic replacement for ``dropDuplicates`` (which keeps an
    arbitrary row). One shuffle on the fingerprint.
    """
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # shingles ride as 60-bit int hashes: 8-byte shuffle/join keys.
    # Tokens are staged into their own projection first — building the
    # shingles directly off the split expression re-runs the regex split
    # per lambda element (O(tokens^2); measured 7x slower at sf0.1).
    #
    # The no-shingle filter is phrased on the TOKEN count, not
    # size(sh) > 0: a predicate on the computed shingle column gets
    # alias-substituted and pushed below the projection, silently
    # re-running the whole shingle+md5 pipeline inside the Filter
    # (measured ~9s of the 10s shingle cost at sf0.1). A doc yields a
    # shingle iff it has >= n tokens, and the token-count predicate only
    # re-evaluates the split.
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        ws_tokens(normalized_text(F.col(text_col))).alias("__toks"),
    ).filter(F.size("__toks") >= n)
    return toks.select(
        "doc_id",
        F.transform(
            shingles_from_tokens(F.col("__toks"), n), md5_long
        ).alias("sh"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int = 100,
    prefix_filter: bool = False,
) -> DataFrame:
    """Pairs (id1 < id2) with word-``n``-gram Jaccard >= ``threshold``.

    Inverted-index plan: explode shingles, drop shingles appearing in more
    than ``max_doc_freq`` docs (stop-shingles contribute candidates
    quadratically but little Jaccard mass), self-join on the shingle,
    then compute exact Jaccard over the full distinct sets.

    ``prefix_filter``: AllPairs-style lossless candidate pruning over the
    df-capped shingle sets — each doc indexes only its first
    ``|c| - ceil(t*|c|) + 1`` capped shingles in canonical (hash) order.
    Lossless proof sketch: the reported score is
    ``J' = |C1∩C2| / (|S1|+|S2|-|C1∩C2|)`` with ``Ci ⊆ Si`` (capped vs
    full sets), and ``J' >= t`` implies plain Jaccard over the capped sets
    ``>= t`` (smaller denominator), so every surviving pair still collides
    on an indexed prefix shingle. The df cap is computed on the FULL
    postings first, so prefix mode returns byte-identical results to the
    full-index mode at any ``max_doc_freq`` (equality-tested both capped
    and uncapped); only the candidate-join input shrinks.

    REGIME CHOICE (measured, r13 sf10 sweep at 100x the bench corpus):
    the prefix branch verifies by carrying BOTH docs' full hashed
    shingle arrays through two joins (~50x the bytes per candidate of
    the 16-byte postings rows), so it only wins when the prefix prunes
    MOST candidates — i.e. at high thresholds, where the indexed prefix
    ``|c| - ceil(t*|c|) + 1`` is short. At t = 0.2 it cut candidates
    just ~20% (1.13M -> 0.90M at sf0.1) and its sort spills overflowed
    79 GB of local scratch at 500k docs, while ``prefix_filter=False``
    (postings self-join + pair-count aggregation, map-side partial)
    finished in 148 s warm with exactly linear output. Rule of thumb:
    prefix for t >= ~0.5, postings-count below.
    """
    docs = _persist(_shingled(df, text_col, id_col, n))
    sizes = docs.select("doc_id", F.size("sh").alias("sz"))
    # materialize the postings once: they feed the df-count and BOTH sides
    # of the self-join — recomputing the regex+explode shingle pipeline
    # per consumer dominates runtime otherwise
    ex = _persist(docs.select("doc_id", F.explode("sh").alias("s")))
    # The df cap is applied as a broadcast ANTI-join against the HOT
    # shingle set: shingles with df > max_doc_freq number at most
    # |postings| / max_doc_freq — bounded small at any corpus size —
    # whereas the complementary rare set is corpus-scale (≈ all distinct
    # shingles) and must never be a broadcast build side.
    hot = ex.groupBy("s").agg(F.count("*").alias("df_")).filter(
        F.col("df_") > max_doc_freq
    )
    ex = ex.join(F.broadcast(hot.select("s")), "s", "left_anti")
    if prefix_filter:
        # capped per-doc shingle set, canonical (hash) order — feeds both
        # the prefix index and the verification join
        cs = _persist(
            ex.groupBy("doc_id").agg(
                F.sort_array(F.collect_list("s")).alias("csh")
            )
        )
        prefix_len = (
            F.size("csh") - F.ceil(F.lit(threshold) * F.size("csh")) + 1
        ).cast("int")
        pre = cs.select(
            "doc_id", F.explode(F.slice("csh", 1, prefix_len)).alias("s")
        )
        cand = (
            pre.alias("a")
            .join(pre.alias("b"), "s")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
            .distinct()
        )
        verified = (
            cand.join(
                cs.select(F.col("doc_id").alias("id1"), F.col("csh").alias("csh1")),
                "id1",
            )
            .join(
                cs.select(F.col("doc_id").alias("id2"), F.col("csh").alias("csh2")),
                "id2",
            )
            .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "sz1"), "id1")
            .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "sz2"), "id2")
            .withColumn("inter", F.size(F.array_intersect("csh1", "csh2")))
            .withColumn(
                "jaccard",
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")),
            )
        )
        return verified.filter(F.col("jaccard") >= threshold).select(
            "id1", "id2", "jaccard"
        )
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "sz2"), "id2")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_pairs(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_overlap: float = 0.3,
) -> DataFrame:
    """(doc_id, eval_id, overlap_frac) for corpus docs sharing >=
    ``min_overlap`` of their word-``n``-gram shingles with an eval doc —
    the training-data DECONTAMINATION pass (drop training docs that leak
    benchmark content).

    Overlap is directional: |shingles(doc) ∩ shingles(eval)| /
    |shingles(doc)| — a short eval prompt embedded in a long doc still
    needs flagging, so the denominator is the TRAINING doc.

    Scale shape: the eval side (benchmark suites: thousands of docs, not
    billions) broadcasts; the corpus explodes once and the candidate
    generation is an equi-join on the shingle hash. Corpus-sized work is
    one explode + one hash aggregation — never all-pairs.
    """
    cd = _persist(_shingled(corpus, text_col, id_col, n))
    ed = _shingled(eval_set, text_col, id_col, n)
    cex = cd.select("doc_id", F.explode("sh").alias("s"))
    eex = ed.select(
        F.col("doc_id").alias("eval_id"), F.explode("sh").alias("s")
    )
    shared = (
        cex.join(F.broadcast(eex), "s")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = cd.select("doc_id", F.size("sh").alias("sz"))
    return (
        shared.join(sizes, "doc_id")
        .withColumn(
            "overlap_frac", F.col("n_shared").cast("double") / F.col("sz")
        )
        .filter(F.col("overlap_frac") >= min_overlap)
        .select("doc_id", "eval_id", "overlap_frac")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


MINHASH_PRIME = 2147483647  # 2^31 - 1


def minhash_signatures(docs: DataFrame, k: int = 16) -> DataFrame:
    """Per-doc MinHash signature of a ``_shingled`` frame: columns
    m0..m{k-1}.

    Hash family from ONE md5 evaluation per shingle:
    hash_i(s) = (a(s) + i * b(s)) mod p with a = 60-bit int of md5 hex
    chars [1,15], b = 60-bit int of hex chars [16,30] of the SAME
    digest, p = 2^31 - 1 — the classic affine family, deterministic and
    reproducible in any engine with md5.

    Plan shape: explode the (already 60-bit-hashed) shingles, derive
    (a, b) with one md5 per posting, then a hash aggregate of k mins
    per doc. The exchange carries only per-doc PARTIAL minima (docs x k
    longs — map-side combine collapses the postings before the
    shuffle), so the plan scales with the corpus scan, not the posting
    count. A fully map-side variant (staged arrays + 16 array_min
    transforms) measured ~25% SLOWER at sf0.1: Catalyst inlines the
    multi-referenced array stages back into each of the k transforms.
    """
    p = MINHASH_PRIME
    ex = (
        docs.select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.md5(F.col("s").cast("string")).alias("__h"))
        .select(
            "doc_id",
            (F.conv(F.substring("__h", 1, 15), 16, 10).cast("long") % p).alias("a"),
            (F.conv(F.substring("__h", 16, 15), 16, 10).cast("long") % p).alias("b"),
        )
    )
    # k parsed exprs, not k 5-node Column chains (py4j round trips are
    # driver time billed per DataFrame construction — see simhash)
    hashed = ex.select(
        "doc_id",
        *[F.expr(f"(a + {i} * b) % {p}").alias(f"h{i}") for i in range(k)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i})").alias(f"m{i}") for i in range(k)]
    )


def minhash_index(
    df: DataFrame,
    cache_key: tuple,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The MinHash-LSH index of a corpus, built in one action (a
    localCheckpoint): one row per doc with a shingle — ``doc_id``, its
    shingle set ``sh``, its signature ``sig`` (the ``k`` minima) and
    ``bsig``, the ``bands`` band signatures (md5 of the band's ``k/bands``
    comma-joined minima, in band order).

    A ``SESSION`` entry that holds data blocks, under ``cache_key`` (a
    tuple naming the corpus, e.g. its file identity) and the parameters:
    the shingling, md5 hashing and signature aggregation run once per
    session, and a request only runs the banded candidate join and its
    verification (``minhash_lsh_pairs``, ``minhash_accuracy_pairs``). The
    build persists the shingle sets for its own duration (the signature
    aggregation and the row assembly both read them) and releases them.

    The signature rides as one array column: probes that alias ``k``
    separate columns per join side sent Catalyst's constraint inference
    into 7.7 s of optimization per call at sf0.001.
    """
    assert k % bands == 0
    r = k // bands

    def build() -> DataFrame:
        docs = _shingled(df, text_col, id_col, n).persist()
        try:
            sig = minhash_signatures(docs, k)
            bsig = F.array(
                *[
                    F.md5(F.concat_ws(",", *[F.col(f"m{b * r + j}") for j in range(r)]))
                    for b in range(bands)
                ]
            )
            return (
                docs.join(sig, "doc_id")
                .select(
                    "doc_id",
                    "sh",
                    F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig"),
                    bsig.alias("bsig"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            docs.unpersist()

    key = ("minhash", cache_key, text_col, id_col, n, k, bands)
    return storage.memo(df.sparkSession, storage.SESSION, key, build)


def _lsh_candidates(index: DataFrame) -> DataFrame:
    """Distinct (id1 < id2) candidate pairs sharing any band signature:
    one (band, bsig) row per band of the index via a single posexplode,
    self-joined — NOT a bands-way union, which scans the signature frame
    ``bands`` times per join side (measured slower at sf0.1)."""
    banded = index.select("doc_id", F.posexplode("bsig").alias("band", "bsig"))
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bsig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id1"), F.col("y.doc_id").alias("id2"))
        .distinct()
    )


def exact_jaccard(sh1: Column, sh2: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over shingle-set array columns (exact)."""
    return F.size(F.array_intersect(sh1, sh2)).cast("double") / F.size(
        F.array_union(sh1, sh2)
    )


def _with_sides(cand: DataFrame, index: DataFrame, *cols: str) -> DataFrame:
    """``cand`` with index columns ``cols`` of both docs, suffixed 1 and 2."""
    def side(i: int) -> DataFrame:
        return index.select(
            F.col("doc_id").alias(f"id{i}"), *[F.col(c).alias(f"{c}{i}") for c in cols]
        )

    return cand.join(side(1), "id1").join(side(2), "id2")


def minhash_accuracy_pairs(index: DataFrame) -> DataFrame:
    """Sketch-quality diagnostic: every LSH candidate pair with its
    MinHash Jaccard ESTIMATE (fraction of agreeing signature positions,
    the standard unbiased estimator) next to the EXACT shingle Jaccard
    and the absolute error — the "is k big enough / are the bands too
    loose" report a corpus owner reads before trusting the dedup pass at
    full scale. No threshold filter: LSH false positives are exactly
    what this surfaces.

    Probes a ``minhash_index``: the banded candidate join of
    ``minhash_lsh_pairs``, with both docs' signatures joined beside
    their shingle sets.
    """
    agree = F.expr(
        "aggregate(zip_with(sig1, sig2, (x, y) -> CAST(x = y AS INT)), 0,"
        " (acc, v) -> acc + v)"
    )
    return (
        _with_sides(_lsh_candidates(index), index, "sh", "sig")
        .withColumn("est_jaccard", agree.cast("double") / F.size("sig1"))
        .withColumn("jaccard", exact_jaccard(F.col("sh1"), F.col("sh2")))
        .select(
            "id1",
            "id2",
            round_dp(F.col("est_jaccard")).alias("est_jaccard"),
            round_dp(F.col("jaccard")).alias("jaccard"),
            round_dp(F.abs(F.col("est_jaccard") - F.col("jaccard"))).alias(
                "abs_err"
            ),
        )
    )


def minhash_lsh_pairs(index: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Verified near-dup pairs via banded MinHash-LSH over a
    ``minhash_index``.

    Docs sharing any band signature become candidates; candidates are
    verified with exact Jaccard over the shingle sets (so precision is
    exact; LSH only affects recall).
    """
    return (
        _with_sides(_lsh_candidates(index), index, "sh")
        .withColumn("jaccard", exact_jaccard(F.col("sh1"), F.col("sh2")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5_long yields 60 usable bits


# SWAR lane packing for the per-bit majority counts: bits {g, g+21,
# g+42} of each token hash ride one long in three 21-bit lanes, so the
# per-document aggregation is 21 plain long sums instead of 60 ±1 sums.
# Identical signatures (oracle-checked); end-to-end the win is modest at
# sf0.1 (~0.1-0.3 s — per-token md5 hashing dominates doc_simhash), but
# the aggregation's per-row work drops ~4x, which is what scales with
# token volume. Lane capacity bounds the contract: < 2^21 (~2M) tokens
# per document before a lane carries into its neighbor — generous for
# any real document (book-length text is ~1e5 tokens).
_SIMHASH_LANE_BITS = 21
_SIMHASH_LANE_MASK = (1 << _SIMHASH_LANE_BITS) - 1


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per document over whitespace tokens (with
    multiplicity): bit j of the signature is 1 iff the sum over tokens of
    (2*bit_j(hash(token)) - 1) is positive — equivalently, iff bit j is
    set in strictly more than half the token hashes (``2*S_j > n``; the
    integer majority form the lane-packed aggregation below computes)."""
    from ..functions.text import ws_tokens, normalized_text

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(normalized_text(F.col(text_col)))).alias("t"),
    ).withColumn("h", md5_long(F.col("t")))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for g in range(_SIMHASH_LANE_BITS):
        mask = 0
        for k in range(3):
            if g + _SIMHASH_LANE_BITS * k < SIMHASH_BITS:
                mask |= 1 << (_SIMHASH_LANE_BITS * k)
        # one parsed expr per lane (not a 4-node Column chain): keeps
        # DataFrame construction off the py4j round-trip path
        aggs.append(F.expr(f"sum(shiftright(h, {g}) & {mask})").alias(f"g{g}"))
    sums = toks.groupBy("doc_id").agg(*aggs)

    # The 60-term signature is built as ONE SQL string parsed JVM-side.
    # The previous Column-API reduce chained 60 when/add nodes through
    # py4j — measured 1.3 s of pure driver time PER DATAFRAME
    # CONSTRUCTION at any scale factor (bench constructs queries fresh
    # each run, so that cost was billed every execution); the single
    # F.expr parse is milliseconds for the identical expression tree.
    def bit_count_sql(j: int) -> str:
        g, k = j % _SIMHASH_LANE_BITS, j // _SIMHASH_LANE_BITS
        return (
            f"(shiftright(g{g}, {_SIMHASH_LANE_BITS * k})"
            f" & {_SIMHASH_LANE_MASK})"
        )

    sig_sql = " + ".join(
        f"(CASE WHEN {bit_count_sql(j)} * 2 > __n"
        f" THEN {1 << j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(sig_sql).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= ``max_hamming``.

    Pigeonhole banding: split the signature into ``chunks`` equal chunks;
    any pair within distance ``chunks - 1`` shares at least one exact
    chunk, so the candidate join is an equi-join on (chunk_idx, chunk
    value), verified by ``bit_count(xor)``.
    """
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    # persisted: the chunked frame feeds BOTH sides of the candidate
    # self-join — unpersisted, each side re-runs the whole token-md5
    # signature pipeline (two corpus scans); persisted, the corpus is
    # hashed once and the join reads docs x chunks tiny rows
    sig = _persist(simhash(df, text_col, id_col))
    chunked = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright(simhash, {c * width}) & {mask}")
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "cval"),
    )
    cand = (
        chunked.alias("x")
        .join(chunked.alias("y"), ["chunk", "cval"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id1"),
            F.col("y.doc_id").alias("id2"),
            F.col("x.simhash").alias("h1"),
            F.col("y.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# ---------------------------------------------------------------------------
# incremental (cross-batch) exact dedup
# ---------------------------------------------------------------------------


def incremental_dedup(
    new_batch: DataFrame,
    seen: DataFrame,
    text_col: str,
    id_col: str,
    prefix: int | None = None,
) -> DataFrame:
    """Cross-batch exact dedup — the INGEST-time shape: classify each row
    of the incoming batch as ``kept``, ``dup_of_seen`` (its fingerprint
    already exists in the previously-ingested corpus) or ``dup_in_batch``
    (a lower-id row of the same batch owns the fingerprint;
    ``dup_of_seen`` wins when both hold). Output: (doc_id, fingerprint,
    status).

    ``prefix``: hash only the first ``prefix`` chars of the normalized
    text (CCNet-style leading-content fingerprint) — catches
    boilerplate-prefixed and truncated re-crawls that exact hashing
    misses, at the cost of false positives on genuinely shared intros.

    Scale shape: the seen side collapses to DISTINCT fingerprints —
    16 bytes per doc, which is the artifact a pipeline persists between
    ingests (at 100 TB you keep the fingerprint store, not the text).
    The probe is one equi-join on the hash plus one within-batch window;
    both shuffle on the fingerprint, and the window side is ingest-sized,
    not corpus-sized.
    """
    def key(c):
        norm = normalized_text(c)
        if prefix is not None:
            norm = F.substring(norm, 1, prefix)
        return F.md5(norm)

    seen_fp = (
        seen.select(key(F.col(text_col)).alias("fingerprint"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    # order by the POST-alias name: the window resolves against nb,
    # which exposes only doc_id (an id_col other than "doc_id" would
    # raise UNRESOLVED_COLUMN here)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    nb = new_batch.select(
        F.col(id_col).alias("doc_id"),
        key(F.col(text_col)).alias("fingerprint"),
    ).withColumn("__rn", F.row_number().over(w))
    return nb.join(seen_fp, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.when(F.col("__seen"), F.lit("dup_of_seen"))
        .when(F.col("__rn") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup (prefix blocking + thresholded levenshtein)
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    prefix_len: int = 24,
    threshold: int = 64,
    max_block: int = 64,
) -> DataFrame:
    """Near-duplicate pairs under an EDIT-DISTANCE threshold — the
    exact-verification complement to the Jaccard/MinHash/SimHash family
    (those measure set overlap; this measures character edits, the right
    notion for truncated/patched re-crawls and templated boilerplate).

    Candidate generation blocks on ``md5(substring(text, 1, prefix_len))``
    — one shuffle on the block key; only rows sharing an exact prefix are
    ever compared. Within a block the self-join is bounded two ways:
    blocks outside [2, max_block] rows are dropped up front (a size-1
    block has no pairs; an over-cap block is a boilerplate cluster the
    quadratic must not touch — same df-cap posture as ``jaccard_pairs``),
    and ``|len(a) - len(b)| <= threshold`` prunes losslessly because the
    edit distance is bounded below by the length difference.

    Verification uses Spark's 3-arg ``levenshtein(a, b, threshold)``
    (returns -1 once the DP row exceeds the bound — O(threshold * len)
    instead of O(len^2) per pair). PARITY DOMAIN: Spark computes over
    unicode codepoints, DuckDB's ``levenshtein`` over bytes; they agree
    exactly on ASCII, so non-ASCII rows are excluded on BOTH sides (the
    oracle mirrors the filter).

    Scale shape: shuffle on block key -> bounded within-block quadratic
    -> thresholded DP, all JVM-side. At 100 TB the prefix block is the
    cheap first stage; recall beyond shared prefixes comes from running
    it alongside the shingle-based candidates, not from widening blocks.
    """
    d = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("t"),
            F.length(text_col).alias("ln"),
            F.md5(F.substring(F.col(text_col), 1, prefix_len)).alias("blk"),
        )
        .where(F.col("t").rlike(r"^[\x00-\x7F]*$"))
    )
    ok = (
        d.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where((F.col("__bn") >= 2) & (F.col("__bn") <= max_block))
        .select("blk")
    )
    d = d.join(ok, "blk")
    a = d.select("blk", F.col("id").alias("id1"), F.col("t").alias("t1"), F.col("ln").alias("ln1"))
    b = d.select("blk", F.col("id").alias("id2"), F.col("t").alias("t2"), F.col("ln").alias("ln2"))
    return (
        a.join(b, "blk")
        .where(
            (F.col("id1") < F.col("id2"))
            & (F.abs(F.col("ln1") - F.col("ln2")) <= F.lit(threshold))
        )
        .select(
            "id1",
            "id2",
            F.expr(f"levenshtein(t1, t2, {int(threshold)})").alias("edit_distance"),
            F.greatest("ln1", "ln2").alias("max_len"),
        )
        .where(F.col("edit_distance") >= 0)
        .select(
            "id1",
            "id2",
            "edit_distance",
            # two empty texts pair at distance 0 with max_len 0: guard
            # the 0/0 (NULL in Spark) to the correct similarity, 1.0
            round_dp(
                F.when(F.col("max_len") == 0, F.lit(1.0)).otherwise(
                    F.lit(1.0)
                    - F.col("edit_distance").cast("double")
                    / F.col("max_len").cast("double")
                )
            ).alias("similarity"),
        )
    )
