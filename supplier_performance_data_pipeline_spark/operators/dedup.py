"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline extension surface (BASELINE.json north star).
Design constraints:
- portable hashing: md5 (identical in every engine) instead of
  engine-private hash functions, so the DuckDB oracle can reproduce
  signatures bit-for-bit;
- scale: candidate generation is always a bucket equi-join (LSH bands),
  never an all-pairs cross join. The all-pairs form only appears in the
  oracle SQL, where the 500-doc testdata makes it cheap.

MinHash background: public MinHash/LSH literature (Broder '97); banding
per Mining of Massive Datasets ch.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.operators.textops import tokens
from supplier_performance_data_pipeline_spark.sources.readers import spread_scan

MINHASH_K = 8  # signature length (default; every op takes k= explicitly)
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each (default)
SHINGLE_N = 3
P61 = (1 << 61) - 1  # Mersenne prime modulus for the hash family

# Scale note (100 TB): K and bands are DEMO-scale defaults. Collision
# probability for a band of r = k/bands rows is j^r (j = true Jaccard),
# so the expected candidate volume per band bucket shrinks geometrically
# in r; at N documents pick r ~ log(N) (and bands = k/r for the desired
# s-curve threshold t ~ (1/bands)^(1/r), per MMDS ch.3) so that bucket
# sizes — and therefore the per-bucket self-join — stay bounded as N
# grows. All operators below take k/bands parameters for exactly this.


def shingle_sets(
    docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N,
    spread: bool = True,
) -> DataFrame:
    """(doc_id, shingles): n-token shingles; documents shorter than n
    tokens fall back to a single whole-document shingle.

    Layered projections on purpose: every lambda only references a
    materialized column attribute. Referencing the token-split
    *expression* inside a higher-order-function lambda re-evaluates the
    full regexp split per array element (interpreted HOF eval has no
    subexpression cache), which is quadratic in document length.

    ``spread=False`` skips the narrow-scan repartition: callers whose
    shingle subplan is a small FILTERED slice referenced several times
    in one DAG (the bloom decontamination audit: 10%/90% splits, the
    eval arm executed twice) pay the shuffle per reference and gain
    nothing — measured 2.1s vs 1.5s at sf0.1. The default stays True:
    full-corpus one-row-group scans single-thread the shingle hashing
    without it (simhash 1.6s vs 2.7s, char-ngram 2.1s vs 5.0s).
    """
    # spread_scan: a one-row-group local scan would hash every shingle
    # single-threaded; no-op when the scan is already wide (100 TB).
    src = spread_scan(docs, "doc_id") if spread else docs
    toks = src.select(
        "doc_id", tokens(F.col(text_col)).alias("toks")
    )
    t = F.col("toks")
    make = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    sh = F.when(F.size(t) >= n, make).otherwise(F.array(F.array_join(t, " ")))
    return toks.select("doc_id", sh.alias("shingles"))


def shingle_hash_pairs(
    docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N
) -> DataFrame:
    """(doc_id, hp): per-shingle 56-bit hash pairs (h1, h2) from ONE md5
    per shingle — the K MinHash components are derived arithmetically,
    so signature cost is one digest per shingle instead of K."""
    return hash_pairs_from_shingles(shingle_sets(docs, text_col, n))


def hash_pairs_from_shingles(sh_df: DataFrame) -> DataFrame:
    """(doc_id, hp) from any (doc_id, shingles) table — the hashing half
    of ``shingle_hash_pairs``, shared by the word-shingle and
    char-n-gram MinHash paths (shingling is the only part that
    differs)."""
    ms = sh_df.select(
        "doc_id", F.transform(F.col("shingles"), F.md5).alias("ms")
    )
    hp = F.transform(
        F.col("ms"),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 15, 14), 16, 10).cast("long").alias("h2"),
        ),
    )
    return ms.select("doc_id", hp.alias("hp"))


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    """doc_id + mh0..mh{k-1} (bigint). Pure projection — no shuffle.

    Component j = min over shingles of (h1 + j*h2) mod (2^61 - 1), the
    standard two-hash combined family (Kirsch-Mitzenmacher); h1, h2 are
    the two md5 halves, so every engine reproduces the values exactly.
    h1 + (k-1)*h2 < 2^56 * k stays under 2^63 for k ≤ 127: no overflow."""
    assert 1 <= k <= 127, f"minhash k={k} would overflow the long hash"
    return signatures_from_hash_pairs(shingle_hash_pairs(docs, text_col), k)


def signatures_from_hash_pairs(hp_df: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """MinHash components over an existing (doc_id, hp) table — see
    ``minhash_signatures`` for the hash-family contract."""
    assert 1 <= k <= 127, f"minhash k={k} would overflow the long hash"
    # expr strings, not Column-API loops: K components × a lambda each
    # would cost hundreds of py4j round trips at plan-build time.
    cols = [
        f"array_min(transform(hp, x -> (x.h1 + {j} * x.h2) % {P61})) AS mh{j}"
        for j in range(k)
    ]
    return hp_df.selectExpr("doc_id", *cols)


# --- character-n-gram MinHash (cross-lingual / unsegmented scripts) ---------

CHAR_SHINGLE_N = 5
# 1:1 diacritic fold (translate cannot expand, so ß/æ stay) — applied
# AFTER lowercasing, in both engines, so uppercase accents outside the
# map (e.g. Ÿ, whose lowercase ÿ IS mapped) still fold; the uppercase
# map entries are kept as belt-and-braces. The SAME two constants are
# interpolated into the DuckDB oracle, in the same lower→translate
# order (tests/test_round6_ops.py pins the order cross-engine).
ACCENT_FROM = "ÁÀÂÄÃÅáàâäãåÉÈÊËéèêëÍÌÎÏíìîïÓÒÔÖÕóòôöõÚÙÛÜúùûüÇçÑñÝýÿ"
ACCENT_TO = "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOoooooUUUUuuuuCcNnYyy"
# escaped char class, identical semantics in Java regex and RE2 (\s
# itself differs: Java includes \x0B, RE2 does not)
WS_RX = "[ \\t\\n\\r]+"


def fold_text(col: Column) -> Column:
    """Language-agnostic normalization: lowercase → diacritic fold →
    collapse whitespace runs → trim. Every step is codepoint-exact in
    both engines (translate is 1:1 codepoint mapping; the whitespace
    class is spelled explicitly because Java's \\s and RE2's \\s
    disagree on vertical tab). Order matters: lower() runs BEFORE
    translate() so uppercase accents missing from the 1:1 map but whose
    lowercase form is mapped (Ÿ→ÿ→y) still fold — and the DuckDB oracle
    applies the identical lower-then-translate order."""
    return F.trim(
        F.regexp_replace(
            F.translate(F.lower(col), ACCENT_FROM, ACCENT_TO), WS_RX, " "
        )
    )


def char_shingle_sets(
    docs: DataFrame, text_col: str = "text", n: int = CHAR_SHINGLE_N
) -> DataFrame:
    """(doc_id, shingles): overlapping character n-grams of the folded
    text — the CJK-safe shingling. Word-token shingles assume a
    whitespace-segmented script, so an unsegmented zh document
    collapses to a handful of giant 'tokens' and near-dups never
    collide; character n-grams are the standard language-agnostic
    alternative (and what makes translated-layout / transliterated
    near-dups detectable at all). Texts shorter than n characters fall
    back to one whole-text shingle. Both engines index substrings by
    codepoint, so multi-byte scripts shingle identically."""
    folded = spread_scan(docs, "doc_id").select(
        "doc_id", fold_text(F.col(text_col)).alias("s")
    )
    s = F.col("s")
    make = F.transform(
        F.sequence(F.lit(1), F.length(s) - (n - 1)),
        lambda i: s.substr(i, F.lit(n)),
    )
    sh = F.when(F.length(s) >= n, make).otherwise(F.array(s))
    # MinHash is defined on the shingle SET: dedup before hashing —
    # array_min is unaffected, but every downstream per-element pass
    # (one md5 + K component mins per shingle) shrinks by the repeat
    # factor, which is large exactly when n-gram entropy is low.
    return folded.select("doc_id", F.array_distinct(sh).alias("shingles"))


def char_ngram_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = CHAR_SHINGLE_N,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over character n-grams — same banded
    bucket equi-join scale path as ``near_dup_pairs`` (verify inline,
    see ``_pairs_from_sigs``), different shingling (see
    ``char_shingle_sets``). Signatures localCheckpoint once so the
    self-join's two sides don't recompute the shingle hashing."""
    sigs = signatures_from_hash_pairs(
        hash_pairs_from_shingles(char_shingle_sets(docs, text_col, n)), k
    ).localCheckpoint()
    return _pairs_from_sigs(sigs, k, bands)


def _banded(
    sigs: DataFrame, *carry: str, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """(doc_id, *carry, band, band_hash): one row per (doc, LSH band),
    where band_hash is the md5 of the band's k/bands signature
    components — the bucket key of every banded LSH join."""
    assert k % bands == 0, f"bands={bands} must divide k={k}"
    per_band = k // bands
    hashes = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * per_band + j}" for j in range(per_band))
        + "))"
        for b in range(bands)
    )
    return sigs.selectExpr(
        "doc_id", *carry, f"posexplode(array({hashes})) AS (band, band_hash)"
    )


def lsh_candidate_pairs(
    sigs: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """Candidate pairs via banded LSH: explode band hashes, equi-join on
    (band index, band hash), dedupe. This is the scale path — the join
    key is the band bucket, so only same-bucket docs ever meet."""
    banded = _banded(sigs, k=k, bands=bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_candidate_pairs_between(
    probe: DataFrame,
    index: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Banded LSH candidates of PROBE docs against an INDEX — the
    incremental-ingest shape: a new batch is deduplicated against the
    existing corpus without ever re-pairing index-vs-index (which at
    100 TB is almost all of the quadratic work and has already been
    done). Same (band, band_hash) bucket equi-join as
    ``lsh_candidate_pairs``; the pair is ORDERED (probe, index), no
    doc_id inequality needed because the sides are disjoint."""
    a = _banded(probe, k=k, bands=bands).alias("a")
    b = _banded(index, k=k, bands=bands).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def verified_pairs_between(
    probe: DataFrame,
    index: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Scored ordered pairs (doc_a=probe, doc_b=index,
    n_matching_components) — ``lsh_candidate_pairs_between`` with the
    verify INLINE, mirroring ``_pairs_from_sigs``: both band explodes
    carry the k signature components, candidates emerge scored, and
    the two join-backs onto the probe/index signature tables disappear.
    The scale consequence is better than a shuffle saving: the index's
    banded table — (band, band_hash, mh0..mh{k-1}) bucketed by band
    hash — becomes the COMPLETE persistent artifact; a batch probes it
    and never touches a second index-side table. Dedup of multi-band
    matches happens after scoring (exact: the score is a function of
    the pair)."""
    mh_cols = [f"mh{j}" for j in range(k)]
    a = _banded(probe, *mh_cols, k=k, bands=bands).alias("a")
    b = _banded(index, *mh_cols, k=k, bands=bands).alias("b")
    matches = " + ".join(f"if(a.mh{j} = b.mh{j}, 1, 0)" for j in range(k))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"cast(({matches}) AS int) AS n_matching_components",
        )
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs. Emits the INTEGER count of
    matching signature components (``n_matching_components``, 0..k) as
    the primary similarity column plus the derived double ratio
    ``jaccard_est`` = n/k; cross-engine comparisons should key on the
    integer — it is exact in every engine and hash-canonicalization,
    while a double ratio invites representation-level drift.

    The signature table appears on both sides of the banded self-join
    (verify is inline — see ``_pairs_from_sigs``), so it must be
    materialized once, not recomputed per side. This handle-free
    variant uses an eager
    ``localCheckpoint`` (k longs + id ≈ 72 bytes/doc, executor
    memory+disk): the blocks are reclaimed by the ContextCleaner when
    the result goes out of scope, so repeated invocations — registered
    queries build it per run — cannot accumulate CacheManager entries
    the way an unowned ``persist`` does. Callers that want a
    deterministic lifetime (unpersist immediately after their action)
    should use ``near_dup_pairs_cached`` instead."""
    sigs = minhash_signatures(docs, text_col, k).localCheckpoint()
    return _pairs_from_sigs(sigs, k, bands)


def near_dup_pairs_cached(
    docs: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> tuple[DataFrame, DataFrame]:
    """``near_dup_pairs`` plus the persisted signature handle so callers
    can manage the cache lifetime (unpersist after their action)."""
    sigs = minhash_signatures(docs, text_col, k).persist()
    return _pairs_from_sigs(sigs, k, bands), sigs


def _pairs_from_sigs(
    sigs: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """Verified pairs over a materialized signature table, verify
    INLINE in the bucket self-join: the band explode carries the k
    signature components alongside the band hash, so candidates emerge
    from the bucket join already scored and the two corpus-sized
    join-backs onto the signature table disappear. Deduplication (a
    pair matching in >1 band) moves AFTER scoring — n_matching is a
    function of the pair, so the distinct is exact and the output is
    row-identical to the join-back plan (measured exceptAll-equal at
    sf0.01; sf1: best 11.7s vs 14.8s, and worst-case 23.7s vs 119s —
    two fewer shuffles leaves far less surface for load spikes).
    Shuffle math at k=8/bands=4: the exploded side adds k longs per
    band row (~4x96B/doc) but saves shuffling the signature table
    twice more plus the pair list twice (~2x72B/doc + pair-mass) —
    at parity for sparse-pair corpora, strictly better when pairs are
    plentiful (the regime that matters)."""
    mh_cols = [f"mh{j}" for j in range(k)]
    banded = _banded(sigs, *mh_cols, k=k, bands=bands)
    a = banded.alias("a")
    b = banded.alias("b")
    matches = " + ".join(f"if(a.mh{j} = b.mh{j}, 1, 0)" for j in range(k))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"cast(({matches}) AS int) AS n_matching_components",
            f"round(({matches}) / {float(k)}, 6) AS jaccard_est",
        )
        .distinct()
    )


def near_dup_component_edges(
    docs: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    min_match: int = 1,
) -> DataFrame:
    """(doc_a, doc_b) edge list whose connected components — vertex set
    included — are EXACTLY those of ``near_dup_pairs(docs)`` filtered to
    ``n_matching_components >= min_match``, built exact-collapse-first.

    Why this exists: the banded-LSH bucket self-join is quadratic in
    bucket size, and the module-top "pick r ~ log N so buckets stay
    bounded" argument only holds for DISTINCT texts. Byte-identical
    documents share every band regardless of band width — a boilerplate
    page crawled M times puts M rows in the same bucket and the pair
    join emits M(M-1)/2 candidates. Collapsing exact duplicates first
    (hash-groupBy on md5(text), one representative per unique text)
    makes that M-copy group cost M-1 member edges instead, and the LSH
    + verify stages run over unique texts only.

    Equivalence (why downstream component consumers can switch without
    touching their oracles): the minhash signature is a function of the
    text alone, so (1) every member of an exact-dup group pairs with
    every other at k/k >= min_match in the original graph — the
    member->representative star edges reconnect exactly that clique;
    (2) a cross-group pair (a, b) exists in the original iff the
    representative pair (rep_a, rep_b) passes the same bucket join and
    verify count — identical texts, identical signatures. Vertex sets
    match too: a group of size >= 2 contributes all its members (and
    its representative) to both graphs, and a representative-graph
    vertex is a pair participant in the original. Requires
    ``1 <= min_match <= k``: at 0 the original graph would also admit
    NULL-text docs (their all-NULL signatures verify to 0 matches),
    which the collapse deliberately leaves as isolated singletons;
    above ``k`` the star edges would be WRONG, not just vacuous — an
    exact-dup clique verifies at exactly k/k matching components in
    the direct pair graph, so ``min_match > k`` filters those pairs
    out of the reference graph while the unconditional
    member->representative edges would still cluster the group here.

    NULL texts are never grouped (each is keyed to a per-doc sentinel
    and stays its own representative: in the original pipeline two
    NULL-text docs bucket together but verify to 0 matching
    components, so they must not gain a member edge here).
    Representative text is recovered with min() inside the same
    aggregate — every text in a group is identical by construction,
    so no join back to the corpus for the text is needed.
    """
    assert 1 <= min_match <= k, (
        "collapse equivalence requires 1 <= min_match <= k: exact-dup "
        "cliques verify at exactly k matching components, so min_match > k "
        "would drop them from the reference graph while the star edges "
        "still cluster them here"
    )
    ck = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("n:"), F.col("doc_id").cast("string")),
    )
    keyed = docs.select(
        "doc_id", F.col(text_col).alias("__t"), ck.alias("__ck")
    )
    # Materialized ONCE: the group table feeds two branches (member
    # edges + representative docs), and the signature path probes
    # partition counts via df.rdd — which under AQE executes upstream
    # shuffle stages, so an unmaterialized aggregate here would be
    # recomputed per consumer (measured 3.5s -> 1s at sf0.1). One row
    # per unique text: bounded by the corpus's distinct-content size.
    groups = keyed.groupBy("__ck").agg(
        F.min("doc_id").alias("rep"),
        F.min("__t").alias("rep_text"),
    ).localCheckpoint()
    member_edges = (
        keyed.join(groups.select("__ck", "rep"), "__ck")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("doc_a"), F.col("rep").alias("doc_b"))
    )
    rep_docs = groups.select(
        F.col("rep").alias("doc_id"), F.col("rep_text").alias(text_col)
    )
    rep_pairs = (
        near_dup_pairs(rep_docs, text_col, k, bands)
        .filter(F.col("n_matching_components") >= min_match)
        .select("doc_a", "doc_b")
    )
    return rep_pairs.unionByName(member_edges)


def doc_components(
    docs: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    min_match: int = 1,
    collapse_exact: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """(id, component) near-dup cluster assignment — the one spelling of
    the pairs -> filter -> checkpoint -> star-contraction idiom every
    component-grain consumer shares. ``collapse_exact=True`` (default)
    routes through ``near_dup_component_edges`` — identical components,
    linear instead of quadratic cost on exact-duplicate-heavy corpora;
    False keeps the direct pair graph (the property tests compare the
    two). The edge list is eagerly checkpointed: star symmetrization
    references it several times and must not recompute the LSH."""
    from supplier_performance_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    if collapse_exact:
        edges = near_dup_component_edges(docs, text_col, k, bands, min_match)
    else:
        edges = (
            near_dup_pairs(docs, text_col, k, bands)
            .filter(F.col("n_matching_components") >= min_match)
            .select("doc_a", "doc_b")
        )
    return connected_components(
        edges.localCheckpoint(), stats_out=stats_out
    )


def exact_dedup_groups(
    docs: DataFrame, key: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via hash-groupBy on a content key: one row per group
    with the canonical (min-id) survivor and the duplicate count."""
    return docs.groupBy(key.alias("content_key")).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


def simhash32(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over the token multiset (Charikar '02 shape).

    Per token: h = first 8 md5 hex digits as int. Per bit b: sum +1/-1
    by bit value over all tokens; signature bit = 1 iff sum > 0.
    Integer-only arithmetic → bit-identical across engines.

    Plan shape: explode tokens → single hash agg per doc with 32
    conditional sums (map-side partial agg applies; no window, no UDF).
    """
    tok = spread_scan(docs, "doc_id").select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    tok = tok.select("doc_id", h.alias("h"))
    # expr strings: 32 conditional sums + the 32-term signature fold as
    # Column-API loops cost ~350 py4j round trips per plan build.
    aggs = [
        F.expr(f"sum(if((shiftright(h, {b}) & 1) = 1, 1, -1)) AS bit{b}")
        for b in range(32)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    sig = " + ".join(f"if(bit{b} > 0, {2**b}L, 0L)" for b in range(32))
    return per_doc.selectExpr("doc_id", f"({sig}) AS simhash")


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N
) -> DataFrame:
    """Exact n-gram Jaccard for given (doc_a, doc_b) candidate pairs:
    |A ∩ B| / |A ∪ B| over distinct shingle sets."""
    sh = shingle_sets(docs, text_col, n).select(
        "doc_id", F.array_distinct(F.col("shingles")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / F.nullif(union, F.lit(0.0)), 6).alias("jaccard"),
        )
    )


def _prefix_index(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    text_col: str,
    n: int,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared prefix-filter scaffolding for the set-similarity joins:
    returns (dt, dl, pfx, postab) — the distinct (doc_id, tok) shingle
    table (checkpointed), per-doc set sizes, each doc's PREFIX tokens
    (the first L - ceil(t*L) + 1 by global-df-rarest-first order, t =
    num/den), and the full positioned token table. Jaccard and
    containment joins differ only in which sides of the candidate join
    use the prefix and in the verify inequality.

    ``pfx`` and ``postab`` carry (doc_id, tok, pos, len): each token's
    rank in the global df-rarest-first order plus the doc's set size,
    which the candidate joins need for PPJoin's positional filter
    (Xiao, Wang, Lin & Yu WWW '08): for a candidate row generated at
    token w, overlap(A,B) <= 1 + min(|A| - pos_a(w), |B| - pos_b(w))
    whenever no common token precedes w — which holds for the FIRST
    common candidate token of any true pair, so filtering rows by that
    bound before the pair-distinct keeps completeness intact."""
    # dt is consumed FIVE times (df counts, lengths, rank input, both
    # verify sides) — materialize once or the tokenize+shingle+explode
    # pipeline re-executes per consumer (measured ~5x on the local
    # fixture; at 100 TB the checkpoint is the standard reuse move for
    # a corpus-scale intermediate, same as the LSH signature tables).
    dt = (
        shingle_sets(docs, text_col, n)
        .select("doc_id", F.explode(F.array_distinct("shingles")).alias("tok"))
        .localCheckpoint()
    )
    return _prefix_index_from_tokens(dt, threshold_num, threshold_den)


def _prefix_index_from_tokens(
    dt: DataFrame, threshold_num: int, threshold_den: int
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``_prefix_index`` for a pre-tokenized DISTINCT (doc_id, tok)
    table — the entry point for corpora whose set elements aren't
    character shingles (pre-tokenized text, tag sets, feature sets).
    The caller owns materialization of ``dt`` (checkpoint it: the
    table is consumed five times downstream)."""
    from pyspark.sql.window import Window

    gf = dt.groupBy("tok").agg(F.count("*").alias("df"))
    dl = dt.groupBy("doc_id").agg(F.count("*").alias("len"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pos = dt.join(gf, "tok").withColumn("pos", F.row_number().over(w))
    plen = F.expr(
        f"len - (({threshold_num} * len + {threshold_den - 1}) "
        f"div {threshold_den}) + 1"
    )
    postab = pos.join(dl, "doc_id").select("doc_id", "tok", "pos", "len")
    pfx = postab.filter(F.col("pos") <= plen)
    return dt, dl, pfx, postab


def _doc_token_arrays(dt: DataFrame) -> DataFrame:
    """Per-doc shingle keys sorted by the SAME global rarest-first
    (df, tok) total order the prefix index ranks by, encoded as one
    lexicographically-comparable string (zero-padded df ++ tok) so the
    suffix filter can probe order statistics with plain ``<`` — no
    global token-id assignment needed. One doc-grain aggregate over the
    checkpointed shingle table, shared by both sides of the pair
    filter."""
    gf = dt.groupBy("tok").agg(F.count("*").alias("df"))
    return (
        dt.join(gf, "tok")
        .select(
            "doc_id",
            F.concat(
                F.lpad(F.col("df").cast("string"), 12, "0"), F.col("tok")
            ).alias("k"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("k")).alias("toks"))
    )


SUFFIX_PROBES = 8  # quantile probes per pair; tightness/cost knob


def _suffix_filter(
    cand: DataFrame, dt: DataFrame, enough, probes: int = SUFFIX_PROBES
) -> DataFrame:
    """PPJoin+ SUFFIX filter (Xiao, Wang, Lin & Yu WWW '08 §4.3) in a
    flat multi-probe form: instead of the paper's RECURSIVE binary
    probe (a per-pair control-flow loop, hostile to a columnar
    engine), take P quantile-position tokens of A's sorted set as
    simultaneous probes. The probes partition both token sets into
    P + 1 aligned segments; every common token is either EQUAL to some
    probe (at most 1 each, and 0 unless that probe is in B) or falls
    strictly inside segment i on both sides (at most min of the two
    segment sizes) — so

        bound = sum_i min(|A_i|, |B_i|) + sum_j [p_j in B]

    upper-bounds the true overlap, exactly the partition argument the
    recursive filter makes one split at a time, evaluated at depth
    log2(P) in one vectorized expression. Pruning pairs whose bound
    can't reach the verify threshold can never drop a true pair;
    ``enough(bound, la, lb)`` is the integer cross-multiplied
    reachability predicate.

    Plan-only, like the length/positional filters: the verify join
    still decides membership, this only CUTS its input. The probe
    positions and A-side segment counts depend on doc_a ALONE, so they
    are computed ONCE PER DOC on the doc-grain table and joined to the
    pairs — the pair-grain join carries (probes, A-counts, |A|) and
    never ships toks_a; only the O(P * |B|) B-side count/containment
    expression runs per pair.

    WHEN TO ENABLE (measured, sf0.1 corpus, t=3/5): the filter cuts
    68,725 surviving candidates to 33,254 (51%), but the probe
    expression evaluates through Catalyst's per-element lambda
    interpreter at ~0.5 ms/pair (P=8, |set|~100) — 38 s to relieve a
    verify join that costs ~2 s on the same candidates, because at
    fixture scale the verify shuffle is local and vectorized.

    FAT-DOC A/B (round-9; the probe and its record are in git history): a
    fixture built adversarially FOR the suffix stage — |set| = 1000,
    5,700 candidates that pass length+positional, fail verify, and
    are 100% suffix-prunable (group-shared prefix blocks + disjoint
    filler bands) — still comes out NEGATIVE on local[32]: OFF 4.1 s
    vs ON 24.4 s at P=8 and 5.4 s at P=2, even though the prune rate
    is 1.0. Structural reason: the probe's per-pair cost is
    O(P * |B|) through the lambda interpreter while verify's is
    O(|A|) through vectorized codegen'd joins — both linear in set
    size, with a ~P * (interpreted/vectorized) constant between them
    that no local fixture can invert. The economics flip only when
    the verify join stops being memory-local: network-bound shuffle
    or candidate sets that spill — i.e. the 100 TB corpus this engine
    targets, where each pruned pair saves |A|+|B| rows of CLUSTER
    traffic, not local hash-join probes. Hence the knob stays OFF in
    every registered query, with the measured A/B as the receipt."""
    arrays = _doc_token_arrays(dt)
    # Doc-grain A-side precompute (hoisted out of the pair grain,
    # round-9): distinct clamped quantile positions -> strictly
    # ascending probe tokens (per-doc keys are unique), so segment
    # sizes are provably nonnegative below. Sorted toks mean the
    # count-below-probe at probe position q is q-1 minus the probes
    # before it... kept as the explicit filter for clarity — it runs
    # once per DOC, not per pair, so its cost is off the hot path.
    a_side = (
        arrays.select(
            F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
        )
        .withColumn(
            "_ps",
            F.expr(
                f"transform(array_distinct(transform(sequence(1, "
                f"{probes}), i -> GREATEST(1, CAST(i * (size(toks_a) + 1)"
                f" / {probes + 1} AS INT)))), q -> element_at(toks_a, q))"
            ),
        )
        .withColumn(
            "_ca", F.expr("transform(_ps, p -> size(filter(toks_a, x -> x < p)))")
        )
        .select("doc_a", "_ps", "_ca", F.size("toks_a").alias("_la"))
    )
    j = (
        cand.join(a_side, "doc_a")
        .join(
            arrays.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
            ),
            "doc_b",
        )
        .withColumn(
            "_cb", F.expr("transform(_ps, p -> size(filter(toks_b, x -> x < p)))")
        )
        .withColumn(
            "_eq",
            F.expr(
                "transform(_ps, p -> CASE WHEN array_contains(toks_b, p) "
                "THEN 1 ELSE 0 END)"
            ),
        )
    )
    # Segment i of 1..n+1 (n = probe count): strictly before probe 1,
    # strictly between consecutive probes (minus the probe itself —
    # always in A, in B iff _eq), strictly after probe n.
    bound = F.expr(
        """
        aggregate(sequence(1, size(_ps) + 1), 0,
          (acc, i) -> acc + LEAST(
            CASE WHEN i = 1 THEN element_at(_ca, 1)
                 WHEN i <= size(_ps)
                   THEN element_at(_ca, i) - element_at(_ca, i - 1) - 1
                 ELSE _la - element_at(_ca, size(_ps)) - 1 END,
            CASE WHEN i = 1 THEN element_at(_cb, 1)
                 WHEN i <= size(_ps)
                   THEN element_at(_cb, i) - element_at(_cb, i - 1)
                        - element_at(_eq, i - 1)
                 ELSE size(toks_b) - element_at(_cb, size(_ps))
                      - element_at(_eq, size(_ps)) END))
        + aggregate(_eq, 0, (acc, e) -> acc + e)
        """
    )
    la = F.col("_la")
    lb = F.size("toks_b")
    return j.filter(enough(bound, la, lb)).select("doc_a", "doc_b")


def _pair_overlap_stats(
    cand: DataFrame, dt: DataFrame, dl: DataFrame
) -> DataFrame:
    """Shared verify step of the prefix-filtered joins: for candidate
    (doc_a, doc_b) pairs, the exact intersection count and both set
    sizes — (doc_a, doc_b, ni, la, lb). The Jaccard and containment
    joins differ only in the threshold inequality and projection they
    apply on top; the verify join itself must stay identical (PPJoin's
    length/positional pruning lives in the CANDIDATE joins — by the
    time pairs reach here they are already pruned)."""
    ta = dt.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("t_a"))
    tb = dt.select(F.col("doc_id").alias("b_id"), F.col("tok").alias("t_b"))
    # The candidate table is small in BYTES but each row fans out by
    # |set| in the verify join — work AQE's size-based coalescing can't
    # see, so it squeezes the pairs onto a handful of tasks and one
    # mega-cluster doc straggles. REPARTITION_BY_NUM (round-robin)
    # survives both the redundant-exchange pruning and AQE coalescing,
    # spreading the probe side over every core (same fix, same reason
    # as the edit-distance verifier in plans/queries_text.py).
    spark = cand.sparkSession
    cand = cand.repartition(spark.sparkContext.defaultParallelism)
    inter = (
        cand.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("b_id"))
            & (F.col("t_a") == F.col("t_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    la = dl.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("la"))
    lb = dl.select(F.col("doc_id").alias("doc_b"), F.col("len").alias("lb"))
    return inter.join(la, "doc_a").join(lb, "doc_b")


def jaccard_prefix_join(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    text_col: str = "text",
    n: int = SHINGLE_N,
    suffix_probes: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join with PREFIX FILTERING (the
    AllPairs / PPJoin family — Bayardo, Ma & Srikant WWW '07;
    Chaudhuri, Ganti & Kaushik ICDE '06): all document pairs whose
    n-token shingle sets have Jaccard >= num/den, with a COMPLETENESS
    guarantee MinHash-LSH lacks (LSH misses pairs probabilistically;
    prefix filtering provably cannot).

    Shingles sort by global document frequency (rarest first, ties by
    value — a total order); a doc of set size L keeps the first
    L - ceil(t*L) + 1 as its PREFIX. Any pair with J >= t shares
    >= ceil(t*max(LA, LB)) shingles, and by the prefix lemma their
    prefixes must intersect — so the candidate join runs on prefixes
    only (rare shingles -> tiny buckets), and the exact intersection
    count verifies. The threshold test is INTEGER cross-multiplication
    (den*|A∩B| >= num*(|A|+|B|-|A∩B|)) — no float compare anywhere.

    Plan: distinct (doc, shingle) explode -> df counts (hash agg) ->
    per-doc rank window (doc-grain partitions) -> prefix equi-join
    carrying PPJoin's LENGTH and POSITIONAL filters as extra join
    conditions (plan-only: they can only cut candidates, never add) ->
    candidate-bounded verify join + pair-grain agg. At 100 TB the
    verify join is candidates x set size, so every candidate pruned
    here saves |A|+|B| verify rows. ``suffix_probes`` enables the
    PPJoin+ SUFFIX filter (multi-probe segmented form, see
    ``_suffix_filter``) cutting the pair-distinct output once more
    before verify — overlap-reachability by integer cross-
    multiplication ((num+den) * bound >= num * (|A|+|B|) iff
    bound >= ceil(t/(1+t) * (|A|+|B|))). Off by default: at fixture
    scale the probe expression costs more than the verify it relieves
    (measured economics in ``_suffix_filter``'s docstring); enable it
    where verify dominates."""
    dt, dl, pfx, _ = _prefix_index(
        docs, threshold_num, threshold_den, text_col, n
    )
    return jaccard_prefix_join_tokens(
        dt,
        threshold_num,
        threshold_den,
        suffix_probes=suffix_probes,
        _indexed=(dt, dl, pfx),
    )


def jaccard_prefix_join_tokens(
    dt: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    suffix_probes: int | None = None,
    _indexed: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """``jaccard_prefix_join`` over a pre-tokenized DISTINCT
    (doc_id, tok) set table — same candidate/verify pipeline, same
    completeness guarantee, for corpora whose set elements aren't
    character shingles. The caller owns ``dt``'s materialization."""
    if _indexed is None:
        dt, dl, pfx, _ = _prefix_index_from_tokens(
            dt, threshold_num, threshold_den
        )
    else:
        dt, dl, pfx = _indexed
    num, den = threshold_num, threshold_den
    a = pfx.select(
        F.col("doc_id").alias("doc_a"),
        "tok",
        F.col("pos").alias("pos_a"),
        F.col("len").alias("la"),
    )
    b = pfx.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tok").alias("tok_b"),
        F.col("pos").alias("pos_b"),
        F.col("len").alias("lb"),
    )
    # PPJoin pruning inside the candidate join (plan-only; the verify
    # step decides membership, so these filters may only CUT work):
    # - length filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|;
    # - positional filter: overlap must reach
    #   alpha = ceil(t/(1+t) * (|A|+|B|)), and a row generated at
    #   token w bounds it by 1 + min(|A|-pos_a, |B|-pos_b). All
    #   integer arithmetic (alpha via ceil-division), no float compare.
    alpha = F.expr(
        f"({num} * (la + lb) + {num + den - 1}) div {num + den}"
    )
    cand = (
        a.join(
            b,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(num) * F.col("la") <= F.lit(den) * F.col("lb"))
            & (F.lit(num) * F.col("lb") <= F.lit(den) * F.col("la"))
            & (
                F.lit(1)
                + F.least(
                    F.col("la") - F.col("pos_a"),
                    F.col("lb") - F.col("pos_b"),
                )
                >= alpha
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    if suffix_probes:
        cand = _suffix_filter(
            cand,
            dt,
            lambda bound, la, lb: F.lit(num + den) * bound
            >= F.lit(num) * (la + lb),
            probes=suffix_probes,
        )
    return (
        _pair_overlap_stats(cand, dt, dl)
        .filter(
            F.lit(threshold_den) * F.col("ni")
            >= F.lit(threshold_num)
            * (F.col("la") + F.col("lb") - F.col("ni"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("ni").cast("long").alias("n_common"),
            F.col("la").cast("long").alias("len_a"),
            F.col("lb").cast("long").alias("len_b"),
            F.round(
                F.col("ni").cast("double")
                / (F.col("la") + F.col("lb") - F.col("ni")),
                6,
            ).alias("jaccard"),
        )
    )


def containment_prefix_join(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    text_col: str = "text",
    n: int = SHINGLE_N,
    suffix_probes: int | None = None,
) -> DataFrame:
    """EXACT set-CONTAINMENT join with prefix filtering: ordered pairs
    (contained, container) where |A∩B| / |A| >= num/den — the
    ASYMMETRIC dedup class Jaccard misses entirely (a paragraph quoted
    inside a 100x longer page has tiny Jaccard but containment ~1),
    which is how partial-duplicate / quotation / version-supersede
    detection is done in corpus curation.

    Prefix lemma, containment form: if |A∩B| >= ceil(t*|A|), at most
    |A| - ceil(t*|A|) of A's tokens miss B, so among A's FIRST
    |A| - ceil(t*|A|) + 1 tokens (global-df-rarest-first, the same
    total order as ``jaccard_prefix_join``) at least one is in B.
    Only the CONTAINED side is prefix-restricted; the container side
    has no size bound, so candidates join A-prefix tokens against the
    full (doc, tok) table — still bucket-bounded because prefixes hold
    each doc's RAREST tokens by construction. Verify is the exact
    intersection count with an integer cross-multiplied threshold
    (den*ni >= num*|A|); self-pairs are excluded, both directions can
    legitimately appear (identical sets contain each other).

    Plan: shared ``_prefix_index`` scaffolding (checkpointed shingle
    table, df-ranked prefixes) -> prefix-vs-all candidate equi-join ->
    candidate-bounded verify join + pair-grain agg. At 100 TB a global
    df cap on join tokens (drop candidates generated by stop-shingles)
    bolts onto the same shape if container-side buckets ever dominate."""
    dt, dl, pfx, postab = _prefix_index(
        docs, threshold_num, threshold_den, text_col, n
    )
    num, den = threshold_num, threshold_den
    a = pfx.select(
        F.col("doc_id").alias("doc_a"),
        "tok",
        F.col("pos").alias("pos_a"),
        F.col("len").alias("la"),
    )
    b = postab.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tok").alias("tok_b"),
        F.col("pos").alias("pos_b"),
        F.col("len").alias("lb"),
    )
    # PPJoin pruning, containment form (plan-only; verify decides):
    # alpha_c = ceil(t*|A|) common tokens are required, so the
    # container must hold at least that many (length filter) and a
    # row generated at token w bounds the overlap by
    # 1 + min(|A|-pos_a, |B|-pos_b) (positional filter).
    alpha_c = F.expr(f"({num} * la + {den - 1}) div {den}")
    cand = (
        a.join(
            b,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("lb") >= alpha_c)
            & (
                F.lit(1)
                + F.least(
                    F.col("la") - F.col("pos_a"),
                    F.col("lb") - F.col("pos_b"),
                )
                >= alpha_c
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # PPJoin+ suffix filter, containment form: overlap must reach
    # ceil(t*|A|), i.e. den * bound >= num * |A| (|B| unused).
    if suffix_probes:
        cand = _suffix_filter(
            cand,
            dt,
            lambda bound, la, lb: F.lit(den) * bound >= F.lit(num) * la,
            probes=suffix_probes,
        )
    return (
        _pair_overlap_stats(cand, dt, dl)
        .filter(
            F.lit(threshold_den) * F.col("ni")
            >= F.lit(threshold_num) * F.col("la")
        )
        .select(
            F.col("doc_a").alias("doc_contained"),
            F.col("doc_b").alias("doc_container"),
            F.col("ni").cast("long").alias("n_common"),
            F.col("la").cast("long").alias("len_contained"),
            F.col("lb").cast("long").alias("len_container"),
            F.round(
                F.col("ni").cast("double") / F.col("la"), 6
            ).alias("containment"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    gram_len: int = 8,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = True,
) -> DataFrame:
    """MAXIMAL exact duplicated token spans ≥ ``gram_len`` — the
    substring grain of the dedup family (Lee et al. '22's suffix-array
    dedup, relationalized as sorted k-gram runs): a span is duplicated
    when EVERY ``gram_len``-token window inside it occurs at least
    ``min_occurrences`` times in the corpus — across documents OR
    within one (self-repeats like boilerplate refrains count, unlike
    the cross-doc coverage report in ``dedup_duplicate_spans``) — and
    maximal when it cannot be extended a token in either direction.
    Under that definition a maximal span is exactly a maximal run of
    CONSECUTIVE duplicated gram-start positions, so extraction is the
    gaps-and-islands merge (break when the next start is not the
    previous + 1), never a pairwise alignment.

    Returns one row per maximal span: (doc_id, span_start, span_end,
    span_len, n_grams) with token positions 0-based inclusive and
    n_grams = span_len - gram_len + 1.

    Scale plan (the suffix array's job, in three bounded shuffles):
    grams carry a 128-bit md5 FINGERPRINT (16 bytes into the shuffle,
    never the text — portable to the DuckDB oracle, which computes the
    identical md5); the duplicate cut is ONE hash aggregation with
    map-side partials (groupBy fingerprint ≥ min_occurrences — the
    sorted-run equivalent: equal grams meet in a bucket instead of
    adjacent sorted rows); the mark-back is a fingerprint equi-join
    (never all-pairs — a frequent gram costs its occurrence count,
    not its count²); the island merge is a window PARTITIONED BY
    document, bounded by document length. What the k-gram relaxation
    gives up vs a true suffix array: spans shorter than ``gram_len``
    are invisible, and maximality is per-corpus (any partner), not
    per-pair — the standard trade (the paper's ExactSubstr uses the
    same fixed minimum match length, 50 tokens)."""
    if gram_len < 1:
        raise ValueError(f"gram_len must be >= 1, got {gram_len}")
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2, got {min_occurrences}"
        )
    from pyspark.sql.window import Window

    base = spread_scan(docs, id_col) if spread else docs
    toks = base.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    t = F.col("toks")
    fps = F.when(
        F.size(t) >= gram_len,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (gram_len - 1)),
            lambda i: F.md5(F.array_join(F.slice(t, i, gram_len), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toks.select("doc_id", F.posexplode(fps).alias("pos", "fp"))
    dup = (
        g.groupBy("fp")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
        .select("fp")
    )
    marked = g.join(dup, "fp").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > 1, F.lit(1)
    ).otherwise(F.lit(0))
    runs = marked.withColumn("brk", brk).withColumn(
        "span_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return runs.groupBy("doc_id", "span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (gram_len - 1)).cast("long").alias("span_end"),
        (F.max("pos") - F.min("pos") + gram_len).cast("long").alias(
            "span_len"
        ),
        F.count("*").cast("long").alias("n_grams"),
    ).drop("span_id")
