"""Operator-level characterizations of the round-6 additions.

The registered queries are differentially gated against DuckDB (the
parity suite); these tests pin the OPERATOR semantics directly — edge
inputs, invariants, and partition-invariance — the way
test_dedup_sim_params / test_stateful_streaming do for earlier rounds.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.operators.dedup import (
    CHAR_SHINGLE_N,
    char_ngram_near_dup_pairs,
    char_shingle_sets,
    fold_text,
)
from supplier_performance_data_pipeline_spark.operators.clustering import (
    ivfpq_adc_topk,
)
from supplier_performance_data_pipeline_spark.operators.multimodal import (
    ahash_bands,
    ahash_near_dup_pairs,
)

SF = "/root/testdata/sf0.001"


# --- fold_text / char shingles ----------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fold_text_folds_accents_case_and_whitespace(spark):
    df = _docs_df(spark, [(0, "  Café   com  Leção \t\n x ")])
    out = df.select(fold_text(F.col("text")).alias("s")).collect()[0]["s"]
    assert out == "cafe com lecao x"


def test_fold_text_order_matches_oracle_cross_engine(spark):
    # lower() must run BEFORE translate() in BOTH engines: 'Ÿ' is not
    # in the 1:1 accent map but its lowercase 'ÿ' is, so translate-
    # then-lower would leave 'ÿ' while the oracle folds to 'y'. Pin
    # the Spark arm against the literal DuckDB fragment.
    import duckdb

    from supplier_performance_data_pipeline_spark.plans.queries_text import (
        _CHAR_FOLD,
    )

    samples = ["L'HAŸ  les Roses", "Café ÑANDÚ\t x", "Ÿÿ ÉeÈ  ÇA"]
    df = _docs_df(spark, list(enumerate(samples)))
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", fold_text(F.col("text")).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(samples):
        exp = con.execute(
            f"SELECT {_CHAR_FOLD} FROM (SELECT ? AS text)", [s]
        ).fetchone()[0]
        assert got[i] == exp, (s, got[i], exp)
    assert got[0] == "l'hay les roses"


def test_fold_text_is_idempotent(spark):
    df = _docs_df(spark, [(0, "Águila  VIEJA\tnñandú")])
    once = df.select(fold_text(F.col("text")).alias("s"))
    twice = once.select(fold_text(F.col("s")).alias("s"))
    assert once.collect() == twice.collect()


def test_char_shingles_count_and_fallback(spark):
    df = _docs_df(spark, [(0, "abcdefg"), (1, "abc"), (2, "")])
    rows = {
        r["doc_id"]: r["shingles"]
        for r in char_shingle_sets(df).collect()
    }
    # len 7 -> 7-5+1 = 3 overlapping 5-grams
    assert rows[0] == ["abcde", "bcdef", "cdefg"]
    # shorter than n -> single whole-text shingle
    assert rows[1] == ["abc"]
    assert rows[2] == [""]


def test_accent_variants_are_char_ngram_duplicates(spark):
    # Same text up to accents/case/whitespace -> identical folded
    # string -> identical signature -> a pair with ALL components equal.
    base = "el gato corre por la casa grande y salta muy alto cada dia"
    acc = "El Gato  CORRE por la casa GRANDE y salta muy alto cada día".replace(
        "dia", "día"
    )
    df = _docs_df(spark, [(0, base), (1, acc)])
    pairs = char_ngram_near_dup_pairs(df, k=8, bands=4).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["doc_a"], p["doc_b"]) == (0, 1)
    assert p["n_matching_components"] == 8


def test_char_ngram_pairs_partition_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    a = sorted(
        (r["doc_a"], r["doc_b"], r["n_matching_components"])
        for r in char_ngram_near_dup_pairs(docs, k=8, bands=4).collect()
    )
    b = sorted(
        (r["doc_a"], r["doc_b"], r["n_matching_components"])
        for r in char_ngram_near_dup_pairs(
            docs.repartition(7), k=8, bands=4
        ).collect()
    )
    assert a == b


# --- IVF-PQ ADC --------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivfpq_ranks_are_dense_per_query(spark, emb):
    out = ivfpq_adc_topk(emb, n_queries=4, topk=3).toPandas()
    for q, grp in out.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        # adc_dist non-decreasing with rank
        g = grp.sort_values("rank")
        assert (g["adc_dist"].diff().dropna() >= 0).all()
    assert set(out["query_id"]) <= set(range(4))


def test_ivfpq_candidates_share_coarse_cluster(spark, emb):
    from supplier_performance_data_pipeline_spark.operators.clustering import (
        kmeans_assignments,
    )

    out = ivfpq_adc_topk(emb, n_queries=4, topk=3).toPandas()
    coarse = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(emb).select("vec_id", "cluster").collect()
    }
    for _, row in out.iterrows():
        assert coarse[row["query_id"]] == coarse[row["neighbor_id"]]
        assert row["neighbor_id"] != row["query_id"]


def test_ivfpq_partition_invariant(spark, emb):
    a = sorted(map(tuple, ivfpq_adc_topk(emb, 4, 3).collect()))
    b = sorted(map(tuple, ivfpq_adc_topk(emb.repartition(7), 4, 3).collect()))
    assert a == b


def _tiny_emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )


def test_pq_encode_one_subspace_equals_kmeans(spark):
    """PQ with m=1 is plain k-means: both run the one Lloyd chain, so
    the single code per vector must equal its k-means cluster. Two
    well-separated groups seeded by ids 0 and 1 make the clusters
    hand-computable."""
    from supplier_performance_data_pipeline_spark.operators.clustering import (
        kmeans_assignments,
        pq_encode,
    )

    vecs = {
        0: (0, 0), 1: (10, 10), 2: (0, 1), 3: (1, 0), 4: (10, 11), 5: (11, 10)
    }
    emb = _tiny_emb(spark, vecs)
    km = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments(emb, k=2, dim=2).collect()
    }
    pq = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, dim=2, m=1, k=2).collect()
    }
    assert km == {0: 0, 1: 1, 2: 0, 3: 0, 4: 1, 5: 1}
    assert pq == {i: [c] for i, c in km.items()}


def test_rank_seeding_takes_lowest_training_ids(spark):
    """``seed="rank"`` renumbers the k lowest training ids 0..k-1 in
    every subspace: on ids 10..15 (rows shuffled), ids 10 and 11 seed
    clusters 0 and 1."""
    from supplier_performance_data_pipeline_spark.operators.clustering import (
        _explode_subs,
        _lloyd_cents,
    )

    vecs = {i: (i, -i, 2 * i, 0.5 * i) for i in (13, 11, 15, 10, 14, 12)}
    base = _tiny_emb(spark, vecs).repartition(3).select(
        "vec_id", F.col("embedding").alias("v")
    )
    seeds = _lloyd_cents(_explode_subs(base, 2, 2), 2, 0, 2, seed="rank")
    got = {(r["sub"], r["cluster"]): list(r["cv"]) for r in seeds.collect()}
    assert got == {
        (s, c): [float(x) for x in vecs[10 + c][2 * s : 2 * s + 2]]
        for s in (0, 1)
        for c in (0, 1)
    }


# --- aHash -------------------------------------------------------------------


def _media_df(spark, rows):
    df = spark.createDataFrame(rows, "media_id long, text string")
    return df.select(
        "media_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


def test_ahash_bands_are_16bit(spark):
    media = _media_df(
        spark, [(0, "hello world " * 10), (1, ""), (2, "x")]
    )
    out = ahash_bands(media).toPandas()
    for s in range(4):
        assert out[f"b{s}"].between(0, 0xFFFF).all()
    # empty payload: all pixels 0, 0*64 > 0 is false -> all bands 0
    empty = out[out.media_id == 1].iloc[0]
    assert [empty[f"b{s}"] for s in range(4)] == [0, 0, 0, 0]


def test_ahash_identical_payloads_pair_at_hamming_zero(spark):
    media = _media_df(
        spark,
        [(0, "the quick brown fox jumps over the lazy dog again and again"),
         (1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "a completely different payload with other content entirely!!")],
    )
    pairs = ahash_near_dup_pairs(media, max_hamming=3).collect()
    got = {(p["media_a"], p["media_b"]): p["hamming"] for p in pairs}
    assert got.get((0, 1)) == 0


def test_ahash_band_pigeonhole_matches_brute_force(spark):
    """Banded candidate generation must find EVERY pair at hamming <= 3
    (Manku pigeonhole) — compare against the brute-force pair scan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(150)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    banded = sorted(
        (p["media_a"], p["media_b"], p["hamming"])
        for p in ahash_near_dup_pairs(media, max_hamming=3).collect()
    )
    hb = ahash_bands(media).toPandas().set_index("media_id")
    brute = []
    ids = sorted(hb.index)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(
                bin(int(hb.loc[a, f"b{s}"]) ^ int(hb.loc[b, f"b{s}"])).count(
                    "1"
                )
                for s in range(4)
            )
            if h <= 3:
                brute.append((a, b, h))
    assert banded == sorted(brute)


def test_ahash_oracle_matches_on_non_ascii_payloads(spark, tmp_path):
    """The oracle models pixels as UTF-8 BYTES (via hex(encode())), the
    same thing the Spark arm hashes — a non-ASCII doc ('é' = TWO
    pixels 0xC3 0xA9, CJK = three) must produce identical pairs in
    both engines. ASCII fixtures can't catch a codepoint-model drift;
    this corpus does."""
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )
    from tests.oracle_utils import assert_frames_match, run_oracle

    load_all()

    rows = [
        (0, "L'Haÿ-les-Roses café déjà vu — naïve façade, ça brûle! ÿ"),
        (1, "L'Haÿ-les-Roses café déjà vu — naïve façade, ça brûle! ÿ"),
        (2, "日本語のテキストです。これは知覚ハッシュの試験データです。"),
        (3, "日本語のテキストです。これは知覚ハッシュの試験データです。"),
        (4, "plain ascii filler that matches nothing else in this set.."),
    ]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{sf}/documents.parquet", index=False
    )
    spec = REGISTRY["multimodal_ahash_near_dup"]
    got = spec.build(spark, sf).toPandas()
    exp = run_oracle(sf, spec.oracle)
    assert len(got) >= 2  # both duplicate pairs actually met
    assert_frames_match(got, exp, "multimodal_ahash_near_dup[non-ascii]")


# --- streaming TTL eviction --------------------------------------------------


def test_ttl_eviction_tombstones(spark, tmp_path):
    """Two-batch replay: user 1 is active only in batch 1 and far
    before the final watermark -> evicted with its frozen count; user 2
    stays active through the end -> no tombstone."""
    import time

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_replay_file,
    )
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
    )
    from supplier_performance_data_pipeline_spark.streaming.stateful import (
        streaming_profiles_event_ttl,
    )

    def ev_df(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        ).select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            "user_id",
        )

    b0 = ev_df(
        [
            (1, "2024-01-01 00:00:00", 1),
            (2, "2024-01-01 00:30:00", 1),
            (3, "2024-01-01 00:00:00", 2),
        ]
    )
    # batch 2: user 2 again, 10 days later -> watermark passes user 1's
    # TTL (6h) by a mile; a final sentinel row triggers the timeout
    # batch without advancing the watermark further.
    b1 = ev_df([(4, "2024-01-11 00:00:00", 2)])
    b2 = ev_df([(5, "2024-01-11 00:00:00", -1)])
    replay = str(tmp_path / "replay")
    t0 = time.time() - 50
    for i, df in enumerate([b0, b1, b2]):
        write_replay_file(df, replay, f"b{i}.events.file", t0 + i * 5)
    stream = read_event_stream(spark, replay, glob="*.file",
                               max_files_per_trigger=1)
    run_to_memory_sink(
        streaming_profiles_event_ttl(stream, 21600, 3600),
        "ttl_unit_sink",
        "append",
    )
    rows = {
        r["user_id"]: (r["n_events"], r["evicted"])
        for r in spark.table("ttl_unit_sink").collect()
        if r["user_id"] >= 0
    }
    assert rows == {1: (2, True)}


# --- IVF-PQ recall audit -----------------------------------------------------


def test_ivfpq_recall_audit_invariants(spark):
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        IVFPQ_NQ,
        IVFPQ_TOPK,
        q_ann_ivfpq_recall_audit,
    )

    out = q_ann_ivfpq_recall_audit(spark, SF).toPandas()
    # one row per query, even if an inverted list came back empty
    assert sorted(out["query_id"]) == list(range(IVFPQ_NQ))
    assert (out["k_requested"] == IVFPQ_TOPK).all()
    # overlap can never exceed either arm's result size
    assert (out["n_overlap"] <= out["n_adc_results"]).all()
    assert (out["n_overlap"] <= out["k_requested"]).all()
    assert (out["n_overlap"] >= 0).all()
    assert (out["n_adc_results"] <= IVFPQ_TOPK).all()


def test_exact_l2_arm_agrees_with_brute_force(spark, emb):
    """The audit's ground-truth arm must rank by true squared L2: check
    query 0's exact top-5 against a NumPy brute force."""
    import numpy as np

    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        IVFPQ_TOPK,
    )

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = mat[ids == 0][0]
    d2 = ((mat - q) ** 2).sum(axis=1)
    order = sorted(
        (float(d), int(i)) for d, i in zip(d2, ids) if i != 0
    )
    expected = [i for _, i in order[:IVFPQ_TOPK]]

    from pyspark.sql.window import Window

    base = emb.select(
        "vec_id", F.expr("transform(embedding, x -> double(x))").alias("v")
    )
    qv = base.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    ed = (
        base.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), "
                "0.0D, (acc, x) -> acc + x)"
            ).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "vec_id")
    got = [
        r["vec_id"]
        for r in ed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVFPQ_TOPK)
        .orderBy("rn")
        .collect()
    ]
    assert got == expected


# --- JL distortion audit -----------------------------------------------------


def test_jl_planes_are_unit_norm():
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        DIM,
        JL_M,
        _jl_planes,
    )

    rows = _jl_planes()
    assert len(rows) == JL_M
    for row in rows:
        assert len(row) == DIM
        assert abs(sum(x * x for x in row) - 1.0) < 1e-12


def test_jl_audit_buckets_partition_ratios(spark):
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        q_embedding_jl_distortion_audit,
    )

    out = q_embedding_jl_distortion_audit(spark, SF).toPandas()
    n_emb = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    # every consecutive pair lands in exactly one bucket (no zero-distance
    # drops in this testdata)
    assert out["n_pairs"].sum() == n_emb - 1
    for _, r in out.iterrows():
        lo, hi = r["ratio_bucket"] / 4.0, (r["ratio_bucket"] + 1) / 4.0
        assert lo <= r["min_ratio"] <= r["max_ratio"]
        # 6-dp display rounding can push max_ratio to the open edge
        assert r["max_ratio"] <= hi + 1e-6
    # the JL scaling is calibrated: the bulk of pairs sit within +/-50%
    # of ratio 1 (E[ratio]=1, sd ~ sqrt(2/m) ~ 0.35)
    mid = out[(out["ratio_bucket"] >= 2) & (out["ratio_bucket"] <= 5)]
    assert mid["n_pairs"].sum() >= 0.6 * out["n_pairs"].sum()


def test_jl_audit_partition_invariant(spark):
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        q_embedding_jl_distortion_audit,
    )

    a = sorted(map(tuple, q_embedding_jl_distortion_audit(spark, SF).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = sorted(
            map(tuple, q_embedding_jl_distortion_audit(spark, SF).collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


# --- leakage-safe split ------------------------------------------------------


def test_split_never_leaks_clusters_and_naive_would(spark):
    """Every near-dup cluster lands in exactly one split; the audit
    column counts real scatter the naive per-doc hash would cause."""
    from supplier_performance_data_pipeline_spark.plans.queries_text import (
        CC_MIN_MATCH,
        _docs,
        _split_case,
        q_corpus_leakage_safe_split,
    )
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        near_dup_pairs_cached,
    )
    from supplier_performance_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = _docs(spark, SF)
    pairs_df, sigs = near_dup_pairs_cached(docs)
    pairs = pairs_df.filter(
        F.col("n_matching_components") >= CC_MIN_MATCH
    ).localCheckpoint()
    sigs.unpersist()
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )
    base = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster")
    )
    asg = base.select(
        "cluster",
        _split_case(F.col("cluster")).alias("split"),
        _split_case(F.col("doc_id")).alias("naive_split"),
    )
    per_cluster = asg.groupBy("cluster").agg(
        F.countDistinct("split").alias("n_splits"),
        F.countDistinct("naive_split").alias("n_naive"),
    )
    # the cluster-keyed split NEVER scatters a cluster
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0
    # ... and the naive split really would (matches the audit column)
    n_leaky = per_cluster.filter(F.col("n_naive") > 1).count()
    out = q_corpus_leakage_safe_split(spark, SF).toPandas()
    assert out["naive_leaky_clusters"].sum() == n_leaky
    # splits partition the corpus
    assert out["n_docs"].sum() == docs.count()
    assert set(out["split"]) == {"train", "val", "test"}


# --- cluster chaining audit --------------------------------------------------


def test_chaining_audit_edge_bounds(spark):
    from supplier_performance_data_pipeline_spark.plans.queries_text import (
        q_dedup_cluster_chaining_audit,
    )
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        MINHASH_K,
    )

    out = q_dedup_cluster_chaining_audit(spark, SF).toPandas()
    assert (out["cluster_size"] >= 2).all()
    for _, r in out.iterrows():
        s, e, c = r["cluster_size"], r["n_edges"], r["n_clusters"]
        # spanning-tree lower bound and clique upper bound per cluster
        assert c * (s - 1) <= e <= c * s * (s - 1) // 2
        assert 0 < r["edge_density"] <= 1.0 + 1e-9
        assert r["min_edge_match"] <= round(r["avg_edge_match"] * MINHASH_K) + 1
        assert 0 < r["avg_edge_match"] <= 1.0


# --- dimension correlations --------------------------------------------------


def test_dim_correlations_match_numpy(spark, emb):
    import numpy as np

    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        CORR_TOP,
        q_embedding_dim_correlations,
    )

    out = q_embedding_dim_correlations(spark, SF).toPandas()
    assert len(out) == CORR_TOP
    assert (out["corr"].abs() <= 1.0).all()
    # |corr| is non-increasing in output order
    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    cm = np.corrcoef(mat, rowvar=False)
    for _, r in out.iterrows():
        assert abs(cm[int(r["dim_i"]), int(r["dim_j"])] - r["corr"]) < 1e-5
    # the top entry really is the global argmax of |corr|
    iu = np.triu_indices(cm.shape[0], k=1)
    assert abs(np.abs(cm[iu]).max() - abs(out.iloc[0]["corr"])) < 1e-5


# --- KMV intersection sketch -------------------------------------------------


def test_kmv_exact_branch_when_under_k(spark):
    """sf0.001 has 15 users (< k=32): theta = M and every estimate must
    equal the exact distinct count by construction."""
    from supplier_performance_data_pipeline_spark.plans.queries_events import (
        q_events_kmv_intersection_audit,
    )

    out = q_events_kmv_intersection_audit(spark, SF).toPandas().iloc[0]
    assert out["est_view"] == out["n_exact_view"]
    assert out["est_purchase"] == out["n_exact_purchase"]
    assert out["est_both"] == out["n_exact_both"]


def test_kmv_two_level_tournament_equals_single_window(spark):
    """The bucketed k-min prefilter must select the same k minima as a
    single global sort per type."""
    from pyspark.sql.window import Window
    from supplier_performance_data_pipeline_spark.operators.sampling import (
        md5_mod,
    )
    from supplier_performance_data_pipeline_spark.plans.queries_events import (
        KMV_K,
        KMV_M,
        _KMV_BUCKETS,
        _KMV_SALT,
    )

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_type",
            md5_mod(F.col("user_id"), _KMV_SALT, KMV_M).alias("h"),
        )
        .distinct()
    )
    w_global = Window.partitionBy("event_type").orderBy("h")
    direct = sorted(
        map(
            tuple,
            ev.withColumn("rn", F.row_number().over(w_global))
            .filter(F.col("rn") <= KMV_K)
            .select("event_type", "h")
            .collect(),
        )
    )
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.col("h"), F.lit(_KMV_BUCKETS))
    ).orderBy("h")
    two_level = (
        ev.withColumn("brn", F.row_number().over(w1))
        .filter(F.col("brn") <= KMV_K)
        .drop("brn")
        .withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h")
    )
    assert sorted(map(tuple, two_level.collect())) == direct


# --- seasonal backtest -------------------------------------------------------


def test_seasonal_backtest_bounds(spark):
    from supplier_performance_data_pipeline_spark.plans.queries_events import (
        q_events_seasonal_backtest,
    )

    out = q_events_seasonal_backtest(spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_types = ev.select("event_type").distinct().count()
    assert len(out) == n_types
    assert (out["mae"] >= 0).all()
    # |bias| <= mae always (triangle inequality on the same pairs)
    assert (out["bias"].abs() <= out["mae"] + 1e-9).all()
    # scored hours bounded by the ~29 day window minus the first day
    assert (out["n_hours"] <= 29 * 24).all()
    assert (out["n_hours"] > 0).all()


# --- Pareto frontier ---------------------------------------------------------


def test_frontier_matches_quadratic_reference(spark):
    """The windowed skyline must equal the O(n^2) dominance definition."""
    from supplier_performance_data_pipeline_spark.plans.queries_analytics import (
        q_supplier_efficiency_frontier,
        _t,
    )
    from supplier_performance_data_pipeline_spark.functions.money import (
        revenue_e4,
    )

    got = sorted(
        q_supplier_efficiency_frontier(spark, SF)
        .toPandas()["supplier_id"]
        .tolist()
    )
    li = _t(spark, SF, "lineitem")
    orders = _t(spark, SF, "orders")
    per_s = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(revenue_e4("l_extendedprice", "l_discount")).alias("e4"),
            F.sum(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            ).alias("dd"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    pts = [
        (r["l_suppkey"], int(r["e4"]), float(r["dd"]) / r["n"]) for r in per_s
    ]
    expected = sorted(
        s
        for s, rev, d in pts
        if not any(
            (rev2 > rev and d2 <= d) or (rev2 >= rev and d2 < d)
            for _, rev2, d2 in pts
        )
    )
    assert got == expected


# --- A/B analysis ------------------------------------------------------------


def test_ab_assignment_is_deterministic_partition(spark):
    """Every user lands in exactly one variant and the arms partition
    the user universe; z matches a NumPy Welch computation."""
    import numpy as np

    from supplier_performance_data_pipeline_spark.plans.queries_events import (
        _AB_SALT,
        q_events_ab_test_analysis,
    )
    from supplier_performance_data_pipeline_spark.operators.sampling import (
        md5_mod,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = q_events_ab_test_analysis(spark, SF).toPandas().iloc[0]
    n_users = ev.select("user_id").distinct().count()
    assert out["users_a"] + out["users_b"] == n_users
    rows = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("c")
        )
        .select(md5_mod(F.col("user_id"), _AB_SALT, 2).alias("v"), "c")
        .collect()
    )
    a = np.array([r["c"] for r in rows if r["v"] == 0], dtype=np.float64)
    b = np.array([r["c"] for r in rows if r["v"] == 1], dtype=np.float64)
    za = (a.mean() - b.mean()) / np.sqrt(
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    )
    assert abs(out["z_score"] - za) < 1e-6
    assert abs(out["lift"] - (a.mean() - b.mean())) < 1e-6


# --- time-to-purchase quantiles ----------------------------------------------


def test_time_to_purchase_quantiles_monotone_and_bounded(spark):
    from supplier_performance_data_pipeline_spark.plans.queries_events import (
        q_events_time_to_purchase_quantiles,
    )

    out = q_events_time_to_purchase_quantiles(spark, SF).toPandas().iloc[0]
    assert out["n_users_converted"] > 0
    assert 0 <= out["p25"] <= out["p50"] <= out["p75"] <= out["p95"]
    # the window is 30 days; no delta can exceed it
    assert out["p95"] <= 30 * 86400


# --- detector agreement ------------------------------------------------------


def test_detector_agreement_counts_reconcile(spark):
    """The three partition counts must reconcile exactly with the two
    underlying pair sets."""
    from supplier_performance_data_pipeline_spark.plans.queries_text import (
        CC_MIN_MATCH,
        q_dedup_detector_agreement,
        q_lsh_near_dup_pairs,
        q_simhash_hamming_pairs,
    )

    out = q_dedup_detector_agreement(spark, SF).toPandas().iloc[0]
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in q_lsh_near_dup_pairs(spark, SF)
        .filter(F.col("n_matching_components") >= CC_MIN_MATCH)
        .collect()
    }
    sh = {
        (r["doc_a"], r["doc_b"])
        for r in q_simhash_hamming_pairs(spark, SF)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert out["n_both"] == len(mh & sh)
    assert out["n_minhash_only"] == len(mh - sh)
    assert out["n_simhash_only"] == len(sh - mh)


# --- prefix-filter exact similarity join -------------------------------------


def test_prefix_join_complete_vs_brute_force(spark):
    """The prefix filter must find EXACTLY the brute-force Jaccard>=0.6
    pair set — completeness is the whole point vs LSH."""
    from fractions import Fraction

    from supplier_performance_data_pipeline_spark.operators.dedup import (
        jaccard_prefix_join,
        shingle_sets,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sets = {
        r["doc_id"]: set(r["shingles"])
        for r in shingle_sets(docs).collect()
    }
    ids = sorted(sets)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if union and Fraction(inter, union) >= Fraction(3, 5):
                expected.add((a, b))
    out = jaccard_prefix_join(docs).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert got == expected
    # and the reported counts are the true intersections
    for r in out:
        assert r["n_common"] == len(sets[r["doc_a"]] & sets[r["doc_b"]])
        assert r["len_a"] == len(sets[r["doc_a"]])


def test_prefix_join_partition_invariant(spark):
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, jaccard_prefix_join(docs).collect()))
    b = sorted(map(tuple, jaccard_prefix_join(docs.repartition(7)).collect()))
    assert a == b


# --- PCA power iteration -----------------------------------------------------


def test_pca_matches_numpy_power_iteration(spark, emb):
    """The relational power iteration must reproduce the identical
    NumPy computation (same M, same v0, same number of rounds)."""
    import numpy as np

    from supplier_performance_data_pipeline_spark.operators.clustering import (
        pca_top_component,
    )
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        PCA_ITERS,
    )

    out = (
        pca_top_component(emb, iters=PCA_ITERS)
        .toPandas()
        .sort_values("dim")
    )
    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    n = mat.shape[0]
    sx = mat.sum(axis=0)
    m = n * (mat.T @ mat) - np.outer(sx, sx)
    v = np.ones(mat.shape[1])
    for _ in range(PCA_ITERS):
        u = m @ v
        v = u / np.sqrt((u * u).sum())
    lam = v @ (m @ v)
    # folds vs BLAS accumulate differently -> compare at analytic, not
    # bitwise, tolerance
    assert np.allclose(out["loading"].to_numpy(), v, atol=1e-6)
    assert abs(out["scaled_eigenvalue"].iloc[0] - lam) / abs(lam) < 1e-9
    # unit norm
    assert abs((out["loading"] ** 2).sum() - 1.0) < 1e-4


def test_pca_partition_invariant(spark, emb):
    from supplier_performance_data_pipeline_spark.operators.clustering import (
        pca_top_component,
    )

    a = sorted(map(tuple, pca_top_component(emb, iters=3).collect()))
    b = sorted(
        map(tuple, pca_top_component(emb.repartition(7), iters=3).collect())
    )
    assert a == b


# --- containment prefix join --------------------------------------------------


def test_containment_join_complete_vs_brute_force(spark):
    """The containment prefix filter must find EXACTLY the brute-force
    |A∩B|/|A| >= 0.8 ordered-pair set (self-pairs excluded)."""
    from fractions import Fraction

    from supplier_performance_data_pipeline_spark.operators.dedup import (
        containment_prefix_join,
        shingle_sets,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sets = {
        r["doc_id"]: set(r["shingles"])
        for r in shingle_sets(docs).collect()
    }
    ids = sorted(sets)
    expected = set()
    for a in ids:
        for b in ids:
            if a == b or not sets[a]:
                continue
            inter = len(sets[a] & sets[b])
            if Fraction(inter, len(sets[a])) >= Fraction(4, 5):
                expected.add((a, b))
    out = containment_prefix_join(docs).collect()
    got = {(r["doc_contained"], r["doc_container"]) for r in out}
    assert got == expected
    for r in out:
        inter = len(sets[r["doc_contained"]] & sets[r["doc_container"]])
        assert r["n_common"] == inter
        assert r["len_contained"] == len(sets[r["doc_contained"]])
        assert r["len_container"] == len(sets[r["doc_container"]])


def test_containment_join_catches_asymmetric_quote(spark):
    """A short doc quoted inside a much longer one: containment finds
    the ordered pair, Jaccard at the same threshold cannot."""
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        containment_prefix_join,
        jaccard_prefix_join,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(40))
    df = _docs_df(spark, [(1, quote), (2, filler + " " + quote)])
    got = {
        (r["doc_contained"], r["doc_container"])
        for r in containment_prefix_join(df, 4, 5).collect()
    }
    assert (1, 2) in got and (2, 1) not in got
    jac = jaccard_prefix_join(df, 4, 5).collect()
    assert jac == []  # symmetric Jaccard misses the quotation entirely


def test_containment_join_partition_invariant(spark):
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        containment_prefix_join,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, containment_prefix_join(docs).collect()))
    b = sorted(
        map(tuple, containment_prefix_join(docs.repartition(7)).collect())
    )
    assert a == b


# --- rollup grouping sets ------------------------------------------------------


def test_rollup_levels_reconcile(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = specs["revenue_rollup_grouping_sets"].build(spark, SF).collect()
    leaf = {
        (r["return_flag"], r["line_status"]): r
        for r in rows
        if r["grouping_level"] == 0
    }
    sub = {r["return_flag"]: r for r in rows if r["grouping_level"] == 1}
    grand = [r for r in rows if r["grouping_level"] == 2]
    assert len(grand) == 1 and grand[0]["return_flag"] == "ALL"
    assert all(r["line_status"] == "ALL" for r in sub.values())
    # subtotals and the grand total reconcile with the leaves exactly
    for flag, s in sub.items():
        leaves = [v for (f, _), v in leaf.items() if f == flag]
        assert s["n_items"] == sum(v["n_items"] for v in leaves)
        assert s["revenue"] == pytest.approx(
            sum(v["revenue"] for v in leaves), abs=1e-6
        )
    assert grand[0]["n_items"] == sum(v["n_items"] for v in leaf.values())


def test_rollup_leaves_match_direct_groupby(spark):
    from supplier_performance_data_pipeline_spark.functions.money import (
        revenue_e4,
    )
    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = specs["revenue_rollup_grouping_sets"].build(spark, SF).collect()
    leaf = {
        (r["return_flag"], r["line_status"]): (r["n_items"], r["revenue"])
        for r in rows
        if r["grouping_level"] == 0
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    direct = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["n"],
            float(r["rev"]) / 10000,
        )
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(revenue_e4("l_extendedprice", "l_discount")).alias("rev"),
        )
        .collect()
    }
    assert leaf == direct


# --- label-noise margin --------------------------------------------------------


def test_label_noise_margin_matches_numpy(spark, emb):
    import numpy as np

    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = specs["embedding_label_noise_margin"].build(spark, SF).collect()
    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    labels = pdf["label"].to_numpy()
    vec_ids = pdf["vec_id"].to_numpy()
    cents = {
        lbl: X[labels == lbl].mean(axis=0) for lbl in np.unique(labels)
    }
    by_id = {v: i for i, v in enumerate(vec_ids)}
    for r in rows:
        x = X[by_id[r["vec_id"]]]
        d_own = float(((x - cents[r["label"]]) ** 2).sum())
        d_pred = float(((x - cents[r["pred_label"]]) ** 2).sum())
        assert r["d_own"] == pytest.approx(d_own, rel=1e-6)
        assert r["d_other"] == pytest.approx(d_pred, rel=1e-6)
        assert r["margin"] > 0  # strictly closer to the other centroid
        assert r["pred_label"] != r["label"]
        # pred really is the NEAREST other centroid
        best = min(
            float(((x - c) ** 2).sum())
            for lbl, c in cents.items()
            if lbl != r["label"]
        )
        assert r["d_other"] == pytest.approx(best, rel=1e-6)
    # ranked worst-first
    margins = [r["margin"] for r in rows]
    assert margins == sorted(margins, reverse=True)


# --- Markov backtest ------------------------------------------------------------


def test_markov_backtest_matches_pandas_reference(spark):
    import hashlib

    import pandas as pd  # noqa: F811

    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = specs["events_markov_backtest"].build(spark, SF).collect()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    ev["next"] = ev.groupby("user_id")["event_type"].shift(-1)
    ev = ev.dropna(subset=["next"])

    def bucket(uid):
        h = hashlib.md5(f"markov|{uid}".encode()).hexdigest()[:14]
        return int(h, 16) % 5

    ev["b"] = ev["user_id"].map(bucket)
    train = ev[ev["b"] > 0]
    test = ev[ev["b"] == 0]
    tc = (
        train.groupby(["event_type", "next"]).size().reset_index(name="n")
    )
    pred = {
        cur: g.sort_values(["n", "next"], ascending=[False, True])[
            "next"
        ].iloc[0]
        for cur, g in tc.groupby("event_type")
    }
    for r in rows:
        sub = test[test["event_type"] == r["cur_event"]]
        assert r["predicted_next"] == pred[r["cur_event"]]
        assert r["n_test_transitions"] == len(sub)
        assert r["n_correct"] == int(
            (sub["next"] == pred[r["cur_event"]]).sum()
        )
        assert 0.0 <= r["accuracy"] <= 1.0


# --- KS drift -------------------------------------------------------------------


def test_ks_drift_matches_brute_force(spark):
    import pandas as pd  # noqa: F811

    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    row = specs["events_value_ks_drift"].build(spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet").dropna(subset=["value"])
    us = ev["ts"].astype("int64") // 1000  # ns -> us
    cutoff = (us.min() + us.max()) // 2
    a = ev.loc[us <= cutoff, "value"].to_numpy()
    b = ev.loc[us > cutoff, "value"].to_numpy()
    na, nb = len(a), len(b)
    assert row["n_before"] == na and row["n_after"] == nb
    best = (-1, None)
    for v in sorted(set(ev["value"])):
        d = abs(int((a <= v).sum()) * nb - int((b <= v).sum()) * na)
        if d > best[0]:
            best = (d, v)
    assert row["ks_numerator"] == best[0]
    assert row["ks_at_value"] == best[1]
    assert row["ks_stat"] == pytest.approx(best[0] / (na * nb), abs=1e-6)
    assert 0.0 <= row["ks_stat"] <= 1.0


# --- k-core peel audit -----------------------------------------------------------


def test_kcore_peel_matches_brute_force(spark):
    """Each round's counts must equal a brute-force peel of the mutual
    graph, and the series must be monotone non-increasing."""
    from supplier_performance_data_pipeline_spark.operators.similarity import (
        knn_join_topk,
    )
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        DIM,
        KCORE_K,
        KCORE_ROUNDS,
        KNN_K,
        KNN_PLANES,
    )
    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = {
        r["round"]: (r["n_nodes"], r["n_edges"])
        for r in specs["knn_graph_kcore_audit"].build(spark, SF).collect()
    }
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    directed = {
        (r["vec_a"], r["vec_b"])
        for r in knn_join_topk(emb, DIM, KNN_K, n_planes=KNN_PLANES)
        .select("vec_a", "vec_b")
        .collect()
    }
    edges = {
        (a, b) for (a, b) in directed if (b, a) in directed and a < b
    }
    for r in range(KCORE_ROUNDS + 1):
        nodes = {u for e in edges for u in e}
        assert rows[r] == (len(nodes), len(edges))
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {u for u, d in deg.items() if d >= KCORE_K}
        edges = {(a, b) for (a, b) in edges if a in keep and b in keep}
    counts = [rows[r] for r in range(KCORE_ROUNDS + 1)]
    assert counts == sorted(counts, reverse=True)


# --- Gini / Theil-Sen -------------------------------------------------------------


def test_gini_matches_brute_force(spark):
    import math

    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    row = specs["customer_revenue_gini"].build(spark, SF).collect()[0]
    cust = pd.read_parquet(f"{SF}/customer.parquet")[["c_custkey"]]
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    orders["cents"] = (
        (orders["o_totalprice"] * 100 + 0.5).apply(math.floor).astype("int64")
    )
    per = (
        cust.merge(
            orders.groupby("o_custkey")["cents"].sum().rename("v"),
            left_on="c_custkey",
            right_index=True,
            how="left",
        )["v"]
        .fillna(0)
        .astype("int64")
        .sort_values()
        .reset_index(drop=True)
    )
    n, t = len(per), int(per.sum())
    s = int((per * pd.RangeIndex(1, n + 1)).sum())
    assert row["n_customers"] == n
    assert row["total_revenue"] == pytest.approx(t / 100, abs=1e-6)
    assert row["gini"] == pytest.approx(
        (2 * s - (n + 1) * t) / (n * t), abs=1e-6
    )
    assert 0.0 <= row["gini"] < 1.0


def test_theil_sen_matches_brute_force(spark):
    import math
    import statistics

    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    row = specs["orders_theil_sen_trend"].build(spark, SF).collect()[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    cents = (li["l_extendedprice"] * 100 + 0.5).apply(math.floor).astype(
        "int64"
    )
    pct = (li["l_discount"] * 100 + 0.5).apply(math.floor).astype("int64")
    li = li.assign(e4=cents * (100 - pct))
    d = pd.to_datetime(li["l_shipdate"])
    li = li.assign(mi=d.dt.year * 12 + d.dt.month)
    monthly = li.groupby("mi")["e4"].sum().sort_index()
    ms = list(monthly.items())
    slopes = [
        (rb - ra) / (10000.0 * (mb - ma))
        for i, (ma, ra) in enumerate(ms)
        for (mb, rb) in ms[i + 1:]
    ]
    assert row["n_months"] == len(ms)
    assert row["n_pairs"] == len(slopes)
    assert row["median_slope"] == pytest.approx(
        statistics.median(slopes), abs=1e-6
    )


# --- growth accounting / MMR -------------------------------------------------------


def test_growth_accounting_matches_pandas(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = {
        str(r["day"]): (r["dau"], r["new_users"], r["cumulative_users"])
        for r in specs["events_user_growth_accounting"].build(spark, SF).collect()
    }
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = ev["ts"].dt.date
    dau = ev.groupby("day")["user_id"].nunique()
    first = ev.groupby("user_id")["day"].min()
    new_u = first.value_counts().sort_index()
    cum = 0
    for day in sorted(dau.index):
        nu = int(new_u.get(day, 0))
        cum += nu
        assert rows[str(day)] == (int(dau[day]), nu, cum)
    # all users appear exactly once as new
    assert cum == ev["user_id"].nunique()


def test_mmr_matches_numpy_greedy(spark, emb):
    import numpy as np

    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        MMR_CAND,
        MMR_SELECT,
    )
    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    specs = load_all()
    rows = sorted(
        specs["embedding_mmr_selection"].build(spark, SF).collect(),
        key=lambda r: r["rank"],
    )
    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    nrm = np.sqrt((X**2).sum(axis=1))
    qi = int(np.where(ids == 0)[0][0])
    rel = (X @ X[qi]) / (nrm * nrm[qi])
    mask = (ids != 0) & (nrm > 0)
    order = sorted(np.where(mask)[0], key=lambda i: (-rel[i], ids[i]))
    cand = order[:MMR_CAND]
    selected = []
    for t in range(MMR_SELECT):
        best = None
        for i in cand:
            if i in selected:
                continue
            mx = max(
                ((X[i] @ X[j]) / (nrm[i] * nrm[j]) for j in selected),
                default=0.0,
            )
            score = 0.7 * rel[i] - 0.3 * mx
            key = (-score, ids[i])
            if best is None or key < best[0]:
                best = (key, i, mx)
        selected.append(best[1])
        r = rows[t]
        assert r["vec_id"] == ids[best[1]]
        assert r["relevance"] == pytest.approx(rel[best[1]], abs=1e-6)
        assert r["max_sim_to_selected"] == pytest.approx(best[2], abs=1e-6)
    assert rows[0]["max_sim_to_selected"] == 0.0


# --- hard-negative mining ----------------------------------------------------


def test_hard_negatives_are_cross_label_top1(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )

    load_all()
    out = REGISTRY["embedding_hard_negatives"].build(spark, SF).toPandas()
    assert len(out) > 0
    # hard negatives are, by definition, wrong-class
    assert (out.anchor_label != out.negative_label).all()
    # exactly one negative per anchor
    assert out.anchor_id.is_unique
    # the mined negative is NEVER more similar than the anchor's best
    # same-bucket neighbor overall (it's a filtered subset of those)
    from supplier_performance_data_pipeline_spark.operators.similarity import (
        knn_join_topk,
    )
    from supplier_performance_data_pipeline_spark.plans.queries_sim import (
        DIM,
        KNN_PLANES,
        _embeddings,
    )

    best = (
        knn_join_topk(_embeddings(spark, SF), DIM, 1, n_planes=KNN_PLANES)
        .toPandas()
        .set_index("vec_a")["cosine_sim"]
    )
    assert (out.set_index("anchor_id").cosine_sim
            <= best.reindex(out.anchor_id).values + 1e-12).all()


# --- AMS F2 ------------------------------------------------------------------


def test_ams_f2_exact_moment_matches_pandas(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )

    load_all()
    out = REGISTRY["events_ams_f2_audit"].build(spark, SF).toPandas()
    assert len(out) == 1
    ev = pd.read_parquet(f"{SF}/events.parquet")
    c = ev[ev.user_id.notna()].groupby("user_id").size()
    assert int(out.exact_f2.iloc[0]) == int((c * c).sum())
    assert int(out.n_estimators.iloc[0]) == 16
    # mean of squares of integer sums: non-negative, and rel_error is
    # consistent with the two shipped values
    m = float(out.est_f2_mean.iloc[0])
    f2 = float(out.exact_f2.iloc[0])
    assert m >= 0
    assert abs(float(out.rel_error.iloc[0]) - round(abs(m - f2) / f2, 6)) < 1e-9


# --- edit-distance verify ----------------------------------------------------


def test_edit_distance_identical_texts_score_one(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )

    load_all()
    out = REGISTRY["dedup_edit_distance_verify"].build(spark, SF).toPandas()
    assert len(out) > 0
    docs = pd.read_parquet(f"{SF}/documents.parquet").set_index("doc_id")
    ascii_of = lambda s: "".join(ch for ch in s if 0 < ord(ch) < 128)
    for r in out.head(25).itertuples():
        ta, tb = ascii_of(docs.loc[r.doc_a, "text"]), ascii_of(
            docs.loc[r.doc_b, "text"]
        )
        if ta == tb:
            assert r.edit_distance == 0 and r.edit_similarity == 1.0
        assert r.len_a == len(ta) and r.len_b == len(tb)
        assert 0 <= r.edit_distance <= max(r.len_a, r.len_b)
    # d <= max(len) always (substitute everything + insert the rest),
    # so the similarity is a true [0, 1] score on every pair
    assert out.edit_similarity.between(0.0, 1.0).all()
    # cross-check a handful against Python's own DP
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for r in out.head(5).itertuples():
        ta, tb = ascii_of(docs.loc[r.doc_a, "text"]), ascii_of(
            docs.loc[r.doc_b, "text"]
        )
        assert r.edit_distance == lev(ta, tb)


# --- sorted neighborhood -----------------------------------------------------


def test_sorted_neighborhood_window_and_jaccard_consistency(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )

    load_all()
    out = REGISTRY["dedup_sorted_neighborhood"].build(spark, SF).toPandas()
    assert len(out) > 0
    assert out.window_dist.between(1, 3).all()
    assert (out.n_common >= 1).all()
    jac = out.n_common / (out.len_a + out.len_b - out.n_common)
    assert (abs(out.jaccard - jac.round(6)) < 1e-9).all()
    # SNM must catch exact duplicates (identical folded text sorts
    # adjacent): every identical-text pair inside a block appears
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    dup_groups = docs.groupby("text").doc_id.apply(list)
    dups = [g for g in dup_groups if len(g) > 1]
    if dups:
        pairs = set(zip(out.doc_a, out.doc_b))
        a, b = sorted(dups[0])[:2]
        assert (a, b) in pairs


# --- hybrid RRF retrieval ----------------------------------------------------


def test_hybrid_rrf_score_consistency(spark):
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )
    from supplier_performance_data_pipeline_spark.plans.queries_text import (
        _RRF_K,
        _RRF_POOL,
        _RRF_TERMS,
        _RRF_TOP,
    )

    load_all()
    out = REGISTRY["hybrid_rrf_retrieval"].build(spark, SF).toPandas()
    assert len(out) == _RRF_TOP
    assert out.lex_rank.between(0, _RRF_POOL).all()
    assert out.sem_rank.between(0, _RRF_POOL).all()
    # the fused score is exactly the RRF formula over the shipped ranks
    # (rank 0 = absent from that arm's pool)
    expect = (
        out.lex_rank.map(lambda r: 1.0 / (_RRF_K + r) if r > 0 else 0.0)
        + out.sem_rank.map(lambda r: 1.0 / (_RRF_K + r) if r > 0 else 0.0)
    ).round(6)
    assert (abs(out.rrf_score - expect) < 1e-9).all()
    # fused order is score-desc with doc_id tiebreak
    assert (
        out.sort_values(
            ["rrf_score", "doc_id"], ascending=[False, True]
        ).doc_id.tolist()
        == out.doc_id.tolist()
    )
    # the lexical arm actually retrieves: the top fused docs that carry
    # a lex_rank contain at least one query term
    docs = pd.read_parquet(f"{SF}/documents.parquet").set_index("doc_id")
    for r in out[out.lex_rank > 0].head(5).itertuples():
        text = docs.loc[r.doc_id, "text"].lower()
        assert any(t in text for t in _RRF_TERMS)


# --- incremental dedup candidates --------------------------------------------


def test_incremental_candidates_subset_of_full_pairs(spark):
    """Probe-vs-index candidates must be exactly the full-corpus LSH
    pairs that straddle the batch/index split — no extra pairs, none
    lost (the pigeonhole doesn't care which side a doc is on)."""
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        near_dup_pairs,
    )
    from supplier_performance_data_pipeline_spark.operators.sampling import (
        md5_mod,
    )
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )
    from supplier_performance_data_pipeline_spark.plans.queries_text import (
        _INCR_MOD,
        _INCR_SALT,
    )

    load_all()
    out = REGISTRY["dedup_incremental_candidates"].build(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    full = near_dup_pairs(docs).toPandas()
    member = (
        docs.select(
            "doc_id",
            (md5_mod(F.col("doc_id"), _INCR_SALT, _INCR_MOD) == 0).alias(
                "is_batch"
            ),
        )
        .toPandas()
        .set_index("doc_id")["is_batch"]
    )
    straddle = {
        (r.doc_a, r.doc_b, r.n_matching_components)
        for r in full.itertuples()
        if member[r.doc_a] != member[r.doc_b]
    }
    got = set()
    for r in out.itertuples():
        assert member[r.batch_doc] and not member[r.index_doc]
        a, b = sorted((r.batch_doc, r.index_doc))
        got.add((a, b, r.n_matching_components))
    assert got == straddle


# --- HITS operator invariants -------------------------------------------------


def test_hits_l1_norm_and_known_graph(spark):
    """On the 4-node bipartite fixture, both score tables are
    L1-normalized (sum = 1 within the 12dp rounding grain) and the
    hub/authority ordering matches the hand-computed fixed point:
    hub u1 points at both authorities, u2 at one, so a(v1) > a(v2)
    and h(u1) > h(u2) at every iteration count."""
    from supplier_performance_data_pipeline_spark.operators.graph import (
        hits_scores,
    )

    edges = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10)], "u long, v long"
    )
    auth, hubs = hits_scores(edges)
    a = {r.v: r.a for r in auth.collect()}
    h = {r.u: r.h for r in hubs.collect()}
    assert abs(sum(a.values()) - 1.0) < 1e-9
    assert abs(sum(h.values()) - 1.0) < 1e-9
    assert a[10] > a[20]
    assert h[1] > h[2]


def test_hits_partition_invariance(spark):
    """Scores are identical at 1 and 16 input partitions — the DECIMAL
    sum / rounded-score contract means reduction order can't leak."""
    from supplier_performance_data_pipeline_spark.operators.graph import (
        hits_scores,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    edges = (
        o.select(F.col("o_orderkey").alias("k"),
                 F.col("o_custkey").alias("u"))
        .join(li.select(F.col("l_orderkey").alias("k"),
                        F.col("l_suppkey").alias("v")), "k")
        .select("u", "v")
        .distinct()
    )
    a1, _ = hits_scores(edges.coalesce(1))
    a16, _ = hits_scores(edges.repartition(16))
    p1 = {r.v: r.a for r in a1.collect()}
    p16 = {r.v: r.a for r in a16.collect()}
    assert p1 == p16


# --- Poisson bootstrap: threshold regeneration guard --------------------------


def test_bootstrap_cdf_literals_match_generator():
    """The _BOOT_CDF integer literals ARE the cross-engine contract
    (both arms embed them); this regenerates them from math.exp and
    fails if the literals ever drift from the distribution they claim
    to encode."""
    import math

    from supplier_performance_data_pipeline_spark.plans.queries_analytics import (
        _BOOT_CDF,
        _BOOT_GRAIN,
    )

    cdf, term, expect = 0.0, math.exp(-1.0), []
    for i in range(len(_BOOT_CDF)):
        cdf += term
        expect.append(round(cdf * _BOOT_GRAIN))
        term /= i + 1
    assert _BOOT_CDF == expect
    # residual mass beyond the 8-threshold cap is P(X > 7) ~ 1.02e-5
    assert _BOOT_GRAIN - _BOOT_CDF[-1] < 2e7


def test_bootstrap_weights_are_poisson_ish(spark):
    """The hash-threshold draw should produce weights with mean ~1 and
    the Poisson(1) zero fraction ~1/e — a distribution sanity check on
    the inverse-CDF arithmetic (a broken threshold comparison would
    show up as a mean far from 1 long before a parity diff localizes
    it)."""
    from supplier_performance_data_pipeline_spark.operators.dedup import P61
    from supplier_performance_data_pipeline_spark.plans.queries_analytics import (
        _BOOT_CDF,
        _BOOT_GRAIN,
        _BOOT_SALT,
    )

    # mirror the SHIPPED affine-family draw: one md5 per key, replicate
    # r = key % 100 drawing (h1 + r*h2) mod P61 mod grain
    digest = F.md5(F.concat(F.lit(_BOOT_SALT), (F.col("id") / 100).cast("long").cast("string")))
    ids = spark.range(20000).select(
        F.conv(F.substring(digest, 1, 14), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(digest, 15, 14), 16, 10).cast("long").alias("h2"),
        F.pmod(F.col("id"), F.lit(100)).alias("r"),
    )
    h = F.pmod(
        F.pmod(F.col("h1") + F.col("r") * F.col("h2"), F.lit(P61)),
        F.lit(_BOOT_GRAIN),
    )
    w = None
    for t in _BOOT_CDF:
        term = F.when(h >= t, 1).otherwise(0)
        w = term if w is None else w + term
    stats = ids.select(w.alias("w")).agg(
        F.avg("w").alias("mean"),
        F.avg(F.when(F.col("w") == 0, 1.0).otherwise(0.0)).alias("p0"),
    ).collect()[0]
    assert abs(stats.mean - 1.0) < 0.05
    assert abs(stats.p0 - 0.367879) < 0.02


# --- exact AUC: cross-check against the quadratic definition ------------------


def test_auc_matches_pairwise_definition(spark):
    """The rank-sum AUC must equal the O(n^2) definition
    P(score_pos > score_neg) + 0.5 * P(tie) on a small labeled
    fixture with heavy ties."""
    from supplier_performance_data_pipeline_spark.plans.registry import (
        REGISTRY,
        load_all,
    )

    load_all()
    row = REGISTRY["events_engagement_auc"].build(spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev.user_id.notna()]
    ev["d"] = ev.ts.dt.date
    g = ev.groupby(["user_id", "d"]).agg(
        s=("event_type", lambda t: t.isin(["view", "click"]).sum()),
        y=("event_type", lambda t: (t == "purchase").max()),
    )
    pos = sorted(g[g.y].s.tolist())
    neg = sorted(g[~g.y].s.tolist())
    wins = ties = 0
    for p in pos:
        for n in neg:
            if p > n:
                wins += 1
            elif p == n:
                ties += 1
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - expect) < 1e-6
    assert abs(row.gini - (2 * expect - 1)) < 1e-6


def test_ppjoin_pruning_cuts_candidates_losslessly(spark):
    """PPJoin's length+positional filters (round 7) must strictly cut
    the candidate count versus the bare prefix equi-join on the real
    fixture, while the completeness test above pins that the final
    pair set is untouched. A future edit that weakens the filters to
    no-ops passes completeness but fails the strict inequality here."""
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        SHINGLE_N,
        _prefix_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    num, den = 3, 5
    _, _, pfx, _ = _prefix_index(docs, num, den, "text", SHINGLE_N)
    a = pfx.select(
        F.col("doc_id").alias("doc_a"), "tok",
        F.col("pos").alias("pos_a"), F.col("len").alias("la"),
    )
    b = pfx.select(
        F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"),
        F.col("pos").alias("pos_b"), F.col("len").alias("lb"),
    )
    bare = (
        a.join(
            b,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    alpha = F.floor(
        (F.lit(num) * (F.col("la") + F.col("lb")) + F.lit(num + den - 1))
        / F.lit(num + den)
    )
    pruned = (
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
        .count()
    )
    assert pruned < bare, (pruned, bare)


def test_ivfpq_multiprobe_dominates_single_probe(spark, emb):
    """With the same frozen codebooks, probing 2 coarse clusters can
    only improve (or tie) every query's k-th best ADC distance — the
    candidate set is a superset per query."""
    from supplier_performance_data_pipeline_spark.operators.clustering import (
        ivfpq_adc_topk_sampled,
    )

    one = {
        (r["query_id"], r["rank"]): r["adc_dist"]
        for r in ivfpq_adc_topk_sampled(emb).collect()
    }
    two = {
        (r["query_id"], r["rank"]): r["adc_dist"]
        for r in ivfpq_adc_topk_sampled(emb, n_probe=2).collect()
    }
    # Every query that produced a top-k under 1 probe must still
    # produce one under 2 probes (candidate sets only grow).
    assert {q for q, _ in one} <= {q for q, _ in two}
    for key, d2 in two.items():
        if key in one:
            assert d2 <= one[key] + 1e-9, (key, d2, one[key])
