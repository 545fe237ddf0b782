"""Property tests for LLM ops that no SQL oracle can mirror
(SURVEY.md §5.3.3): Spark-ML LSH variants (JVM-internal hash
families), IVF ANN quality vs the brute-force baseline, and the
multimodal decode plumbing.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import frafka_spark
from frafka_spark.io import table
from frafka_spark.llm.multimodal import (
    documents_as_media,
    extract_image_features,
    sample_frames,
)
from frafka_spark.registry import QUERIES

from tests.conftest import SF_DIR

frafka_spark.load_all()


@pytest.fixture(scope="module")
def planted_dup_pairs(spark):
    """Ground truth: planted near-dup pairs (shingle Jaccard ≥ 0.9).

    The fixture plants *near* duplicates (no byte-identical docs exist
    at sf0.01 — verified); the exact n-gram Jaccard query computes the
    true pair set, and 0.9 isolates the planted ones (observed range
    0.90–0.99 vs ≤0.5 background).
    """
    ngram = QUERIES["q_llm_dedup_ngram"].fn(spark, SF_DIR)
    return {
        (r["doc_a"], r["doc_b"])
        for r in ngram.filter(F.col("jaccard") >= 0.9).collect()
    }


def test_minhash_candidates_cover_planted_dups(spark, duck, planted_dup_pairs):
    """Every planted near-dup pair must surface in the declared
    MinHash-LSH output (deterministic md5 signatures ⇒ a fixed
    band-collision outcome for this corpus; all 25 planted pairs
    collide)."""
    assert planted_dup_pairs, "fixture should contain planted duplicates"
    near = QUERIES["q_llm_dedup_near"].fn(spark, SF_DIR)
    got = {(r["doc_a"], r["doc_b"]) for r in near.collect()}
    missing = planted_dup_pairs - got
    assert not missing, f"LSH missed planted pairs: {sorted(missing)[:5]}"


def test_spark_ml_minhash_lsh_agrees(spark, planted_dup_pairs):
    """Spark ML MinHashLSH (JVM hash family) also recovers the planted
    duplicates — the non-portable twin of q_llm_dedup_near."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    d = table(spark, SF_DIR, "documents").select("doc_id", "text")
    tokens = Tokenizer(inputCol="text", outputCol="words").transform(d)
    tf = HashingTF(
        inputCol="words", outputCol="features", numFeatures=1 << 14
    ).transform(tokens)
    # (every fixture doc has words, so no empty-vector filtering needed)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    ).fit(tf)
    joined = model.approxSimilarityJoin(tf, tf, 0.5, distCol="jaccard_dist")
    got = {
        (min(r["datasetA"]["doc_id"], r["datasetB"]["doc_id"]),
         max(r["datasetA"]["doc_id"], r["datasetB"]["doc_id"]))
        for r in joined.filter("datasetA.doc_id != datasetB.doc_id").collect()
    }
    recall = len(got & planted_dup_pairs) / len(planted_dup_pairs)
    assert recall >= 0.9, f"ML MinHashLSH recall {recall:.2f}"


def test_brp_lsh_ann_recall(spark):
    """BucketedRandomProjectionLSH approx-join recall vs brute force.

    Seeded (42) so the measurement is stable; the bound is set loose
    under the measured value so fixture regeneration noise can't flip
    it (SURVEY.md §7 hard-list #5).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors, VectorUDT

    to_vec = F.udf(lambda a: Vectors.dense(a), VectorUDT())
    e = table(spark, SF_DIR, "embeddings").select(
        "vec_id", to_vec("embedding").alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=2.0, numHashTables=4, seed=42,
    ).fit(e)
    # Candidate pairs within Euclidean distance 1.5 (generous radius).
    cand = model.approxSimilarityJoin(e, e, 1.5, distCol="dist").filter(
        "datasetA.vec_id < datasetB.vec_id"
    )
    got = {
        (r["datasetA"]["vec_id"], r["datasetB"]["vec_id"]) for r in cand.collect()
    }

    # Brute-force truth at the same radius.
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, SF_DIR, "embeddings").collect()
    }
    ids = sorted(emb)
    truth = set()
    mat = np.stack([emb[i] for i in ids])
    d2 = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if d2[i, j] <= 1.5**2:
                truth.add((ids[i], ids[j]))
    assert truth, "radius should capture some true pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"ANN recall {recall:.2f} below floor"


def test_ivf_ann_quality_vs_brute(spark, duck):
    """IVF ANN neighbor quality: cosine of the ANN pick stays within a
    fixed fraction of the brute-force top-1 on average."""
    brute = {
        r["vec_id"]: r["cosine"]
        for r in QUERIES["q_llm_sim_cosine"].fn(spark, SF_DIR).collect()
    }
    ann = {
        r["vec_id"]: r["cosine"]
        for r in QUERIES["q_llm_sim_ann"].fn(spark, SF_DIR).collect()
    }
    assert set(ann) <= set(brute)
    # ANN must cover nearly every vector (singleton cells excepted).
    assert len(ann) >= 0.95 * len(brute)
    mean_brute = np.mean([brute[v] for v in ann])
    mean_ann = np.mean([ann[v] for v in ann])
    assert mean_ann >= 0.5 * mean_brute, (mean_ann, mean_brute)
    # Exact agreement wherever the true NN shares the cell:
    agree = sum(1 for v in ann if abs(ann[v] - brute[v]) < 1e-9)
    assert agree / len(ann) >= 0.1


def test_multimodal_feature_extraction(spark):
    """Binary decode plumbing: schema, shapes, deterministic values."""
    media = documents_as_media(spark, SF_DIR)
    feats = extract_image_features(media)
    assert feats.schema.simpleString() == (
        "struct<doc_id:bigint,width:int,height:int,n_bytes:bigint,"
        "mean_intensity:double,histogram:array<int>>"
    )
    rows = {r["doc_id"]: r for r in feats.collect()}
    docs = {r["doc_id"]: r for r in table(spark, SF_DIR, "documents").collect()}
    assert rows.keys() == docs.keys()
    # Spot-verify against a local recompute of the same stub decoder.
    for doc_id in list(rows)[:10]:
        payload = docs[doc_id]["text"].encode()
        arr = np.frombuffer(payload, dtype=np.uint8)
        side = int(np.sqrt(arr.size))
        img = arr[: side * side].reshape(side, side)
        r = rows[doc_id]
        assert r["n_bytes"] == len(payload)
        assert (r["width"], r["height"]) == (side, side)
        assert abs(r["mean_intensity"] - img.mean()) < 1e-9
        assert len(r["histogram"]) == 8


def test_multimodal_frame_sampling(spark):
    """1→N frame expansion matches per-doc byte math."""
    media = documents_as_media(spark, SF_DIR).limit(50)
    frames = sample_frames(media, every_n_bytes=64)
    got = (
        frames.groupBy("doc_id")
        .agg(F.count("*").alias("n_frames"), F.sum("frame_bytes").alias("total"))
        .collect()
    )
    docs = {r["doc_id"]: r["n_chars"] for r in
            table(spark, SF_DIR, "documents").collect()}
    assert got, "sampler emitted nothing"
    for r in got:
        n = docs[r["doc_id"]]
        assert r["n_frames"] == -(-n // 64)  # ceil
        assert r["total"] == n


def test_simhash_probe_exactly_hamming_le_1(spark):
    """Soundness AND completeness of the multi-probe query against an
    independent O(n²) reimplementation: the declared pairs must be
    exactly the pairs with signature Hamming distance ≤ 1 (the probe
    ball), including every Hamming-0 (identical-signature) pair."""
    from frafka_spark.llm.dedup import _simhash_sigs

    sigs = {
        r["doc_id"]: int(r["simhash"], 2)
        for r in _simhash_sigs(spark, SF_DIR).collect()
    }
    ids = np.array(sorted(sigs))
    vals = np.array([sigs[i] for i in ids], dtype=np.int64)
    xor = vals[:, None] ^ vals[None, :]
    # popcount via uint8 view
    ham = np.unpackbits(
        xor.astype(np.uint16).view(np.uint8).reshape(len(ids), len(ids), 2),
        axis=2,
    ).sum(axis=2)
    ai, bi = np.nonzero((ham <= 1) & (ids[:, None] < ids[None, :]))
    expected = {(int(ids[a]), int(ids[b])) for a, b in zip(ai, bi)}

    out = QUERIES["q_llm_dedup_simhash_probe"].fn(spark, SF_DIR).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert got == expected, (
        f"missing={sorted(expected - got)[:5]} spurious={sorted(got - expected)[:5]}"
    )
    # hamming column agrees with the independent computation
    for r in out:
        a, b = r["doc_a"], r["doc_b"]
        assert r["hamming"] == int(bin(sigs[a] ^ sigs[b]).count("1"))
    # the ball is non-trivial on this corpus: identical-signature pairs
    # exist (planted dups), so the probe query must return rows
    assert got, "expected at least the planted duplicate pairs"


def test_dedup_cluster_matches_union_find(spark):
    """Bounded label propagation must agree with full union-find on
    this corpus (planted components have diameter ≤ 2 < 3 rounds),
    and canonical ids must be each component's min doc_id."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["q_llm_dedup_ngram"].fn(spark, SF_DIR).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    out = QUERIES["q_llm_dedup_cluster"].fn(spark, SF_DIR).collect()
    comp: dict[int, set[int]] = {}
    for d in {x for p in pairs for x in p}:
        comp.setdefault(find(d), set()).add(d)
    expected = {d: min(m) for root, m in comp.items() for d in m}
    for r in out:
        want = expected.get(r["doc_id"], r["doc_id"])
        assert r["cluster_id"] == want, (r, want)
        assert r["is_canonical"] == (r["doc_id"] == want)
    sizes = {min(m): len(m) for m in comp.values()}
    got_sizes = {
        r["cluster_id"]: r["cluster_size"] for r in out if r["in_dup_cluster"]
    }
    assert got_sizes == {k: v for k, v in sizes.items() if v > 1}


def test_shared_projections_partitioning(spark):
    """The cached shared projections must carry the session's shuffle
    width — NOT the 1-2 partition file-split layout (which would
    strangle every downstream consumer) and NOT an AQE-coalesced
    single partition (regression: bare repartition(col) collapses)."""
    from frafka_spark.llm.dedup import _shingles, _simhash_sigs
    from frafka_spark.llm.similarity import _cells

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for df in (
        _shingles(spark, SF_DIR),
        _simhash_sigs(spark, SF_DIR),
        _cells(spark, SF_DIR),
    ):
        assert df.rdd.getNumPartitions() == n


def test_warm_shared_projections_builds_each_tag_once(spark):
    """The warm pass builds the five shared input projections once per
    session: the first call reports exactly those tags, a repeat
    reports nothing, and every builder afterwards returns the warmed,
    cached frame."""
    from frafka_spark import artifacts
    from frafka_spark.llm.dedup import _shingles, warm_shared_projections

    tags = {"bigrams", "ivf_cells", "shingles", "words", "simhash_sigs"}
    app = spark.sparkContext.applicationId
    for tag in tags:  # start from an unwarmed session
        artifacts._SESSION.pop((app, SF_DIR, f"warm:{tag}"), None)
    first = warm_shared_projections(spark, SF_DIR)
    assert set(first) == tags
    assert all(secs >= 0 for secs in first.values())
    assert warm_shared_projections(spark, SF_DIR) == {}
    sh = _shingles(spark, SF_DIR)
    assert sh is artifacts._SESSION[(app, SF_DIR, "shingles")]
    assert sh.is_cached


def test_capped_lsh_keeps_planted_recall(spark, planted_dup_pairs):
    """Stop-shingle capping must not lose the planted near-dup pairs:
    their similarity lives in distinctive (low-df) shingles, which is
    exactly why boilerplate shingles are safe to drop."""
    capped = QUERIES["q_llm_dedup_near_capped"].fn(spark, SF_DIR)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    missing = planted_dup_pairs - got
    assert not missing, f"capping lost planted pairs: {sorted(missing)[:5]}"


def test_pack_properties(spark):
    """Sequence packing invariants (VERDICT r5 missing #4): exhaustive
    and exclusive (every doc exactly once), multi-doc bins never over
    budget, per-segment bin ids dense from 1, and greedy tightness
    (a bin closes only because the next doc would not fit)."""
    from frafka_spark.llm.pack import BUDGET

    out = QUERIES["q_llm_pack"].fn(spark, SF_DIR).toPandas()
    docs = table(spark, SF_DIR, "documents").select("doc_id", "n_chars").toPandas()

    # every doc exactly once, sizes passed through untouched
    assert sorted(out["doc_id"]) == sorted(docs["doc_id"])
    assert out["doc_id"].is_unique
    sizes = dict(zip(docs["doc_id"], docs["n_chars"]))
    assert all(sizes[d] == n for d, n in zip(out["doc_id"], out["n_chars"]))

    fills = out.groupby(["seg", "bin"])["n_chars"].agg(["sum", "count"])
    # a bin over budget must be a single oversized doc
    over = fills[fills["sum"] > BUDGET]
    assert (over["count"] == 1).all(), over
    # bins dense from 1 per segment
    for seg, g in out.groupby("seg"):
        assert sorted(g["bin"].unique()) == list(range(1, g["bin"].max() + 1))
    # greedy tightness: bin b+1's first doc (in hash order) would
    # have overflowed bin b
    out["h"] = out["doc_id"].astype(str).map(
        lambda s: __import__("hashlib").md5(s.encode()).hexdigest()
    )
    for (seg, b), g in out.sort_values(["seg", "bin"]).groupby(["seg", "bin"]):
        if b == 1:
            continue
        first_sz = g.sort_values(["h", "doc_id"])["n_chars"].iloc[0]
        prev_fill = fills.loc[(seg, b - 1), "sum"]
        assert prev_fill + first_sz > BUDGET, (seg, b, prev_fill, first_sz)


def test_pack_partitioning_invariant(spark):
    """The assignment must be bit-identical regardless of input
    partitioning — segments are hash-defined, not layout-defined."""
    from frafka_spark.llm.pack import pack_documents

    docs = table(spark, SF_DIR, "documents")
    a = pack_documents(docs).toPandas()
    b = pack_documents(docs.repartition(7, "lang")).toPandas()
    key = ["seg", "doc_id", "bin", "n_chars"]
    assert (
        a[key].sort_values(key).reset_index(drop=True).equals(
            b[key].sort_values(key).reset_index(drop=True)
        )
    )


def test_mixture_weights_normalize(spark):
    """q_llm_mixture_weights: weights form a distribution and the
    temperature exponent up-weights small sources vs natural share."""
    from frafka_spark.registry import QUERIES

    pdf = QUERIES["q_llm_mixture_weights"].fn(spark, SF_DIR).toPandas()
    assert abs(pdf["mix_weight"].sum() - 1.0) < 1e-2  # 4-decimal rounding slack
    assert abs(pdf["natural_share"].sum() - 1.0) < 1e-2
    small = pdf[pdf["natural_share"] < pdf["natural_share"].median()]
    if len(small):
        assert (small["mix_weight"] >= small["natural_share"]).all()


def test_vocab_coverage_bounds(spark):
    """q_llm_vocab_coverage: ratios in [0,1], token totals conserved."""
    from frafka_spark.registry import QUERIES

    pdf = QUERIES["q_llm_vocab_coverage"].fn(spark, SF_DIR).toPandas()
    assert ((pdf["oov_ratio"] >= 0) & (pdf["oov_ratio"] <= 1)).all()
    assert (pdf["n_oov"] <= pdf["n_tokens"]).all()


def test_kmeans_step_total_assignment(spark):
    """q_llm_kmeans_step: every vector assigned exactly once, to a real
    centroid, at non-negative distance; moved ⇔ label change."""
    from frafka_spark.io import table
    from frafka_spark.registry import QUERIES

    pdf = QUERIES["q_llm_kmeans_step"].fn(spark, SF_DIR).toPandas()
    n_vecs = table(spark, SF_DIR, "embeddings").count()
    labels = set(pdf["label"].unique())
    assert len(pdf) == n_vecs
    assert pdf["vec_id"].is_unique
    assert set(pdf["assigned"].unique()) <= labels
    assert (pdf["sq_dist"] >= 0).all()
    assert (pdf["moved"] == (pdf["assigned"] != pdf["label"])).all()


def test_embed_outlier_topn_dense(spark):
    """q_llm_embed_outlier: ≤ N per label, ranks dense from 1,
    distances non-increasing within a label."""
    from frafka_spark.llm.cluster import OUTLIER_TOP_N
    from frafka_spark.registry import QUERIES

    pdf = QUERIES["q_llm_embed_outlier"].fn(spark, SF_DIR).toPandas()
    for label, g in pdf.groupby("label"):
        g = g.sort_values("rk")
        assert list(g["rk"]) == list(range(1, len(g) + 1))
        assert len(g) <= OUTLIER_TOP_N
        assert (g["sq_dist"].diff().dropna() <= 1e-9).all()


def test_lsh_ann_bounded_by_brute_force(spark):
    """q_llm_sim_ann_lsh: a bucketed neighbor can never beat the
    global brute-force top-1 (its cosine is ≤ the exact answer), most
    vectors find some neighbor, and signatures spread across many
    buckets (the hash isn't degenerate)."""
    from frafka_spark.registry import QUERIES

    lsh = QUERIES["q_llm_sim_ann_lsh"].fn(spark, SF_DIR).toPandas()
    brute = QUERIES["q_llm_sim_cosine"].fn(spark, SF_DIR).toPandas()
    n_vecs = table(spark, SF_DIR, "embeddings").count()
    assert len(lsh) >= 0.5 * n_vecs  # most vectors have a bucket-mate
    assert lsh["bucket"].nunique() > 16  # 8 planes actually split space
    merged = lsh.merge(
        brute, left_on="vec_id", right_on=brute.columns[0], suffixes=("_l", "_b")
    )
    b_cos = [c for c in merged.columns if c.startswith("cosine") and c.endswith("_b")]
    assert len(merged) > 0
    assert (merged["cosine_l"] <= merged[b_cos[0]] + 1e-9).all()


def test_kmeans_fit_inertia_monotone(spark):
    """kmeans_fit: Lloyd's guarantee — inertia never increases across
    iterations (float-noise slack only), assignments stay total."""
    from frafka_spark.llm.cluster import kmeans_fit

    assign, history = kmeans_fit(spark, SF_DIR, n_iters=3)
    assert len(history) == 3
    for a, b in zip(history, history[1:]):
        assert b <= a + 1e-6, history
    n_vecs = table(spark, SF_DIR, "embeddings").count()
    pdf = assign.toPandas()
    assert len(pdf) == n_vecs and pdf["vec_id"].is_unique


def test_winnow_fingerprints_subset_and_compress(spark):
    """q_llm_winnow: every fingerprint is one of the doc's own shingle
    hashes, and winnowing compresses the index (fps ≪ shingles) at
    roughly the theoretical 2/(w+1) density."""
    from frafka_spark.llm.dedup import _shingles
    from frafka_spark.registry import QUERIES

    fps = QUERIES["q_llm_winnow"].fn(spark, SF_DIR)
    sh = _shingles(spark, SF_DIR)
    # subset: anti-join of fingerprints against the doc's shingles is empty
    stray = fps.join(
        sh.withColumnRenamed("sh", "fp"), ["doc_id", "fp"], "left_anti"
    ).count()
    assert stray == 0
    n_fp, n_sh = fps.count(), sh.count()
    assert n_fp < 0.75 * n_sh, (n_fp, n_sh)  # real compression


def test_resample_mix_rates_and_counts(spark):
    """q_llm_resample_mix: rates in (0,1], kept counts ≈ rate × source
    size (16-bit hash acceptance concentrates tightly at fixture
    sizes), and the draw is reproducible."""
    from frafka_spark.io import table as _t
    from frafka_spark.registry import QUERIES

    pdf = QUERIES["q_llm_resample_mix"].fn(spark, SF_DIR).toPandas()
    assert ((pdf["rate"] > 0) & (pdf["rate"] <= 1.0)).all()
    sizes = (
        _t(spark, SF_DIR, "documents").groupBy("source").count().toPandas()
        .set_index("source")["count"]
    )
    for _, r in pdf.iterrows():
        expect = r["rate"] * sizes[r["source"]]
        assert abs(r["n_kept"] - expect) <= max(5, 0.5 * expect), (r["source"], r["n_kept"], expect)
    again = QUERIES["q_llm_resample_mix"].fn(spark, SF_DIR).toPandas()
    assert again.sort_values("source").reset_index(drop=True).equals(
        pdf.sort_values("source").reset_index(drop=True)
    )


def test_bloom_prefilter_prunes_without_false_negatives(spark):
    """q_llm_dedup_bloom_incr's prefilter contract: every TRUE dup is
    bloom-positive (a Bloom filter has no false negatives — a miss is
    a proof of absence), and on the fixture the filter actually
    prunes (a meaningful share of batch rows is verdicted novel
    map-side, never entering the join)."""
    from frafka_spark.llm.dedup import (
        _bloom_positions,
        _corpus_bloom,
        _packed_partition_bitsets,
    )

    d = table(spark, SF_DIR, "documents")
    keyed = d.select("doc_id", F.md5("text").alias("h"))
    idx = keyed.filter(F.col("doc_id") % 7 != 0).select("h")
    batch = keyed.filter(F.col("doc_id") % 7 == 0)
    m, k, bit_bytes, bcast = _corpus_bloom(spark, SF_DIR, idx)
    buf = np.frombuffer(bit_bytes, dtype=np.uint8)

    # build-payload pin (VERDICT r10 #4): the driver collects packed
    # BITSETS — one m/8-byte row per non-empty partition — never
    # positions, and OR-folding them reproduces the cached bits
    pos_df = idx.select(F.explode(_bloom_positions("h", m, k)).alias("p"))
    chunks = _packed_partition_bitsets(pos_df, m)
    assert 0 < len(chunks) <= pos_df.rdd.getNumPartitions()
    assert all(len(c) == (m + 7) // 8 for c in chunks)
    refold = np.zeros((m + 7) // 8, dtype=np.uint8)
    for c in chunks:
        np.bitwise_or(refold, np.frombuffer(c, dtype=np.uint8), out=refold)
    assert refold.tobytes() == bit_bytes

    # broadcast-reuse pin (ADVICE r10): the executor broadcast is
    # cached with the bits — a second build returns the SAME handle
    assert _corpus_bloom(spark, SF_DIR, idx)[3] is bcast

    probed = batch.join(idx, "h", "left_semi").select(
        _bloom_positions("h", m, k).alias("pos")
    )
    mats = np.array([r.pos for r in probed.collect()], dtype=np.int64)
    if len(mats):  # every true dup passes the filter
        assert (
            (buf[mats >> 3] & (1 << (mats & 7)).astype(np.uint8)) != 0
        ).all()

    all_pos = np.array(
        [r.pos for r in batch.select(
            _bloom_positions("h", m, k).alias("pos")
        ).collect()],
        dtype=np.int64,
    )
    maybe = (
        (buf[all_pos >> 3] & (1 << (all_pos & 7)).astype(np.uint8)) != 0
    ).all(axis=1)
    n_pruned = int((~maybe).sum())
    n_dups = probed.count()
    n_batch = len(maybe)
    # novel rows exist in the fixture and ~99% of them must be pruned
    assert n_pruned > 0.9 * (n_batch - n_dups), (
        n_pruned, n_batch, n_dups
    )


def test_ppjoin_prefix_filter_is_lossless_and_smaller(spark):
    """q_llm_dedup_ppjoin: (a) its result set EQUALS the full-index
    q_llm_dedup_ngram's (the prefix filter is lossless — they share
    one oracle by construction), and (b) the prefix candidate set is
    strictly smaller than the full inverted index's — the whole point
    of filtering on each doc's rarest tokens."""
    from frafka_spark.llm.dedup import _prefix_shingles, _shingles

    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in QUERIES["q_llm_dedup_ngram"].fn(spark, SF_DIR).collect()
    }
    pp = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in QUERIES["q_llm_dedup_ppjoin"].fn(spark, SF_DIR).collect()
    }
    assert pp == full and full  # lossless, and non-trivial

    def n_candidates(sh):
        a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
        b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        return (
            a.join(
                b,
                (F.col("sh") == F.col("sh_b"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b")
            .distinct()
            .count()
        )

    n_full = n_candidates(_shingles(spark, SF_DIR))
    n_pre = n_candidates(_prefix_shingles(spark, SF_DIR))
    assert len(full) <= n_pre < n_full, (len(full), n_pre, n_full)


def _multiset_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_persisted_index_cdf_delta_equals_rebuild(spark, tmp_path):
    """VERDICT r10 #1, the maintenance contract: for every per-doc
    index family, the at-rest table built as base + CDF-delta appends
    is MULTISET-EQUAL to a from-scratch rebuild over the full corpus.
    Digest/minhash/shingle over documents; IVF cells under a frozen
    codebook over embeddings."""
    from frafka_spark.io import table
    from frafka_spark.llm.index_store import (
        CRAWL_MOD,
        digest_rows,
        ivf_assign,
        minhash_rows,
        shingle_rows,
    )
    from frafka_spark.llm.similarity import CENTROID_MOD, _vectors
    from frafka_spark.sources import manifest_table as mt

    d = table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    corpus = str(tmp_path / "corpus")
    mt.write_table(
        d.filter(F.col("doc_id") % CRAWL_MOD != 0), corpus, mode="overwrite"
    )
    mt.write_table(
        d.filter(F.col("doc_id") % CRAWL_MOD == 0), corpus, mode="append"
    )
    delta = mt.read_changes(spark, corpus, 0, 1).filter(
        F.col("_change_type") == "insert"
    ).select("doc_id", "source", "text")
    base = mt.read_table(spark, corpus, version=0)
    full = mt.read_table(spark, corpus)

    for name, rows_fn in (
        ("digest", digest_rows),
        ("shingle", shingle_rows),
        ("minhash", minhash_rows),
    ):
        at_rest = str(tmp_path / name)
        mt.write_table(rows_fn(base), at_rest, mode="overwrite")
        mt.write_table(rows_fn(delta), at_rest, mode="append")
        assert _multiset_equal(
            mt.read_table(spark, at_rest), rows_fn(full)
        ), name

    # IVF cells: codebook FROZEN from the base vectors, then the
    # delta's assignments appended — equals assigning everything
    v = _vectors(spark, SF_DIR).select("vec_id", "emb", "norm")
    v_base = v.filter(F.col("vec_id") % CRAWL_MOD != 0)
    v_delta = v.filter(F.col("vec_id") % CRAWL_MOD == 0)
    cents = v_base.filter((F.col("vec_id") % CENTROID_MOD) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("norm").alias("cnorm"),
    )
    cells = str(tmp_path / "ivf")
    mt.write_table(ivf_assign(v_base, cents), cells, mode="overwrite")
    mt.write_table(ivf_assign(v_delta, cents), cells, mode="append")
    assert _multiset_equal(
        mt.read_table(spark, cells), ivf_assign(v, cents)
    )


def test_persisted_digest_index_lifecycle_shape(spark):
    """q_llm_index_persisted's lifecycle: the index table has exactly
    the one full build (v0 overwrite) plus the CDF append (v1), the
    appended rows are crawl digests only, and the graded read touches
    the index table — never the documents fixture."""
    from pathlib import Path

    from frafka_spark.llm.index_store import CRAWL_MOD
    from frafka_spark.operators.lakehouse import _ensure_table
    from frafka_spark.plans.inspect import plan_str
    from frafka_spark.registry import QUERIES
    from frafka_spark.sources import manifest_table as mt

    path = _ensure_table(spark, SF_DIR, "documents_digest_indexed")
    index = str(Path(path) / "digest_index")
    assert mt.current_version(index) == 1
    m0, m1 = mt._read_manifest(index, 0), mt._read_manifest(index, 1)
    assert m0["mode"] == "overwrite" and m1["mode"] == "append"
    delta_files = [fp for fp in m1["files"] if fp not in m0["files"]]
    assert delta_files
    crawl_rows = mt._read_snapshot_files(
        spark, delta_files, mt._schema_from_json(m1["schema"]), {}
    )
    assert crawl_rows.filter(F.col("doc_id") % CRAWL_MOD != 0).count() == 0
    assert crawl_rows.count() > 0

    df = QUERIES["q_llm_index_persisted"].fn(spark, SF_DIR)
    assert "documents.parquet" not in plan_str(df)  # reads the index only
    assert "digest_index" in plan_str(df)


def test_pipeline_e2e_incremental_equals_batch(spark):
    """q_llm_pipeline_e2e: the curated table's append commit holds
    EXACTLY the batch-recomputed novel set (quality gate, within-crawl
    keeper election, exact + prefix tiers against the corpus), and the
    lifecycle shape is v0 overwrite + v1 append with the staging CDF
    on the append fast path."""
    from pathlib import Path

    from pyspark.sql import Window

    from frafka_spark.io import table
    from frafka_spark.llm.index_store import (
        PIPE_MIN_WORDS,
        PIPE_MOD,
        _ensure_table,
    )
    from frafka_spark.operators.lakehouse import _pfx_col
    from frafka_spark.sources import manifest_table as mt

    path = _ensure_table(spark, SF_DIR, "documents_pipeline")
    curated = str(Path(path) / "curated")
    assert mt.current_version(curated) == 1
    m0, m1 = mt._read_manifest(curated, 0), mt._read_manifest(curated, 1)
    assert m0["mode"] == "overwrite" and m1["mode"] == "append"

    # batch recomputation of the novel set, in Spark
    d = table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    corpus = d.filter(F.col("doc_id") % PIPE_MOD != 0)
    crawl = (
        d.filter(F.col("doc_id") % PIPE_MOD == 0)
        .filter(F.size(F.split("text", " ")) >= PIPE_MIN_WORDS)
        .select("doc_id", "source", "text",
                F.md5("text").alias("h"), _pfx_col().alias("pfx"))
    )
    w_h = Window.partitionBy("h").orderBy("doc_id")
    w_p = Window.partitionBy("pfx").orderBy("doc_id")
    expect = (
        crawl.withColumn("rn_h", F.row_number().over(w_h))
        .withColumn("rn_p", F.row_number().over(w_p))
        .filter((F.col("rn_h") == 1) & (F.col("rn_p") == 1))
        .join(corpus.select(F.md5("text").alias("h")), "h", "left_anti")
        .join(corpus.select(_pfx_col().alias("pfx")).distinct(),
              "pfx", "left_anti")
        .select("doc_id", "source", "text")
    )
    delta_files = [fp for fp in m1["files"] if fp not in m0["files"]]
    got = mt._read_snapshot_files(
        spark, delta_files, mt._schema_from_json(m1["schema"]), {}
    )
    assert got.count() > 0
    assert _multiset_equal(got, expect)
    # full curated snapshot = corpus + novel (no corpus row disturbed)
    assert mt.read_table(spark, curated).count() == (
        corpus.count() + expect.count()
    )


def test_near_dup_at_rest_equals_from_scratch(spark):
    """q_llm_dedup_near_at_rest: identical pair set (doc_a, doc_b,
    jaccard) to the from-scratch q_llm_dedup_near, and the plan reads
    the persisted index tables — never documents.parquet."""
    from frafka_spark.plans.inspect import plan_str

    at_rest = QUERIES["q_llm_dedup_near_at_rest"].fn(spark, SF_DIR)
    scratch = QUERIES["q_llm_dedup_near"].fn(spark, SF_DIR)
    assert {tuple(r) for r in at_rest.collect()} == {
        tuple(r) for r in scratch.collect()
    }
    plan = plan_str(at_rest)
    if "InMemory" not in plan:  # un-memoized plan visible only cold
        assert "documents.parquet" not in plan


def test_index_maintenance_follows_deletes_and_updates(spark, tmp_path):
    """apply_cdf_to_index: after append AND delete corpus commits the
    at-rest index multiset-equals a full rebuild from the corpus's
    latest snapshot; an UPDATE-shaped delta (delete/insert pair for
    one doc) nets to the fresh rows; the index delete commit carried
    span-disjoint files."""
    from pathlib import Path

    from frafka_spark.io import table
    from frafka_spark.llm.index_store import (
        DML_DEL_HI,
        DML_DEL_LO,
        _ensure_table,
        apply_cdf_to_index,
        digest_rows,
    )
    from frafka_spark.sources import manifest_table as mt

    path = _ensure_table(spark, SF_DIR, "documents_digest_dml")
    corpus = str(Path(path) / "corpus")
    index = str(Path(path) / "digest_index")
    assert mt.current_version(index) == 2
    assert _multiset_equal(
        mt.read_table(spark, index),
        digest_rows(mt.read_table(spark, corpus)),
    )
    # the graded band really is gone from the index
    got = mt.read_table(spark, index).filter(
        F.col("doc_id").between(DML_DEL_LO, DML_DEL_HI)
    )
    assert got.count() == 0
    # the index delete commit carried files (pruning happened)
    m1, m2 = mt._read_manifest(index, 1), mt._read_manifest(index, 2)
    assert m2["mode"] == "delete"
    assert set(m1["files"]) & set(m2["files"])

    # UPDATE-shaped delta: delete + insert of the same doc nets fresh
    d = table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    one = d.orderBy("doc_id").limit(1)
    idx2 = str(tmp_path / "idx2")
    mt.write_table_with_stats(
        digest_rows(d), idx2, ["doc_id"], mode="overwrite"
    )
    fresh = one.withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
    delta = one.withColumn("_change_type", F.lit("delete")).unionByName(
        fresh.withColumn("_change_type", F.lit("insert"))
    )
    apply_cdf_to_index(spark, idx2, delta, digest_rows)
    assert _multiset_equal(
        mt.read_table(spark, idx2),
        digest_rows(d.exceptAll(one).unionByName(fresh)),
    )


def test_streamed_index_exactly_once_shape(spark):
    """q_llm_index_streamed lifecycle pins: both tables hold exactly
    the N batch ids (no dup from the redeliveries, no loss from the
    crash-shaped batch), version counts match one commit per batch,
    and index rows equal digest_rows(corpus)."""
    from pathlib import Path

    from frafka_spark.io import table
    from frafka_spark.llm.index_store import (
        N_INDEX_BATCHES,
        _ensure_table,
        digest_rows,
    )
    from frafka_spark.sources import manifest_table as mt

    path = _ensure_table(spark, SF_DIR, "documents_index_streamed")
    corpus = str(Path(path) / "corpus")
    index = str(Path(path) / "digest_index")
    want = set(range(N_INDEX_BATCHES))
    assert mt.committed_batch_ids(corpus) == want
    assert mt.committed_batch_ids(index) == want
    # one commit per batch — redeliveries added no versions
    assert mt.current_version(corpus) == N_INDEX_BATCHES - 1
    assert mt.current_version(index) == N_INDEX_BATCHES - 1

    n_docs = table(spark, SF_DIR, "documents").count()
    assert mt.read_table(spark, corpus).count() == n_docs
    assert mt.read_table(spark, index).count() == n_docs
    assert _multiset_equal(
        mt.read_table(spark, index),
        digest_rows(mt.read_table(spark, corpus)),
    )


def test_at_rest_twins_equal_from_scratch(spark):
    """The at-rest exact-dedup and ANN twins produce exactly their
    from-scratch keys' relations (they share oracles structurally via
    _registered_oracle — this pins the Spark sides agree too)."""
    for at_rest, scratch in (
        ("q_llm_dedup_exact_at_rest", "q_llm_dedup_exact"),
        ("q_llm_sim_ann_at_rest", "q_llm_sim_ann"),
    ):
        a = QUERIES[at_rest].fn(spark, SF_DIR)
        s = QUERIES[scratch].fn(spark, SF_DIR)
        assert {tuple(r) for r in a.collect()} == {
            tuple(r) for r in s.collect()
        }, at_rest
        assert QUERIES[at_rest].oracle == QUERIES[scratch].oracle


def test_postings_index_maintained_through_dv_delete(spark):
    """q_llm_bm25_at_rest's lifecycle: the corpus's DV delete commit
    rewrote ZERO data files; the maintained postings table multiset-
    equals posting_rows over the corpus's LATEST snapshot (append +
    DV delete both followed); and the graded plan reads the postings
    table, never the documents fixture."""
    from pathlib import Path

    from frafka_spark.llm.index_store import (
        BM25_DEL_HI,
        BM25_DEL_LO,
        posting_rows,
    )
    from frafka_spark.operators.lakehouse import _ensure_table
    from frafka_spark.plans.inspect import plan_str
    from frafka_spark.registry import QUERIES
    from frafka_spark.sources import manifest_table as mt

    path = _ensure_table(spark, SF_DIR, "documents_postings_indexed")
    corpus = str(Path(path) / "corpus")
    postings = str(Path(path) / "postings")

    # corpus v2 is the DV commit: file list verbatim, vectors present
    m1, m2 = mt._read_manifest(corpus, 1), mt._read_manifest(corpus, 2)
    assert m2["mode"] == "delete_dv"
    assert m2["files"] == m1["files"]
    assert m2.get("dv")
    # the banded docs are gone from the corpus read
    c = mt.read_table(spark, corpus)
    assert c.filter(
        F.col("doc_id").between(BM25_DEL_LO, BM25_DEL_HI)
    ).count() == 0

    # maintained == rebuilt-from-latest
    maintained = mt.read_table(spark, postings)
    rebuilt = posting_rows(c)
    assert maintained.count() == rebuilt.count()
    assert maintained.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maintained).count() == 0
    assert maintained.filter(
        F.col("doc_id").between(BM25_DEL_LO, BM25_DEL_HI)
    ).count() == 0

    df = QUERIES["q_llm_bm25_at_rest"].fn(spark, SF_DIR)
    p = plan_str(df)
    assert "documents.parquet" not in p   # index-only read
    assert "postings" in p


def test_ppjoin_at_rest_equals_from_scratch(spark):
    """q_llm_dedup_ppjoin_at_rest: the pair relation derived from the
    at-rest shingle table (prefix ranking recomputed over at-rest
    rows) equals the from-scratch key's, and the graded plan never
    touches the documents fixture."""
    from frafka_spark.plans.inspect import plan_str
    from frafka_spark.registry import QUERIES

    at_rest = QUERIES["q_llm_dedup_ppjoin_at_rest"].fn(spark, SF_DIR)
    scratch = QUERIES["q_llm_dedup_ppjoin"].fn(spark, SF_DIR)
    assert at_rest.exceptAll(scratch).count() == 0
    assert scratch.exceptAll(at_rest).count() == 0
    assert "documents.parquet" not in plan_str(at_rest)


def test_ann_trained_cdf_delta_equals_full_rebuild(spark):
    """The trained-index maintenance law: assigning EVERY vector of
    the corpus table's LATEST snapshot under the persisted codebook
    equals the at-rest cells table (base build ∪ frozen-codebook CDF
    appends) — multiset-exact; same for the PQ codes table; and
    re-training on the base snapshot reproduces the persisted
    codebook bit-for-bit (seeded, fixed-iteration determinism)."""
    from pathlib import Path

    from frafka_spark.llm.ann_trained import (
        PQ_CODES,
        assign_cells,
        encode_pq,
        train_codebook,
        _subs_of,
    )
    from frafka_spark.operators.lakehouse import _ensure_table
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, SF_DIR, "embeddings_ann_trained")
    vectors = read_table(spark, str(Path(path) / "vectors"))
    codebook = read_table(spark, str(Path(path) / "codebook"))
    cells = read_table(spark, str(Path(path) / "cells"))

    rebuilt = assign_cells(vectors, codebook)
    assert rebuilt.exceptAll(cells).count() == 0
    assert cells.exceptAll(rebuilt).count() == 0

    base = read_table(spark, str(Path(path) / "vectors"), version=0)
    retrained = train_codebook(base)
    assert retrained.exceptAll(codebook).count() == 0
    assert codebook.exceptAll(retrained).count() == 0

    pq_codebook = _subs_of(base).filter(F.col("vec_id") < PQ_CODES).select(
        "sub", F.col("vec_id").alias("code_id"),
        F.col("s").alias("c"), F.col("ss").alias("cc"),
    )
    codes = read_table(spark, str(Path(path) / "pq_codes"))
    re_encoded = encode_pq(vectors, pq_codebook)
    assert re_encoded.exceptAll(codes).count() == 0
    assert codes.exceptAll(re_encoded).count() == 0


def test_ann_trained_recall_beats_modular_baseline(spark):
    """Trained centroids must EARN their keep: recall@1 of the trained
    IVF index ≥ the modular-centroid baseline, measured against the
    exact brute-force neighbor at sf0.1 — the scale whose 2000
    vectors / 40 cells have real cluster structure (at 500 vectors /
    10 cells the fixture embeddings are unclusterable noise and both
    indexes hover at the same recall; verified offline: 0.188 trained
    vs 0.148 baseline at sf0.1)."""
    sf = "/root/testdata/sf0.1"
    exact = {
        r.vec_id: r.neighbor_id
        for r in QUERIES["q_llm_sim_cosine"].fn(spark, sf).collect()
    }
    base = {
        r.vec_id: r.neighbor_id
        for r in QUERIES["q_llm_sim_ann"].fn(spark, sf).collect()
    }
    trained = {
        r.vec_id: r.neighbor_id
        for r in QUERIES["q_llm_sim_ann_trained"].fn(spark, sf).collect()
    }
    n = len(exact)
    r_base = sum(1 for v, nb in exact.items() if base.get(v) == nb) / n
    r_trained = sum(1 for v, nb in exact.items() if trained.get(v) == nb) / n
    assert r_trained >= r_base, (r_trained, r_base)
    assert r_trained >= 0.15  # absolute floor: structure was found


def test_dsir_upweights_target_language(spark):
    """DSIR's defining property: documents from the TARGET slice
    (lang='en') must receive a higher mean log importance weight than
    the rest of the corpus — the weights exist to tilt sampling
    toward the target domain."""
    from frafka_spark.llm.importance import DSIR_TARGET_LANG, _dsir_log_weights

    w = _dsir_log_weights(spark, SF_DIR)
    d = table(spark, SF_DIR, "documents").select("doc_id", "lang")
    per = (
        w.join(d, "doc_id")
        .groupBy(F.col("lang") == DSIR_TARGET_LANG)
        .agg(F.avg(F.col("log_w") / F.col("n_tokens")).alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in per}
    assert means[True] > means[False], means


def test_dsir_select_budget_is_half_per_source(spark):
    """The selection stage keeps exactly ceil(n/2) docs per source."""
    rows = QUERIES["q_llm_dsir_select"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_keep == (r.n_docs + 1) // 2, r


def test_mmr_selection_properties(spark):
    """Rank 1 is the label's anchor (min vec_id, score ≈ 1); marginal
    scores are non-increasing with rank (greedy argmax over a
    shrinking candidate set with a growing diversity penalty); no
    vec_id repeats within a label."""
    import collections

    out = QUERIES["q_llm_mmr"].fn(spark, SF_DIR).collect()
    by_label = collections.defaultdict(list)
    for r in out:
        by_label[r.label].append(r)
    anchors = {
        r.label: r.a
        for r in table(spark, SF_DIR, "embeddings")
        .groupBy("label")
        .agg(F.min("vec_id").alias("a"))
        .collect()
    }
    for label, rows in by_label.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert rows[0].vec_id == anchors[label]
        assert abs(rows[0].score - 1.0) < 1e-6
        scores = [r.score for r in rows[1:]]
        assert scores == sorted(scores, reverse=True), (label, scores)
        ids = [r.vec_id for r in rows]
        assert len(set(ids)) == len(ids)


def test_codebook_drift_report_is_consistent(spark):
    """Every drift row covers a real cell with both cohorts present,
    and the ratio is the rounded quotient of the reported means."""
    rows = QUERIES["q_llm_codebook_drift"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_base > 0 and r.n_crawl > 0
        assert r.base_mean_d2 > 0 and r.crawl_mean_d2 > 0
        expect = math.floor(r.crawl_mean_d2 / r.base_mean_d2 * 10000 + 0.5) / 10000
        assert abs(r.drift_ratio - expect) < 1e-9, r
        assert r.stale == (r.crawl_mean_d2 > 1.5 * r.base_mean_d2), r


def test_quality_train_separates_target_language(spark):
    """The trained filter must actually discriminate: the target
    slice's mean predicted probability is strictly the highest of all
    languages, and it flags proportionally more target docs (verified
    at all three fixture scales offline; graded at sf0.01)."""
    rows = QUERIES["q_llm_quality_train"].fn(spark, SF_DIR).collect()
    by = {r.lang: r for r in rows}
    en = by.pop("en")
    assert all(en.avg_p > r.avg_p for r in by.values()), (en, by)
    en_rate = en.n_flagged / en.n_docs
    assert all(
        en_rate > r.n_flagged / r.n_docs for r in by.values()
    ), (en_rate, by)


def test_dedup_lines_matches_python_model(spark):
    """q_llm_dedup_lines vs a complete per-doc Python model: segment
    into 8-word windows, count distinct-doc frequency, drop EVERY
    copy of any segment seen in >= 2 docs (the C4 rule — no survivor
    copy, unlike whole-doc dedup), reassemble in original order."""
    from frafka_spark.llm.dedup import LINE_DUP_MIN_DOCS, LINE_SEG_WORDS

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, SF_DIR, "documents").collect()
    }
    segs_by_doc = {
        d: [
            " ".join(ws[i : i + LINE_SEG_WORDS])
            for i in range(0, len(ws), LINE_SEG_WORDS)
        ]
        for d, ws in ((d, t.split(" ")) for d, t in docs.items())
    }
    ndocs: dict[str, set] = {}
    for d, segs in segs_by_doc.items():
        for s in segs:
            ndocs.setdefault(s, set()).add(d)
    res = {
        r["doc_id"]: r
        for r in QUERIES["q_llm_dedup_lines"].fn(spark, SF_DIR).collect()
    }
    assert set(res) == set(docs)
    n_modified = 0
    for d, segs in segs_by_doc.items():
        kept = [s for s in segs if len(ndocs[s]) < LINE_DUP_MIN_DOCS]
        row = res[d]
        assert row["n_segs"] == len(segs)
        assert row["n_dropped"] == len(segs) - len(kept)
        assert row["cleaned_text"] == " ".join(kept)
        if row["n_dropped"]:
            n_modified += 1
    # fixture has planted cross-doc duplication: the pass must bite
    # on some docs and leave the majority untouched
    assert 0 < n_modified < len(docs)


def test_bpe_encode_consistent_with_training(spark):
    """Encode/train consistency: token counts shrink by exactly one
    per merge APPLICATION relative to the char+end-marker baseline —
    a multi-char symbol of length L accounts for L-1 stacked merges,
    so the merged-symbol count lower-bounds the shrinkage — and the
    trained merges must bite on the corpus they were trained on."""
    from frafka_spark.registry import QUERIES as Q

    merges = {
        r["merged"] for r in Q["q_llm_bpe_train"].fn(spark, SF_DIR).collect()
    }
    enc = Q["q_llm_bpe_encode"].fn(spark, SF_DIR).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, SF_DIR, "documents").collect()
    }
    assert len(enc) == len(docs)
    for r in enc:
        words = [w for w in docs[r["doc_id"]].split(" ") if w]
        assert r["n_words"] == len(words)
        # without any merge, tokens = chars + end marker per word
        base = sum(len(w) + 1 for w in words)
        assert r["n_tokens"] <= base
        # shrinkage = merge applications >= distinct merged symbols
        assert r["n_merged_tokens"] <= base - r["n_tokens"]
        if r["n_tokens"] < base:
            assert r["n_merged_tokens"] > 0
    # trained merges must actually bite on the corpus they were
    # trained on (the top-frequency pairs by construction)
    assert sum(r["n_merged_tokens"] for r in enc) > 0
    assert merges  # 4 learned merge tokens exist


def test_ppl_buckets_are_balanced_and_ordered(spark):
    """CCNet bucketing semantics: terciles are size-balanced (ntile)
    and mean NLL strictly increases head -> middle -> tail."""
    from frafka_spark.registry import QUERIES as Q

    rows = Q["q_llm_ppl_bucket"].fn(spark, SF_DIR).collect()
    by = {}
    for r in rows:
        by.setdefault(r["bucket_name"], []).append(r["avg_nll"])
    sizes = {k: len(v) for k, v in by.items()}
    assert set(sizes) == {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    means = {k: sum(v) / len(v) for k, v in by.items()}
    assert means["head"] < means["middle"] < means["tail"]


def test_segfreq_index_maintained_equals_rebuild(spark):
    """q_llm_dedup_lines_at_rest's maintenance law: the base-build +
    CDF-delta-append segment index multiset-equals segment_rows over
    the corpus's latest snapshot, and the graded plan reads only the
    index table, never the documents fixture."""
    from pathlib import Path

    from frafka_spark.llm.index_store import segment_rows
    from frafka_spark.operators.lakehouse import _ensure_table
    from frafka_spark.plans.inspect import plan_str
    from frafka_spark.sources import manifest_table as mt

    path = _ensure_table(spark, SF_DIR, "documents_segfreq_indexed")
    corpus = str(Path(path) / "corpus")
    maintained = mt.read_table(spark, str(Path(path) / "seg_index"))
    rebuilt = segment_rows(mt.read_table(spark, corpus))
    assert maintained.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(maintained).count() == 0

    df = QUERIES["q_llm_dedup_lines_at_rest"].fn(spark, SF_DIR)
    p = plan_str(df)
    assert "documents.parquet" not in p
    assert "seg_index" in p


def test_doremi_step_properties(spark):
    """EG-step invariants: weights are a probability simplex, every
    smoothed weight is at least the uniform floor's smoothed share,
    the easiest source has excess 0, and ordering follows excess
    loss (higher excess -> weakly higher weight)."""
    from frafka_spark.llm.mixture import DOREMI_SMOOTH
    from frafka_spark.registry import QUERIES as Q

    rows = Q["q_llm_doremi_step"].fn(spark, SF_DIR).collect()
    n = len(rows)
    assert n >= 2
    total = sum(r["weight_doremi"] for r in rows)
    assert abs(total - 1.0) < 1e-4  # simplex up to per-row rounding
    floor_share = DOREMI_SMOOTH / n
    assert all(r["weight_doremi"] >= floor_share - 1e-9 for r in rows)
    assert min(r["excess_nll"] for r in rows) == 0.0
    by_excess = sorted(rows, key=lambda r: r["excess_nll"])
    ws = [r["weight_doremi"] for r in by_excess]
    assert all(a <= b + 1e-9 for a, b in zip(ws, ws[1:]))


def test_rouge_matches_python_model_on_pairs(spark):
    """q_llm_rouge vs a complete Python recompute of clipped-multiset
    ROUGE-1/2 over the declared near-dup pair set, plus the bound
    rouge2 <= rouge1 + eps that clipped n-gram overlap implies for
    near-identical texts."""
    from collections import Counter

    from frafka_spark.registry import QUERIES as Q

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in table(spark, SF_DIR, "documents").collect()
    }
    rows = Q["q_llm_rouge"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        a, b = docs[r["doc_a"]], docs[r["doc_b"]]
        ua, ub = Counter(w for w in a if w), Counter(w for w in b if w)
        ov1 = sum((ua & ub).values())
        ba = Counter(zip(a, a[1:]))
        bb = Counter(zip(b, b[1:]))
        ov2 = sum((ba & bb).values())
        assert r["r1_overlap"] == ov1
        assert r["r2_overlap"] == ov2
        import math

        f1 = math.floor(2.0 * ov1 / (sum(ua.values()) + sum(ub.values()))
                        * 10000 + 0.5) / 10000.0
        assert r["rouge1_f"] == f1
        # planted near-dups: high unigram agreement on every pair
        assert r["rouge1_f"] > 0.5


def test_rouge_counts_leg_is_session_memoized(spark):
    """The ROUGE gram-count leg is built (and physically planned) once
    per session: reconstruction returns the SAME shared checkpoint
    relation instead of re-planning the semi-join/aggregate subtree,
    and the audit's rows are identical either way."""
    from frafka_spark.artifacts import session_artifact
    from frafka_spark.registry import QUERIES as Q

    def rebuilt():
        raise AssertionError("the rouge_counts leg was rebuilt")

    first = Q["q_llm_rouge"].fn(spark, SF_DIR)
    leg = session_artifact(spark, SF_DIR, "rouge_counts", rebuilt)
    assert leg is not None
    second = Q["q_llm_rouge"].fn(spark, SF_DIR)
    assert session_artifact(spark, SF_DIR, "rouge_counts", rebuilt) is leg
    a = sorted(tuple(r) for r in first.collect())
    b = sorted(tuple(r) for r in second.collect())
    assert a and a == b


def test_heldout_nll_covers_val_split_and_prices_oov(spark):
    """Leakage-free protocol invariants: exactly the val-split docs
    with >= 2 words are scored, per-doc OOV counts equal a python
    recompute against the train-split bigram set, and the held-out
    mean NLL exceeds the corpus-self-scored diagnostic's mean over
    the same docs (add-1 discounting prices the held-out view)."""
    import hashlib

    from frafka_spark.registry import QUERIES as Q

    rows = {r["doc_id"]: r for r in
            Q["q_llm_heldout_nll"].fn(spark, SF_DIR).collect()}
    docs = {r["doc_id"]: r["text"]
            for r in table(spark, SF_DIR, "documents").collect()}
    val = {
        d for d, t in docs.items()
        if hashlib.md5(str(d).encode()).hexdigest()[:4] >= "cccd"
        and hashlib.md5(str(d).encode()).hexdigest()[:4] < "e666"
        and len(t.split(" ")) >= 2
    }
    assert set(rows) == val
    # exact OOV accounting vs a python recompute (the tiny synthetic
    # vocabulary makes 0 a legitimate total — the assertion is
    # equality, not existence)
    train_bi = {
        (a, b)
        for d, t in docs.items()
        if hashlib.md5(str(d).encode()).hexdigest()[:4] < "cccd"
        for a, b in zip(t.split(" "), t.split(" ")[1:])
    }
    for d in val:
        ws = docs[d].split(" ")
        expect = sum(1 for p in zip(ws, ws[1:]) if p not in train_bi)
        assert rows[d]["n_unseen"] == expect, d
    self_scored = {r["doc_id"]: r["avg_nll"] for r in
                   Q["q_llm_doc_nll"].fn(spark, SF_DIR).collect()}
    ho = [r["avg_nll"] for r in rows.values()]
    ss = [self_scored[d] for d in rows]
    assert sum(ho) / len(ho) > sum(ss) / len(ss)
