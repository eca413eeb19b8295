"""D1 Bloom + anti-join property tests (SURVEY §5.4): the Bloom pre-filter
has zero false negatives, and the Bloom-accelerated anti-join is exactly
the plain set difference."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xcrawl3r_spark.operators.dedup import (
    SeenFilter,
    _bloom_positions,
    _set_bits,
    _test_bits,
    anti_join_seen,
)

BITS, K, PARTS = 1 << 12, 5, 4
BLOOM = SeenFilter("bloom", PARTS, (BITS, K))


@given(
    seen=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=200, unique=True),
    probe=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=200),
)
@settings(max_examples=50, deadline=None)
def test_bitset_no_false_negatives(seen, probe):
    """numpy-level: every inserted hash tests positive in every position."""
    nbytes = BITS // 8
    bitsets = {p: np.zeros(nbytes, dtype=np.uint8) for p in range(PARTS)}
    arr = np.array(seen, dtype=np.int64) if seen else np.array([], dtype=np.int64)
    pids = (arr % PARTS + PARTS) % PARTS
    for p in range(PARTS):
        sub = arr[pids == p]
        for pos in _bloom_positions(sub, BITS, K):
            _set_bits(bitsets[p], pos)
    parr = np.array(probe, dtype=np.int64) if probe else np.array([], dtype=np.int64)
    ppids = (parr % PARTS + PARTS) % PARTS
    seen_set = set(seen)
    for i, (h, p) in enumerate(zip(parr, ppids)):
        hit = all(
            _test_bits(bitsets[int(p)], pos)[0]
            for pos in _bloom_positions(np.array([h], dtype=np.int64), BITS, K)
        )
        if h in seen_set:
            assert hit, f"false negative for {h}"


def test_spark_bloom_anti_join_equals_exact(spark):
    seen_keys = [(i * 7919,) for i in range(500)]
    cand_keys = [(i * 13,) for i in range(1000)]
    seen = spark.createDataFrame(seen_keys, "dedup_key long")
    cand = spark.createDataFrame(cand_keys, "dedup_key long")
    exact = {r["dedup_key"]
             for r in cand.join(seen, "dedup_key", "left_anti").collect()}
    bloom = BLOOM.build(seen, key="dedup_key")
    got = {r["dedup_key"] for r in anti_join_seen(
        cand, seen, key="dedup_key", seen_filter=bloom).collect()}
    assert got == exact


def test_bloom_probe_flags_all_seen(spark):
    seen = spark.createDataFrame([(i,) for i in range(300)], "url_hash long")
    probed = BLOOM.build(seen).probe(seen)
    assert probed.filter("not maybe_seen").count() == 0  # no false negatives


def test_bloom_actually_prunes(spark):
    """FPR sanity: disjoint probes should mostly test negative."""
    seen = spark.createDataFrame([(i,) for i in range(1000)], "url_hash long")
    fresh = spark.createDataFrame(
        [(i + 10_000_000,) for i in range(1000)], "url_hash long")
    bloom = SeenFilter("bloom", PARTS, (1 << 16, 7)).build(seen)
    probed = bloom.probe(fresh)
    fpr = probed.filter("maybe_seen").count() / 1000
    assert fpr < 0.05, f"FPR {fpr} too high"


def test_seen_filter_refuses_foreign_geometry():
    """A table read with another geometry answers "unseen" for keys it
    holds, so merge refuses any kind/partitions/geometry difference, a
    table refuses to load at the wrong size, and only cuckoo deletes."""
    from xcrawl3r_spark.operators.dedup import BloomTable

    a = SeenFilter("bloom", PARTS, (BITS, K), {0: bytes(BITS // 8)})
    assert a.merge(a.empty()) == a
    for other in (SeenFilter("bloom", 8, (BITS, K)),
                  SeenFilter("bloom", PARTS, (BITS * 4, K)),
                  SeenFilter("bloom", PARTS, (BITS, K + 2)),
                  SeenFilter("cuckoo", PARTS, (64,))):
        with pytest.raises(ValueError):
            a.merge(other)
        with pytest.raises(ValueError):
            other.merge(a)
    with pytest.raises(ValueError):
        BloomTable.from_bytes(a.tables[0], BITS * 4, K)
    with pytest.raises(ValueError):
        a.delete(np.array([1, 2], dtype=np.int64))


def test_seen_filter_rejects_bad_geometry():
    """Geometry fails at construction, not later inside an executor fold
    (bits=100 died there with an IndexError; partitions=0 put every key in
    one partition). Each message names the parameter at fault."""
    for kind, partitions, geometry, name in (
            ("bloom", 1, (100, 1), "bits"), ("bloom", 1, (0, 1), "bits"),
            ("bloom", 1, (-8, 1), "bits"), ("bloom", 0, (8, 1), "partitions"),
            ("bloom", 1, (8, 0), "hashes"), ("cuckoo", 1, (0,), "buckets"),
            ("Bloom", 1, (8, 1), "kind")):
        with pytest.raises(ValueError, match=f"^{name} must"):
            SeenFilter(kind, partitions, geometry)
    SeenFilter("bloom", 1, (8, 1))
    SeenFilter("cuckoo", 1, (1,))


def test_ivf_topk_recall_and_exactness(spark, sf_dir):
    """IVF ANN: deterministic, k rows per query, returned cosines equal
    the exact scores for those pairs, and recall@10 vs brute force beats
    the probe fraction (clustering must add signal, not just sample)."""
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators import simsearch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    exact = simsearch.cosine_topk(emb, qs, k=10).collect()
    ivf = simsearch.ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=4)
    rows = ivf.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 10 for v in by_q.values())
    # returned cosines must equal exact scores for the same pairs
    exact_scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    for r in rows:
        k2 = (r["query_id"], r["vec_id"])
        if k2 in exact_scores:
            assert abs(r["cosine"] - exact_scores[k2]) < 1e-9
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(ex[q] & {r["vec_id"] for r in by_q.get(q, [])}) / len(ex[q])
        for q in ex]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.3, f"recall {mean_recall} (probe fraction 0.25)"
    # determinism: second run returns identical rows
    again = {(r["query_id"], r["vec_id"], r["rank"])
             for r in simsearch.ivf_topk(emb, qs, k=10, n_centroids=16,
                                         n_probe=4).collect()}
    assert again == {(r["query_id"], r["vec_id"], r["rank"]) for r in rows}


def test_derive_n_planes_scaling():
    """Scale-safe LSH defaults (r1 verdict item 4): plane count grows with
    corpus size so expected bucket size stays ~target at any scale."""
    from xcrawl3r_spark.operators.simsearch import derive_n_planes

    assert derive_n_planes(1) == 4            # floor
    assert derive_n_planes(500) == 4          # sf0.01 keeps r1 behavior
    assert derive_n_planes(2000) == 5         # sf0.1
    assert derive_n_planes(64 * (1 << 10)) == 10
    assert derive_n_planes(10**9) == 24       # hi cap (16M buckets)
    assert derive_n_planes(10**12) == 24
    # boundary exactness (the SQL twin must agree bit-for-bit)
    assert derive_n_planes(64 * 32) == 5
    assert derive_n_planes(64 * 32 + 1) == 6


def test_lsh_bucket_sizes_bounded_on_skewed_corpus(spark):
    """With derived n_planes, no LSH bucket absorbs the corpus: on a
    skewed corpus (half the vectors clustered in one orthant — the
    hot-bucket case) the max bucket stays a bounded multiple of the
    target size, whereas the fixed r1 default (16 buckets) would hold
    n/2+ vectors in one bucket at this n."""
    import numpy as np
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators import simsearch

    rng = np.random.RandomState(7)  # test-only data synthesis, not engine
    n, dims = 4096, 64
    base = rng.normal(size=dims); base /= np.linalg.norm(base)
    rows = []
    for i in range(n):
        if i % 2 == 0:  # skew: clustered near one direction
            v = base + 0.05 * rng.normal(size=dims)
        else:
            v = rng.normal(size=dims)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    np_ = simsearch.derive_n_planes(n)
    assert np_ == 6
    sizes = (
        emb.select(simsearch.bucket_col(
            F.transform("embedding", lambda x: x.cast("double")),
            dims, np_).alias("b"))
        .groupBy("b").count().collect()
    )
    max_bucket = max(r["count"] for r in sizes)
    # the clustered half shares a bucket family; sign-projection splits it
    # across planes — bound: no bucket exceeds the clustered mass + noise
    # spread, and the noise half alone spreads near-uniformly
    assert max_bucket < n * 0.55 + 4 * simsearch.LSH_TARGET_BUCKET
    noise_only = [r["count"] for r in sizes if r["count"] < n * 0.25]
    assert len(noise_only) >= 2 ** (np_ - 1)  # most buckets populated


def test_simhash_near_dup_pigeonhole_exact(spark, sf_dir):
    """The banded simhash near-dup join must equal the brute-force n²
    hamming filter (pigeonhole guarantees recall 1 at
    n_chunks = hamming_max + 1), and the bucket cap drops only overfull
    buckets."""
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators import dedupops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in dedupops.simhash_near_dup(docs, hamming_max=3).collect()}
    sig = dedupops.simhash(docs)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"))
        .filter(F.col("hamming") <= 3).collect()
    }
    assert got == brute and len(got) > 0
    # capped variant is a subset (drops only pairs via overfull buckets)
    capped = {(r["doc_a"], r["doc_b"], r["hamming"])
              for r in dedupops.simhash_near_dup(
                  docs, hamming_max=3, max_chunk_df=2).collect()}
    assert capped <= got


def test_corpus_clean_stage_invariants(spark, sf_dir):
    """corpus_clean composite: every survivor passes each stage's gate,
    and the result is deterministic."""
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators import dedupops, textops
    from xcrawl3r_spark.operators.pipeline import corpus_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus_clean(docs)
    survivors = {r["doc_id"] for r in out.collect()}
    assert 0 < len(survivors) < docs.count()
    gq_pass = {r["doc_id"] for r in
               textops.gopher_quality(docs).filter("passes").collect()}
    assert survivors <= gq_pass
    nd_b = {r["doc_b"] for r in dedupops.minhash_lsh_pairs(docs).collect()}
    assert not (survivors & nd_b)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    fp = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", F.md5(norm).alias("fp")).collect()}
    fps = [fp[d] for d in survivors]
    assert len(fps) == len(set(fps))  # no two survivors share content
    again = {r["doc_id"] for r in corpus_clean(docs).collect()}
    assert again == survivors


def test_near_dup_clusters_transitive_canonical(spark):
    """Cluster removal step: a~b and b~c (even if a,c never share a
    bucket) must land in ONE cluster with min doc_id canonical;
    singletons are their own canonical."""
    from xcrawl3r_spark.operators.dedupops import near_dup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    rows = [
        (1, base),                              # cluster seed
        (2, base + "tail2 x"),                  # near-dup of 1
        (3, base + "tail2 x tail3 y z"),        # near-dup of 2 (chain)
        (9, "totally different words entirely unrelated content here " * 9),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in near_dup_clusters(docs).collect()}
    assert len(got) == 4
    assert got[1].cluster == got[2].cluster == got[3].cluster == 1
    assert got[1].is_canonical and not got[2].is_canonical
    assert not got[3].is_canonical
    assert got[9].cluster == 9 and got[9].is_canonical


def test_embedding_near_dup_bucket_cap_bounds_degenerate_corpus(spark):
    """A degenerate (all-near-identical) embedding corpus collapses into
    ONE LSH bucket — uncapped, the self-join scores n(n-1)/2 pairs; with
    max_bucket_df the hot bucket is dropped entirely (bounded candidate
    count, recall traded and logged), mirroring the ngram/simhash
    posting-list caps (r2 verdict item 2)."""
    import numpy as np
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators import simsearch

    rng = np.random.RandomState(11)  # test-only data synthesis
    n, dims = 60, 16
    base = rng.normal(size=dims)
    base /= np.linalg.norm(base)
    rows = [
        (i, [float(x) for x in base + 1e-4 * rng.normal(size=dims)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = simsearch.embedding_near_dup(emb, dims=dims, threshold=0.99)
    assert uncapped.count() == n * (n - 1) // 2  # quadratic blowup
    capped = simsearch.embedding_near_dup(
        emb, dims=dims, threshold=0.99, max_bucket_df=16, log_dropped=True)
    assert capped.count() == 0  # the one hot bucket exceeds the cap
    # a mixed corpus: cap drops ONLY the hot bucket; spread vectors keep
    # their within-bucket pairs (two exact duplicates far from `base`)
    other = rng.normal(size=dims)
    other /= np.linalg.norm(other)
    if float(np.dot(other, base)) > 0:
        other = -other  # ensure a different orthant from the hot cluster
    rows2 = rows + [(1000, [float(x) for x in other]),
                    (1001, [float(x) for x in other])]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    capped2 = simsearch.embedding_near_dup(
        emb2, dims=dims, threshold=0.99, max_bucket_df=16, log_dropped=True)
    got = {(r["vec_a"], r["vec_b"]) for r in capped2.collect()}
    assert got == {(1000, 1001)}


def test_source_similarity_kmv_tracks_exact_jaccard(spark):
    """KMV sketch estimate vs ground-truth shingle jaccard on synthetic
    sources with known overlap: identical sources read 1.0, disjoint read
    0.0, a ~50%-overlap pair lands within KMV sampling error."""
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators import dedupops

    def doc(src, i, words):
        return (f"{src}-{i}", src, " ".join(words))

    rows = []
    base = [f"w{j}" for j in range(400)]
    half = [f"w{j}" for j in range(200)] + [f"x{j}" for j in range(200)]
    other = [f"y{j}" for j in range(400)]
    for i in range(3):  # multiple docs per source; shingles pool per group
        rows.append(doc("A", i, base[i:] + base[:i]))
        rows.append(doc("B", i, base[i:] + base[:i]))       # B == A
        rows.append(doc("C", i, half[i:] + half[:i]))       # ~half overlap
        rows.append(doc("D", i, other[i:] + other[:i]))     # disjoint
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    got = {(r["group_a"], r["group_b"]): r["kmv_jaccard"]
           for r in dedupops.source_similarity(docs, k=128).collect()}
    assert got[("A", "B")] == 1.0
    assert got[("A", "D")] == 0.0

    # ground truth for (A, C): exact jaccard of the distinct shingle sets
    sh = docs.filter(F.col("source").isin("A", "C")).select(
        "source", F.explode(dedupops.shingles_col()).alias("sh")).distinct()
    a = {r["sh"] for r in sh.filter("source = 'A'").collect()}
    c = {r["sh"] for r in sh.filter("source = 'C'").collect()}
    exact = len(a & c) / len(a | c)
    assert abs(got[("A", "C")] - exact) < 0.12  # k=128 sampling error


def test_minhash_verified_subset_of_exact(spark, sf_dir):
    """Verified pairs = LSH candidates ∩ exact-jaccard>=t: every verified
    pair appears in the exact shared-shingle computation with the SAME
    jaccard, and candidate pairs below threshold are dropped."""
    from xcrawl3r_spark.operators import dedupops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    verified = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in dedupops.minhash_verified_pairs(
                    docs, threshold=0.2).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedupops.ngram_jaccard_pairs(
                 docs, threshold=0.2).collect()}
    assert verified, "fixture produced no verified pairs"
    for pair, j in verified.items():
        assert exact[pair] == j            # subset with identical scores
    cands = {(r["doc_a"], r["doc_b"])
             for r in dedupops.minhash_lsh_pairs(docs).collect()}
    assert set(verified) <= cands          # only LSH candidates survive


def test_substring_dup_spans_exact(spark):
    """Hand-built corpus with a known shared 10-token run: spans cover
    exactly the duplicated region (merged maximal), unique docs emit
    nothing, and a within-doc repeat counts as duplicated."""
    shared = "the quick brown fox jumps over the lazy sleeping dog"  # 10
    d1 = "alpha beta " + shared + " gamma delta epsilon zeta eta theta"
    d2 = "one two three four five six " + shared + " seven eight"
    d3 = "totally unique words nine ten eleven twelve thirteen fourteen fifteen sixteen"
    d4 = " ".join(["rep"] * 20)  # within-doc repetition of its own 8-grams
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string")
    from xcrawl3r_spark.operators import dedupops

    rows = {r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
            for r in dedupops.substring_dup_spans(docs, k=8).collect()}
    # d1: shared run occupies tokens [2, 12); 3 windows start at 2,3,4
    assert rows[1] == (2, 12, 3)
    # d2: shared run occupies tokens [6, 16)
    assert rows[2] == (6, 16, 3)
    assert 3 not in rows                      # unique doc: no spans
    # d4: all 13 windows of "rep"*20 are identical -> one full span
    assert rows[4] == (0, 20, 13)


def test_remove_dup_spans_keeps_first_occurrence(spark):
    """The applied transformation (Lee et al.'s cut): the corpus-first
    occurrence of a duplicated run survives intact, later occurrences
    are cut, unique docs pass through (token-rejoined), and every input
    doc appears in the output."""
    shared = "the quick brown fox jumps over the lazy sleeping dog"  # 10
    d1 = "alpha beta " + shared + " gamma delta epsilon zeta eta theta"
    d2 = "one two three four five six " + shared + " seven eight"
    d3 = "totally unique words nine ten eleven twelve thirteen fourteen"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string")
    from xcrawl3r_spark.operators import dedupops

    out = {r["doc_id"]: r for r in
           dedupops.remove_dup_spans(docs, k=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["text"] == d1 and out[1]["n_removed"] == 0  # first kept
    assert out[2]["text"] == "one two three four five six seven eight"
    assert out[2]["n_removed"] == 10
    assert out[3]["text"] == d3 and out[3]["n_removed"] == 0


def test_remove_dup_spans_within_doc_and_idempotent(spark):
    """A within-doc self-overlapping repeat keeps exactly one full copy
    (the first window's span is protected) and cuts the rest;
    re-applying the transform to its own output changes nothing
    (idempotence on the canonical token-rejoined form)."""
    from xcrawl3r_spark.operators import dedupops

    d = " ".join(["rep"] * 20)
    docs = spark.createDataFrame([(1, d)], "doc_id long, text string")
    out = dedupops.remove_dup_spans(docs, k=8).collect()[0]
    # all 13 windows identical; removable span [1, 20) minus the
    # protected first window [0, 8) -> tokens 8..19 cut, 8 kept
    assert out["text"] == " ".join(["rep"] * 8)
    assert out["n_removed"] == 12
    again = dedupops.remove_dup_spans(
        docs.sparkSession.createDataFrame(
            [(1, out["text"])], "doc_id long, text string"), k=8
    ).collect()[0]
    assert again["text"] == out["text"] and again["n_removed"] == 0


def _gopher_passing_doc(prefix: str, n: int = 50) -> str:
    """~n distinct alpha words + stopwords: passes every Gopher rule
    (>=50 words, mean word length 3-10, >=2 stopwords, >=80% alpha)."""
    words = [f"{prefix}{i:02d}word" for i in range(n)]
    return "the and " + " ".join(words)


def test_corpus_curate_remove_substrings_flag(spark):
    """corpus_curate(remove_substrings=True) counts tokens on the
    span-cut text: a doc padded with another doc's boilerplate loses
    those tokens from its n_tokens, while the default path keeps them."""
    from xcrawl3r_spark.operators.pipeline import corpus_curate

    boiler = ("shared boilerplate footer text repeated across every page "
              "verbatim always")  # 10 tokens -> 3 duplicated 8-windows
    docs = spark.createDataFrame(
        [(1, f"{_gopher_passing_doc('a')} {boiler}", "sa"),
         (2, f"{_gopher_passing_doc('b')} {boiler}", "sa")],
        "doc_id long, text string, source string")
    plain = {r["doc_id"]: r["n_tokens"]
             for r in corpus_curate(docs, budget=10_000).collect()}
    cut = {r["doc_id"]: r["n_tokens"]
           for r in corpus_curate(docs, budget=10_000,
                                  remove_substrings=True).collect()}
    assert plain[1] == cut[1]                 # first occurrence untouched
    assert cut[2] == plain[2] - 10            # boilerplate cut from doc 2


def test_embedding_dedup_clusters_transitive(spark):
    """Embedding-space cluster dedup: a chain A~B~C (A and C not
    directly near) must collapse into ONE cluster with the min vec_id
    canonical; isolated vectors are their own canonical clusters."""
    import numpy as np

    from xcrawl3r_spark.operators import simsearch

    dims = 8
    a = np.zeros(dims); a[0] = 1.0
    # b sits between a and c so that cos(a,b) and cos(b,c) clear the
    # threshold while cos(a,c) does not
    c = np.zeros(dims); c[0] = np.cos(np.radians(50)); c[1] = np.sin(np.radians(50))
    b = (a + c); b /= np.linalg.norm(b)
    lone = np.zeros(dims); lone[2] = -1.0
    rows = [(1, [float(x) for x in a]), (2, [float(x) for x in b]),
            (3, [float(x) for x in c]), (9, [float(x) for x in lone])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # threshold between cos(25deg)~0.906 and cos(50deg)~0.643
    got = {r["vec_id"]: r for r in simsearch.embedding_dedup_clusters(
        emb, dims=dims, threshold=0.85, n_planes=0).collect()}
    assert got[1]["cluster"] == 1 and got[1]["is_canonical"]
    assert got[2]["cluster"] == 1 and not got[2]["is_canonical"]
    assert got[3]["cluster"] == 1 and not got[3]["is_canonical"]
    assert got[9]["cluster"] == 9 and got[9]["is_canonical"]


def test_winnow_pairs_containment_detects_embedded_doc(spark):
    """The containment score catches a small document embedded verbatim
    inside a much larger one — the case symmetric Jaccard under-scores:
    shared/min(|a|,|b|) ~ 1.0 while shared/union stays small."""
    from xcrawl3r_spark.operators import textops

    small = "the quick brown fox jumps over the lazy dog again and again"
    big = " ".join(f"filler{i:03d}word" for i in range(120)) + " " + small
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "completely unrelated words entirely")],
        "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in
           textops.winnow_pairs(docs, min_shared=2).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["containment"] >= 0.9          # small doc fully contained
    assert not any(3 in p for p in out)     # unrelated doc pairs nothing


def test_winnow_pairs_fp_df_cap_bounds_boilerplate(spark):
    """A fingerprint shared by every doc (boilerplate) is dropped by
    max_fp_df, so an n-doc corpus can't emit O(n^2) pairs through it."""
    from xcrawl3r_spark.operators import textops

    boiler = "identical boilerplate sentence repeated on every page here"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(12)], "doc_id long, text string")
    uncapped = textops.winnow_pairs(docs, min_shared=1).count()
    assert uncapped == 12 * 11 // 2
    capped = textops.winnow_pairs(docs, min_shared=1, max_fp_df=4).count()
    assert capped == 0


class TestParagraphDedup:
    def _run(self, spark, rows):
        from xcrawl3r_spark.operators import dedupops

        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in
                dedupops.paragraph_dedup(docs).collect()}

    def test_first_occurrence_survives_corpus_wide(self, spark):
        """A paragraph repeated across documents survives only in the
        lowest (doc_id, position); later copies are cut from their docs."""
        out = self._run(spark, [
            (1, "alpha beta\nshared para here\ngamma"),
            (2, "shared para here\nunique two"),
            (3, "unique three\nshared para here"),
        ])
        assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
        assert out[1]["text_clean"] == "alpha beta\nshared para here\ngamma"
        assert out[2]["n_kept"] == 1 and out[2]["text_clean"] == "unique two"
        assert out[3]["n_kept"] == 1 and out[3]["text_clean"] == "unique three"

    def test_within_doc_repeat_collapses_and_empty_doc_row_kept(self, spark):
        """Within-document repeats keep only the first copy; a document
        losing every paragraph still emits a row with empty text."""
        out = self._run(spark, [
            (1, "same para\nsame para\nother"),
            (2, "same para"),
        ])
        assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 2
        assert out[1]["text_clean"] == "same para\nother"
        assert out[2]["n_paras"] == 1 and out[2]["n_kept"] == 0
        assert out[2]["text_clean"] == ""

    def test_normalization_matches_case_and_whitespace_variants(self, spark):
        """The keep/drop key is the whitespace/case-normal form, so 'A  B'
        duplicates 'a b' — but the SURVIVING paragraph keeps its original
        text."""
        out = self._run(spark, [
            (1, "Hello   World"),
            (2, "hello world"),
        ])
        assert out[1]["n_kept"] == 1
        assert out[1]["text_clean"] == "Hello   World"
        assert out[2]["n_kept"] == 0


class TestWinnowSpans:
    def test_islands_localize_the_embedded_copy(self, spark):
        """A small doc embedded in a large one yields, on the large side,
        island(s) covering the tail region where the copy sits — and the
        small side is covered ~fully."""
        from xcrawl3r_spark.operators import textops

        small = "the quick brown fox jumps over the lazy dog again and again"
        big = " ".join(f"filler{i:03d}word" for i in range(80)) + " " + small
        docs = spark.createDataFrame(
            [(1, small), (2, big), (3, "totally unrelated words entirely")],
            "doc_id long, text string")
        spans = textops.winnow_spans(docs, min_shared=2).collect()
        by_side = {}
        for r in spans:
            assert (r["doc_a"], r["doc_b"]) == (1, 2)
            by_side.setdefault(r["side"], []).append(r)
        # side a (the small doc): matched buckets cover most of it
        a_buckets = sum(r["n_buckets"] for r in by_side["a"])
        n_a = (len(small) - textops.WINNOW_K + 1
               + textops.WINNOW_W - 1) // textops.WINNOW_W
        assert a_buckets >= n_a - 1
        # side b: every island sits in the tail (where small was appended)
        copy_start = len(big) - len(small)
        for r in by_side["b"]:
            assert r["char_end"] > copy_start
        # intervals are well-formed and ordered by span_id
        for rows in by_side.values():
            rows.sort(key=lambda r: r["span_id"])
            for r in rows:
                assert r["bucket_start"] <= r["bucket_end"]
                assert r["char_start"] < r["char_end"]
            for x, y in zip(rows, rows[1:]):
                assert x["bucket_end"] + 1 < y["bucket_start"]

    def test_disjoint_copies_make_separate_islands(self, spark):
        """Two shared regions separated by unique filler in the middle
        produce (at least) two islands on the containing side."""
        from xcrawl3r_spark.operators import textops

        chunk1 = "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj"
        chunk2 = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"
        mid = " ".join(f"mid{i:04d}unique" for i in range(40))
        docs = spark.createDataFrame(
            [(1, chunk1 + " " + chunk2),
             (2, chunk1 + " " + mid + " " + chunk2)],
            "doc_id long, text string")
        spans = [r for r in
                 textops.winnow_spans(docs, min_shared=2).collect()
                 if r["side"] == "b"]
        assert len(spans) >= 2
