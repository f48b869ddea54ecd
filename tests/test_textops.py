"""Text/dedup/similarity/multimodal operators on planted fixtures."""

import pytest
from pyspark.sql import functions as F

from audience_manager_platform_spark.operators import dedup as D
from audience_manager_platform_spark.operators import multimodal as M
from audience_manager_platform_spark.operators import similarity as S
from audience_manager_platform_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick BROWN fox;; jumps over the lazy dog near the river bank"),  # = 1 normalized
        (3, "The quick brown fox jumps over the lazy cat near the river bank"),  # near-dup of 1
        (4, "el rio es grande y la casa es de madera que se ve en la montana"),
        (5, "completely different content about spark engines and shuffles here today"),
        (6, "zzz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_stats(docs):
    out = {r.doc_id: r for r in T.token_stats(docs).collect()}
    assert out[1].n_tokens == 13
    assert out[1].n_distinct_tokens == 11  # 'the' x3
    assert out[6].n_tokens == 1


def test_language_id(docs):
    out = {r.doc_id: r.detected_lang for r in T.language_id(docs).collect()}
    assert out[1] == "en"
    assert out[4] == "es"
    assert out[6] == "und"  # no stopword hits anywhere


def test_fingerprint_normalizes(docs):
    out = {r.doc_id: r.fingerprint for r in T.fingerprint(docs).collect()}
    assert out[1] == out[2]  # case/punctuation-insensitive
    assert out[1] != out[3]


def test_exact_dedup(docs):
    out = {r.doc_id: r for r in D.exact_dedup(docs).collect()}
    assert out[2].canonical_id == 1 and out[2].is_duplicate
    assert not out[1].is_duplicate
    assert not out[3].is_duplicate  # near-dup is NOT exact-dup


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after normalize
    assert (1, 3) in pairs and 0.4 <= pairs[(1, 3)] < 1.0
    assert (1, 5) not in pairs


def test_max_gram_df_guard(docs):
    # with a df cap of 1, every shared gram is dropped -> no pairs
    assert D.ngram_jaccard_pairs(docs, threshold=0.1, max_gram_df=1).count() == 0


def test_minhash_lsh_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in D.minhash_lsh_pairs(docs, est_threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # high-jaccard near-dup collides in a band
    assert (4, 5) not in pairs


def test_simhash_hamming(docs):
    out = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert out[1] == out[2]  # same token multiset -> same simhash
    assert hamming(out[1], out[3]) < hamming(out[1], out[5])


@pytest.fixture(scope="module")
def emb(spark):
    import random
    rows = []
    for i in range(20):
        rng = random.Random(1000 + i)
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base], i % 3))
    # vec 20 = near-copy of vec 0
    rows.append((20, [x + 0.001 for x in rows[0][1]], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk(emb):
    out = S.cosine_topk(emb, [0], k=3).collect()
    assert len(out) == 3
    assert out[0].neighbor_id == 20 and out[0].cosine > 0.999  # planted near-copy
    assert [r.rank for r in out] == [1, 2, 3]
    assert all(r.query_id == 0 for r in out)


def test_embedding_near_dup(spark, emb):
    # only the planted near-copy pair survives a high threshold; note LSH
    # recall is probabilistic but a ~perfect-cosine pair shares all buckets
    from audience_manager_platform_spark.operators.similarity import EMBED_DIM
    # fixture vectors are dim 8; pad to EMBED_DIM for the plane math
    padded = emb.select(
        "vec_id",
        F.expr(f"concat(embedding, array_repeat(cast(0.0 as float), {EMBED_DIM - 8}))").alias(
            "embedding"
        ),
        "label",
    )
    pairs = S.embedding_near_dup(padded, threshold=0.999).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 20)}


def _padded_emb(emb):
    from audience_manager_platform_spark.operators.similarity import EMBED_DIM

    return emb.select(
        "vec_id",
        F.expr(
            f"concat(embedding, array_repeat(cast(0.0 as float), {EMBED_DIM - 8}))"
        ).alias("embedding"),
        "label",
    )


def test_kmeans_clusters(emb):
    padded = _padded_emb(emb)
    out = S.kmeans_clusters(padded, k=4, iters=2).collect()
    assert sum(r.size for r in out) == 21  # every vector assigned exactly once
    assert {r.cluster_id for r in out} <= set(range(4))  # ids persist from seeds
    assert all(0.0 < r.mean_sim <= 1.0 for r in out)
    assert all(r.centroid_norm > 0 for r in out)


def test_kmeans_twin_comembership(emb):
    # the planted near-copy (0, 20) must land in the same learned cell
    padded = _padded_emb(emb)
    base = padded.select("vec_id", S._vec_double().alias("v"))
    model = S.kmeans_fit_model(padded, k=4, iters=2)
    cells = {
        r.vec_id: r.cent_id for r in S.assign_cells_arrow(base, model).collect()
    }
    assert cells[0] == cells[20]


def test_ivf_kmeans_topk_finds_twin(emb):
    out = S.ivf_kmeans_topk(_padded_emb(emb), [0], k=3, n_clusters=4, iters=1).collect()
    assert out[0].neighbor_id == 20 and out[0].cosine > 0.999
    assert [r.rank for r in out] == [1, 2, 3]


def test_multimodal_meta_and_fake_decode(docs):
    media = M.documents_as_media(docs)
    row = {r.doc_id: r for r in media.collect()}[1]
    assert row.byte_len == len("The quick brown fox jumps over the lazy dog near the river bank")
    assert len(row.sha) == 64
    feats = M.decode_media(media, fake=True, feature_dim=4)
    out = feats.collect()
    assert len(out) == 6
    assert all(len(r.features) == 4 for r in out)
    assert all(abs(sum(r.features) - 1.0) < 1e-3 for r in out)


def test_multimodal_wav_roundtrip_real_bytes(docs):
    """The WAV path writes genuine RIFF containers and the decoder parses
    them back with the stdlib reader — verify one payload independently
    here (header fields + exact square-wave RMS)."""
    import io
    import wave as wave_mod

    media = {r.doc_id: r for r in M.synthesize_wav(docs).collect()}
    w = wave_mod.open(io.BytesIO(bytes(media[3].media)), "rb")
    rate, n, amp = M._wav_params(3)
    assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, rate)
    assert w.getnframes() == n
    decoded = {r.doc_id: r for r in M.decode_wav_meta(M.synthesize_wav(docs)).collect()}
    assert decoded[3].peak == amp and decoded[3].rms == float(amp)
    assert decoded[3].duration_us == n * 1_000_000 // rate


def test_multimodal_bmp_roundtrip_real_bytes(docs):
    """BMP payloads are real 24-bit bitmaps (padded bottom-up rows);
    decode recovers dimensions and exact channel means."""
    decoded = {r.doc_id: r for r in M.decode_bmp_meta(M.synthesize_bmp(docs)).collect()}
    for doc_id, row in decoded.items():
        w_px, h_px, r, g, b = M._bmp_params(doc_id)
        assert (row.width, row.height, row.bpp) == (w_px, h_px, 24)
        assert (row.mean_r, row.mean_g, row.mean_b) == (float(r), float(g), float(b))


def test_multimodal_strict_decode_raises(docs):
    import py4j
    media = M.documents_as_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        M.decode_media(media, fake=False).collect()


def test_multimodal_resize_preserves_schema_and_sizes(docs):
    from audience_manager_platform_spark.operators import multimodal as M

    media = M.documents_as_media(docs)
    out = M.resize_media(media, target_bytes=16, fake=True)
    # same columns and types (nullability differs: lit() columns are
    # non-nullable on the input side)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in media.schema
    ]
    rows = out.collect()
    assert rows and all(r.byte_len == 16 and len(r.media) == 16 for r in rows)


def test_multimodal_frame_sampling_one_to_many(docs):
    from audience_manager_platform_spark.operators import multimodal as M

    media = M.documents_as_media(docs)
    out = M.sample_frames(media, frame_bytes=8, every_nth=2, fake=True).collect()
    n_docs = media.count()
    assert len(out) > n_docs  # one-to-many expansion happened
    assert all(r.frame_idx % 2 == 0 for r in out)
    # frames re-concatenate into a prefix of the original payload
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.frame_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    first = by_doc[min(by_doc)]
    assert first[0].frame_idx == 0 and len(first[0].frame) == 8


def test_multimodal_strict_stages_raise(docs):
    import pytest as _pytest

    from audience_manager_platform_spark.operators import multimodal as M

    media = M.documents_as_media(docs)
    with _pytest.raises(Exception, match="NotImplementedError|resize"):
        M.resize_media(media, fake=False).collect()
    with _pytest.raises(Exception, match="NotImplementedError|frame"):
        M.sample_frames(media, fake=False).collect()


def test_corpus_split_deterministic_and_subset_stable(spark, sf_dir):
    """A doc's split never changes across runs or when the corpus
    shrinks/grows — the property randomSplit lacks."""
    from audience_manager_platform_spark.operators import corpus as C
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {r.doc_id: r.split for r in C.split_assign(docs).collect()}
    again = {r.doc_id: r.split for r in C.split_assign(docs).collect()}
    assert full == again
    subset = {
        r.doc_id: r.split
        for r in C.split_assign(docs.filter(F.col("doc_id") % 3 == 0)).collect()
    }
    assert all(full[k] == v for k, v in subset.items())
    # proportions land near the weights (hash-uniformity smoke)
    n = len(full)
    train = sum(1 for s in full.values() if s == "train") / n
    assert 0.8 < train < 0.97
    # a different salt reshuffles assignments
    resalted = {
        r.doc_id: r.split for r in C.split_assign(docs, salt="v2").collect()
    }
    assert resalted != full


def test_pack_sequences_contiguous_bins(spark, sf_dir):
    """Within a shard, bins are contiguous in doc_id order and every
    bin's payload starts below its budget boundary."""
    from audience_manager_platform_spark.operators import corpus as C
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    budget = 100
    out = C.pack_sequences(docs, token_budget=budget, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for rows in by_shard.values():
        running = 0
        for r in rows:
            assert r.bin_id == running // budget  # greedy contiguous layout
            running += r.n_tokens
        bins = [r.bin_id for r in rows]
        assert bins == sorted(bins)  # never decreasing in doc order


def test_decontaminate_flags_overlap_only(docs):
    """Docs sharing a 3-gram with the benchmark set get flagged; disjoint
    docs don't."""
    from audience_manager_platform_spark.operators import corpus as C

    bench = docs.filter(F.col("doc_id") == 1)
    out = {r.doc_id: r for r in C.decontaminate(docs, bench, n=3).collect()}
    assert out[1].contaminated  # benchmark doc itself overlaps trivially
    assert out[2].contaminated  # normalized duplicate of 1
    assert out[3].contaminated  # near-dup shares most 3-grams
    assert not out[4].contaminated and not out[5].contaminated
    assert not out[6].contaminated  # too short to have any 3-gram
    assert out[3].n_shared_grams < out[2].n_shared_grams


def test_minhash_hot_band_cap_bounds_candidates(spark):
    """A planted 60-doc identical cluster would emit ~1.8k candidate
    pairs from one band bucket; with max_band_size the cluster's bands
    are dropped while a genuine small near-dup pair (present in an
    uncapped bucket) still surfaces."""
    from audience_manager_platform_spark.operators import dedup as D

    boiler = "the same boilerplate licence header text repeated everywhere"
    rows = [(i, boiler) for i in range(60)]
    near = (
        "completely different long document about spark joins shuffles "
        "partitions watermarks catalysts codegen broadcast exchanges and "
        "adaptive execution planning at warehouse scale"
    )
    rows += [
        (100, near),
        (101, near + " extra"),  # one appended token -> very high jaccard
        (200, "unrelated text concerning window functions and watermarks"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = D.minhash_lsh_pairs(docs, est_threshold=0.5).collect()
    capped = D.minhash_lsh_pairs(docs, est_threshold=0.5, max_band_size=10).collect()

    cluster_pairs = {(r.doc_a, r.doc_b) for r in uncapped if r.doc_a < 100}
    assert len(cluster_pairs) == 60 * 59 // 2  # quadratic without the cap
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert not any(a < 100 for a, _ in capped_pairs)  # hot cluster dropped
    assert (100, 101) in capped_pairs  # real near-dup pair survives


def test_connected_components_chain_and_singletons(spark):
    """A 4-doc chain (diameter 3 — multiple propagation rounds) collapses
    to one cluster labeled by its min id; untouched docs stay singleton;
    the canonical pick is exactly one doc per cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id long")
    out = D.cluster_canonical(docs, pairs)
    got = {r.doc_id: (r.cluster_id, r.is_canonical) for r in out.collect()}
    assert len(got) == 12
    for d in (1, 2, 3, 4):
        assert got[d] == (1, d == 1)
    for d in (10, 11):
        assert got[d] == (10, d == 10)
    for d in (5, 6, 7, 8, 9, 12):
        assert got[d] == (d, True)


def test_connected_components_cache_clean(spark):
    """Iterative CC must leave nothing pinned in the block manager
    (materialize() goes through temp parquet, not persist)."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    D.cluster_canonical(docs, pairs).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_gopher_quality_rules(spark):
    """Each rule fails for exactly the doc planted to violate it."""
    the20 = "the " + " ".join(f"word{i:02d}" for i in range(19))  # 20 words, keeps
    short = "the tiny doc"                          # < 20 words
    nostop = " ".join(f"w{i}" for i in range(30))   # no stopword hit
    reps = "the " + " ".join(["spam"] * 29)         # dup_word_frac ~ 0.93
    docs = spark.createDataFrame(
        [(1, the20), (2, short), (3, nostop), (4, reps)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in T.gopher_quality(docs).collect()}
    assert got[1].keep and got[1].n_words == 20
    assert not got[2].keep
    assert not got[3].keep and got[3].stopword_hits == 0
    assert not got[4].keep and got[4].dup_word_frac > 0.9


def test_repetition_stats_planted(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "x y x y")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in T.repetition_stats(docs).collect()}
    assert got[1].top_token_frac == 0.8           # 'a' 4/5
    assert got[1].top_bigram_frac == 0.75         # 'a a' 3/4
    assert got[2].top_token_frac == 0.5
    assert round(got[2].top_bigram_frac, 6) == round(2 / 3, 6)  # 'x y' 2/3


def test_pii_scrub_counts_and_replacement(spark):
    docs = spark.createDataFrame(
        [(7, "hello world"), (77, "reach me"), (5, "nothing here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in T.pii_scrub(docs).collect()}
    assert got[7].emails_found == 1 and got[7].phones_found == 0
    assert "<EMAIL>" in got[7].scrubbed and "@" not in got[7].scrubbed
    # 77 = 7 * 11: both planted
    assert got[77].emails_found == 1 and got[77].phones_found == 1
    assert "<PHONE>" in got[77].scrubbed and "555" not in got[77].scrubbed
    assert got[5].emails_found == 0 and got[5].scrubbed == "nothing here"


def test_chunk_tokens_overlap_and_tail(spark):
    text = " ".join(f"t{i}" for i in range(20))  # 20 tokens
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        T.chunk_tokens(docs, chunk=16, stride=12).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [r.chunk_idx for r in rows] == [0, 1]
    assert rows[0].chunk_tokens == 16
    assert rows[0].chunk_text.startswith("t0 t1 ")
    # overlap: second chunk starts at token 12 and runs to the end
    assert rows[1].chunk_text.split() == [f"t{i}" for i in range(12, 20)]
    assert rows[1].chunk_tokens == 8


def test_semantic_dedup_drops_twin_keeps_original(emb):
    padded = _padded_emb(emb)
    out = {r.vec_id: r for r in S.semantic_dedup(padded, threshold=0.99, k=4, iters=2).collect()}
    assert len(out) == 21
    assert out[0].is_kept and not out[20].is_kept  # twin loses to min-id
    assert out[0].cluster_id == out[20].cluster_id  # compared within one cell
    # nothing else in the fixture is a semantic duplicate at 0.99
    assert sum(not r.is_kept for r in out.values()) == 1


def test_semantic_dedup_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = S.semantic_dedup(empty, threshold=0.9, k=4, iters=1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "cluster_id", "is_kept"]


def test_shuffle_shards_total_permutation(spark, sf_dir):
    """Every doc gets exactly one (shard, pos) slot, positions are dense
    from 0 within each shard, and the salt re-seeds the permutation."""
    from audience_manager_platform_spark.operators import corpus as C
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = C.shuffle_shards(docs, n_shards=8).collect()
    assert len({r.doc_id for r in out}) == len(out)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # re-salting permutes: some doc changes coordinates
    epoch1 = {r.doc_id: (r.shard_id, r.pos_in_shard) for r in out}
    epoch2 = {
        r.doc_id: (r.shard_id, r.pos_in_shard)
        for r in C.shuffle_shards(docs, n_shards=8, salt="epoch-1").collect()
    }
    assert epoch1 != epoch2
    # but the same salt is bit-stable across runs
    again = {
        r.doc_id: (r.shard_id, r.pos_in_shard)
        for r in C.shuffle_shards(docs, n_shards=8).collect()
    }
    assert epoch1 == again


def test_mixture_weights_flatten_head(spark):
    from audience_manager_platform_spark.operators import corpus as C

    rows = [(i, "a" if i < 80 else ("b" if i < 95 else "c")) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {r.lang: r for r in C.mixture_weights(docs, alpha=0.5).collect()}
    assert abs(sum(r.mixture_weight for r in out.values()) - 1.0) < 1e-5
    # temperature alpha<1 moves mass from head to tail vs raw shares
    assert out["a"].mixture_weight < out["a"].raw_share
    assert out["c"].mixture_weight > out["c"].raw_share
    # ordering is preserved (monotone transform)
    assert out["a"].mixture_weight > out["b"].mixture_weight > out["c"].mixture_weight


def test_quality_bins_monotone_and_complete(spark, sf_dir):
    from audience_manager_platform_spark.operators import corpus as C
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = C.quality_bins(docs).collect()
    assert len(out) == docs.count()  # every doc binned
    assert all(1 <= r.quality_bin <= 10 for r in out)
    # bins are monotone in score: max score of bin b <= min score of bin b+2
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.quality_bin, []).append(r.quality_score)
    bins = sorted(by_bin)
    assert len(bins) >= 5  # real spread on the fixture
    for lo, hi in zip(bins, bins[1:]):
        assert max(by_bin[lo]) <= min(by_bin[hi]) + 1e-9


def test_flipbook_sampler_walks_container(spark, sf_dir):
    """The sampler must split on the BMPs' declared sizes (variable
    frame lengths), honor every_nth, and decode the kept frames."""
    from audience_manager_platform_spark.operators import multimodal as M
    from audience_manager_platform_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(12)
    media = M.synthesize_flipbook(docs)
    all_frames = M.sample_flipbook_frames(media, every_nth=1).collect()
    sampled = M.sample_flipbook_frames(media, every_nth=2).collect()
    per_doc = {}
    for r in all_frames:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc_id, idxs in per_doc.items():
        # container fully walked: dense 0..n-1 matching the declared count
        n = M.FLIP_MIN_FRAMES + doc_id % M.FLIP_FRAME_MOD
        assert sorted(idxs) == list(range(n))
    kept = {(r.doc_id, r.frame_idx) for r in sampled}
    assert kept == {(d, i) for d, idxs in per_doc.items() for i in idxs if i % 2 == 0}
    # decoded facts are the synthesis arithmetic
    r0 = next(r for r in all_frames if r.frame_idx == 1)
    seed = M.FLIP_SEED_A * r0.doc_id + M.FLIP_SEED_B
    assert (r0.width, r0.height) == (4 + seed % 5, 4 + seed % 3)
    assert (r0.mean_r, r0.mean_g, r0.mean_b) == (
        float(seed % 256), float(seed * 7 % 256), float(seed * 13 % 256)
    )
