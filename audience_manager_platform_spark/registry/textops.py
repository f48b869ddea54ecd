"""Text-analysis + dedup query family on the documents fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import corpus as C
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..sources import jsonl as J
from ..sources import load_table
from .phash_pins import phash_neardup_oracle_sql


def _mh_sigs(s, d):
    """Shared materialized MinHash signature table (default n-gram
    order) — built once per session, read by every LSH consumer
    (pairs / accuracy / recall eval / threshold sweep / cluster
    canonical), the way a warehouse keeps signatures as a standing
    table across dedup runs."""
    from ..operators.partitioning import materialize

    from ._shared import shared

    return shared(
        s,
        ("minhash_sigs", d, D.NGRAM_N),
        lambda: materialize(D.minhash_signatures(_docs(s, d), D.NGRAM_N)),
    )


def _bpe_state(s, d):
    """Shared BPE training state (merge list + rewritten symbol table):
    train once per session, serve the model report and the corpus
    report from the same supersteps."""
    from ._shared import shared

    return shared(
        s, ("bpe_state", d, T.BPE_MERGES),
        lambda: T.bpe_train_state(_docs(s, d), T.BPE_MERGES),
    )


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _postings(s, d):
    """Shared materialized term-postings table (doc_id, term, tf) — the
    standing inverted-index asset of a lexical retrieval stack, built
    once per session and read by every bag-of-words consumer (TF-IDF,
    BM25, PRF, the posting-list seed). r11 (r10 verdict #3): these four
    queries each re-ran the tokenize+explode+count pipeline per call —
    PRF even re-materialized a private copy per invocation."""
    from ..operators.partitioning import materialize

    from ._shared import shared

    return shared(
        s, ("term_postings", d), lambda: materialize(T.term_postings(_docs(s, d)))
    )


def D_PHASH(spark, sf_dir):
    """Perceptual-hash near-dup pairs over the textured BMP corpus,
    ordered (doc_a, doc_b) for a stable rows-only artifact."""
    pairs = M.phash_hamming_pairs(
        M.synthesize_textured_bmp(_docs(spark, sf_dir))
    )
    return pairs.orderBy("doc_a", "doc_b")


_TEXT_KMEANS_CACHE: dict = {}


def _hash_embedded(s, d):
    """Shared materialized hashing-trick vector table (the no-model
    text->vector bridge): vectorize the corpus ONCE per session and let
    every consumer (the k-means fit's per-iteration passes, SemDeDup,
    the vectorizer audit) read the standing table — the r10 profile
    showed the tokenize+hash+assemble pipeline recomputed per collect.
    ``spread`` on the re-read: the tiny fixture table lands as 1-3
    AQE-coalesced files, which would run every downstream Arrow kernel
    in ONE task; on a real multi-split table the guard is a no-op."""
    from ..operators.partitioning import materialize, spread

    from ._shared import shared

    return shared(
        s,
        ("hash_embed", d, T.HASH_EMBED_DIM),
        lambda: spread(materialize(T.hash_embed(_docs(s, d)))),
    )


def _text_kmeans_model(s, d, k=64, iters=1):
    """Memoized k-means fit over the hashed text vectors (train once,
    serve many — the same contract as registry/similarity.py's
    _kmeans_model; the hash-embed input is a pure function of the
    fixture, so sf_dir keys it)."""
    key = (d, k, iters)
    if key not in _TEXT_KMEANS_CACHE:
        _TEXT_KMEANS_CACHE[key] = S.kmeans_fit_model(
            _hash_embedded(s, d), k, iters
        )
    return _TEXT_KMEANS_CACHE[key]


def _lsh_dedup_streaming(spark, sf_dir):
    """Drive the incremental LSH detector over a 3-chunk replay of the
    documents fixture and return the settled pairs log — checked against
    the ONE-SHOT batch MinHash-LSH oracle, the hard evidence that the
    ingestion-time fold converges to batch semantics exactly (each pair
    surfaces in the batch its second member arrives)."""
    import os

    from ..operators.partitioning import tracked_tempdir
    from ..streaming.jobs import chunked_replay, lsh_dedup_stream

    work = tracked_tempdir("amps_lsh_gate_")
    lsh_dedup_stream(
        chunked_replay(_docs(spark, sf_dir), "doc_id", work),
        os.path.join(work, "sigs"),
        os.path.join(work, "pairs"),
        os.path.join(work, "ckpt"),
        est_threshold=0.5,
    )
    return spark.read.parquet(os.path.join(work, "pairs"))


# Hot-band skew guard on every driver-visible LSH path (VERDICT r3 #1):
# a boilerplate cluster of k identical docs lands k members in one band
# bucket and the self-join emits k²/2 candidates from a single task.
# The cap bounds that to cap²; members of a dropped mega-band still pair
# in uncapped bands, and identical docs are exact-dedup's job anyway.
LSH_MAX_BAND = 100

# Literal search query for the BM25 entry: mid-frequency fixture vocab,
# so scores spread and the top-k is a meaningful ranking.
BM25_QUERY = ["spark", "join", "window"]


QUERIES = {
    "text_token_stats": lambda s, d: T.token_stats(_docs(s, d)),
    "text_bpe_token_stats": lambda s, d: T.bpe_token_stats(_docs(s, d)),
    "text_quality_score": lambda s, d: T.quality_score(_docs(s, d)),
    "text_language_id": lambda s, d: T.language_id(_docs(s, d)),
    # r6 queue: classifier-quality audit of the language filter
    "text_langid_confusion": lambda s, d: T.langid_confusion(_docs(s, d)),
    # r7 wave 41 (r8 queue): per-class P/R/F1 + macro rows, exact ppm
    "text_langid_macro_f1": lambda s, d: T.langid_macro_f1(_docs(s, d)),
    # wave 18: ranking power of the langid signal (exact tie-corrected
    # Mann-Whitney AUC; the confusion matrix only grades the argmax)
    "text_langid_en_auc": lambda s, d: T.langid_en_auc(_docs(s, d)),
    # wave 20: token-budget pricing inputs (tokens/word, chars/token
    # per language)
    "text_token_fertility": lambda s, d: T.token_fertility(_docs(s, d)),
    "text_fingerprint": lambda s, d: T.fingerprint(_docs(s, d)),
    "text_tfidf_top_terms": lambda s, d: T.tfidf_top_terms(
        _docs(s, d), k=5, postings=_postings(s, d)
    ),
    "text_gopher_quality": lambda s, d: T.gopher_quality(_docs(s, d)),
    "text_repetition_stats": lambda s, d: T.repetition_stats(_docs(s, d)),
    "text_pii_scrub": lambda s, d: T.pii_scrub(_docs(s, d)),
    "corpus_chunk_tokens": lambda s, d: T.chunk_tokens(_docs(s, d)),
    "corpus_bigram_topk": lambda s, d: T.bigram_topk(_docs(s, d), k=50),
    # r6 queue: PMI collocations — phrases, not boilerplate
    "text_bigram_pmi": lambda s, d: T.bigram_pmi(_docs(s, d), k=50),
    # r6 queue: Heaps'-law vocab growth with HLL bounded verdicts
    "text_vocab_growth": lambda s, d: T.vocab_growth_audit(_docs(s, d)),
    # r4: inverted-index seed (keyword-retrieval counterpart to ANN)
    "text_inverted_postings": lambda s, d: T.inverted_postings(
        _docs(s, d), postings=_postings(s, d)
    ),
    # r4 window: BM25 keyword retrieval — the lexical side of hybrid search
    "text_bm25_topk": lambda s, d: T.bm25_topk(
        _docs(s, d), BM25_QUERY, k=15, postings=_postings(s, d)
    ),
    # wave 21: RM3-lite pseudo-relevance feedback over the same seed
    # query — the recall-widening second pass above plain BM25
    "text_prf_expansion_topk": lambda s, d: T.prf_expanded_topk(
        _docs(s, d), BM25_QUERY, k=15, postings=_postings(s, d)
    ),
    # r4: per-source quota (the per-domain cap of web-corpus curation)
    "corpus_source_cap": lambda s, d: C.source_cap(_docs(s, d), cap=100),
    "text_length_bands": lambda s, d: T.length_bands(_docs(s, d)),
    "text_oov_rate_bands": lambda s, d: T.oov_rate_bands(_docs(s, d)),
    # r5 (deferred window): model-based quality filter scaffold
    "text_quality_logit": lambda s, d: T.quality_logit(_docs(s, d)),
    # r5 (deferred window): corpus-unigram LM scoring (perplexity-filter
    # scaffold)
    "text_unigram_logprob": lambda s, d: T.unigram_logprob(_docs(s, d)),
    # r5 wave 4: one order up the perplexity-filter ladder
    "text_bigram_logprob": lambda s, d: T.bigram_logprob(_docs(s, d)),
    # r5 (deferred window): Zipf-law corpus health check
    "text_zipf_fit": lambda s, d: T.zipf_fit(_docs(s, d)),
    # r5 (deferred window): hashing-trick vectorizer audit (the no-model
    # text->vector bridge into the ANN/SemDeDup stack)
    "text_hash_embed_stats": lambda s, d: T.hash_embed_stats(
        _docs(s, d), emb=_hash_embedded(s, d)
    ),
    # r5 (deferred window): SemDeDup over the hashed text vectors — the
    # full embedding-side dedup stack running on TEXT with no model
    "dedup_semantic_text": lambda s, d: S.semantic_dedup(
        _hash_embedded(s, d), threshold=0.9, k=64, iters=1,
        model=_text_kmeans_model(s, d),
    ),
    # r5: distributed BPE merge training (Sennrich 2016) — the learned
    # tokenizer model as supersteps over the word-frequency table
    "text_bpe_train": lambda s, d: T.bpe_train(
        _docs(s, d), state=_bpe_state(s, d)
    ),
    "text_bpe_vocab_stats": lambda s, d: T.bpe_vocab_stats(
        _docs(s, d), state=_bpe_state(s, d)
    ),
    # r5 wave 12: tokenizer APPLICATION — train on even doc_ids, encode
    # the held-out odd half with the shared merge-application code
    "text_bpe_encode": lambda s, d: T.bpe_encode_stats(_docs(s, d)),
    # r5: exact-substring span dedup (Lee et al. 2022 EXACTSUBSTR,
    # re-expressed as positional k-gram fingerprints + islands merge)
    "dedup_duplicate_spans": lambda s, d: D.duplicate_ngram_spans(_docs(s, d)),
    # r5: measured recall/precision of the LSH dedup path vs exact Jaccard
    "dedup_recall_eval": lambda s, d: D.dedup_recall_eval(
        _docs(s, d), sigs=_mh_sigs(s, d)
    ),
    # r5: incremental ingestion-time LSH (streaming fold == batch result)
    "streaming_lsh_dedup": _lsh_dedup_streaming,
    "dedup_exact": lambda s, d: D.exact_dedup(_docs(s, d)),
    # r10 wave 49: blocked exact-Levenshtein near-dup pairs over planted
    # 2-char-edit twins (the corpus has no natural small-edit pairs)
    "dedup_edit_distance": lambda s, d: D.edit_distance_pairs(
        D.plant_text_twins(_docs(s, d))
    ),
    "dedup_ngram_jaccard": lambda s, d: D.ngram_jaccard_pairs(_docs(s, d), threshold=0.6),
    "dedup_ngram_jaccard_capped": lambda s, d: D.ngram_jaccard_pairs(
        _docs(s, d), threshold=0.5, max_gram_df=25
    ),
    "dedup_minhash_signatures": lambda s, d: D.minhash_signatures(_docs(s, d)),
    "dedup_minhash_lsh_pairs": lambda s, d: D.minhash_lsh_pairs(
        _docs(s, d), est_threshold=0.5, max_band_size=LSH_MAX_BAND,
        sigs=_mh_sigs(s, d),
    ),
    # r6 queue: nightly-delta probe of the standing LSH index — pairs
    # touching the delta slice only, provably equal to the full pass
    "dedup_incremental_probe": lambda s, d: D.incremental_lsh_probe(
        _docs(s, d), est_threshold=0.5
    ),
    # r5: estimate-vs-truth audit of the MinHash estimator itself
    "dedup_minhash_accuracy": lambda s, d: D.minhash_accuracy(
        _docs(s, d), est_threshold=0.5, max_band_size=LSH_MAX_BAND,
        sigs=_mh_sigs(s, d),
    ),
    "dedup_simhash": lambda s, d: D.simhash(_docs(s, d)),
    "dedup_simhash_hamming_pairs": lambda s, d: D.simhash_hamming_pairs(
        _docs(s, d), max_hamming=3
    ),
    "dedup_ngram_containment": lambda s, d: D.ngram_containment_pairs(
        _docs(s, d), threshold=0.8
    ),
    # r4 window: C4-style line-level dedup audit (repeated-window removal)
    "dedup_line_stats": lambda s, d: D.line_dedup_stats(_docs(s, d)),
    # r5 (deferred window): the transform twin — cleaned text shipped
    "dedup_line_rewrite": lambda s, d: D.line_dedup_rewrite(_docs(s, d)),
    "dedup_cluster_canonical": lambda s, d: D.cluster_canonical(
        _docs(s, d),
        D.minhash_lsh_pairs(
            _docs(s, d), est_threshold=0.5, max_band_size=LSH_MAX_BAND,
            sigs=_mh_sigs(s, d),
        ),
    ),
    "multimodal_binary_meta": lambda s, d: M.documents_as_media(_docs(s, d)).select(
        "doc_id", "media_type", "byte_len", "sha"
    ),
    # REAL decode paths: synthesize genuine WAV/BMP bytes, decode them
    # back with stdlib parsers; the oracle predicts every field from the
    # synthesis formulas without touching bytes.
    "multimodal_wav_decode": lambda s, d: M.decode_wav_meta(
        M.synthesize_wav(_docs(s, d))
    ),
    # r7 wave 35 (r8 queue): shot-boundary motion profile from the
    # real container walk (exact integer mean-color jumps)
    "multimodal_flipbook_motion": lambda s, d: M.flipbook_motion_profile(
        M.synthesize_flipbook(_docs(s, d))
    ),
    "multimodal_frame_sample": lambda s, d: M.sample_flipbook_frames(
        M.synthesize_flipbook(_docs(s, d))
    ),
    "multimodal_bmp_decode": lambda s, d: M.decode_bmp_meta(
        M.synthesize_bmp(_docs(s, d))
    ),
    # r6 queue: REAL resize — decode, nearest-neighbor resample,
    # re-encode a valid BMP, decode the result
    "multimodal_bmp_resize": lambda s, d: M.bmp_resize_meta(_docs(s, d)),
    # wave 21: brightness/contrast pre-filter from a real pixel walk
    # over shaded synthetic BMPs (odd doc_ids planted flat)
    "multimodal_bmp_stats": lambda s, d: M.bmp_channel_stats(
        M.synthesize_bmp_shaded(_docs(s, d))
    ),
    # r7 wave 31 (r8 queue): ViT-style 2x2 tiling — per-quadrant
    # channel means from the same real pixel walk
    "multimodal_bmp_tile_stats": lambda s, d: M.bmp_tile_stats(
        M.synthesize_bmp_shaded(_docs(s, d))
    ),
    # r6 queue: real PCM decimation (decode -> every-2nd-sample ->
    # re-encode -> decode-verify; aliasing analytically predicted)
    "multimodal_wav_downsample": lambda s, d: M.wav_downsample_meta(
        _docs(s, d)
    ),
    # r5 wave 16: energy-based VAD over planted frame-aligned silence
    "multimodal_wav_vad": lambda s, d: M.wav_vad_segments(
        M.synthesize_wav_gapped(_docs(s, d))
    ),
    # r10 wave 52: audio envelope-fingerprint dedup over REAL decoded
    # PCM with planted loudness twins (same envelope, half amplitude)
    "multimodal_audio_fingerprint": lambda s, d: M.audio_fingerprint_clusters(
        M.synthesize_wav_twinned(_docs(s, d))
    ),
    # corpus-curation pipeline ops
    "corpus_split_assign": lambda s, d: C.split_assign(_docs(s, d)),
    # r6 queue: split-leakage audit — doc-id-hash vs cluster-safe splits
    "corpus_cluster_safe_split": lambda s, d: C.cluster_safe_split(
        _docs(s, d)
    ),
    # r6 queue: replayable weighted interleave (training-stream order)
    "corpus_interleave_schedule": lambda s, d: C.interleave_schedule(
        _docs(s, d)
    ),
    "corpus_pack_sequences": lambda s, d: C.pack_sequences(_docs(s, d)),
    "corpus_decontaminate": lambda s, d: C.decontaminate(
        _docs(s, d), _docs(s, d).filter(F.col("doc_id") % 50 == 0)
    ),
    # r4: same semantics, bloom-prefilter posture (128 KiB broadcast
    # bitmap instead of a benchmark-sized hash relation; exact confirm
    # join removes every false positive, so the oracle is the exact one)
    "corpus_bloom_decontaminate": lambda s, d: C.bloom_decontaminate(
        _docs(s, d), _docs(s, d).filter(F.col("doc_id") % 50 == 0)
    ),
    "corpus_shuffle_shards": lambda s, d: C.shuffle_shards(_docs(s, d)),
    # r8 wave 41: per-group fixed-n reservoir (equal representation per
    # source — the balanced-eval-set builder; exact counts where
    # stratified_sample is fractional and sample_fixed_n is global)
    "sample_reservoir_per_source": lambda s, d: C.reservoir_per_group(
        _docs(s, d), "source", "doc_id", n=5
    ),
    # r8 wave 43 (r9 queue): JSONL ingestion with corrupt-record
    # quarantine (explicit schema, PERMISSIVE, dead-letter column)
    "source_jsonl_corrupt_audit": lambda s, d: J.jsonl_corrupt_audit(
        s, _docs(s, d)
    ),
    # r8 wave 44 (r9 queue): exact-phrase retrieval via the positional
    # self-join a positional inverted index performs
    "text_phrase_search": lambda s, d: T.phrase_search(
        _docs(s, d), ["table", "table"]
    ),
    "corpus_mixture_weights": lambda s, d: C.mixture_weights(_docs(s, d)),
    "corpus_quality_bins": lambda s, d: C.quality_bins(_docs(s, d)),
    # r5: DSIR importance-resampling weights (hashed-unigram target/raw
    # log-likelihood ratio — the published data-selection scorer)
    "corpus_dsir_weights": lambda s, d: C.dsir_weights(_docs(s, d)),
    # r5: per-source exact-dup + cross-source syndication profile
    "corpus_dup_rate_by_source": lambda s, d: C.dup_rate_by_source(
        _docs(s, d)
    ),
    # r5: langid -> gopher -> dedup attrition funnel
    "corpus_filter_funnel": lambda s, d: C.filter_funnel(_docs(s, d)),
    # r5 wave 13: benchmark-canary decontamination scan
    "corpus_canary_scan": lambda s, d: C.canary_scan(_docs(s, d)),
    # r5: context-window fill histogram over the packer
    "corpus_pack_efficiency": lambda s, d: C.pack_efficiency(_docs(s, d)),
    # r5: novelty curve — per doc_id decile, share of n-grams first seen
    # there (corpus diversity/saturation report)
    "corpus_ngram_novelty": lambda s, d: C.ngram_novelty(_docs(s, d)),
    # r6 queue: Flesch/FK readability (quality-ladder axis)
    "text_readability": lambda s, d: T.readability_scores(_docs(s, d)),
    # r6 queue: RAKE keyphrase extraction (corpus top-30)
    "text_rake_keywords": lambda s, d: T.rake_keywords(_docs(s, d)),
    # r6 queue: fuzzy train/benchmark contamination via cross-side LSH
    "dedup_cross_corpus": lambda s, d: D.cross_corpus_contamination(
        _docs(s, d), eval_source="src0", max_band_size=LSH_MAX_BAND
    ),
    # r6 queue: per-slice token-budget epochs + repeat-risk verdicts
    "corpus_epoch_budget": lambda s, d: C.epoch_budget(_docs(s, d)),
    # r6 queue: per-source unigram JSD vs the corpus mixture
    "corpus_source_jsd": lambda s, d: C.source_unigram_jsd(_docs(s, d)),
    # r7 wave 28 (r8 queue): pairwise source n-gram overlap — the
    # dedup-before-mixing map (JSD grades distribution shift; THIS
    # grades literal shared content)
    "corpus_source_overlap_matrix": lambda s, d: C.source_overlap_matrix(
        _docs(s, d)
    ),
    # r6 queue: dedup ROI curve — pairs/docs flagged per LSH threshold
    "dedup_threshold_sweep": lambda s, d: D.lsh_threshold_sweep(
        _docs(s, d), max_band_size=LSH_MAX_BAND, sigs=_mh_sigs(s, d)
    ),
    # r6 queue: soft dedup — 1/|dup-group| loss weights, no row drops
    "dedup_soft_weights": lambda s, d: D.soft_dedup_weights(_docs(s, d)),
    # wave 24: canonical-URL dedup — scheme/host case, www., utm_*
    # params, fragments, trailing slash collapsed before any content
    # comparison (both engines synthesize the SAME raw URL from doc_id,
    # so the oracle checks the canonicalization itself)
    "dedup_url_canonical": lambda s, d: D.url_canonical_dedup(_docs(s, d)),
    # wave 25: Snorkel-style labeling-function diagnostics (coverage /
    # accuracy-vs-gold / majority ensemble) — the audit run before any
    # label model is fit over weak supervision sources
    "text_weak_label_votes": lambda s, d: T.weak_label_votes(_docs(s, d)),
    # r7 wave 27 (r8 queue): code-vs-prose triage before prose-only
    # quality filters touch code (shared doc_id-keyed synthesis — the
    # oracle checks the detector, not the synthesis)
    "text_code_detect": lambda s, d: T.code_detect(_docs(s, d)),
    # wave 25: reliability bins + per-bin calibration gap for the langid
    # score (confusion grades argmax, AUC the ranking, THIS the
    # probabilities a threshold-picker consumes); zero floats anywhere
    "text_langid_calibration": lambda s, d: T.langid_calibration(
        _docs(s, d)
    ),
    # wave 24: perceptual near-duplicate IMAGE pairs — 64-bit DCT pHash
    # over real decoded BMPs, banded hamming join + exact bit_count
    # verify. The 32x32 DCT has no practical SQL twin, so this is a
    # rows-only driver check; the planted-twin recall and band-recall
    # contracts are pytest-pinned (tests/test_r5_operators.py,
    # tests/test_r6_operators.py).
    "multimodal_phash_neardup": lambda s, d: D_PHASH(s, d),
}

ORACLES = {
    "text_token_stats": T.token_stats_sql(),
    "text_bpe_token_stats": T.bpe_token_stats_sql(),
    "text_quality_score": T.quality_score_sql(),
    "text_langid_confusion": T.langid_confusion_sql(),
    "text_langid_macro_f1": T.langid_macro_f1_sql(),
    "text_langid_en_auc": T.langid_en_auc_sql(),
    "text_token_fertility": T.token_fertility_sql(),
    "text_language_id": T.language_id_sql(),
    "text_fingerprint": T.fingerprint_sql(),
    "text_tfidf_top_terms": T.tfidf_top_terms_sql(k=5),
    "text_gopher_quality": T.gopher_quality_sql(),
    "text_repetition_stats": T.repetition_stats_sql(),
    "text_pii_scrub": T.pii_scrub_sql(),
    "corpus_chunk_tokens": T.chunk_tokens_sql(),
    "corpus_bigram_topk": T.bigram_topk_sql(k=50),
    "text_bigram_pmi": T.bigram_pmi_sql(k=50),
    "text_vocab_growth": T.vocab_growth_audit_sql(),
    "text_inverted_postings": T.inverted_postings_sql(),
    "text_bm25_topk": T.bm25_topk_sql(BM25_QUERY, k=15),
    "text_prf_expansion_topk": T.prf_expanded_topk_sql(BM25_QUERY, k=15),
    "text_quality_logit": T.quality_logit_sql(),
    "text_unigram_logprob": T.unigram_logprob_sql(),
    "text_bigram_logprob": T.bigram_logprob_sql(),
    "text_zipf_fit": T.zipf_fit_sql(),
    "text_hash_embed_stats": T.hash_embed_stats_sql(),
    "dedup_semantic_text": S.semantic_dedup_sql(
        threshold=0.9, k=64, iters=1,
        src="(" + T.hash_embed_sql() + ") he",
    ),
    "corpus_source_cap": C.source_cap_sql(cap=100),
    "text_length_bands": T.length_bands_sql(),
    "text_oov_rate_bands": T.oov_rate_bands_sql(),
    "text_bpe_train": T.bpe_train_sql(),
    "text_bpe_vocab_stats": T.bpe_vocab_stats_sql(),
    "text_bpe_encode": T.bpe_encode_stats_sql(),
    "dedup_duplicate_spans": D.duplicate_ngram_spans_sql(),
    "dedup_recall_eval": D.dedup_recall_eval_sql(),
    "streaming_lsh_dedup": D.minhash_lsh_pairs_sql(est_threshold=0.5),
    "dedup_exact": D.exact_dedup_sql(),
    "dedup_ngram_jaccard": D.ngram_jaccard_pairs_sql(threshold=0.6),
    "dedup_edit_distance": D.edit_distance_pairs_sql("documents"),
    "dedup_ngram_jaccard_capped": D.ngram_jaccard_pairs_sql(
        threshold=0.5, max_gram_df=25
    ),
    "dedup_minhash_signatures": D.minhash_signatures_sql(),
    "dedup_minhash_lsh_pairs": D.minhash_lsh_pairs_sql(
        est_threshold=0.5, max_band_size=LSH_MAX_BAND
    ),
    "dedup_incremental_probe": D.incremental_lsh_probe_sql(
        est_threshold=0.5
    ),
    "dedup_minhash_accuracy": D.minhash_accuracy_sql(
        est_threshold=0.5, max_band_size=LSH_MAX_BAND
    ),
    "dedup_simhash": D.simhash_sql(),
    "dedup_simhash_hamming_pairs": D.simhash_hamming_pairs_sql(max_hamming=3),
    "dedup_ngram_containment": D.ngram_containment_pairs_sql(threshold=0.8),
    "dedup_line_stats": D.line_dedup_stats_sql(),
    "dedup_line_rewrite": D.line_dedup_rewrite_sql(),
    "dedup_cluster_canonical": D.cluster_canonical_sql(
        est_threshold=0.5, max_band_size=LSH_MAX_BAND
    ),
    "multimodal_binary_meta": """
        SELECT doc_id, 'text/plain' AS media_type,
               octet_length(encode(text)) AS byte_len,
               sha256(text) AS sha
        FROM documents
    """,
    "multimodal_wav_decode": M.wav_meta_oracle_sql(),
    "multimodal_wav_vad": M.wav_vad_oracle_sql(),
    "multimodal_audio_fingerprint": M.audio_fingerprint_oracle_sql(),
    "multimodal_frame_sample": M.flipbook_frames_oracle_sql(),
    "multimodal_bmp_decode": M.bmp_meta_oracle_sql(),
    "multimodal_bmp_resize": M.bmp_resize_meta_oracle_sql(),
    "multimodal_bmp_stats": M.bmp_channel_stats_oracle_sql(),
    "multimodal_bmp_tile_stats": M.bmp_tile_stats_oracle_sql(),
    "multimodal_flipbook_motion": M.flipbook_motion_oracle_sql(),
    "multimodal_wav_downsample": M.wav_downsample_meta_oracle_sql(),
    "multimodal_phash_neardup": phash_neardup_oracle_sql(),
    "corpus_split_assign": C.split_assign_sql(),
    "corpus_cluster_safe_split": C.cluster_safe_split_sql(),
    "corpus_interleave_schedule": C.interleave_schedule_sql(),
    "corpus_pack_sequences": C.pack_sequences_sql(),
    "corpus_decontaminate": C.decontaminate_sql(),
    "corpus_bloom_decontaminate": C.decontaminate_sql(),
    "corpus_shuffle_shards": C.shuffle_shards_sql(),
    "sample_reservoir_per_source": C.reservoir_per_group_sql(
        "documents", "source", "doc_id", n=5
    ),
    "source_jsonl_corrupt_audit": J.jsonl_corrupt_audit_sql(),
    "text_phrase_search": T.phrase_search_sql(["table", "table"]),
    "corpus_mixture_weights": C.mixture_weights_sql(),
    "corpus_quality_bins": C.quality_bins_sql(),
    "corpus_dsir_weights": C.dsir_weights_sql(),
    "corpus_dup_rate_by_source": C.dup_rate_by_source_sql(),
    "corpus_filter_funnel": C.filter_funnel_sql(),
    "corpus_canary_scan": C.canary_scan_sql(),
    "corpus_pack_efficiency": C.pack_efficiency_sql(),
    "corpus_ngram_novelty": C.ngram_novelty_sql(),
    "text_readability": T.readability_scores_sql(),
    "text_rake_keywords": T.rake_keywords_sql(),
    "dedup_cross_corpus": D.cross_corpus_contamination_sql(
        eval_source="src0", max_band_size=LSH_MAX_BAND
    ),
    "corpus_epoch_budget": C.epoch_budget_sql(),
    "corpus_source_jsd": C.source_unigram_jsd_sql(),
    "corpus_source_overlap_matrix": C.source_overlap_matrix_sql(),
    "dedup_threshold_sweep": D.lsh_threshold_sweep_sql(
        max_band_size=LSH_MAX_BAND
    ),
    "dedup_soft_weights": D.soft_dedup_weights_sql(),
    "dedup_url_canonical": D.url_canonical_dedup_sql(),
    "text_weak_label_votes": T.weak_label_votes_sql(),
    "text_code_detect": T.code_detect_sql(),
    "text_langid_calibration": T.langid_calibration_sql(),
}
