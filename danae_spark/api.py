"""User-facing engine facade.

The reference exposes its functionality as services (`search/main_flask.py`
POST endpoint, `ingest/publishing/publishing_api.py` publish API, worker
loops for profiling). This class is the Spark-native equivalent surface: a
user of the reference switches by constructing one object over their lake
directory and calling the same verbs.

Every method returns a DataFrame (lazy — compose further or collect), and
delegates to the operator modules, so this file adds no logic of its own.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from danae_spark import catalog as _catalog
from danae_spark.operators import ann as _ann
from danae_spark.operators import dedup as _dedup
from danae_spark.operators import textstats as _textstats
from danae_spark.profiling import incremental as _incremental
from danae_spark.profiling import profiler as _profiler
from danae_spark.profiling import tfidf as _tfidf
from danae_spark.search import engine as _engine
from danae_spark.search import knn as _knn
from danae_spark.search import matching as _matching
from danae_spark.search import metadata as _metadata
from danae_spark.session import tune_for_session


class DataLakeEngine:
    """One handle over a lake directory: catalog, profile, search,
    dedup/ANN, text analysis, publish."""

    def __init__(
        self,
        spark: SparkSession,
        lake_dir: str,
        embeddings: "DataFrame | None" = None,
    ):
        """`embeddings`: optional term→vector lookup table
        (`term string, vector array<double-ish>`, e.g. GloVe-50d read
        from its published text file) used by the Categorical search
        index; defaults to the built-in deterministic stand-in."""
        self.spark = tune_for_session(spark)
        self.lake_dir = lake_dir
        self.embeddings = embeddings
        self._index: _engine.SearchIndex | None = None  # built by the first search
        self._bm25_index: _metadata.Bm25Index | None = None  # by the first metadata_search
        self._index_lock = threading.Lock()
        # make danae_spark importable on Spark Python workers no matter
        # the caller's cwd — the frame verbs' Arrow closures pickle by
        # module reference (same guarantee the registered queries get)
        from danae_spark.shipping import ensure_shipped

        ensure_shipped(spark)

    # ---------------------------------------------------------- catalog
    def catalog(self) -> DataFrame:
        return _catalog.catalog_datasets(self.spark, self.lake_dir)

    def table(self, name: str) -> DataFrame:
        return _catalog.load_table(self.spark, self.lake_dir, name)

    def publish(self, df: DataFrame, path: str, title: str, **meta) -> dict:
        return _catalog.publish_dataset(df, path, title, **meta)

    # -------------------------------------------------------- profiling
    def profile(self) -> DataFrame:
        return _profiler.numeric_profile(self.spark, self.lake_dir)

    def profile_extended(self, exact: bool = True) -> DataFrame:
        """Reference-breadth numeric profile (+ skewness/kurtosis/CV/
        missing-pct). `exact=False` is the 100 TB mode: plain double
        sums, ~2x cheaper, last-ulp order dependence."""
        return _profiler.numeric_profile_extended(
            self.spark, self.lake_dir, exact=exact
        )

    def profile_state(self, df: DataFrame, table: str) -> DataFrame:
        """Mergeable per-column profile state for one slice of a table
        (incremental profiling: state frames from independent slices /
        days / partitions merge with `merge_profile_states`)."""
        return _incremental.partial_state(df, table)

    @staticmethod
    def merge_profile_states(states: list[DataFrame], extended: bool = False) -> DataFrame:
        """Merge slice states and finalize display stats; `extended=True`
        adds skewness/kurtosis/CV/missing-pct (bit-identical to the
        one-shot profile_extended for in-domain columns)."""
        merged = _incremental.merge_states(states)
        if extended:
            return _incremental.finalize_extended(merged)
        return _incremental.finalize(merged)

    def signatures(self) -> DataFrame:
        return _profiler.signature_profile(self.spark, self.lake_dir)

    def top_terms(self, k: int = 10) -> DataFrame:
        return _tfidf.categorical_topk_combined(self.spark, self.lake_dir, k=k)

    # ----------------------------------------------------------- search
    def similar_columns(self, k: int = 3) -> DataFrame:
        return _knn.signature_knn(
            self.spark, self.lake_dir, k=k, embeddings=self.embeddings
        )

    def column_similarities(self, L: int = 5, M: int = 10) -> DataFrame:
        return _knn.content_similarity(
            self.spark, self.lake_dir, L=L, M=M, embeddings=self.embeddings
        )

    def matching_scores(self, type_weights: dict[str, float] | None = None) -> DataFrame:
        return _matching.dataset_matching_scores(
            self.spark, self.lake_dir, type_weights, embeddings=self.embeddings
        )

    def search(
        self,
        dataset: str | None = None,
        k: int = 3,
        w_content: float = _engine.W_CONTENT,
        w_metadata: float = _engine.W_METADATA,
        type_weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """Combined content+metadata dataset search — for one query
        dataset (the reference's POST /search) or, with `dataset=None`,
        for every dataset. The first call builds the engine's
        `SearchIndex` (engine.py) from the lake and `embeddings`: the
        column similarities and pairwise catalog BM25 scores, Σ columns
        × M plus n² rows on the driver. Every call is answered from it
        without a Spark job, with the rows of the batch plan
        `engine.dataset_search`. Raises ValueError for an unknown
        dataset, k < 1, a negative or non-finite weight, or an unknown
        type_weights key."""
        index = self._built(
            "_index",
            lambda: _engine.SearchIndex.build(self.spark, self.lake_dir, self.embeddings),
        )
        return index.search(self.spark, dataset, k, w_content, w_metadata, type_weights)

    def metadata_search(self, query: str, k: int = 20) -> DataFrame:
        """Keyword search over the lake's `documents` — boosted
        multi-field BM25 (title / keywords / body), the reference's
        metadata search. The first call builds the engine's document
        `Bm25Index` (metadata.py): the BM25 impact of every (field,
        term, doc) posting, on the driver. Every call is answered from
        it without a Spark job, as the top-k (doc_id, score, norm_score,
        rank) rows of the DuckDB reference `bm25_search_oracle`. Raises
        ValueError for a query with no terms or k < 1."""
        pairs = _metadata.keyword_pairs(query)
        index = self._built(
            "_bm25_index", lambda: _metadata.document_index(self.spark, self.lake_dir)
        )
        return index.top_k(self.spark, pairs, k)

    def _built(self, name: str, build):
        """The index held in attribute `name`, built by `build()` on first
        use. Concurrent first callers wait for one build; later callers
        read it without taking the lock."""
        index = getattr(self, name)
        if index is None:
            with self._index_lock:
                index = getattr(self, name)
                if index is None:
                    index = build()
                    setattr(self, name, index)
        return index

    # ------------------------------------------------------ dedup / ANN
    def dedup(self, method: str = "minhash", **kw) -> DataFrame:
        fns = {
            "exact": _dedup.dedup_exact,
            "ngram": _dedup.dedup_ngram_jaccard,
            "minhash": _dedup.dedup_minhash_md5,
            "minhash_fast": _dedup.dedup_minhash_xxhash64,
            "simhash": _dedup.dedup_simhash,
            # "embedding" is the LSH-bucketed scale path; the exact O(N²)
            # broadcast twin is opt-in and row-count-guarded
            "embedding": _dedup.dedup_embedding_lsh,
            "embedding_exact": _dedup.dedup_embedding_cosine,
            # exact-substring: maximal verbatim shared spans (r6)
            "spans": _dedup.dedup_shared_spans,
        }
        return fns[method](self.spark, self.lake_dir, **kw)

    def dedup_clusters(self, pairs: DataFrame | None = None) -> DataFrame:
        """Connected-component cluster ids + keeper flags over dup pairs
        (defaults to the MinHash-LSH pair set)."""
        return _dedup.dedup_clusters(self.spark, self.lake_dir, pairs=pairs)

    def canonical_keeper(self, pairs: DataFrame | None = None) -> DataFrame:
        """Quality-aware canonical per near-dup cluster: keep the
        highest-quality member, final keep = canonical AND quality pass."""
        return _dedup.canonical_keeper(self.spark, self.lake_dir, pairs=pairs)

    def remove_spans(self, docs: DataFrame, **kw) -> DataFrame:
        """Rewrite docs with duplicated verbatim spans cut (one copy
        kept per pair) — the actionable half of dedup('spans')."""
        return _dedup.remove_shared_spans(docs, **kw)

    def curate(self) -> DataFrame:
        """The whole pipeline in one call: clusters -> quality-aware
        canonical keeper -> span removal among survivors -> final
        publishable corpus with provenance."""
        return _dedup.curate_corpus(self.spark, self.lake_dir)

    def decontaminate(
        self, benchmark: DataFrame | None = None, n: int = _dedup.CONTAM_NGRAM, **kw
    ) -> DataFrame:
        """Benchmark decontamination. Pass your real eval set as
        `benchmark` (any (id, text) frame — see contamination_check for
        column options); defaults to the lake stand-in split. If the
        benchmark is itself a slice of this lake's documents, exclude
        those ids from the corpus first (a doc trivially shares every
        gram with itself)."""
        if benchmark is not None:
            docs = self.table("documents").select("doc_id", "text")
            return _dedup.contamination_check(docs, benchmark, n=n, **kw)
        return _dedup.contamination_ngram(self.spark, self.lake_dir, n=n)

    def ann(self, method: str = "lsh", **kw) -> DataFrame:
        from danae_spark.operators import quantize as _quantize

        fns = {
            "brute": _ann.ann_cosine_topk,
            "lsh": _ann.ann_lsh_bucketed,
            "ivf": _ann.ann_ivf,
            # Lloyd-trained codebook: even list sizes on skewed
            # embedding distributions (operators/ann.py)
            "ivf_trained": _ann.ann_ivf_trained,
            "quantized": _quantize.quantized_ann_topk,
        }
        if method in ("pq", "ivfpq"):
            from danae_spark.operators.pq import ivfpq_ann_topk, pq_ann_topk

            fn = pq_ann_topk if method == "pq" else ivfpq_ann_topk
            return fn(self.spark, self.lake_dir, **kw)
        return fns[method](self.spark, self.lake_dir, **kw)

    def audio_meta(self, df: DataFrame, **kw) -> DataFrame:
        """WAV/MP3 header metadata over any (id, binary) frame
        (multimodal/binary.py audio_meta_frame)."""
        from danae_spark.multimodal.binary import audio_meta_frame

        return audio_meta_frame(df, **kw)

    def mp3_census(self, df: DataFrame, **kw) -> DataFrame:
        """Structural MPEG-1 Layer III census over any (id, binary)
        frame: per-stream frame counts, duration, bit-reservoir depth,
        short-block density, Huffman partition stats — the bit-exact
        side-info walk one level below audio_meta (multimodal/mp3.py;
        sample decode is the documented out-of-scope boundary)."""
        from danae_spark.multimodal.mp3 import mp3_sideinfo_frame

        return mp3_sideinfo_frame(df, **kw)

    def mp4_census(self, df: DataFrame, **kw) -> DataFrame:
        """MP4/ISO-BMFF sample-table census over any (id, binary)
        frame: per-file track/sample/chunk/keyframe counts, media byte
        volume, stts-derived durations, ctts totals — the full stbl
        walk with cross-table integrity validation, one level below
        video_meta's box walk (multimodal/mp4.py; codec sample decode
        shares MP3's documented out-of-scope boundary)."""
        from danae_spark.multimodal.mp4 import mp4_samples_frame

        return mp4_samples_frame(df, **kw)

    def mp4_fragment_census(self, df: DataFrame, **kw) -> DataFrame:
        """Fragmented-MP4 (DASH/CMAF) census over any (id, binary)
        frame: per-file fragment/sample/keyframe counts, media byte
        volume, run-table durations, composition-offset totals — the
        moof/traf/tfhd/trun walk with the full default cascade
        (multimodal/mp4.py parse_mp4_fragments); unfragmented files go
        through mp4_census instead."""
        from danae_spark.multimodal.mp4 import mp4_fragments_frame

        return mp4_fragments_frame(df, **kw)

    def id3_extract(self, df: DataFrame, **kw) -> DataFrame:
        """ID3v2 metadata extraction over any (id, binary) frame:
        title/artist/album/year text frames (v2.3 + v2.4, all four
        encodings) for the metadata-search stack; garbled tags yield
        null rows (multimodal/id3.py)."""
        from danae_spark.multimodal.id3 import id3_frame

        return id3_frame(df, **kw)

    def subtitle_extract(self, df: DataFrame, **kw) -> DataFrame:
        """SRT/WebVTT subtitle extraction over any (id, binary) frame:
        cue counts, durations, and the extracted transcript text —
        ready to feed the text-curation operators (quality filters,
        dedup, token budgets). Malformed sidecars yield null rows
        rather than contributing garbage text
        (multimodal/subtitles.py)."""
        from danae_spark.multimodal.subtitles import subtitle_frame

        return subtitle_frame(df, **kw)

    def webm_census(self, df: DataFrame, **kw) -> DataFrame:
        """WebM/Matroska census over any (id, binary) frame: doc type,
        timescale, duration, per-type track inventory with video
        dimensions and audio params, cluster/block/keyframe counts and
        media byte volume — the full RFC 8794 EBML walk with
        structural validation (multimodal/webm.py)."""
        from danae_spark.multimodal.webm import webm_census_frame

        return webm_census_frame(df, **kw)

    def ogg_census(self, df: DataFrame, **kw) -> DataFrame:
        """Ogg (Opus/Vorbis) container census over any (id, binary)
        frame: codec, channels, rate, page/packet counts, payload
        bytes, duration — RFC 3533 page walk with per-page CRC,
        sequence and continuation validation, Opus TOC packet parse
        with the granule cross-check (multimodal/ogg.py)."""
        from danae_spark.multimodal.ogg import ogg_census_frame

        return ogg_census_frame(df, **kw)

    def mkv_tags(self, df: DataFrame, **kw) -> DataFrame:
        """Matroska Tags (SimpleTag) metadata extraction over any
        (id, binary) frame: title/artist/album/date strings plus
        tag counts for the metadata-search stack; untagged or garbled
        payloads yield null rows (multimodal/webm.py
        parse_mkv_tags)."""
        from danae_spark.multimodal.webm import mkv_tags_frame

        return mkv_tags_frame(df, **kw)

    def ogg_tags(self, df: DataFrame, **kw) -> DataFrame:
        """VorbisComment/OpusTags extraction over any (id, binary)
        frame: vendor, comment count, title/artist/album/date strings
        for the metadata-search stack (keys case-insensitive, comment
        packets reassembled across pages); malformed comment blocks
        yield null rows (multimodal/ogg.py parse_ogg_tags)."""
        from danae_spark.multimodal.ogg import ogg_tags_frame

        return ogg_tags_frame(df, **kw)

    def flac_pcm(self, df: DataFrame, **kw) -> DataFrame:
        """Lossless FLAC decode over any (id, binary) frame: per-file
        sample rate, channels, sample count, and the energy/gradient
        audio fingerprint from the REAL decoded PCM — full RFC 9639
        decoder with CRC-8/CRC-16 and STREAMINFO-MD5 validation
        (multimodal/flac.py); undecodable or corrupt payloads yield
        null rows, never executor errors."""
        from danae_spark.multimodal.flac import flac_pcm_frame

        return flac_pcm_frame(df, **kw)

    def media_triage(self, df: DataFrame, **kw) -> DataFrame:
        """One-pass mixed-payload dispatcher over any (id, binary)
        frame: every blob classified (image/audio/video/subtitle),
        format-identified, and duration-measured by the right
        validated walker; unrecognized or corrupt payloads yield null
        rows — run this FIRST over a crawl's binary column, then route
        classes to the per-format censuses and the near-dup stack
        (multimodal/triage.py)."""
        from danae_spark.multimodal.triage import media_triage_frame

        return media_triage_frame(df, **kw)

    def media_fingerprints(self, df: DataFrame, **kw) -> DataFrame:
        """Triage + per-class near-dup fingerprint in ONE decode pass
        over a mixed binary column (56-bit dHash for images, 63-bit
        energy-gradient hash for PCM-decodable audio); classes the
        engine does not sample-decode carry a null hash."""
        from danae_spark.multimodal.triage import media_fingerprint_frame

        return media_fingerprint_frame(df, **kw)

    def media_near_dup(self, df: DataFrame, **kw) -> DataFrame:
        """End-to-end near-dup over a MIXED binary column: one
        triage+decode+fingerprint pass, then the banded hamming LSH
        join per media class at its hash width — cross-container
        duplicates (WAV vs FLAC, PNG vs BMP) pair up because the
        fingerprints come from the decoded samples. Returns
        (media_class, d1, d2, hamming); band_k=2 for big corpora."""
        from danae_spark.multimodal.triage import media_near_dup_frame

        return media_near_dup_frame(df, **kw)

    def quantize_embeddings(self) -> DataFrame:
        """Int8-quantize the embeddings table (4× memory; cosine runs
        directly on the codes — see operators/quantize.py)."""
        from danae_spark.operators import quantize as _quantize

        return _quantize.quantize_embeddings(self.spark, self.lake_dir)

    def mix(self, budgets: dict[str, int] | None = None) -> DataFrame:
        """Token-budget data mixing (per-source deterministic selection)."""
        from danae_spark.operators import sampling as _sampling

        return _sampling.token_budget_mix(self.spark, self.lake_dir, budgets)

    # ---------------------------------------------------- text analysis
    def text_stats(self) -> DataFrame:
        return _textstats.text_stats(self.spark, self.lake_dir)

    def repetition_signals(self) -> DataFrame:
        return _textstats.text_repetition(self.spark, self.lake_dir)

    def pii_scan(self, docs: DataFrame, **kw) -> DataFrame:
        """Per-doc PII match counts over any (id, text) frame
        (operators/pii.py)."""
        from danae_spark.operators.pii import pii_scan_frame

        return pii_scan_frame(docs, **kw)

    def pii_redact(self, docs: DataFrame, **kw) -> DataFrame:
        """Sentinel-token PII redaction over any (id, text) frame."""
        from danae_spark.operators.pii import pii_redact_frame

        return pii_redact_frame(docs, **kw)

    def quality_filter(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Fused keep/drop curation decision (quality ∧ non-repetitive ∧
        PII-free) over the lake documents or any (id, text) frame."""
        from danae_spark.operators.textstats import (
            quality_filter,
            quality_filter_frame,
        )

        if docs is None:
            return quality_filter(self.spark, self.lake_dir)
        return quality_filter_frame(docs, **kw)

    def perplexity_buckets(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """CCNet head/middle/tail perplexity bucketing per language over
        the lake documents or any (id, text[, lang]) frame."""
        from danae_spark.operators.textstats import (
            perplexity_buckets,
            perplexity_buckets_frame,
        )

        if docs is None:
            return perplexity_buckets(self.spark, self.lake_dir)
        return perplexity_buckets_frame(docs, **kw)

    def classify_quality(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Learned Naive-Bayes quality score per doc, trained in-plan from
        heuristic pseudo-labels (or a caller `labels=` frame)."""
        from danae_spark.operators.textstats import (
            nb_quality_classifier,
            nb_quality_classifier_frame,
        )

        if docs is None:
            return nb_quality_classifier(self.spark, self.lake_dir)
        return nb_quality_classifier_frame(docs, **kw)

    def semantic_dedup(self, emb: DataFrame | None = None, **kw) -> DataFrame:
        """SemDeDup over the lake embeddings or any (id, vector) frame:
        cluster assignment + within-cluster duplicate verdicts. Pass
        codebook=ann.train_ivf_codebook(...) for the trained path."""
        from danae_spark.operators.dedup import semantic_dedup, semantic_dedup_frame

        if emb is None:
            return semantic_dedup(self.spark, self.lake_dir)
        return semantic_dedup_frame(emb, **kw)

    def line_dedup(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Boilerplate line removal (corpus-frequency line dedup) over the
        lake documents (aligned token-chunk pseudo-lines) or any
        (id, text) frame split on real newlines."""
        from danae_spark.operators.dedup import line_dedup, line_dedup_frame

        if docs is None:
            return line_dedup(self.spark, self.lake_dir)
        return line_dedup_frame(docs, **kw)

    def doc_embeddings(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Hashed bag-of-words document embeddings over the lake documents
        or any (id, text) frame — the no-encoder text→vector bridge."""
        from danae_spark.operators.textstats import doc_embedding, doc_embedding_frame

        if docs is None:
            return doc_embedding(self.spark, self.lake_dir)
        return doc_embedding_frame(docs, **kw)

    def semantic_dedup_text(self, docs: DataFrame, **kw) -> DataFrame:
        """SemDeDup for a text-only corpus: hashed doc embeddings piped
        into cluster-then-dedup verdicts."""
        from danae_spark.operators.textstats import semantic_dedup_text_frame

        return semantic_dedup_text_frame(docs, **kw)

    def corpus_report(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Per (source, language) corpus composition dashboard: doc/token
        counts, mean quality, keep rate, PII-bearing docs."""
        from danae_spark.operators.textstats import corpus_report, corpus_report_frame

        if docs is None:
            return corpus_report(self.spark, self.lake_dir)
        return corpus_report_frame(docs, **kw)

    def similar_docs(self, docs: DataFrame, query_ids, k: int = 5, **kw) -> DataFrame:
        """Text similarity search with no encoder: hashed BoW doc
        embeddings + brute-force cosine top-k (queries broadcast, corpus
        streamed) — swap in ann(method=...) over real embeddings for the
        bucketed scale paths."""
        from pyspark.sql import functions as F

        from danae_spark.operators.ann import cosine_topk
        from danae_spark.operators.textstats import doc_embedding_frame

        emb = doc_embedding_frame(docs, as_array=True, **kw)
        q = emb.filter(F.col("doc_id").isin(list(query_ids)))
        return cosine_topk(
            q, emb, k=k, query_id="doc_id", query_vec="embedding",
            cand_id="doc_id", cand_vec="embedding",
        )

    def frequent_ngrams(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Top-k corpus-wide word n-grams with term/document frequencies
        — boilerplate analysis before line/span removal."""
        from danae_spark.operators.textstats import (
            frequent_ngrams,
            frequent_ngrams_frame,
        )

        if docs is None:
            return frequent_ngrams(self.spark, self.lake_dir)
        return frequent_ngrams_frame(docs, **kw)

    def profile_drift(self, state_a: DataFrame, state_b: DataFrame, **kw) -> DataFrame:
        """Distribution/schema drift between two mergeable profile states
        (baseline -> current): mean shift in baseline sigmas, stddev and
        distinct ratios, null-rate delta, added/removed columns — a
        schema-sized join, no data rescan."""
        from danae_spark.profiling.incremental import profile_drift

        return profile_drift(state_a, state_b, **kw)

    def q1_matview(self, state_dir: str) -> DataFrame:
        """The live flagship-Q1 summary folded from incrementally landed
        partials (streaming/matview.py) — bit-identical to the batch
        query, refreshed in O(new rows)."""
        from danae_spark.streaming.matview import streamed_q1

        return streamed_q1(self.spark, state_dir)

    def pack_sequences(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Training-sequence packing index: each doc's span and sequence
        ids in the concatenated token stream (distributed prefix sum)."""
        from danae_spark.operators.sampling import (
            pack_sequences,
            pack_sequences_frame,
        )

        if docs is None:
            return pack_sequences(self.spark, self.lake_dir, **kw)
        return pack_sequences_frame(docs, **kw)

    def train_bpe(self, docs: DataFrame | None = None, **kw) -> list:
        """Learn BPE merges from the corpus word-frequency table
        (driver-side over a budget-capped deterministic sample)."""
        from danae_spark.operators.bpe import train_bpe

        if docs is None:
            docs = self.table("documents")
        return train_bpe(docs, **kw)

    def bpe_tokenize(self, docs: DataFrame, merges: list, **kw) -> DataFrame:
        """Apply learned BPE merges to any corpus, distributed."""
        from danae_spark.operators.bpe import bpe_tokenize_frame

        return bpe_tokenize_frame(docs, merges, **kw)

    def ann_candidates_stream(self, query_stream: DataFrame, **kw) -> DataFrame:
        """Online-retrieval candidate generation: score a query-vector
        stream against the lake embeddings via the stream-static LSH
        bucket join (stateless; consumer ranks)."""
        from danae_spark.streaming.curation import ann_candidates_stream

        return ann_candidates_stream(
            query_stream, self.table("embeddings"), **kw
        )

    def read(self, path: str, **options) -> DataFrame:
        """Read any supported container format (parquet / ORC / sniffed
        CSV / JSON-lines) with uniform temporal normalization."""
        from danae_spark.sources.formats import read_any

        return read_any(self.spark, path, **options)

    def dsir_select(
        self, corpus: DataFrame | None = None, target: DataFrame | None = None, **kw
    ) -> DataFrame:
        """DSIR importance resampling (Xie et al. 2023): select corpus
        docs whose hashed-n-gram distribution matches `target`, via
        Gumbel-top-k over log importance weights. Lake default: resample
        documents toward their English subset."""
        from danae_spark.operators.dsir import dsir_select, dsir_select_frame

        if corpus is None:
            return dsir_select(self.spark, self.lake_dir, **kw)
        if target is None:
            raise ValueError("dsir_select with a caller corpus needs target=")
        return dsir_select_frame(corpus, target, **kw)

    def split(self, df: DataFrame, **kw) -> DataFrame:
        """Reproducible train/val/test assignment (engine-portable,
        growth-stable). Pass group_col= for the leakage-safe mode:
        every member of a group (domain, origin doc, user) lands in
        the same split (operators/sampling.deterministic_split_frame)."""
        from danae_spark.operators.sampling import deterministic_split_frame

        return deterministic_split_frame(df, **kw)

    def anomalies(self, df: DataFrame | None = None, **kw) -> DataFrame:
        """Rolling z-score outliers: rows far from their group's
        trailing event-time baseline (operators/temporal.py
        rolling_zscore_anomaly). Lake default: the events table."""
        from danae_spark.operators.temporal import rolling_zscore_anomaly

        if df is None:
            df = self.table("events")
        return rolling_zscore_anomaly(df, **kw)

    def dsir_score_stream(self, docs_stream: DataFrame, target: DataFrame, **kw) -> DataFrame:
        """Train the DSIR importance model batch-side (lake documents
        toward `target`), score a document stream with it — exact
        batch/stream score parity (streaming/curation.dsir_score_stream)."""
        from danae_spark.operators.dsir import dsir_model
        from danae_spark.streaming.curation import dsir_score_stream

        model = dsir_model(self.table("documents"), target)
        return dsir_score_stream(docs_stream, model, **kw)

    def domain_cap(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """URL parse + per-registrable-domain quota (the RefinedWeb
        provenance gate). Caller frames need (id, url) columns."""
        from danae_spark.operators.urlops import url_domain_cap, url_domain_cap_frame

        if docs is None:
            return url_domain_cap(self.spark, self.lake_dir, **kw)
        return url_domain_cap_frame(docs, **kw)

    def chunk(self, docs: DataFrame | None = None, **kw) -> DataFrame:
        """Overlapping token-window chunking (RAG / context prep):
        fixed-size chunks with shared overlap per document."""
        from danae_spark.operators.sampling import (
            chunk_documents,
            chunk_documents_frame,
        )

        if docs is None:
            return chunk_documents(self.spark, self.lake_dir, **kw)
        return chunk_documents_frame(docs, **kw)

    def html_text(self, df: DataFrame, **kw) -> DataFrame:
        """HTML -> training-text extraction over any (id, binary)
        frame: visible prose with block structure, title, and the
        link_density boilerplate signal; pages that cannot be walked
        (bad UTF-8, unterminated tags/comments/script) yield null
        rows (multimodal/htmltext.py parse_html_text)."""
        from danae_spark.multimodal.htmltext import html_text_frame

        return html_text_frame(df, **kw)

    def warc_census(self, df: DataFrame, **kw) -> DataFrame:
        """WARC (ISO 28500) census over any (id, binary) frame:
        record counts by type, HTTP 2xx counts, first target URI/host;
        accepts plain and member-per-record .warc.gz; structurally
        invalid files yield null rows (multimodal/warc.py)."""
        from danae_spark.multimodal.warc import warc_census_frame

        return warc_census_frame(df, **kw)

    def pdf_text(self, df: DataFrame, **kw) -> DataFrame:
        """PDF text extraction over any (id, binary) frame: classic
        AND modern (1.5+: xref/object streams) files, Flate / LZW /
        ASCIIHex / ASCII85 / RunLength filters and chains, simple AND
        composite (Type0/CID via ToUnicode CMap) fonts; title/author
        from /Info, page and object counts. Anything outside the
        certified subset (encryption, image filters, a CID font
        without a ToUnicode) yields null rows, never mojibake
        (multimodal/pdf.py parse_pdf)."""
        from danae_spark.multimodal.pdf import pdf_text_frame

        return pdf_text_frame(df, **kw)

    def archive_census(self, df: DataFrame, **kw) -> DataFrame:
        """ZIP / TAR / TAR.GZ census over any (id, binary) frame:
        member enumeration with full data verification (CRC-32, tar
        checksums) and per-media-class counts via triage routing;
        archives that cannot be walked yield null rows
        (multimodal/archive.py parse_archive)."""
        from danae_spark.multimodal.archive import archive_census_frame

        return archive_census_frame(df, **kw)

    def text_harvest(self, df: DataFrame, **kw) -> DataFrame:
        """One-pass text extraction over a MIXED document-class binary
        column: each payload classified (pdf/html/warc/archive/
        subtitle/plain) and routed to its validated extractor; emits
        (doc_class, format, title, text) — run this FIRST over a
        crawl's blob column, then feed `text` to the curation stack
        (multimodal/harvest.py harvest_text)."""
        from danae_spark.multimodal.harvest import text_harvest_frame

        return text_harvest_frame(df, **kw)

    def robots_check(self, df: DataFrame, **kw) -> DataFrame:
        """RFC 9309 robots.txt evaluation over any (id, robots-bytes,
        probe-path) frame: group selection (longest agent prefix,
        '*' fallback), longest-match rules with allow-beats-disallow
        ties, crawl-delay; unreadable robots files yield null rows so
        the pipeline can fail CLOSED (operators/robots.py)."""
        from danae_spark.operators.robots import robots_check_frame

        return robots_check_frame(df, **kw)

    def url_canonicalize(self, df: DataFrame, **kw) -> DataFrame:
        """RFC 3986 URL canonicalization over any (id, url) frame
        (case/ports/fragment/dot-segments/percent-escapes + sorted
        query); group by `url_canon` to dedup a crawl frontier
        (operators/urlops.py canonicalize_url)."""
        from danae_spark.operators.urlops import url_canonicalize_frame

        return url_canonicalize_frame(df, **kw)

    def html_meta(self, df: DataFrame, **kw) -> DataFrame:
        """HTML metadata extraction over any (id, binary) frame:
        title, lang, charset, rel=canonical (raw + RFC 3986
        canonicalized), meta description, og:title; unwalkable pages
        yield null rows (multimodal/htmltext.py parse_html_meta)."""
        from danae_spark.multimodal.htmltext import html_meta_frame

        return html_meta_frame(df, **kw)

    def sitemap_extract(self, df: DataFrame, **kw) -> DataFrame:
        """Sitemap / sitemap-index extraction over any (id, binary)
        frame: entry counts, lastmod/changefreq/priority validation,
        every loc canonicalized (RFC 3986); files outside the protocol
        subset yield null rows (operators/sitemap.py parse_sitemap)."""
        from danae_spark.operators.sitemap import sitemap_extract_frame

        return sitemap_extract_frame(df, **kw)

    def feed_extract(self, df: DataFrame, **kw) -> DataFrame:
        """RSS 2.0/0.9x / RSS 1.0 (RDF) / Atom feed extraction over
        any (id, binary) frame: feed title, item count, and the
        newline-joined item title/description text for the curation
        stack (Atom <content> outranks <summary>); payloads outside
        the three grammars yield null rows
        (operators/feeds.py parse_feed)."""
        from danae_spark.operators.feeds import feed_extract_frame

        return feed_extract_frame(df, **kw)

    def sitemap_bundle(self, df: DataFrame, **kw) -> DataFrame:
        """Sitemap-DUMP bundle walk over any (id, binary) frame: an
        archive holding one sitemapindex plus the .xml/.xml.gz child
        urlsets it names (one-level recursion per the protocol rule);
        child/url/canonicalizable totals; unwalkable bundles yield
        null rows (operators/sitemap.py parse_sitemap_bundle)."""
        from danae_spark.operators.sitemap import sitemap_bundle_frame

        return sitemap_bundle_frame(df, **kw)

    def pagerank(self, nodes: DataFrame, edges: DataFrame, **kw) -> DataFrame:
        """PageRank over (nodes, edges) frames: fixed-round power
        iteration with dangling-node mass redistribution and parallel
        edges as weights — the link-based quality signal for weighting
        crawled pages/domains (operators/frontier.py pagerank_frame)."""
        from danae_spark.operators.frontier import pagerank_frame

        return pagerank_frame(nodes, edges, **kw)

    def lang_id(self, docs: DataFrame, **kw) -> DataFrame:
        """Cavnar-Trenkle character-n-gram language ID over any
        (id, text) frame: 25-language rank-profile model broadcast as
        a constant table, out-of-place distance, 'und' for letterless
        rows (operators/langid.py lang_id_ngram_frame)."""
        from danae_spark.operators.langid import lang_id_ngram_frame

        return lang_id_ngram_frame(docs, **kw)

    def quality_routed(self, docs: DataFrame, **kw) -> DataFrame:
        """Language-ROUTED quality scoring over any (id, text) frame:
        each document's stopword ratio through its PREDICTED
        language's table; neutral stop leg for unsegmented ja/zh/th
        (operators/langid.py quality_multilang_frame)."""
        from danae_spark.operators.langid import quality_multilang_frame

        return quality_multilang_frame(docs, **kw)

    def dup_keeper(self, pages: DataFrame, **kw) -> DataFrame:
        """Skew-safe exact-duplicate keeper over any (id, text[, rank])
        frame: two-phase groupBy-on-hash + join back (map-side combine,
        AQE-skew-splittable — a mega-cluster never lands on one window
        partition); smallest-id or highest-rank keeper
        (operators/dedup.py exact_dup_keeper)."""
        from danae_spark.operators.dedup import exact_dup_keeper

        return exact_dup_keeper(pages, **kw)

    def dedup_incremental(self, state: DataFrame, batch: DataFrame, **kw):
        """Incremental exact dedup: new batch against the compact
        (key_hash -> keeper_id) corpus state, first-seen-wins; returns
        (verdicts, state_delta) (operators/dedup.py
        exact_dedup_incremental)."""
        from danae_spark.operators.dedup import exact_dedup_incremental

        return exact_dedup_incremental(state, batch, **kw)

    def neardup_incremental(self, state_sig: DataFrame, batch_sig: DataFrame, **kw) -> DataFrame:
        """Incremental near-dup detection: batch MinHash signatures
        LSH-banded against the stored corpus signatures, scored by the
        signature-estimated Jaccard (operators/dedup.py
        minhash_dedup_incremental); build signatures with
        minhash_signatures()."""
        from danae_spark.operators.dedup import minhash_dedup_incremental

        return minhash_dedup_incremental(state_sig, batch_sig, **kw)

    def ivf_assign(self, emb: DataFrame, cent_ids, cent_mat) -> DataFrame:
        """O(batch·C) inverted-list assignment against a frozen
        driver-held codebook — the unit incremental IVF maintenance
        appends with (operators/ann.py ivf_assign_lists); persist and
        reload the index with ann.save_ivf_index / load_ivf_index."""
        from danae_spark.operators.ann import ivf_assign_lists

        return ivf_assign_lists(emb, cent_ids, cent_mat)

    def pq_encode(self, emb: DataFrame, m: int, subdim: int, cents, half_sq) -> DataFrame:
        """O(batch·kc) PQ code assignment against a frozen per-subspace
        codebook — the unit incremental PQ maintenance appends with
        (operators/pq.py _pq_encode_frame / pq_ann_incremental)."""
        from danae_spark.operators.pq import _pq_encode_frame

        return _pq_encode_frame(emb, m, subdim, cents, half_sq)

    def minhash_signatures(self, docs: DataFrame, **kw) -> DataFrame:
        """Compact MinHash signature state (K longs per doc) for
        incremental fuzzy dedup (operators/dedup.py _md5_signatures)."""
        from danae_spark.operators.dedup import _md5_signatures

        return _md5_signatures(docs, **kw)

    def exif(self, df: DataFrame, **kw) -> DataFrame:
        """EXIF/TIFF metadata (incl. GPS as a PII surface) over any
        (id, binary) JPEG frame (multimodal/exif.py exif_frame)."""
        from danae_spark.multimodal.exif import exif_frame

        return exif_frame(df, **kw)

    def snapshot_diff(self, a: DataFrame, b: DataFrame, **kw) -> DataFrame:
        """Cross-snapshot inventory diff: keys classified added / gone /
        changed / unchanged by digest (operators/urlops.py
        snapshot_diff_frame)."""
        from danae_spark.operators.urlops import snapshot_diff_frame

        return snapshot_diff_frame(a, b, **kw)

    def shuffle_export(self, docs: DataFrame, path: str, **kw) -> DataFrame:
        """Deterministic shuffle-shard training export: parquet under
        path/shard_id=K/ in shuffle order + the manifest sidecar;
        returns the manifest (operators/sampling.py
        write_shuffle_shards)."""
        from danae_spark.operators.sampling import write_shuffle_shards

        return write_shuffle_shards(docs, path, **kw)

    def office_text(self, df: DataFrame, **kw) -> DataFrame:
        """Office-document text extraction over any (id, binary)
        frame: OOXML .docx and OpenDocument .odt packages walked by
        the validating ZIP reader (full CRC verification), paragraphs
        / title / creator extracted from the XML parts; packages that
        cannot be walked yield null rows
        (multimodal/office.py parse_office)."""
        from danae_spark.multimodal.office import office_text_frame

        return office_text_frame(df, **kw)

    def xlsx_tables(self, df: DataFrame, **kw) -> DataFrame:
        """SpreadsheetML table extraction over any (id, binary)
        frame: sheet name, cell counts, and the TSV cell grid with
        shared strings / inline strings / booleans / cached formula
        values resolved (multimodal/office.py parse_xlsx)."""
        from danae_spark.multimodal.office import xlsx_table_frame

        return xlsx_table_frame(df, **kw)

    def epub_text(self, df: DataFrame, **kw) -> DataFrame:
        """EPUB text extraction over any (id, binary) frame: chapters
        in spine order through the certified HTML extractor, book
        title/creator from the OPF (multimodal/epub.py parse_epub)."""
        from danae_spark.multimodal.epub import epub_text_frame

        return epub_text_frame(df, **kw)

    def rtf_text(self, df: DataFrame, **kw) -> DataFrame:
        """RTF text extraction over any (id, binary) frame: from-spec
        group/control-word tokenizer, info-block title/author,
        cp1252 + unicode escapes (multimodal/rtf.py parse_rtf)."""
        from danae_spark.multimodal.rtf import rtf_text_frame

        return rtf_text_frame(df, **kw)

    def csv_census(self, df: DataFrame, **kw) -> DataFrame:
        """RFC 4180 CSV census over any (id, binary) frame: sniffed
        delimiter, quote-aware shape, quoted/ragged counts
        (multimodal/csvblob.py parse_csv_blob)."""
        from danae_spark.multimodal.csvblob import csv_census_frame

        return csv_census_frame(df, **kw)

    def json_census(self, df: DataFrame, **kw) -> DataFrame:
        """JSON/JSONL census over any (id, binary) frame: kind,
        record/key counts, nesting depth, leaf-type counts
        (multimodal/jsonblob.py parse_json_blob)."""
        from danae_spark.multimodal.jsonblob import json_census_frame

        return json_census_frame(df, **kw)

    def parquet_census(self, df: DataFrame, **kw) -> DataFrame:
        """Parquet footer census over any (id, binary) frame
        (multimodal/parquetblob.py parse_parquet_blob)."""
        from danae_spark.multimodal.parquetblob import parquet_census_frame

        return parquet_census_frame(df, **kw)

    def sqlite_census(self, df: DataFrame, **kw) -> DataFrame:
        """SQLite schema census over any (id, binary) frame, read-only
        (multimodal/sqliteblob.py parse_sqlite_blob)."""
        from danae_spark.multimodal.sqliteblob import sqlite_census_frame

        return sqlite_census_frame(df, **kw)

    def access_log_census(self, df: DataFrame, **kw) -> DataFrame:
        """CLF/Combined access-log census over any (id, binary) frame
        (multimodal/accesslog.py parse_access_log)."""
        from danae_spark.multimodal.accesslog import access_log_census_frame

        return access_log_census_frame(df, **kw)

    def chat_census(self, df: DataFrame, **kw) -> DataFrame:
        """Chat-format JSONL census with per-conversation validation
        (multimodal/jsonblob.py parse_chat_blob)."""
        from danae_spark.multimodal.jsonblob import chat_census_frame

        return chat_census_frame(df, **kw)

    def mjpeg_frames(self, df: DataFrame, **kw) -> DataFrame:
        """MJPEG-AVI frame-digest census over any (id, binary) frame:
        every frame decoded by the real baseline-JPEG codec, per-frame
        perceptual digests (multimodal/avi.py parse_avi_mjpeg)."""
        from danae_spark.multimodal.avi import mjpeg_frames_frame

        return mjpeg_frames_frame(df, **kw)

    def gif_frames(self, df: DataFrame, **kw) -> DataFrame:
        """Animated-GIF frame-digest census over any (id, binary)
        frame: real per-frame LZW decode + spec compositing (partial
        rects, transparency, disposal), per-frame perceptual digests
        (multimodal/gifanim.py parse_gif_frames)."""
        from danae_spark.multimodal.gifanim import gif_frames_frame

        return gif_frames_frame(df, **kw)

    def blob_harvest(self, df: DataFrame, **kw) -> DataFrame:
        """One-pass container dispatch over a MIXED (id, binary)
        frame: magic/identity-first routing across all eight blob
        censuses, (container, n_items) per blob, NULL for unroutable
        (multimodal/blobharvest.py route_blob)."""
        from danae_spark.multimodal.blobharvest import blob_harvest_frame

        return blob_harvest_frame(df, **kw)

    def orc_census(self, df: DataFrame, **kw) -> DataFrame:
        """ORC tail census over any (id, binary) frame: from-spec
        protobuf walk, chunked-codec footers decompressed for real
        (multimodal/orcblob.py parse_orc_blob)."""
        from danae_spark.multimodal.orcblob import orc_census_frame

        return orc_census_frame(df, **kw)

    def avro_census(self, df: DataFrame, **kw) -> DataFrame:
        """Avro object-container census over any (id, binary) frame:
        codec, schema shape, block/record/payload counts with per-block
        sync verification (multimodal/avroblob.py parse_avro_blob)."""
        from danae_spark.multimodal.avroblob import avro_census_frame

        return avro_census_frame(df, **kw)

    def markdown_text(self, df: DataFrame, **kw) -> DataFrame:
        """Markdown extraction over any (id, binary) frame: headings /
        lists / quotes stripped, links to anchor text, fenced code
        kept verbatim (multimodal/markdown.py parse_markdown)."""
        from danae_spark.multimodal.markdown import markdown_text_frame

        return markdown_text_frame(df, **kw)

    def gopher_rules(self, docs: DataFrame, **kw) -> DataFrame:
        """Gopher rule-set quality verdicts over any (id, text) frame
        (operators/textstats.py gopher_rules_frame)."""
        from danae_spark.operators.textstats import gopher_rules_frame

        return gopher_rules_frame(docs, **kw)

    def stratified_sample(self, docs: DataFrame, **kw) -> DataFrame:
        """Exact per-stratum deterministic sampling (operators/
        sampling.py stratified_sample_frame)."""
        from danae_spark.operators.sampling import stratified_sample_frame

        return stratified_sample_frame(docs, **kw)

    def weighted_sample(self, docs: DataFrame, weight_col: str, **kw) -> DataFrame:
        """Integer-exact weight-biased deterministic sampling
        (operators/sampling.py weighted_sample_frame)."""
        from danae_spark.operators.sampling import weighted_sample_frame

        return weighted_sample_frame(docs, weight_col, **kw)

    def mixture_plan(self, docs: DataFrame, budgets: dict, **kw) -> DataFrame:
        """Per-source epoch/tail plan for token budgets
        (operators/sampling.py mixture_plan_frame)."""
        from danae_spark.operators.sampling import mixture_plan_frame

        return mixture_plan_frame(docs, budgets, **kw)

    # ------------------------------------------------ r16 operators

    def webp_census(self, df: DataFrame, **kw) -> DataFrame:
        """WebP container census over any (id, binary) frame: VP8L
        stills decoded for real, lossy VP8 quality signals (q_index),
        VP8X stills with decodable ALPH alpha planes, composited
        animations (multimodal/webp.py parse_webp)."""
        from danae_spark.multimodal.webp import webp_census_frame

        return webp_census_frame(df, **kw)

    def notebook_text(self, df: DataFrame, **kw) -> DataFrame:
        """Jupyter-notebook extraction over any (id, binary) frame:
        markdown+code text, outputs stripped, kernel language
        (multimodal/notebook.py parse_notebook)."""
        from danae_spark.multimodal.notebook import notebook_extract_frame

        return notebook_extract_frame(df, **kw)

    def latex_text(self, df: DataFrame, **kw) -> DataFrame:
        """LaTeX extraction over any (id, binary) frame: macros
        resolved/dropped, math counted as a boundary, sections and
        title captured (multimodal/latex.py parse_latex)."""
        from danae_spark.multimodal.latex import latex_extract_frame

        return latex_extract_frame(df, **kw)

    def mail_text(self, df: DataFrame, **kw) -> DataFrame:
        """EML/mbox MIME extraction over any (id, binary) frame:
        encoded-word headers, base64/quoted-printable bodies,
        multipart walk, html parts through the certified extractor
        (multimodal/eml.py parse_mail)."""
        from danae_spark.multimodal.eml import mail_extract_frame

        return mail_extract_frame(df, **kw)

    def code_stats(self, df: DataFrame, **kw) -> DataFrame:
        """Code-corpus analysis over any (id, binary) frame: SPDX/
        header license detection, language detection, per-language
        line stats, code-vs-prose classification
        (operators/codestats.py parse_code_stats)."""
        from danae_spark.operators.codestats import code_stats_frame

        return code_stats_frame(df, **kw)

    def normalize_images(self, df: DataFrame, **kw) -> DataFrame:
        """Image normalization over any (id, binary) frame: every
        decodable payload re-encoded as canonical PNG with zero
        generation loss (multimodal/normalize.py normalize_image)."""
        from danae_spark.multimodal.normalize import image_normalize_frame

        return image_normalize_frame(df, **kw)

    # ------------------------------------------------ r17 operators

    def avif_census(self, df: DataFrame, **kw) -> DataFrame:
        """AVIF/HEIF still census over any (id, binary) frame: the
        ISOBMFF meta-box item walk — dims, channels, orientation,
        grids, alpha, Exif via the certified IFD walker
        (multimodal/avif.py parse_avif)."""
        from danae_spark.multimodal.avif import avif_census_frame

        return avif_census_frame(df, **kw)

    def delta_log_census(self, df: DataFrame, **kw) -> DataFrame:
        """Delta transaction-log census over tar-shipped tables:
        commit-chain replay, protocol gate, live-set reconciliation,
        log-vs-parquet-footer cross-check
        (multimodal/deltalog.py parse_delta_table)."""
        from danae_spark.multimodal.deltalog import delta_log_census_frame

        return delta_log_census_frame(df, **kw)

    def read_delta(self, table_dir: str, version: int | None = None) -> DataFrame:
        """DataFrame over a Delta table DIRECTORY's live files at the
        given version (default latest): tombstones excluded, partition
        values attached from the log (sources/delta.py read_delta)."""
        from danae_spark.sources.delta import read_delta

        return read_delta(self.spark, table_dir, version)

    def svg_census(self, df: DataFrame, **kw) -> DataFrame:
        """SVG census + text extraction over any (id, binary) frame:
        dims/viewBox, element and shape counts, text/tspan content —
        script counted, never executed; entities never expand
        (multimodal/svg.py parse_svg)."""
        from danae_spark.multimodal.svg import svg_census_frame

        return svg_census_frame(df, **kw)

    def cfb_office(self, df: DataFrame, **kw) -> DataFrame:
        """Legacy OLE2 .doc/.xls extraction over any (id, binary)
        frame: CFB chain walk, MS-DOC piece-table text, BIFF8 SST
        census (multimodal/cfb.py parse_cfb_office)."""
        from danae_spark.multimodal.cfb import cfb_office_frame

        return cfb_office_frame(df, **kw)

    def iceberg_census(self, df: DataFrame, **kw) -> DataFrame:
        """Iceberg metadata-chain census over tar-shipped tables:
        snapshot replay, manifest-list/manifest decode via the
        schema-driven Avro datum codec, footer cross-checks
        (multimodal/iceberg.py parse_iceberg_table)."""
        from danae_spark.multimodal.iceberg import iceberg_census_frame

        return iceberg_census_frame(df, **kw)

    def skipping_plan(
        self, df: DataFrame, column: str, lo, hi, **kw
    ) -> DataFrame:
        """Row-group data-skipping plan over any (id, parquet-binary)
        frame: footer-only min/max pruning for `lo <= column <= hi` —
        which groups a scan must touch, decided at manifest scale
        (multimodal/skipping.py plan_parquet_skip)."""
        from danae_spark.multimodal.skipping import parquet_skip_frame

        return parquet_skip_frame(df, column, lo, hi, **kw)

    def wiki_text(self, df: DataFrame, **kw) -> DataFrame:
        """MediaWiki dump extraction over any (id, binary) frame:
        article prose with templates/tables/refs stripped and counted,
        redirects and non-article namespaces excluded
        (multimodal/wikitext.py parse_wiki_dump)."""
        from danae_spark.multimodal.wikitext import wiki_extract_frame

        return wiki_extract_frame(df, **kw)

    def delta_skipping_plan(
        self, df: DataFrame, column: str, lo, hi, **kw
    ) -> DataFrame:
        """Delta file-pruning plan over any (id, tar-binary) frame:
        live-set replay + log-stats pruning for `lo <= column <= hi`,
        with a parquet-footer trust audit (stats_consistent)
        (multimodal/skipping.py plan_delta_skip)."""
        from danae_spark.multimodal.skipping import delta_skip_frame

        return delta_skip_frame(df, column, lo, hi, **kw)

    def iceberg_skipping_plan(
        self, df: DataFrame, field_id: int, lo, hi, **kw
    ) -> DataFrame:
        """Iceberg file-pruning plan over any (id, tar-binary) frame:
        current-snapshot manifest walk + bounds-map pruning for
        `lo <= field <= hi`, with the parquet-footer trust audit
        (multimodal/skipping.py plan_iceberg_skip)."""
        from danae_spark.multimodal.skipping import iceberg_skip_frame

        return iceberg_skip_frame(df, field_id, lo, hi, **kw)

    def safetensors_census(self, df: DataFrame, **kw) -> DataFrame:
        """safetensors checkpoint census over any (id, binary) frame:
        layout-validated tensor/param/byte/dtype counts from the
        header alone (multimodal/tensors.py parse_safetensors)."""
        from danae_spark.multimodal.tensors import safetensors_census_frame

        return safetensors_census_frame(df, **kw)

    def npy_census(self, df: DataFrame, **kw) -> DataFrame:
        """NumPy .npy/.npz census over any (id, binary) frame:
        header-validated array/element/byte counts; .npz members walk
        the CRC-verified archive layer (multimodal/tensors.py)."""
        from danae_spark.multimodal.tensors import npy_census_frame

        return npy_census_frame(df, **kw)

    def arrow_census(self, df: DataFrame, **kw) -> DataFrame:
        """Arrow IPC census over any (id, binary) frame: batch/row/
        column counts for file- and stream-framed payloads via the
        canonical reader (multimodal/tensors.py parse_arrow_blob)."""
        from danae_spark.multimodal.tensors import arrow_census_frame

        return arrow_census_frame(df, **kw)

    def stackexchange_text(self, df: DataFrame, **kw) -> DataFrame:
        """Stack Exchange Posts.xml extraction over any (id, binary)
        frame: question/answer text via the real html extractor, with
        post/score/tag censuses
        (multimodal/stackexchange.py parse_se_dump)."""
        from danae_spark.multimodal.stackexchange import se_census_frame

        return se_census_frame(df, **kw)

    def gguf_census(self, df: DataFrame, **kw) -> DataFrame:
        """GGUF model-container census over any (id, binary) frame:
        layout-validated tensor/param/quantization counts plus typed
        metadata (multimodal/tensors.py parse_gguf)."""
        from danae_spark.multimodal.tensors import gguf_census_frame

        return gguf_census_frame(df, **kw)

    def hudi_census(self, df: DataFrame, **kw) -> DataFrame:
        """Hudi COW table census over any (id, tar-binary) frame:
        timeline replay with latest-slice-wins resolution and the
        timeline-vs-footer cross-checks
        (multimodal/hudi.py parse_hudi_table)."""
        from danae_spark.multimodal.hudi import hudi_census_frame

        return hudi_census_frame(df, **kw)

    def tfrecord_census(self, df: DataFrame, **kw) -> DataFrame:
        """TFRecord shard census over any (id, binary) frame:
        masked-CRC32C framing verified, per-record Example feature
        census (multimodal/tfrecord.py parse_tfrecord)."""
        from danae_spark.multimodal.tfrecord import tfrecord_census_frame

        return tfrecord_census_frame(df, **kw)

    def tokenizer_census(self, df: DataFrame, **kw) -> DataFrame:
        """tokenizer.json census over any (id, binary) frame:
        loader-validated algorithm/vocab/merge/added-token columns
        (multimodal/tokenizerjson.py parse_tokenizer_json)."""
        from danae_spark.multimodal.tokenizerjson import tokenizer_census_frame

        return tokenizer_census_frame(df, **kw)

    def zarr_census(self, df: DataFrame, **kw) -> DataFrame:
        """Zarr v2 store census over any (id, tar-binary) frame:
        metadata-vs-data-plane validation with chunk-grid accounting
        (multimodal/zarrblob.py parse_zarr_store)."""
        from danae_spark.multimodal.zarrblob import zarr_census_frame

        return zarr_census_frame(df, **kw)
