"""LLM-training-data pipeline operators (the north-star extension surface):

    dedup       exact, MinHash+LSH, SimHash, n-gram Jaccard
    similarity  brute-force cosine top-k + LSH-bucketed ANN over embeddings
    text        language-ID, quality scoring, token counting, fingerprinting
    multimodal  opaque-binary columns with typed metadata; perceptual
                fingerprint kernels as Arrow-batched mapInPandas — REAL
                decode of PPM/PGM, PNG and WAV through codecs.py; every
                other mime (JPEG, BMP, TIFF, WebP, MP3, ...) gives
                decoded=false
    codecs      pure struct+numpy WAV / AIFF / AU, netpbm / PNG codecs
    mp3meta     MP3 frame/Xing/ID3 metadata census without decode
    curate      end-to-end corpus curation (quality/lang/repetition gates +
                staged dedup)
    packing     token-budget sequence packing (two-phase prefix sum)
    decontaminate  eval-set n-gram overlap removal (broadcast eval grams)
    lm          add-k unigram LM training + per-doc perplexity scoring
    redact      email/URL/IP/number scrubbing with audit counts
    cdc         content-defined chunking dedup for binary media: gear-hash
                chunker, chunk-share pairs, savings ratio

All hot paths are Catalyst expressions (portable 64-bit md5-derived hashes,
higher-order array functions) — no Python UDFs. Each operator is exposed as a
catalog query with a DuckDB oracle in queries_pipeline.py.
"""
