"""LLM-training-data pipeline operators (the north-star extension surface):

    dedup       exact, MinHash+LSH, SimHash, n-gram Jaccard
    similarity  brute-force cosine top-k + LSH-bucketed ANN over embeddings
    text        language-ID, quality scoring, token counting, fingerprinting
    multimodal  opaque-binary columns with typed metadata; decode kernels as
                Arrow-batched mapInPandas — REAL decode for the formats in
                codecs.py; every other mime (JPEG, GIF, FLAC, ...) decodes
                through an optional plugin or stub-falls back with
                decoded=false
    codecs      pure struct+numpy WAV / AIFF / AU, netpbm / PNG / BMP /
                TIFF / lossless WebP, raw-video codecs
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
