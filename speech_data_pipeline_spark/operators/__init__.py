"""Operator library: the SURVEY.md §2 inventory re-expressed Spark-first.

Modules:
- ``intervals``   — interval/segment algebra: gaps, containment/overlap
                    joins, monotonic suppression, clamping (J1-J4, F7, F11, X15)
- ``sessions``    — sessionization: gap-based (SQL-form), capped-span and
                    speaker-aware kernels, barrier sessionization (W1, W2, W9)
- ``sweepline``   — sweep-line overlap flattening (W3)
- ``windows``     — sliding-window explode (W4/W5), budgeted accumulation (A12)
- ``splitting``   — recursive longest-gap splitting (W8)
- ``classify``    — the silence classifier (F2)
- ``dedup``       — exact / minhash-LSH / simhash / n-gram-Jaccard dedup
- ``graph``       — connected components and graph analytics
- ``similarity``  — embedding cosine top-k, LSH-bucketed ANN
- ``sketches``    — Bloom-filter membership
- ``text``        — quality scoring, language-ID, fingerprints
- ``packing``     — greedy sequence packing
- ``calibration`` — isotonic calibration
- ``recurrence``  — per-key EWMA and CUSUM recurrences
- ``skew``        — salted two-phase aggregation
- ``spectral``    — per-frame FFT energy
- ``multimodal``  — binary media payloads: WAV decode, segment slicing,
                    frame sampling
"""
