"""Semantic checks for operators without a SQL oracle (the driver only
rows-only-checks these, so the real assertions live here)."""

from __future__ import annotations

from .conftest import SF_CORRECTNESS


def _q(name):
    from git_etl_spark import registry

    registry.load_all()
    return registry.QUERIES[name]


def test_minhash_lsh_recovers_exact_pairs(spark):
    """Banded MinHash (8×16) guarantees recall 1.0 for identical token
    sets (every band collides) and ≥~0.9 expected recall at j=0.92;
    all emitted pairs are exact-verified at j ≥ 0.9."""
    exact_rows = _q("dedup_jaccard_pairs")(spark, SF_CORRECTNESS).collect()
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in exact_rows}
    approx = {
        (r.doc_a, r.doc_b)
        for r in _q("dedup_minhash_lsh")(spark, SF_CORRECTNESS).collect()
    }
    assert exact, "exact Jaccard pair set unexpectedly empty — threshold drifted?"
    identical = {p for p, j in exact.items() if j == 1.0}
    assert identical <= approx, "identical-set pairs must always collide"
    recall = len(set(exact) & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below floor"


def test_multimodal_decode_schema_and_determinism(spark):
    df = _q("multimodal_decode_features")(spark, SF_CORRECTNESS)
    assert df.columns == [
        "doc_id", "n_bytes", "magic", "width", "height", "mean_byte", "max_byte"
    ]
    rows1 = {r.doc_id: tuple(r)[1:] for r in df.collect()}
    rows2 = {
        r.doc_id: tuple(r)[1:]
        for r in _q("multimodal_decode_features")(spark, SF_CORRECTNESS).collect()
    }
    assert rows1 == rows2, "decode features must be deterministic"
    # the header round-trips: height*width covers the body exactly
    assert all(
        v[3] * v[2] >= v[0] > (v[3] - 1) * v[2] for v in rows1.values()
    ), "SIMG header geometry must cover the body"
    # n_bytes must agree with the oracled binary-meta query
    meta = {
        r.doc_id: r.n_bytes
        for r in _q("multimodal_binary_meta")(spark, SF_CORRECTNESS).collect()
    }
    assert all(meta[d] == v[0] for d, v in rows1.items())


def _make_png(width, height, pixels, color_type=2, filters=None):
    """Minimal stdlib PNG writer for fixtures: 8-bit, non-interlaced.
    ``pixels`` is raw scanline bytes (height × width·channels);
    ``filters`` picks the per-row filter type (default all 0) and the
    writer FORWARD-applies it, so decode must reverse it to recover
    ``pixels`` exactly."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = width * channels
    bpp = channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for r in range(height):
        row = bytearray(pixels[r * stride : (r + 1) * stride])
        filt = filters[r]
        enc = bytearray(row)
        if filt == 1:  # Sub
            for i in range(stride - 1, bpp - 1, -1):
                enc[i] = (row[i] - row[i - bpp]) & 0xFF
        elif filt == 2:  # Up
            for i in range(stride):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif filt == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif filt == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pr = a + b - c
                pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                best = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - best) & 0xFF
        raw += bytes([filt]) + enc
        prev = row

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_and_mapinpandas(spark):
    """Real stdlib PNG decode: every filter type (None/Sub/Up/Average/
    Paeth) must reverse to the exact pixel bytes, and the payload must
    decode through the same Arrow-batched mapInPandas path as SIMG."""
    from git_etl_spark.operators.multimodal import decode_image, decode_png

    width, height = 5, 5
    pixels = bytes((r * 37 + c * 11) % 256 for r in range(height) for c in range(width * 3))
    png = _make_png(width, height, pixels, color_type=2, filters=[0, 1, 2, 3, 4])
    out = decode_png(png)
    assert out["magic"] == "PNG" and (out["width"], out["height"]) == (5, 5)
    assert out["n_bytes"] == len(pixels)
    assert out["mean_byte"] == sum(pixels) / len(pixels)
    assert out["max_byte"] == max(pixels)
    # grayscale single-channel too
    g = bytes(range(16))
    png_g = _make_png(4, 4, g, color_type=0, filters=[0, 1, 2, 4])
    assert decode_png(png_g)["mean_byte"] == sum(g) / 16
    # decode_image dispatches on the signature
    assert decode_image(png)["magic"] == "PNG"

    # through the mapInPandas plumbing, mixed with an SIMG payload
    import pandas as pd

    from git_etl_spark.operators.multimodal import FEATURE_SCHEMA

    simg = b"SIMG" + (4).to_bytes(2, "big") + (2).to_bytes(2, "big") + b"abcdefgh"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [png, simg]}),
        "doc_id long, payload binary",
    )

    def extract(batches):
        for pdf in batches:
            feats = [decode_image(p) for p in pdf["payload"]]
            o = pd.DataFrame(feats)
            o.insert(0, "doc_id", pdf["doc_id"].values)
            yield o

    rows = {r.doc_id: r for r in df.mapInPandas(extract, FEATURE_SCHEMA).collect()}
    assert rows[1].magic == "PNG" and rows[1].max_byte == max(pixels)
    assert rows[2].magic == "SIMG" and rows[2].n_bytes == 8


def test_decode_rejects_real_formats_and_parses_simg():
    import pytest

    from git_etl_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF....")  # RIFF video needs ffmpeg
    # JPEG is REAL since round 7 (jpeg_codec) — a malformed stream must
    # fail loudly as a bad container, not be refused as an env gap
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0....")
    # raw fallback for unknown payloads
    out = decode_image("plain text payload".encode())
    assert out["n_bytes"] == 18 and out["magic"] == "plai"
    # SIMG container: header is parsed, features come from the body
    body = b"abcdefgh"
    payload = b"SIMG" + (4).to_bytes(2, "big") + (2).to_bytes(2, "big") + body
    out = decode_image(payload)
    assert out == {
        "n_bytes": 8,
        "magic": "SIMG",
        "width": 4,
        "height": 2,
        "mean_byte": sum(body) / 8,
        "max_byte": max(body),
    }


def test_lsh_bucketed_partitions_corpus(spark):
    df = _q("simsearch_lsh_bucketed")(spark, SF_CORRECTNESS)
    rows = df.collect()
    n_total = sum(r.bucket_size for r in rows)
    n_corpus = spark.read.parquet(f"{SF_CORRECTNESS}/embeddings.parquet").count()
    assert n_total == n_corpus, "every vector must land in exactly one bucket"
    assert len(rows) > 1, "hyperplane signatures should split the corpus"


def test_approx_sketches_close_to_exact(spark):
    rows = _q("agg_approx_sketches")(spark, SF_CORRECTNESS).collect()
    for r in rows:
        rel_err = abs(r.approx_users - r.exact_users) / r.exact_users
        assert rel_err < 0.1, f"{r.event_type}: HLL rel err {rel_err:.3f}"


def test_ivf_full_probe_equals_bruteforce(spark):
    """With n_probe == K_CELLS the IVF index scans every cell, so its
    top-k must equal exact brute force bit-for-bit — the structural
    correctness property that holds regardless of data geometry."""
    from git_etl_spark.operators.similarity import K_CELLS, ivf_topk

    exact = {
        (r.q_id, r.rnk): (r.neighbor_id, r.cos_sim)
        for r in _q("simsearch_topk_bruteforce")(spark, SF_CORRECTNESS).collect()
    }
    full = {
        (r.q_id, r.rnk): (r.neighbor_id, r.cos_sim)
        for r in ivf_topk(spark, SF_CORRECTNESS, n_probe=K_CELLS).collect()
    }
    assert full == exact


def test_ivf_default_probe_subset_and_exact_scores(spark):
    """At the default n_probe the result is approximate, but every
    returned score must equal the brute-force score for that neighbor
    (IVF only *prunes* candidates, never alters scoring), ranks must
    be 1..k per query, and every query must return k rows."""
    from git_etl_spark.operators.similarity import TOP_K

    exact_scores = {
        (r.q_id, r.neighbor_id): r.cos_sim
        for r in _q("simsearch_topk_bruteforce")(spark, SF_CORRECTNESS).collect()
    }
    rows = _q("simsearch_ivf")(spark, SF_CORRECTNESS).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rnk)
        if (r.q_id, r.neighbor_id) in exact_scores:
            assert r.cos_sim == exact_scores[(r.q_id, r.neighbor_id)]
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, TOP_K + 1)), f"q{q}: {rnks}"


def test_ml_lsh_ann_returns_near_neighbors(spark):
    rows = _q("simsearch_ann_ml_lsh")(spark, SF_CORRECTNESS).collect()
    assert rows, "ANN join returned nothing at distance 3.0"
    assert all(r.dist <= 3.0 for r in rows)


def test_pagerank_deterministic_and_conserving(spark):
    """Two runs must agree bit-for-bit (sorted-fold sums); every node
    gets a rank ≥ (1−d); total rank stays near node count (bipartite
    graph has no dangling nodes — every node has out-edges)."""
    rows1 = {r.node: r.rank for r in _q("graph_pagerank_bipartite")(spark, SF_CORRECTNESS).collect()}
    rows2 = {r.node: r.rank for r in _q("graph_pagerank_bipartite")(spark, SF_CORRECTNESS).collect()}
    assert rows1 == rows2, "pagerank must be bitwise deterministic"
    assert rows1 and all(r >= 0.15 for r in rows1.values())
    total = sum(sorted(rows1.values()))
    assert abs(total - len(rows1)) / len(rows1) < 0.01
    # suppliers aggregate demand from many customers → must outrank
    supp = [v for k, v in rows1.items() if k.startswith("s")]
    cust = [v for k, v in rows1.items() if k.startswith("c")]
    assert min(supp) > max(cust)


def test_frame_sample_expansion_consistent(spark):
    """Each doc expands to ceil(n_bytes/256) frames sampled at stride
    max(1, n//8); rows deterministic and consistent with binary_meta."""
    df = _q("multimodal_frame_sample")(spark, SF_CORRECTNESS)
    assert df.columns == ["doc_id", "frame_idx", "n_frames", "frame_mean", "thumb_hex"]
    rows = [tuple(r) for r in df.collect()]
    assert rows == [tuple(r) for r in _q("multimodal_frame_sample")(spark, SF_CORRECTNESS).collect()]
    meta = {
        r.doc_id: r.n_bytes
        for r in _q("multimodal_binary_meta")(spark, SF_CORRECTNESS).collect()
    }
    per_doc = {}
    for doc_id, frame_idx, n_frames, _mean, thumb in rows:
        expect_frames = max(1, -(-meta[doc_id] // 256))
        assert n_frames == expect_frames
        assert 0 <= frame_idx < n_frames
        assert len(thumb) <= 8
        per_doc.setdefault(doc_id, []).append(frame_idx)
    for doc_id, idxs in per_doc.items():
        stride = max(1, (max(1, -(-meta[doc_id] // 256))) // 8)
        assert sorted(idxs) == list(range(0, max(1, -(-meta[doc_id] // 256)), stride))
    assert set(per_doc) == set(meta)


def test_hll_union_lossless_and_bounded_error(spark):
    """Union of daily sketches must equal the whole-column sketch
    exactly (HLL union at equal lgConfigK is lossless) and estimates
    must be within HLL error bounds of exact (lgK=12 → ~1.6% rsd;
    assert a generous 5%)."""
    rows = _q("agg_hll_reaggregatable")(spark, SF_CORRECTNESS).collect()
    assert rows
    for r in rows:
        assert r.est_from_daily == r.est_direct, r
        assert abs(r.est_direct - r.exact_users) / r.exact_users < 0.05, r
        assert r.n_daily_sketches >= 1


def test_minhash_lsh_recall_vs_bruteforce_oracle(spark):
    """VERDICT item 6: recall measured against the *brute-force* exact
    Jaccard ≥ 0.9 pair set (every pair, no candidate scheme — the
    deletion-neighborhood generator is only lossless down to ~0.95 for
    these set sizes, so the ground truth here is computed directly).

    With 8 bands × 16 rows the collision probability is
    1−(1−j¹⁶)⁸: ≈0.80 at the j=0.90 boundary, ≈0.99 by j=0.95 —
    so the tiered floors below are theory-backed, and the seeded hash
    family makes the measured numbers reproducible (0.857 overall at
    sf0.01). Precision must be exact: the operator verifies every
    candidate with true Jaccard before emitting."""
    import itertools

    from git_etl_spark.io import load_table

    rows = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    ).collect()
    sets = {r.doc_id: frozenset(r.text.split(" ")) for r in rows}
    exact = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j >= 0.9:
            exact[(a, b)] = j

    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _q("dedup_minhash_lsh")(spark, SF_CORRECTNESS).collect()
    }
    assert exact, "planted corpus lost its near-dup pairs?"
    # precision is exact by construction (candidates are verified)
    assert set(lsh) <= set(exact)
    for p, j in lsh.items():
        assert abs(j - exact[p]) < 1e-12

    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.85, f"overall recall {recall:.3f} below floor"

    high = {p for p, j in exact.items() if j >= 0.95}
    if high:
        high_recall = len(high & set(lsh)) / len(high)
        assert high_recall >= 0.99, f"j>=0.95 recall {high_recall:.3f}"


def test_chunked_shingling_equals_naive(spark):
    """The O(len²/64) chunked 5-gram shingling in dedup_ngram_jaccard
    must produce bit-identical shingle arrays to the naive
    per-position substring form (substring is O(i) on UTF8String, so
    the naive form is quadratic per document — see dedup.py)."""
    import pyspark.sql.functions as F

    from git_etl_spark.io import load_table

    docs = load_table(spark, SF_CORRECTNESS, "documents")
    chunks = (
        "transform(sequence(1, CAST(ceil((length(text) - 4) / 64.0) AS INT)),"
        " c -> substring(text, (c - 1) * 64 + 1, 68))"
    )
    chunked = docs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN length(text) >= 5 THEN flatten(transform({chunks},"
            " ch -> transform(sequence(1, greatest(length(ch) - 4, 0)),"
            "                 i -> substring(ch, i, 5))))"
            " ELSE array() END"
        ).alias("sh"),
    )
    naive = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(text) >= 5 THEN"
            " transform(sequence(1, length(text) - 4),"
            "           i -> substring(text, i, 5))"
            " ELSE array() END"
        ).alias("sh"),
    )
    assert chunked.exceptAll(naive).count() == 0
    assert naive.exceptAll(chunked).count() == 0


def test_large_star_small_star_random_graphs(spark):
    """Large-Star/Small-Star against a driver-side union-find reference
    on seeded random graphs (chains, cliques, stars, isolated pairs
    arise naturally across densities)."""
    import random

    from git_etl_spark.operators.graph import large_star_small_star

    rng = random.Random(1234)
    for trial, (n, m) in enumerate([(12, 8), (30, 25), (50, 80), (40, 20)]):
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        # reference: union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        verts = sorted({v for e in edges for v in e})
        expected = sorted((v, find(v)) for v in verts)

        df = spark.createDataFrame(edges, ["a", "b"])
        got = sorted(
            (r["v"], r["lbl"]) for r in large_star_small_star(spark, df).collect()
        )
        assert got == expected, f"trial {trial}: {got} != {expected}"


def test_countmin_one_sided_error_and_merge(spark):
    """Count-Min invariants: (1) estimate ≥ true count for EVERY item
    (one-sided error by construction); (2) the sketch built by summing
    two disjoint-partition sketches equals the whole-data sketch
    (counters are an integer monoid — the re-aggregation contract);
    (3) expected overestimate is bounded: with 4 rows × 512 slots over
    ~2k items, assert est−true ≤ 2·N/width for the reported top-20."""
    from pyspark.sql import functions as F

    from git_etl_spark.io import load_table
    from git_etl_spark.operators.windows import (
        CMS_DEPTH,
        CMS_WIDTH,
        agg_countmin_heavy_hitters,
    )

    rows = agg_countmin_heavy_hitters(spark, SF_CORRECTNESS).collect()
    assert len(rows) == 20
    n_total = load_table(spark, SF_CORRECTNESS, "lineitem").count()
    for r in rows:
        assert r.est_count >= r.true_count, r
        assert r.est_count - r.true_count <= 2 * n_total / CMS_WIDTH, r

    # merge property: sketch(partition A) + sketch(partition B) ==
    # sketch(A ∪ B), counter by counter
    li = load_table(spark, SF_CORRECTNESS, "lineitem")
    def sketch(df):
        truth = (
            df.groupBy("l_partkey")
            .agg(F.count("*").alias("cnt"))
            .withColumn("hx", F.md5(F.col("l_partkey").cast("string")))
        )
        keyed = truth.select(
            "cnt",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
            "hx",
        ).select(
            "d",
            "cnt",
            (
                F.conv(F.expr("substring(hx, d * 8 + 1, 8)"), 16, 10)
                .cast("long")
                % CMS_WIDTH
            ).alias("slot"),
        )
        out = keyed.groupBy("d", "slot").agg(F.sum("cnt").alias("c"))
        return {(r.d, r.slot): r.c for r in out.collect()}

    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged: dict = {}
    for part in (sketch(half_a), sketch(half_b)):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == sketch(li)


def test_pq_adc_recall_and_code_compression(spark):
    """PQ-ADC invariants: (1) recall@5 vs the exact brute-force oracle
    ≥ 0.7 at sf0.01 (measured 0.88 — two-stage ADC shortlist + exact
    re-rank); (2) the code table is genuinely compressed: exactly PQ_M
    codes per vector, each in [0, PQ_K); (3) the learned index is
    deterministic — a second run returns identical rows."""
    from git_etl_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_codebooks_and_codes,
        simsearch_pq_adc,
        simsearch_topk_bruteforce,
    )

    pq = simsearch_pq_adc(spark, SF_CORRECTNESS).collect()
    bf = simsearch_topk_bruteforce(spark, SF_CORRECTNESS).collect()
    bf_set = {(r.q_id, r.neighbor_id) for r in bf}
    pq_set = {(r.q_id, r.neighbor_id) for r in pq}
    recall = len(bf_set & pq_set) / len(bf_set)
    assert recall >= 0.7, f"recall@5 {recall:.2f}"

    _, codes = pq_codebooks_and_codes(spark, SF_CORRECTNESS)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == PQ_M for r in per_vec)
    rng = codes.agg({"code": "min"}).collect()[0][0], codes.agg(
        {"code": "max"}
    ).collect()[0][0]
    assert rng[0] >= 0 and rng[1] < PQ_K, rng

    again = simsearch_pq_adc(spark, SF_CORRECTNESS).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, again))


def test_pca_top_component_invariants(spark):
    """PCA invariants: unit-norm loading, eigen-residual ‖Cv−λv‖ ≤
    1e-6·λ against an independently (numpy-)built covariance, |cos| ≥
    0.999 agreement with numpy.linalg.eigh's top eigenvector, positive
    eigenvalue, explained ratio in (0,1], run-to-run determinism."""
    import numpy as np

    from git_etl_spark.io import load_table
    from git_etl_spark.operators.similarity import embedding_pca_top_component

    rows = embedding_pca_top_component(spark, SF_CORRECTNESS).collect()
    d = len(rows)
    v = np.zeros(d)
    mu = np.zeros(d)
    for r in rows:
        v[r.pos] = r.pc1_loading
        mu[r.pos] = r.mean_val
    lam = rows[0].eigenvalue
    evr = rows[0].explained_variance_ratio
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    assert lam > 0 and 0 < evr <= 1

    X = np.array(
        [
            r.embedding
            for r in load_table(spark, SF_CORRECTNESS, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    C = np.cov(X, rowvar=False, bias=True)
    assert np.allclose(X.mean(axis=0), mu, atol=1e-9)
    resid = np.linalg.norm(C @ v - lam * v)
    assert resid <= 1e-6 * lam, resid
    w_np, v_np = np.linalg.eigh(C)
    top = v_np[:, -1]
    assert abs(float(top @ v)) >= 0.999
    assert abs(lam - w_np[-1]) <= 1e-6 * w_np[-1]

    again = embedding_pca_top_component(spark, SF_CORRECTNESS).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_wav_roundtrip_stdlib_reader(spark):
    """encode_wav must emit a container the stdlib wave reader accepts,
    and decode_wav's features must match an independent Python
    computation on the same sample bytes."""
    import math

    from pyspark.sql import functions as F

    from git_etl_spark.operators.multimodal import decode_wav, encode_wav

    rows = [(0, "hello world"), (1, "a"), (2, "mixed Bytes 123 !?")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").select(
        "doc_id", "text", encode_wav("doc_id", "text").alias("payload")
    )
    for r in df.collect():
        body = r["text"].encode()
        feats = decode_wav(bytes(r["payload"]))
        assert feats["sample_rate"] == r["doc_id"] % 3 * 4000 + 8000
        assert feats["n_samples"] == len(body)
        assert feats["peak"] == max(body)
        assert feats["mean_sample"] == sum(body) / len(body)
        assert feats["rms"] == math.sqrt(
            sum((b - 128) ** 2 for b in body) / len(body)
        )
        # stdlib wave parsed it → the header really is canonical RIFF/WAVE
        assert bytes(r["payload"])[:4] == b"RIFF"
        assert bytes(r["payload"])[8:12] == b"WAVE"


def _make_wav(rate, sampwidth, frames):
    """frames: list of per-frame tuples of raw integer channel values."""
    import io
    import wave

    nch = len(frames[0])
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        body = bytearray()
        for fr in frames:
            for s in fr:
                body += int(s).to_bytes(
                    sampwidth, "little", signed=sampwidth > 1
                )
        w.writeframes(bytes(body))
    return buf.getvalue()


def test_wav_decode_16bit_stereo_mixdown():
    """16-bit stereo: level stats run over the per-frame channel mean,
    peak stays the raw per-channel |extreme|, midline is 0 (signed)."""
    import math

    from git_etl_spark.operators.multimodal import decode_wav

    frames = [(1000, -3000), (-500, 500), (32767, -32768), (0, 0), (10, 30)]
    feats = decode_wav(_make_wav(16000, 2, frames))
    mixed = [(a + b) / 2 for a, b in frames]
    assert feats["sample_rate"] == 16000
    assert feats["n_samples"] == 5
    assert feats["duration_ms"] == 5 * 1000 // 16000
    assert feats["mean_sample"] == sum(mixed) / 5
    assert feats["rms"] == math.sqrt(sum(x * x for x in mixed) / 5)
    assert feats["peak"] == 32768  # the clipped right channel, not the mean
    ge = [x >= 0 for x in mixed]
    assert feats["zero_crossings"] == sum(
        1 for i in range(1, 5) if ge[i] != ge[i - 1]
    )


def test_wav_decode_16bit_sine_rms():
    """Full-scale 16-bit sine: RMS ≈ A/√2 and two midline crossings per
    cycle — the textbook identities an independent check can predict."""
    import math

    from git_etl_spark.operators.multimodal import decode_wav

    amp, cycles, spc = 20000, 10, 64  # samples per cycle
    vals = [
        round(amp * math.sin(2 * math.pi * i / spc))
        for i in range(cycles * spc)
    ]
    feats = decode_wav(_make_wav(8000, 2, [(v,) for v in vals]))
    assert abs(feats["rms"] - amp / math.sqrt(2)) / (amp / math.sqrt(2)) < 0.01
    assert feats["peak"] == amp
    assert feats["zero_crossings"] == 2 * cycles - 1
    assert abs(feats["mean_sample"]) < 1.0


def test_wav_decode_24bit_and_32bit_signed():
    """24-bit packing (the no-dtype width) and 32-bit both decode to
    the signed values the encoder wrote, including negative extremes."""
    from git_etl_spark.operators.multimodal import decode_wav

    for sw, lo, hi in ((3, -(1 << 23), (1 << 23) - 1), (4, -(1 << 31), (1 << 31) - 1)):
        frames = [(lo,), (hi,), (0,), (-1,), (12345,)]
        feats = decode_wav(_make_wav(44100, sw, frames))
        assert feats["n_samples"] == 5
        assert feats["peak"] == -lo  # |lo| > hi for two's complement
        assert feats["mean_sample"] == sum(f[0] for f in frames) / 5


def test_wav_decode_8bit_multichannel_and_mono_identity():
    """8-bit mono must stay on the original pure-stdlib arithmetic
    (frozen oracle), and 8-bit stereo mixes down around midline 128."""
    import math

    from git_etl_spark.operators.multimodal import decode_wav

    mono = [(40,), (200,), (128,), (127,), (255,)]
    feats = decode_wav(_make_wav(8000, 1, mono))
    vals = [f[0] for f in mono]
    assert feats["mean_sample"] == sum(vals) / 5
    assert feats["rms"] == math.sqrt(sum((v - 128) ** 2 for v in vals) / 5)
    assert feats["peak"] == 255
    ge = [v >= 128 for v in vals]
    assert feats["zero_crossings"] == sum(
        1 for i in range(1, 5) if ge[i] != ge[i - 1]
    )

    stereo = [(0, 255), (255, 255), (0, 0)]
    feats2 = decode_wav(_make_wav(8000, 1, stereo))
    assert feats2["mean_sample"] == (127.5 + 255 + 0) / 3
    assert feats2["peak"] == 255


def test_ahash_collision_and_locality():
    """Exact-duplicate pixel grids collide on all 64 bits; a single
    changed pixel flips at most a handful of block bits (the locality
    that makes aHash a near-dup bucket key)."""
    from git_etl_spark.operators.multimodal import ahash_bits

    body = bytes(range(256)) * 4  # 1024 'pixels'
    h1, n1, bits1 = ahash_bits(body, 16)
    h2, n2, bits2 = ahash_bits(bytes(body), 16)
    assert (h1, n1, bits1) == (h2, n2, bits2)
    assert len(bits1) == 64 and set(bits1) <= {"0", "1"}
    # perturb one pixel strongly: Hamming distance stays small
    mutated = bytearray(body)
    mutated[0] = 255
    _, _, bits3 = ahash_bits(bytes(mutated), 16)
    hamming = sum(a != b for a, b in zip(bits1, bits3))
    assert hamming <= 4
    # width < 8 leaves empty block columns, pinned to '0'
    _, _, narrow = ahash_bits(b"\xff" * 12, 4)
    assert len(narrow) == 64


def test_ngram_verify_kernels_equal(spark):
    """The vocabulary-adaptive PPJoin verify switch: the wide-vocab
    sorted-array kernel (forced via bitset_vocab_max=0) must produce
    exactly the pairs of the default dense-bitset kernel — the switch
    changes the physical kernel, never the verified set. (At test
    scale the vocabulary is below the cutoff, so without the forcing
    knob the array branch would never execute.)"""
    from git_etl_spark.operators.dedup import dedup_ngram_jaccard

    dense = sorted(
        map(tuple, dedup_ngram_jaccard(spark, SF_CORRECTNESS).collect())
    )
    wide = sorted(
        map(
            tuple,
            dedup_ngram_jaccard(
                spark, SF_CORRECTNESS, bitset_vocab_max=0
            ).collect(),
        )
    )
    assert dense == wide and len(dense) > 0


def test_png_adam7_interlaced_decode():
    """Adam7: seven independently filtered passes scattered on the
    (x0 + i·dx, y0 + j·dy) grid. The fixture writer here slices and
    forward-filters the passes itself (with varied filter types), so
    the decode must reproduce the exact pixel bytes the
    non-interlaced encoding of the same image yields — including on
    dims where several passes are empty."""
    import struct
    import zlib

    from git_etl_spark.operators.multimodal import decode_png

    def forward_filter(pixels, w, h, bpp, filters):
        stride = w * bpp
        raw = bytearray()
        prev = bytearray(stride)
        for r in range(h):
            row = bytearray(pixels[r * stride : (r + 1) * stride])
            filt = filters[r % len(filters)]
            enc = bytearray(row)
            if filt == 1:
                for i in range(stride - 1, bpp - 1, -1):
                    enc[i] = (row[i] - row[i - bpp]) & 0xFF
            elif filt == 2:
                for i in range(stride):
                    enc[i] = (row[i] - prev[i]) & 0xFF
            elif filt == 3:
                for i in range(stride):
                    left = row[i - bpp] if i >= bpp else 0
                    enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
            elif filt == 4:
                for i in range(stride):
                    a = row[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    pr = a + b - c
                    pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                    best = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    enc[i] = (row[i] - best) & 0xFF
            raw += bytes([filt]) + enc
            prev = row
        return raw

    def make_interlaced(w, h, pixels, color_type, filters):
        bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
        stride = w * bpp
        passes = [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]
        raw = bytearray()
        for x0, y0, dx, dy in passes:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = bytearray()
            for j in range(ph):
                for i in range(pw):
                    o = (y0 + j * dy) * stride + (x0 + i * dx) * bpp
                    sub += pixels[o : o + bpp]
            raw += forward_filter(sub, pw, ph, bpp, filters)

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    # RGB 10×9 (partial passes on both axes), all five filter types
    w, h = 10, 9
    pixels = bytes((r * 41 + c * 13) % 256 for r in range(h) for c in range(w * 3))
    png = make_interlaced(w, h, pixels, 2, [0, 1, 2, 3, 4])
    out = decode_png(png)
    plain = decode_png(_make_png(w, h, pixels, color_type=2))
    assert out == plain
    assert out["mean_byte"] == sum(pixels) / len(pixels)
    assert out["max_byte"] == max(pixels)
    # tiny grayscale where passes 2/4/6 are empty on one axis (w=1)
    g = bytes((7 * k + 3) % 256 for k in range(5))
    png_g = make_interlaced(1, 5, g, 0, [0, 2])
    assert decode_png(png_g) == decode_png(_make_png(1, 5, g, color_type=0))


def test_png_palette_resolved_through_plte():
    """Color type 3: the filtered bytes are palette indices — the
    decode must resolve them through PLTE so statistics are over
    actual RGB colors, and refuse indices outside the palette or a
    missing PLTE."""
    import struct
    import zlib

    import pytest

    from git_etl_spark.operators.multimodal import decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    w, h = 4, 2
    indices = bytes([0, 1, 2, 3, 3, 2, 1, 0])
    palette = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
    raw = b"".join(
        bytes([0]) + indices[r * w : (r + 1) * w] for r in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(png)
    rgb = b"".join(palette[3 * i : 3 * i + 3] for i in indices)
    assert out["n_bytes"] == len(rgb) == w * h * 3
    assert out["mean_byte"] == sum(rgb) / len(rgb)
    assert out["max_byte"] == max(rgb)
    # missing PLTE and out-of-range index are diagnosed
    no_plte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(no_plte)
    short_plte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette[:9])  # only 3 entries for indices 0..3
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="out of PLTE range"):
        decode_png(short_plte)


def _make_png_depth(
    width, height, samples, color_type, bit_depth, filters=None, plte=b"",
    interlace=0,
):
    """Depth-aware stdlib PNG writer for fixtures: packs per-pixel
    ``samples`` (height × width·channels raw values) at any legal bit
    depth — MSB-first bit packing below 8, big-endian pairs at 16 —
    and FORWARD-applies the per-row filter at the spec's byte distance
    ``max(1, bits_per_pixel // 8)`` so decode must reverse it."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bits_pp = ch * bit_depth
    fbpp = max(1, bits_pp // 8)
    filters = filters or [0] * height

    def pack_row(vals):
        if bit_depth == 8:
            return bytearray(vals)
        if bit_depth == 16:
            out = bytearray()
            for v in vals:
                out += bytes([(v >> 8) & 0xFF, v & 0xFF])
            return out
        per_byte = 8 // bit_depth
        out = bytearray((len(vals) + per_byte - 1) // per_byte)
        for k, v in enumerate(vals):
            shift = 8 - bit_depth * (k % per_byte + 1)
            out[k // per_byte] |= (v & ((1 << bit_depth) - 1)) << shift
        return out

    def filter_rows(rows, filters):
        stride = len(rows[0])
        raw = bytearray()
        prev = bytearray(stride)
        for row, filt in zip(rows, filters):
            enc = bytearray(row)
            if filt == 1:  # Sub
                for i in range(stride - 1, fbpp - 1, -1):
                    enc[i] = (row[i] - row[i - fbpp]) & 0xFF
            elif filt == 2:  # Up
                for i in range(stride):
                    enc[i] = (row[i] - prev[i]) & 0xFF
            elif filt == 3:  # Average
                for i in range(stride):
                    left = row[i - fbpp] if i >= fbpp else 0
                    enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
            elif filt == 4:  # Paeth
                for i in range(stride):
                    a = row[i - fbpp] if i >= fbpp else 0
                    b, c = prev[i], prev[i - fbpp] if i >= fbpp else 0
                    pr = a + b - c
                    pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                    best = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    enc[i] = (row[i] - best) & 0xFF
            raw += bytes([filt]) + enc
            prev = row
        return raw

    if interlace == 0:
        rows = [
            pack_row(samples[r * width * ch : (r + 1) * width * ch])
            for r in range(height)
        ]
        raw = filter_rows(rows, filters)
    else:  # Adam7: extract, pack, and filter each pass independently
        passes = [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]
        raw = bytearray()
        for x0, y0, dx, dy in passes:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows = []
            for j in range(ph):
                vals = []
                for i in range(pw):
                    o = ((y0 + j * dy) * width + x0 + i * dx) * ch
                    vals += samples[o : o + ch]
                rows.append(pack_row(vals))
            raw += filter_rows(rows, (filters * ph)[:ph])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_decode_subbyte_grayscale_rescales_exactly():
    """1/2/4-bit grayscale: MSB-first unpacking (incl. a partial
    trailing byte when width·depth isn't byte-aligned), then the exact
    v·255/(2^d−1) rescale — equal to the 8-bit PNG of the same image."""
    from git_etl_spark.operators.multimodal import decode_png

    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        w, h = 5, 3  # 5·depth bits per row → partial byte at every depth
        samples = [(r * 3 + c) % (mx + 1) for r in range(h) for c in range(w)]
        png = _make_png_depth(w, h, samples, 0, depth, filters=[0, 1, 2])
        out = decode_png(png)
        scaled = bytes(v * (255 // mx) for v in samples)
        assert out["n_bytes"] == w * h
        assert out["mean_byte"] == sum(scaled) / len(scaled)
        assert out["max_byte"] == max(scaled)
        eight = _make_png(w, h, scaled, color_type=0)
        assert out == decode_png(eight)


def test_png_decode_16bit_high_byte_reduction():
    """16-bit grayscale and RGB: big-endian sample pairs, filters at
    byte distance 2·channels, and the spec's high-byte reduction."""
    from git_etl_spark.operators.multimodal import decode_png

    w, h = 4, 3
    samples = [((r * 7919 + c * 104729) * 31) % 65536 for r in range(h) for c in range(w)]
    png = _make_png_depth(w, h, samples, 0, 16, filters=[0, 2, 4])
    out = decode_png(png)
    hi = [v >> 8 for v in samples]
    assert out["n_bytes"] == w * h
    assert out["mean_byte"] == sum(hi) / len(hi)
    assert out["max_byte"] == max(hi)

    rgb = [((r * 131 + c * 17 + k) * 257 + 12345) % 65536
           for r in range(h) for c in range(w) for k in range(3)]
    png3 = _make_png_depth(w, h, rgb, 2, 16, filters=[1, 3, 4])
    out3 = decode_png(png3)
    hi3 = [v >> 8 for v in rgb]
    assert out3["n_bytes"] == w * h * 3
    assert out3["mean_byte"] == sum(hi3) / len(hi3)
    assert out3["max_byte"] == max(hi3)


def test_png_decode_subbyte_palette_resolves_plte():
    """2-bit palette: packed indices resolve through PLTE unscaled —
    an index is an index at every depth, never a gray level."""
    from git_etl_spark.operators.multimodal import decode_png

    w, h = 6, 2
    idx = [0, 1, 2, 3, 3, 0, 1, 1, 2, 2, 3, 0]
    plte = bytes([5, 6, 7, 100, 110, 120, 200, 201, 202, 250, 251, 252])
    png = _make_png_depth(w, h, idx, 3, 2, filters=[0, 1], plte=plte)
    out = decode_png(png)
    rgb = b"".join(plte[3 * i : 3 * i + 3] for i in idx)
    assert out["n_bytes"] == len(rgb) == w * h * 3
    assert out["mean_byte"] == sum(rgb) / len(rgb)
    assert out["max_byte"] == max(rgb)


def test_png_decode_interlaced_subbyte_and_16bit():
    """Adam7 at 2-bit and 16-bit: each pass is packed and filtered
    with its own row geometry; the scatter is per-sample, so results
    equal the non-interlaced encoding of the same image."""
    from git_etl_spark.operators.multimodal import decode_png

    w, h = 9, 10  # partial passes on both axes
    mx = 3
    s2 = [(r * 5 + c * 3) % (mx + 1) for r in range(h) for c in range(w)]
    a = decode_png(_make_png_depth(w, h, s2, 0, 2, filters=[0, 1, 2], interlace=1))
    b = decode_png(_make_png_depth(w, h, s2, 0, 2, filters=[2] * h))
    assert a == b

    s16 = [((r * 523 + c * 331) * 191) % 65536 for r in range(h) for c in range(w)]
    a16 = decode_png(_make_png_depth(w, h, s16, 0, 16, filters=[0, 4], interlace=1))
    b16 = decode_png(_make_png_depth(w, h, s16, 0, 16, filters=[3] * h))
    assert a16 == b16


def test_png_decode_rejects_illegal_ihdr_combination():
    """Depth/type pairs outside the spec's table (e.g. 2-bit RGB,
    16-bit palette) are malformed files, not unsupported features."""
    import pytest

    from git_etl_spark.operators.multimodal import decode_png

    png = _make_png_depth(2, 1, [1, 2, 3, 0, 1, 2], 2, 2)
    with pytest.raises(ValueError, match="not a legal IHDR"):
        decode_png(png)


def test_mapinpandas_batch_partials_shape_and_fold(spark):
    """The raw per-Arrow-batch partial frame (batch_partials) respects
    the configured batch cap and folds to the exact global aggregate —
    the partial-aggregation identity the oracled
    udf_mapinpandas_batch_stats query hash-checks at the driver."""
    from git_etl_spark.io import load_table
    from git_etl_spark.operators.udfs import batch_partials

    docs = load_table(spark, SF_CORRECTNESS, "documents").select("doc_id")
    expected = docs.groupBy().agg(
        {"doc_id": "count"}
    ).collect()[0][0], docs.groupBy().min("doc_id").collect()[0][0]

    cap = 64
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(cap))
    try:
        rows = batch_partials(docs).collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert rows, "at least one batch"
    assert all(1 <= r.batch_rows <= cap for r in rows), "batch cap violated"
    assert all(r.min_doc_id <= r.max_doc_id for r in rows)
    # fold identity: partials recombine to the global aggregate
    n, mn = expected
    assert sum(r.batch_rows for r in rows) == n
    assert min(r.min_doc_id for r in rows) == mn


def test_gapfill_locf_null_hour_parity(spark, tmp_path):
    """The interval-explode LOCF must match the frozen spine-join +
    running-window oracle when observed hours aggregate to NULL — the
    driver corpus has no NULL values, so this edge (null-sum hours
    carry like gaps: locf = previous non-null value, filled = 1, and
    leading/all-null users emit NULL/filled=1 spines) is proven here
    against the SAME oracle SQL on a planted-NULL corpus."""
    import duckdb

    from git_etl_spark import registry

    from pyspark.sql import functions as F

    registry.load_all()
    rows = [
        # user 1: value, then a null-sum observed hour, gap, value
        ("2024-01-01 01:10:00", 1, 5.0),
        ("2024-01-01 03:20:00", 1, None),
        ("2024-01-01 03:30:00", 1, None),
        ("2024-01-01 06:00:00", 1, 7.0),
        # user 2: LEADING null-sum hour before the first value
        ("2024-01-01 01:05:00", 2, None),
        ("2024-01-01 02:10:00", 2, 3.0),
        # user 3: every observed hour null-sum
        ("2024-01-01 01:00:00", 3, None),
        ("2024-01-01 04:00:00", 3, None),
        # user 4: trailing null-sum hour after the last value
        ("2024-01-01 01:00:00", 4, 2.0),
        ("2024-01-01 05:00:00", 4, None),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        schema="ts string, user_id long, value double",
    ).select(
        F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id", "value"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    got = sorted(
        tuple(map(repr, r))
        for r in registry.QUERIES["events_gapfill_locf"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(map(repr, r))
        for r in con.execute(registry.ORACLES["events_gapfill_locf"]).fetchall()
    )
    assert len(got) == len(want)
    assert got == want
