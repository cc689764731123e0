"""Similarity search: IVF recall against the brute-force baseline, and
multimodal feature plumbing."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=3 over ~10 buckets should recover most of the exact
    top-5; assert a recall floor so parameter regressions get caught."""
    from templatedb_spark.operators.similarity import ann_cosine_topk, ann_ivf_topk

    exact = {
        (r.qid, r.vec_id) for r in ann_cosine_topk(spark, SF_SMALL).collect()
    }
    approx = {
        (r.qid, r.vec_id) for r in ann_ivf_topk(spark, SF_SMALL).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall:.2f}"


def test_matryoshka_recall_vs_bruteforce(spark):
    """The 32-dim prefix funnel at CAND=100 should recover nearly all of the
    exact 64-dim top-5 (measured 0.92 at N=500; the prefix correlates with the full vector on this
    data); assert a high recall floor so funnel-parameter regressions get
    caught, and that the funnel stays JVM-side."""
    from templatedb_spark.operators.similarity import (
        ann_cosine_topk,
        ann_matryoshka_topk,
    )
    from templatedb_spark.plans.explain import uses_python_udf

    exact = {(r.qid, r.vec_id) for r in ann_cosine_topk(spark, SF_SMALL).collect()}
    mrl = {(r.qid, r.vec_id) for r in ann_matryoshka_topk(spark, SF_SMALL).collect()}
    recall = len(exact & mrl) / len(exact)
    assert recall >= 0.8, f"matryoshka recall collapsed: {recall:.2f}"
    assert not uses_python_udf(ann_matryoshka_topk(spark, SF_SMALL))


def test_brute_force_is_jvm_side(spark):
    """The brute-force scorer must stay off the Python-UDF slow path."""
    from templatedb_spark.operators.similarity import ann_cosine_topk
    from templatedb_spark.plans.explain import uses_python_udf

    assert not uses_python_udf(ann_cosine_topk(spark, SF_SMALL))


def test_multimodal_decode_stub(spark):
    from templatedb_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"payload", codec="real")
    fake = decode_image(b"0123456789abcdef", codec="fake")
    assert len(fake) == 4 and len(fake[0]) == 4
    assert fake[0][0] == ord("0")


def test_multimodal_features_batch_shape(spark):
    from templatedb_spark.operators.multimodal import multimodal_features

    df = multimodal_features(spark, SF_SMALL)
    assert df.columns == ["doc_id", "n_bytes", "first_byte", "byte_sum_mod", "fake_pixel_mean"]
    rows = df.limit(5).collect()
    assert all(r.n_bytes > 0 for r in rows)


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.1"])
def test_lsh_recall_and_boundedness(spark, sf_dir):
    """Multi-probe LSH at TWO corpus sizes (adaptive bits picks different
    widths: 4 bits at N=500, 6 at N=2000): assert (a) a recall floor against
    the exact top-5 so hyperplane/probe/ladder regressions get caught, and
    (b) the candidate set is genuinely bounded — no query scores anywhere
    near the whole corpus (the property that makes LSH the scale path)."""
    from templatedb_spark.operators.similarity import (
        _LSH_SEED,
        _lsh_sig_kernel,
        ann_cosine_topk,
        ann_lsh_topk,
        lsh_bits_for,
    )
    from templatedb_spark.suite import table
    from pyspark.sql import functions as F

    exact = {(r.qid, r.vec_id) for r in ann_cosine_topk(spark, sf_dir).collect()}
    approx = {(r.qid, r.vec_id) for r in ann_lsh_topk(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15, f"LSH recall collapsed at {sf_dir}: {recall:.2f}"

    # boundedness: bucket population is spread out, so the largest bucket
    # (an upper bound on any single probe's candidate contribution) is a
    # small fraction of the corpus
    total = table(spark, sf_dir, "embeddings").count()
    bits = lsh_bits_for(total)
    e = _lsh_sig_kernel(spark, sf_dir, [(0, bits, _LSH_SEED)]).select("sig")
    biggest = e.groupBy("sig").count().agg(F.max("count")).collect()[0][0]
    assert biggest < total * 0.25, (biggest, total)


def test_lsh_bits_ladder():
    """The adaptive width ladder: constant expected bucket population."""
    from templatedb_spark.operators.similarity import lsh_bits_for

    assert lsh_bits_for(100) == 4
    assert lsh_bits_for(500) == 4  # sf0.001 / sf0.01
    assert lsh_bits_for(2000) == 6  # sf0.1
    assert lsh_bits_for(48 << 7) == 7  # exact boundary stays
    assert lsh_bits_for((48 << 7) + 1) == 8
    assert lsh_bits_for(10**12) == 16  # clamped at MAX_BITS


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.1"])
def test_lsh_banded_recall(spark, sf_dir):
    """Banded multi-table LSH: L=12 shallower tables OR-ed (round-4 tuning —
    L=4 sat at 0.30-0.40 recall; measured 0.80/0.82 at N=500/2000). Floor at
    0.7, the verdict's respectability bar, at BOTH adaptive bit widths."""
    from templatedb_spark.operators.similarity import (
        ann_cosine_topk,
        ann_lsh_banded_topk,
    )

    exact = {(r.qid, r.vec_id) for r in ann_cosine_topk(spark, sf_dir).collect()}
    approx = {(r.qid, r.vec_id) for r in ann_lsh_banded_topk(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"banded LSH recall below floor at {sf_dir}: {recall:.2f}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.01"])
def test_lsh_no_knife_edge_projections(sf_dir):
    """Guard for the oracle's sign-agreement assumption (ADVICE r2): LSH
    bucketing relies on Spark's sequential fold and DuckDB's
    list_dot_product agreeing on the SIGN of every (vector, plane)
    projection. Assert no projection magnitude is within epsilon of zero for
    any plane any table could use, so a future data regen that lands on the
    knife edge surfaces as a clear data problem, not an oracle mismatch."""
    import numpy as np
    import pyarrow.parquet as pq

    from templatedb_spark.operators.similarity import (
        _LSH_BAND_TABLES,
        _LSH_SEED,
        _LSH_SEED_STRIDE,
        lsh_hyperplanes,
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    mat = np.array(tbl.column("embedding").to_pylist(), dtype="float64")
    for t in range(_LSH_BAND_TABLES):
        planes = np.array(
            lsh_hyperplanes(seed=_LSH_SEED + t * _LSH_SEED_STRIDE), dtype="float64"
        )
        min_abs = np.abs(mat @ planes.T).min()
        assert min_abs > 1e-6, f"knife-edge projection: table {t}, |dot|={min_abs}"


def _left_fold_dot(a, b) -> float:
    """Dimension-ordered dot product: the engines' accumulation order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_ivf_kernel_assigns_nearest_centroid(spark):
    """The BLAS assignment kernel gives every vector the centroid a plain
    left-fold reference picks: highest round(cosine, 6), smallest cid on
    ties, over the vec_id % step == 0 centroid set."""
    import math

    from templatedb_spark.operators.similarity import (
        _ivf_assign_kernel,
        _vec_double,
        ivf_step_for,
    )
    from templatedb_spark.suite import table

    raw = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", _vec_double("embedding").alias("v")
    )
    vecs = {r.vec_id: list(r.v) for r in raw.collect()}
    norms = {i: math.sqrt(_left_fold_dot(v, v)) for i, v in vecs.items()}
    step = ivf_step_for(len(vecs))
    cids = sorted(i for i in vecs if i % step == 0)
    expected = {}
    for i, v in vecs.items():
        sims = [
            (-round(_left_fold_dot(v, vecs[c]) / (norms[i] * norms[c]), 6), c)
            for c in cids
        ]
        expected[i] = min(sims)[1]

    got = {r.vec_id: r for r in _ivf_assign_kernel(spark, SF_SMALL, raw).collect()}
    assert got.keys() == expected.keys()
    assert {i: r.cid for i, r in got.items()} == expected
    assert all(r.norm == norms[i] for i, r in got.items())


def test_lsh_kernel_signatures_match_plane_signs(spark):
    """The numpy signature kernel sets bit i of table t's signature exactly
    when the vector's left-fold dot with plane i of that table is positive."""
    from templatedb_spark.operators.similarity import (
        _lsh_band_tables_for,
        _lsh_sig_kernel,
        _vec_double,
        lsh_hyperplanes,
    )
    from templatedb_spark.suite import table

    tables = _lsh_band_tables_for(spark, SF_SMALL)[:3]
    vecs = {
        r.vec_id: list(r.v)
        for r in table(spark, SF_SMALL, "embeddings")
        .select("vec_id", _vec_double("embedding").alias("v"))
        .collect()
    }
    expected = set()
    for t, bits, seed in tables:
        planes = lsh_hyperplanes(seed=seed)[:bits]
        for i, v in vecs.items():
            sig = sum(1 << b for b, p in enumerate(planes) if _left_fold_dot(v, p) > 0.0)
            expected.add((i, t, sig))

    got = {
        (r.vec_id, r.t, r.sig)
        for r in _lsh_sig_kernel(spark, SF_SMALL, tables).select("vec_id", "t", "sig").collect()
    }
    assert got == expected


def test_png_roundtrip_all_filters():
    """encode_png cycles filters 0-4 across scanlines; decode must
    reconstruct the exact source pixels through every filter type."""
    from templatedb_spark.operators.multimodal import decode_png, encode_png

    w = h = 8
    pixels = bytes((r * 31 + c * 7) % 256 for r in range(h) for c in range(w))
    png = encode_png(pixels, w, h)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    px = decode_png(png)
    assert bytes(v for row in px for v in row) == pixels


def test_png_crc_corruption_detected():
    from templatedb_spark.operators.multimodal import decode_png, encode_png
    import pytest as _pytest

    png = bytearray(encode_png(bytes(range(16)), 4, 4))
    png[40] ^= 0xFF  # flip a byte inside IDAT
    with _pytest.raises(ValueError):
        decode_png(bytes(png))


def test_png_rgb_roundtrip_all_filters():
    """Truecolor (color type 2): the filter predictors step by 3 bytes, so a
    decoder that reuses the grayscale left/up-left offsets corrupts every
    Sub/Average/Paeth scanline. Roundtrip must be exact."""
    from templatedb_spark.operators.multimodal import decode_png, encode_png

    w = h = 8
    pixels = bytes((r * 53 + c * 17) % 256 for r in range(h) for c in range(w * 3))
    png = encode_png(pixels, w, h, channels=3)
    px = decode_png(png)
    assert len(px) == h and all(len(row) == w * 3 for row in px)
    assert bytes(v for row in px for v in row) == pixels


def test_png_rgb_crc_corruption_detected():
    from templatedb_spark.operators.multimodal import decode_png, encode_png
    import pytest as _pytest

    png = bytearray(encode_png(bytes(range(48)), 4, 4, channels=3))
    png[40] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_png(bytes(png))


def test_png_unsupported_formats_refused():
    """16-bit / palette / interlaced stay documented refusals, not wrong
    answers: flipping IHDR fields must raise NotImplementedError (and the
    CRC must be re-stamped, or the corruption check fires first)."""
    import struct
    import zlib

    import pytest as _pytest

    from templatedb_spark.operators.multimodal import decode_png, encode_png

    def with_ihdr(png: bytes, **patch) -> bytes:
        ihdr = list(struct.unpack(">IIBBBBB", png[16:29]))
        fields = ["w", "h", "depth", "color", "comp", "filt", "interlace"]
        for k, v in patch.items():
            ihdr[fields.index(k)] = v
        data = struct.pack(">IIBBBBB", *ihdr)
        crc = struct.pack(">I", zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF)
        return png[:16] + data + crc + png[33:]

    png = encode_png(bytes(range(16)), 4, 4)
    for patch in ({"depth": 16}, {"color": 3}, {"interlace": 1}):
        with _pytest.raises(NotImplementedError):
            decode_png(with_ihdr(png, **patch))
    with _pytest.raises(NotImplementedError):
        encode_png(bytes(range(32)), 4, 4, channels=2)


def test_decode_image_dispatches_png():
    from templatedb_spark.operators.multimodal import decode_image, encode_png

    png = encode_png(bytes(range(16)), 4, 4)
    assert decode_image(png) == [list(range(i * 4, i * 4 + 4)) for i in range(4)]


def test_semantic_dedup_properties(spark):
    """Representatives are always kept; every dropped member is actually
    within threshold of its cluster representative; clusters never cross."""
    from templatedb_spark.operators.similarity import (
        _SEMDEDUP_THRESHOLD,
        semantic_dedup,
    )

    rows = semantic_dedup(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        if r.vec_id == r.rep_id:
            assert r.keep, r
            assert abs(r.cosine_rep - 1.0) < 1e-6, r  # self-cosine
        if not r.keep:
            assert r.cosine_rep >= _SEMDEDUP_THRESHOLD, r
    assert any(not r.keep for r in rows), "no semantic dups found at all"


def test_mixture_sample_epochs(spark):
    """w_pct >= 100 sources keep every doc at least once; epoch numbering is
    dense 1..n_copies; fractional upsampling actually multiplies rows."""
    from collections import Counter

    from templatedb_spark.operators.textstats import mixture_sample
    from templatedb_spark.suite import table

    rows = mixture_sample(spark, SF_SMALL).collect()
    per_doc = Counter(r.doc_id for r in rows)
    for r in rows:
        assert 1 <= r.epoch <= r.n_copies
        assert per_doc[r.doc_id] == r.n_copies
    n_docs = table(spark, SF_SMALL, "documents").count()
    assert len(rows) != n_docs  # mixture genuinely re-weights
    # sources with whole weight >= 1 (idx % 8 >= 2 → w_pct >= 115) never drop docs
    for r in rows:
        idx = int(r.source[3:])
        if 25 + (idx % 8) * 45 >= 100:
            assert per_doc[r.doc_id] >= 1


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.01"])
def test_ivf_rounding_no_knife_edge(sf_dir):
    """Guard for the assignment kernel's rounding assumption: np.round is
    half-to-even, Spark F.round / DuckDB ROUND are half-away — they diverge
    only when csim*1e6 lands within float error of an exact .5 boundary.
    Assert no (vector, centroid) similarity is within 1e-7 of a boundary so
    a data regen that lands on the edge surfaces as a data problem, not a
    cross-engine oracle mismatch."""
    import numpy as np
    import pyarrow.parquet as pq

    from templatedb_spark.operators.similarity import _IVF_CENTROID_STEP

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.array(tbl.column("vec_id").to_pylist())
    mat = np.array(tbl.column("embedding").to_pylist(), dtype="float64")
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat[ids % _IVF_CENTROID_STEP == 0]
    frac = np.abs((mat @ cent.T) * 1e6 % 1.0 - 0.5)
    assert frac.min() > 1e-7, f"csim rounding knife-edge: {frac.min()}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.01"])
def test_documents_are_ascii(sf_dir):
    """The multimodal oracles equate UTF-8 BYTES (Spark encode path) with
    CHARACTERS (DuckDB substr/ascii) — valid only while documents.text is
    pure ASCII. Pin that data property so a regen with multi-byte text fails
    here with a clear message instead of as a codec-looking oracle mismatch."""
    import pyarrow.parquet as pq

    col = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"]).column("text")
    bad = [i for i, t in enumerate(col.to_pylist()) if t is not None and not t.isascii()]
    assert not bad, f"non-ASCII documents break the byte==char oracle assumption: rows {bad[:5]}"


def test_cms_overestimate_property(spark):
    """The CMS guarantee: estimates never undercount; with W=8 over a
    31-token vocab, collisions are forced so the min-over-rows logic is
    genuinely exercised (some overestimate must be positive)."""
    from templatedb_spark.operators.textstats import heavy_hitters_cms

    rows = heavy_hitters_cms(spark, SF_SMALL).collect()
    assert rows
    assert all(r.cms_n >= r.true_n for r in rows)
    assert all(r.overestimate == r.cms_n - r.true_n for r in rows)
    assert any(r.overestimate > 0 for r in rows), "no collisions — sketch untested"


def test_chunking_covers_every_token(spark):
    """Chunk windows must tile each document completely: the union of
    [start, start+n_tok) spans [1, n] with stride-sized steps, and adjacent
    chunks overlap by C-S tokens."""
    from collections import defaultdict

    from templatedb_spark.operators.pipeline import _CHUNK_C, _CHUNK_S, chunk_documents
    from templatedb_spark.operators.dedup import tokenized
    from pyspark.sql import functions as F

    n_by_doc = {
        r.doc_id: r.n
        for r in tokenized(spark, SF_SMALL).select("doc_id", F.size("t").alias("n")).collect()
    }
    chunks = defaultdict(list)
    for r in chunk_documents(spark, SF_SMALL).collect():
        chunks[r.doc_id].append((r.chunk_idx, r.start_tok, r.n_tok))
    assert chunks
    multi = 0
    for doc_id, cs in chunks.items():
        cs.sort()
        n = n_by_doc[doc_id]
        assert cs[0][1] == 1
        covered = 0
        for idx, (ci, start, n_tok) in enumerate(cs):
            assert ci == idx + 1
            assert start == 1 + idx * _CHUNK_S
            assert n_tok == min(_CHUNK_C, n - start + 1)
            covered = max(covered, start + n_tok - 1)
        assert covered == n, (doc_id, covered, n)
        multi += len(cs) > 1
    assert multi > 0  # stride logic genuinely exercised


def test_quantized_ann_recall(spark):
    """int8 quantization should barely perturb top-k on 64-dim vectors:
    assert high overlap with the exact ranking."""
    from templatedb_spark.operators.similarity import ann_cosine_topk, ann_quantized_topk

    exact = {(r.qid, r.vec_id) for r in ann_cosine_topk(spark, SF_SMALL).collect()}
    quant = {(r.qid, r.vec_id) for r in ann_quantized_topk(spark, SF_SMALL).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"quantized recall collapsed: {recall:.2f}"


def test_video_container_roundtrip_and_validation():
    """The VID0 container roundtrips frame-exactly, stride sampling keeps
    exactly the k % stride == 0 frames, and corrupt payloads raise ValueError
    (wrong magic, truncated plane)."""
    import pytest

    from templatedb_spark.operators.multimodal import (
        decode_video_frames,
        encode_video,
    )

    frames = [bytes([i] * 16) for i in range(8)]
    payload = encode_video(frames, 4, 4)
    all_f = decode_video_frames(payload, 1)
    assert [k for k, _ in all_f] == list(range(8))
    assert all(fr == frames[k] for k, fr in all_f)
    sampled = decode_video_frames(payload, 3)
    assert [k for k, _ in sampled] == [0, 3, 6]
    with pytest.raises(ValueError):
        decode_video_frames(b"XXXX" + payload[4:], 1)
    with pytest.raises(ValueError):
        decode_video_frames(payload[:-1], 1)


def test_knn_classify_majority_property(spark):
    """Each prediction's vote count is between ceil(K/#labels-present) and K,
    and pred_label must appear among the probe's top-K neighbour labels."""
    from templatedb_spark.operators.similarity import _KNN_K, knn_classify

    rows = knn_classify(spark, SF_SMALL).collect()
    assert len(rows) == 10
    for r in rows:
        assert 1 <= r.n_votes <= _KNN_K
        assert r.correct == (r.pred_label == r.true_label)


def test_maxsim_bounds_and_ranks(spark):
    """MaxSim of G unit-capped cosines is bounded by G; ranks are a dense
    1..K prefix per query doc."""
    from templatedb_spark.operators.similarity import (
        _MAXSIM_GROUP,
        _MAXSIM_K,
        _MAXSIM_NQUERY,
        maxsim_multivector_topk,
    )

    rows = maxsim_multivector_topk(spark, SF_SMALL).collect()
    by_q = {}
    for r in rows:
        assert r.maxsim <= _MAXSIM_GROUP + 1e-9
        assert r.doc_gid >= _MAXSIM_NQUERY  # probes never retrieved
        by_q.setdefault(r.qid, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, _MAXSIM_K + 1))


def test_dedup_cascade_partitions_and_lineage(spark):
    """Every document gets exactly one verdict; drops carry a smaller-id
    partner; exact drops agree with dedup_exact's keep representatives."""
    from templatedb_spark.operators.dedup import dedup_exact
    from templatedb_spark.operators.pipeline import dedup_cascade
    from templatedb_spark.suite import table

    rows = dedup_cascade(spark, SF_SMALL).collect()
    n_docs = table(spark, SF_SMALL, "documents").count()
    assert len(rows) == n_docs
    keeps = {r.keep_doc_id for r in dedup_exact(spark, SF_SMALL).collect()}
    for r in rows:
        if r.stage == "keep":
            assert r.partner is None
        else:
            assert r.partner is not None and r.partner < r.doc_id
        if r.stage == "exact":
            assert r.partner in keeps
        if r.stage == "near":
            assert r.doc_id in keeps  # near stage only judges exact survivors


def test_hard_mining_invariants(spark):
    """Hard negative has a different label and is a near neighbour; hard
    positive shares the label and scores at most the negative's ceiling of 1;
    both partners come from the corpus side."""
    from templatedb_spark.operators.similarity import (
        _MINE_NANCHOR,
        hard_negative_mining,
    )
    from templatedb_spark.suite import table

    labels = {
        r.vec_id: r.label
        for r in table(spark, SF_SMALL, "embeddings").select("vec_id", "label").collect()
    }
    rows = hard_negative_mining(spark, SF_SMALL).collect()
    assert len(rows) == _MINE_NANCHOR
    for r in rows:
        assert r.hard_neg_id >= _MINE_NANCHOR
        assert labels[r.hard_neg_id] != r.a_label
        assert -1.0 <= r.hard_neg_cos <= 1.0
        if r.hard_pos_id is not None:
            assert labels[r.hard_pos_id] == r.a_label
            assert r.hard_pos_id >= _MINE_NANCHOR


def test_resize_nearest_floor_mapping():
    """Nearest-neighbor resize uses the floor mapping src=(dst*S)//D — pinned
    on a ramp image where every source pixel is unique, both downscale (8→6,
    non-integer ratio) and upscale (4→6, indices repeat)."""
    from templatedb_spark.operators.multimodal import resize_nearest

    src = [[r * 8 + c for c in range(8)] for r in range(8)]
    out = resize_nearest(src, 6, 6)
    assert len(out) == 6 and all(len(row) == 6 for row in out)
    # hand-computed floor mapping for 8→6: dst index k reads src (k*8)//6,
    # i.e. source rows/cols [0, 1, 2, 4, 5, 6]
    keep = [0, 1, 2, 4, 5, 6]
    assert out == [[src[i][j] for j in keep] for i in keep]

    up = resize_nearest([[r * 4 + c for c in range(4)] for r in range(4)], 6, 6)
    # 4→6: dst k reads src (k*4)//6 → [0, 0, 1, 2, 2, 3] (repeats)
    rep = [0, 0, 1, 2, 2, 3]
    assert up == [[r * 4 + c for c in (rep[j] for j in range(6))] for r in (rep[i] for i in range(6))]


def test_resize_identity_and_single_pixel():
    from templatedb_spark.operators.multimodal import resize_nearest

    src = [[r * 3 + c for c in range(3)] for r in range(3)]
    assert resize_nearest(src, 3, 3) == src
    assert resize_nearest(src, 1, 1) == [[src[0][0]]]


def test_cosine_dedup_block_count_is_pure_partitioning(spark):
    """The emitted pair set must be IDENTICAL for every block count B — B is
    execution partitioning, not semantics. Run the tile kernel with the
    historical B=8 and with an adaptive-forced large B on the same corpus."""
    import templatedb_spark.operators.similarity as sim

    ref = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in sim.dedup_embedding_cosine(spark, SF_SMALL).collect()
    }
    assert ref  # non-vacuous
    orig = sim._COSINE_BLOCK_ROWS
    try:
        sim._COSINE_BLOCK_ROWS = 13  # forces B = ceil(n/13) >> 8, ragged blocks
        big_b = {
            (r.vec_a, r.vec_b, r.cosine)
            for r in sim.dedup_embedding_cosine(spark, SF_SMALL).collect()
        }
    finally:
        sim._COSINE_BLOCK_ROWS = orig
    assert big_b == ref


def test_ivf_step_adaptive_formula():
    from templatedb_spark.operators.similarity import (
        _IVF_CENTROID_STEP,
        _IVF_MAX_CELLS,
        ivf_step_for,
    )

    # historical stride up to the threshold — bit-identical driver tiers
    assert ivf_step_for(200) == _IVF_CENTROID_STEP
    assert ivf_step_for(25_600) == _IVF_CENTROID_STEP
    # just past the threshold the stride grows and cells stay bounded
    for n in (25_601, 60_000, 200_000, 10_000_000):
        step = ivf_step_for(n)
        assert step > _IVF_CENTROID_STEP or n <= 25_600
        assert -(-n // step) <= _IVF_MAX_CELLS


def test_ivf_nprobe_adaptive_formula():
    """nprobe ladder (VERDICT r9 #2): driver tiers keep the historical 3;
    larger corpora probe a fixed cell fraction so recall holds as nlist
    saturates (sf3 measured recall@5 0.86 at nprobe=128/nlist=509 vs 0.16 at
    the old fixed 3). The DuckDB scalar twin must agree with the Python
    mirror at every size, including both sides of the guard boundary."""
    import duckdb

    from templatedb_spark.operators.similarity import (
        _IVF_NPROBE,
        _IVF_NPROBE_SMALL_N,
        _IVF_NPROBE_SQL,
        ivf_nprobe_for,
        ivf_step_for,
    )

    # driver-audited tiers (embeddings: sf0.001 ~50, sf0.01 500, sf0.1 2000)
    for n in (50, 500, 2000, _IVF_NPROBE_SMALL_N):
        assert ivf_nprobe_for(n) == _IVF_NPROBE
    # sf3 (60k): nlist 509 → nprobe 128, the measured recall@5=0.86 point
    assert ivf_step_for(60_000) == 118
    assert ivf_nprobe_for(60_000) == 128
    # fraction is scale-stable: nprobe/nlist stays ~1/4 as n grows
    for n in (_IVF_NPROBE_SMALL_N + 1, 20_000, 60_000, 200_000, 10_000_000):
        nlist = -(-n // ivf_step_for(n))
        assert ivf_nprobe_for(n) == max(_IVF_NPROBE, -(-nlist // 4))
    # SQL twin ≡ Python mirror
    con = duckdb.connect()
    for n in (50, 2000, 2049, 20_000, 25_600, 25_601, 60_000, 200_000):
        con.sql(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        assert con.sql(_IVF_NPROBE_SQL).fetchone()[0] == ivf_nprobe_for(n), n


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.01"])
def test_lsh_cosine_dedup_recall_vs_exact(spark, sf_dir):
    """Recall gate for the bucketed production twin (VERDICT r8 #1): every
    pair the LSH path emits must exist in the exact all-pairs set with the
    same cosine (precision 1.0 by construction — the kernel computes the true
    score), and recall of the exact pair set must hold a floor. Data is
    deterministic per sf dir, so the floor is a regression tripwire, not a
    flaky statistic (measured: 0.852 at sf0.001, 0.863 at sf0.01)."""
    from templatedb_spark.operators.similarity import (
        dedup_embedding_cosine,
        dedup_embedding_lsh_cosine,
    )

    exact = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in dedup_embedding_lsh_cosine(spark, sf_dir).collect()
    }
    assert exact, "exact pair set vacuous — fixture drifted"
    assert lsh <= exact, f"LSH emitted non-pairs: {sorted(lsh - exact)[:5]}"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH near-dup recall collapsed: {recall:.3f}"
