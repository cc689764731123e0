"""Similarity search over the `embeddings` table (64-dim float vectors).

Extension tier (the reference has no vector operators). Two paths:

- **Brute-force cosine top-k** (`ann_cosine_topk`): the exactness baseline.
  Query set × corpus join, JVM-side dot product via `F.zip_with` +
  `F.aggregate` (no Python in the hot path), window top-k per query.
  At 100 TB this is the *verification* path you run on samples.
- **Embedding near-dup pairs** (`dedup_embedding_cosine`): all candidate pairs
  with cosine ≥ threshold — in Spark via norm-precomputation + join; the
  sf0.01 oracle does the same all-pairs exactly.
- **IVF-bucketed ANN** (`ann_ivf_topk`): the scale path. Deterministic
  "centroids" (a fixed slice of the corpus) partition the space; each corpus
  vector is assigned to its nearest centroid (one broadcast join — no shuffle
  of the corpus), and each query probes the `IVF_NPROBE` nearest centroid
  buckets only. Exactness is traded for a bounded candidate set; recall is
  measured in tests against the brute-force path. Still fully deterministic →
  has an exact oracle reproducing the same probe logic.

Float determinism: all arithmetic in double, sequential fold order identical in
both engines (F.aggregate folds left; DuckDB list reductions are sequential);
cosine rounded to 6 decimals before threshold/rank comparisons.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from templatedb_spark.sources.memory import local_df
from templatedb_spark.suite import QuerySpec, memo, register, table


def _vec_double(col: str) -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: zip_with + aggregate (whole-stage codegen, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "v") -> DataFrame:
    v = F.col(vec_col)
    return df.withColumn("norm", F.sqrt(dot(v, v)))


_DOT_SQL = "list_dot_product({a}, {b})"
_NORM_SQL = "sqrt(list_dot_product({v}, {v}))"


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------
_TOPK_NQUERY = 10
_TOPK_K = 5


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double("embedding").alias("v")
    )
    e = with_norm(e)
    q = e.filter(F.col("vec_id") < _TOPK_NQUERY).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        "vec_id",
        F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.select(
        "qid", "vec_id", "cosine", F.row_number().over(w).cast("long").alias("rank")
    ).filter(F.col("rank") <= _TOPK_K)


_ANN_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < {_TOPK_NQUERY}),
scored AS (
  SELECT q.qid, n.vec_id,
         ROUND(list_dot_product(q.qv, n.v) / (q.qnorm * n.norm), 6) AS cosine
  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
)
SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# Embedding cosine near-dup pairs
# ---------------------------------------------------------------------------
_COSINE_DUP_THRESHOLD = 0.35


_COSINE_BLOCKS = 8  # B blocks → B(B+1)/2 block-pair tasks, each holding 2·N/B vectors
_COSINE_BLOCK_ROWS = 4096  # adaptive target: rows per block, so a tile's score
#   matrix stays ≤ ~4k×4k×8B ≈ 128 MB however large the corpus grows. B is
#   pure execution partitioning — the emitted pair set is identical for every
#   B (pinned by tests/test_similarity.py) — so growing it needs no oracle
#   change; with fixed B=8 the sf10 probe measured multi-GB tiles thrashing
#   (200k/8 = 25k rows → a 5 GB sims matrix per tile).


def cosine_blocks_for(n: int) -> int:
    """Adaptive block count: the historical 8 while blocks stay ≤ 4096 rows,
    then grown so tile memory stays flat."""
    return max(_COSINE_BLOCKS, -(-n // _COSINE_BLOCK_ROWS))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ threshold, distributed-exact via block-pair matmul.

    The pairwise score matrix is dense compute, the one place where the JVM
    expression path loses badly (zip_with/aggregate is interpreted per element:
    ~25 s for 2M×64-dim pairs at sf0.1 vs ~1 s for BLAS). The semantics are
    *exact* all-pairs (the oracle enumerates every pair), so bucketing schemes
    that drop cross-bucket pairs (IVF/LSH) can't be used alone — instead each
    vector is assigned one of B blocks and every block *pair* (i ≤ j) becomes
    one applyInPandas group whose kernel computes that tile of the score matrix
    with a single numpy matmul. Nothing materializes on the driver; shuffle
    volume is N·B rows and each task holds 2·N/B vectors, so at 100 TB you
    raise B (tiles stay memory-bounded) — or switch to the registered
    production twin `dedup_embedding_lsh_cosine`, which runs this same kernel
    only within banded-LSH buckets (Σ|bucket|² FLOPs instead of N²).
    """
    import numpy as np
    import pandas as pd

    B = cosine_blocks_for(_corpus_count(spark, sf_dir))
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % B).cast("int").alias("blk")
    )
    block_pairs = local_df(
        spark, [(i, j) for i in range(B) for j in range(i, B)], "bi int, bj int"
    )
    # Replicate each vector to every block-pair it participates in: side 0 for
    # pairs where its block is the left element, side 1 for the right. The
    # block-pair relation is tiny (B(B+1)/2 rows) and broadcast; the i == j
    # diagonal needs the rows only once (the kernel self-joins the tile).
    left = e.join(F.broadcast(block_pairs), F.col("blk") == F.col("bi")).select(
        "bi", "bj", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    right = e.join(
        F.broadcast(block_pairs.filter(F.col("bi") != F.col("bj"))),
        F.col("blk") == F.col("bj"),
    ).select("bi", "bj", F.lit(1).alias("side"), "vec_id", "embedding")

    def tile(key, pdf):
        bi, bj = key
        a = pdf[pdf["side"] == 0]
        b = a if bi == bj else pdf[pdf["side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        a_ids = a["vec_id"].to_numpy(dtype="int64")
        b_ids = b["vec_id"].to_numpy(dtype="int64")
        a_mat = np.stack(a["embedding"].to_numpy()).astype("float64")
        a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
        if bi == bj:
            b_mat = a_mat
        else:
            b_mat = np.stack(b["embedding"].to_numpy()).astype("float64")
            b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
        sims = np.round(a_mat @ b_mat.T, 6)
        mask = sims >= _COSINE_DUP_THRESHOLD
        if bi == bj:
            mask &= a_ids[:, None] < b_ids[None, :]
        ai, bix = np.nonzero(mask)
        va, vb = a_ids[ai], b_ids[bix]
        # cross-block tiles see each unordered pair exactly once but in block
        # order, not id order — canonicalize to vec_a < vec_b
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "cosine": sims[ai, bix],
            }
        )

    return (
        left.unionAll(right)
        .groupBy("bi", "bj")
        .applyInPandas(tile, schema="vec_a long, vec_b long, cosine double")
    )


_COSINE_DUP_ORACLE = f"""
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
           FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= {_COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# IVF-bucketed ANN: the scale path.
# Centroids: vec_id % step == 0 (deterministic, no training), where step is
# ADAPTIVE: fixed _IVF_CENTROID_STEP while the corpus is small, then grown so
# the cell count stays ≤ _IVF_MAX_CELLS (the FAISS-style bounded-nlist
# discipline). A corpus-proportional nlist makes assignment corpus×centroids
# = QUADRATIC — the r10 sf10 probe measured exactly that (200k vecs × 4000
# cells); the cap restores O(n·nlist) with nlist bounded. Assign corpus →
# nearest centroid (BLAS kernel over a broadcast centroid matrix — no join,
# no shuffle of the corpus), probe IVF_NPROBE buckets.
# ---------------------------------------------------------------------------
_IVF_CENTROID_STEP = 50
_IVF_NPROBE = 3
_IVF_MAX_CELLS = 512
# nprobe ladder (r10, VERDICT r9 #2): a FIXED nprobe=3 while nlist scales to
# 512 is a measured recall cliff — recall@5 fell 1.0 → 0.1 from sf0.01 → sf3
# (SCALE.md). Above the driver-audited tiers, probe a fixed CELL FRACTION
# (nlist / _IVF_PROBE_FRAC_DEN): the sf3 numpy ladder measured recall@5
# 0.16 @ 0.6% cells, 0.60 @ 12.6%, 0.86 @ 25.1%, 0.96 @ 50% — 1/4 of cells
# clears the ≥0.7 acceptance gate with margin on these near-uniform synthetic
# embeddings (real clustered corpora would tune the fraction DOWN via
# ann_recall_eval; uniform vectors are IVF's worst case). The guard keeps
# every driver tier (sf0.001/0.01/0.1, n ≤ 2048) bit-identical to the
# historical nprobe=3 plans, same pattern as ivf_step_for's stride floor.
_IVF_PROBE_FRAC_DEN = 4
_IVF_NPROBE_SMALL_N = 2048


def ivf_step_for(n: int) -> int:
    """Adaptive centroid stride (Python mirror of _IVF_STEP_SQL): every
    driver-audited tier (n ≤ 25,600) keeps the historical step of 50; larger
    corpora grow the stride so nlist = ceil(n/step) stays ≤ _IVF_MAX_CELLS."""
    return max(_IVF_CENTROID_STEP, -(-n // _IVF_MAX_CELLS))


def ivf_nprobe_for(n: int) -> int:
    """Recall-targeted probe count (Python mirror of _IVF_NPROBE_SQL):
    nprobe=3 at driver tiers, else ceil(nlist / 4) — a fixed cell fraction,
    so recall holds as nlist saturates at _IVF_MAX_CELLS (sf3 measured
    recall@5 = 0.86 at this setting vs 0.16 at the old fixed 3)."""
    if n <= _IVF_NPROBE_SMALL_N:
        return _IVF_NPROBE
    nlist = -(-n // ivf_step_for(n))
    return max(_IVF_NPROBE, -(-nlist // _IVF_PROBE_FRAC_DEN))


# scalar subquery twin of ivf_step_for — both oracles embed it so DuckDB
# elects the IDENTICAL centroid set at every corpus size
_IVF_STEP_SQL = (
    f"SELECT GREATEST({_IVF_CENTROID_STEP},"
    f" CAST(CEIL(COUNT(*) / {_IVF_MAX_CELLS}.0) AS BIGINT)) FROM embeddings"
)

# scalar subquery twin of ivf_nprobe_for — all intermediate values are exact
# in double (n ≤ 2^53), so the SQL arithmetic is bit-identical to the
# integer ceil-divs in the Python mirror
_IVF_NPROBE_SQL = f"""SELECT CASE WHEN COUNT(*) <= {_IVF_NPROBE_SMALL_N} THEN {_IVF_NPROBE}
  ELSE GREATEST({_IVF_NPROBE}, CAST(CEIL(
    CEIL(COUNT(*) / GREATEST({_IVF_CENTROID_STEP}.0, CEIL(COUNT(*) / {_IVF_MAX_CELLS}.0)))
    / {_IVF_PROBE_FRAC_DEN}.0) AS BIGINT)) END FROM embeddings"""

def _seq_norms(mat):
    """Row norms via a dimension-ordered sequential fold — bit-identical to
    F.aggregate's left fold and DuckDB's list_dot_product accumulation, unlike
    BLAS matmul whose pairwise summation can differ in the last ulp."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def _seq_matmul(a, b_t):
    """a @ b_t.T with sequential accumulation over the shared dimension, so
    every dot product reproduces the engines' left-fold order exactly."""
    import numpy as np

    acc = np.zeros((a.shape[0], b_t.shape[0]))
    for d in range(a.shape[1]):
        acc += a[:, d, None] * b_t[None, :, d]
    return acc


def _ivf_centroids_bc(spark: SparkSession, sf_dir: str):
    """Broadcast of the centroid matrix, built once per (application, sf_dir)
    through suite.memo. Centroids are tiny (N / _IVF_CENTROID_STEP rows) and
    immutable for a given sf_dir, so one collect per app amortizes to
    nothing; the broadcast handle keeps the matrix off the
    closure-serialization path for every subsequent task."""
    import numpy as np

    def build():
        step = ivf_step_for(_corpus_count(spark, sf_dir))
        rows = (
            spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")
            .filter(F.col("vec_id") % step == 0)
            .select("vec_id", "embedding")
            .collect()
        )
        rows.sort(key=lambda r: r.vec_id)  # cid-ascending → argmax tiebreak = min cid
        cids = np.array([r.vec_id for r in rows], dtype="int64")
        cmat = np.array([list(r.embedding) for r in rows], dtype="float64")
        return spark.sparkContext.broadcast((cids, cmat, _seq_norms(cmat)))

    return memo(spark, sf_dir, "ivf-centroids", build)


def _ivf_assign_kernel(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """corpus → (vec_id, v, norm, nearest cid) in ONE map-only pass: each Arrow
    batch is scored against the broadcast centroid matrix with vectorized numpy
    (the round-2 expression path evaluated an interpreted dot per
    vector×centroid — the suite's hottest loop). Ordering semantics match the
    oracle: round(csim, 6) DESC, cid ASC, via argmax over a cid-sorted matrix."""
    import numpy as np
    import pandas as pd

    bc = _ivf_centroids_bc(spark, sf_dir)

    def assign(batches):
        cids, cmat, cnorm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.stack(pdf["v"].to_numpy()).astype("float64")
            norm = _seq_norms(vmat)
            csim = np.round(_seq_matmul(vmat, cmat) / (norm[:, None] * cnorm[None, :]), 6)
            j = np.argmax(csim, axis=1)  # first max → smallest cid on ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "norm": norm,
                    "cid": cids[j],
                }
            )

    return memo(
        spark,
        sf_dir,
        "ivf-assign",
        lambda: e.mapInPandas(
            assign, schema="vec_id long, v array<double>, norm double, cid long"
        ).cache(),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double("embedding").alias("v")
    )
    e = with_norm(raw)
    step = ivf_step_for(_corpus_count(spark, sf_dir))
    cent = e.filter(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    assigned = _ivf_assign_kernel(spark, sf_dir, raw)
    # queries probe their IVF_NPROBE closest centroids (10 rows — expression
    # path is fine; its norms are bit-identical to the kernel's by fold order)
    q = e.filter(F.col("vec_id") < _TOPK_NQUERY).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    probe_scored = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "qv",
        "qnorm",
        "cid",
        F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6).alias("csim"),
    )
    wp = Window.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cid").asc())
    probes = (
        probe_scored.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= ivf_nprobe_for(_corpus_count(spark, sf_dir)))
        .select("qid", "qv", "qnorm", "cid")
    )
    # candidates: corpus vectors in probed buckets only
    cands = probes.join(assigned, "cid").filter(F.col("vec_id") != F.col("qid"))
    scored = cands.select(
        "qid",
        "vec_id",
        F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6).alias("cosine"),
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.select(
        "qid", "vec_id", "cosine", F.row_number().over(wr).cast("long").alias("rank")
    ).filter(F.col("rank") <= _TOPK_K)


# Shared IVF-assignment CTE chain, funnel-style (VERDICT r7 #3): the old
# oracle ranked the full |corpus| x |centroids| product with a ROW_NUMBER
# window — a 36M-row sort carrying DOUBLE[64] payloads at sf3, which made
# the DuckDB side the differential probe's bottleneck (oracle-bound, not
# engine-bound). Funnel shape instead: MATERIALIZED id-only similarity
# table (arrays never enter the wide intermediate), hash-agg argmax
# (MAX then MIN-cid on ties — identical pick to the window's
# csim DESC, cid ASC ordering), then one join to re-attach vectors.
_IVF_ASSIGN_CTES = f"""n AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings),
cent AS MATERIALIZED (
  SELECT vec_id AS cid, v AS cv, norm AS cnorm
  FROM n, ({_IVF_STEP_SQL}) st(step) WHERE vec_id % st.step = 0),
csims AS MATERIALIZED (
  SELECT n.vec_id, cent.cid,
         ROUND(list_dot_product(n.v, cent.cv) / (n.norm * cent.cnorm), 6) AS csim
  FROM n CROSS JOIN cent),
cbest AS (SELECT vec_id, MAX(csim) AS mx FROM csims GROUP BY vec_id),
assigned_id AS (
  SELECT s.vec_id, MIN(s.cid) AS cid
  FROM csims s JOIN cbest b ON s.vec_id = b.vec_id AND s.csim = b.mx
  GROUP BY s.vec_id),
assigned AS (
  SELECT n.vec_id, n.v, n.norm, a.cid FROM n JOIN assigned_id a USING (vec_id))"""

_ANN_IVF_ORACLE = f"""
WITH {_IVF_ASSIGN_CTES},
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < {_TOPK_NQUERY}),
probes AS (
  SELECT qid, qv, qnorm, cid FROM (
    SELECT q.qid, q.qv, q.qnorm, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY ROUND(list_dot_product(q.qv, cent.cv) / (q.qnorm * cent.cnorm), 6) DESC,
                      cent.cid ASC) AS prank
    FROM q CROSS JOIN cent
  ) WHERE prank <= ({_IVF_NPROBE_SQL})
),
scored AS (
  SELECT p.qid, a.vec_id,
         ROUND(list_dot_product(p.qv, a.v) / (p.qnorm * a.norm), 6) AS cosine
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.qid
)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN (multi-probe) — the third ANN tier after brute
# force (verification) and IVF (partition-by-centroid): sign-random-projection
# buckets for cosine similarity. The signature width ADAPTS to corpus size:
# bits = smallest b in [MIN, MAX] with TARGET_BUCKET·2^b ≥ N, derived from
# COUNT(*) through an integer CASE ladder (identical in Spark and the oracle
# SQL — no float log2 whose last-ulp could flip a ceil() between engines).
# MAX_BITS hyperplanes (deterministic LCG weights, identical constants in both
# engines) are generated up front; plane i participates only when i < bits.
# A query probes its own bucket plus every bucket at hamming distance 1
# (classic multi-probe — bits+1 probes), then ranks the bounded candidate set
# by exact cosine. Corpus side: map-only signature computation + one join on
# the signature key — never an all-pairs product. At 100 TB the ladder keeps
# the expected bucket population constant (~TARGET_BUCKET rows), so candidate
# sets stay bounded as the corpus grows; past MAX_BITS=16 you raise MAX_BITS
# or move to the banded multi-table variant below.
# Sign decisions are exact double comparisons with identical sequential fold
# order in both engines, so the oracle reproduces the bucketing bit-for-bit.
# ---------------------------------------------------------------------------
_LSH_MIN_BITS = 4
_LSH_MAX_BITS = 16
_LSH_TARGET_BUCKET = 48
_LSH_DIM = 64
# Banded variant: L independent tables, OR of matches. L=12 measured 0.80/0.82
# recall@5 vs brute force at N=500/2000 (L=4 was 0.30-0.40 — below any
# retrieval user's floor; VERDICT r3 #5). Per-table candidates stay ~constant
# (avg bucket ≤ 4*TARGET via bits-2), so cost is L map-only signature passes
# plus an L×-bounded candidate join — the corpus is never pair-joined.
_LSH_BAND_TABLES = 12
_LSH_SEED = 2024
_LSH_SEED_STRIDE = 7919  # table t uses seed SEED + t*STRIDE


def lsh_hyperplanes(
    bits: int = _LSH_MAX_BITS, dim: int = _LSH_DIM, seed: int = _LSH_SEED
) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-1000, 1000] from the same
    LCG family as functions.hashing.minhash_params — one source of truth used
    to build both the Spark expression and the oracle SQL."""
    a, b = 1103515245, 12345
    x = seed
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            x = (a * x + b) % (2**31)
            row.append((x % 2001) - 1000)
        planes.append(row)
    return planes


def lsh_bits_for(n: int) -> int:
    """Python mirror of the bits ladder (tests / parameter introspection)."""
    for b in range(_LSH_MIN_BITS, _LSH_MAX_BITS):
        if n <= (_LSH_TARGET_BUCKET << b):
            return b
    return _LSH_MAX_BITS


def _lsh_bits_sql(n_expr: str) -> str:
    arms = " ".join(
        f"WHEN {n_expr} <= {_LSH_TARGET_BUCKET << b} THEN {b}"
        for b in range(_LSH_MIN_BITS, _LSH_MAX_BITS)
    )
    return f"(CASE {arms} ELSE {_LSH_MAX_BITS} END)"


def _lsh_sig_sql(vec_expr: str, bits_expr: str, seed: int = _LSH_SEED) -> str:
    terms = []
    for i, row in enumerate(lsh_hyperplanes(seed=seed)):
        arr = "[" + ", ".join(f"{c}.0" for c in row) + "]"
        terms.append(
            f"(CASE WHEN {i} < {bits_expr} AND list_dot_product({vec_expr}, {arr}) > 0.0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"


# The ANN kernel outputs (ivf-assign, lsh, km-quant) go through suite.memo as
# lazy .cache()'d DataFrames: each is deterministic per (app, sf[, table
# spec]) and referenced several times within one query plan (corpus side +
# query side + rep side) and across queries (ann_ivf_topk and semantic_dedup
# share one assignment). Without the memo the mapInPandas kernel re-executes
# per reference (the banded plan showed 4 MapInPandas nodes).
def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Embeddings row count, memoized per (app, sf) — a parquet-metadata-only
    job, so at 100 TB it reads footers, not data."""
    return memo(
        spark,
        sf_dir,
        "corpus-count",
        lambda: spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet").count(),
    )


def _lsh_sig_kernel(
    spark: SparkSession, sf_dir: str, tables: list[tuple[int, int, int]]
) -> DataFrame:
    """(vec_id, v, norm, t, sig) for every (t, bits, seed) hash table in ONE
    map-only mapInPandas pass: per Arrow batch, all tables' signatures come
    from sequential-fold numpy projections (bit-identical sign decisions to
    the engines' left folds — see _seq_matmul). Replaces the interpreted
    per-plane zip_with/aggregate expressions that made the banded variant the
    suite's critical path (4 tables × 16 gated plane dots per row)."""
    import numpy as np
    import pandas as pd

    plane_sets = [
        (t, np.array(lsh_hyperplanes(seed=seed), dtype="float64")[:bits], bits)
        for t, bits, seed in tables
    ]

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.stack(pdf["v"].to_numpy()).astype("float64")
            norm = _seq_norms(vmat)
            frames = []
            for t, planes, bits in plane_sets:
                proj = _seq_matmul(vmat, planes)  # (n, bits)
                weights = (1 << np.arange(bits, dtype="int64"))[None, :]
                sig = ((proj > 0.0).astype("int64") * weights).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "v": pdf["v"],
                            "norm": norm,
                            "t": t,
                            "sig": sig,
                        }
                    )
                )
            yield pd.concat(frames)

    raw = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double("embedding").alias("v")
    )
    return memo(
        spark,
        sf_dir,
        f"lsh {tables}",
        lambda: raw.mapInPandas(
            kern, schema="vec_id long, v array<double>, norm double, t int, sig long"
        ).cache(),
    )


def _ann_rank(cand: DataFrame) -> DataFrame:
    """Exact-cosine rerank of a bounded candidate set — shared tail of every
    ANN tier: (qid, qv, qnorm, vec_id, v, norm) → top-k by rounded cosine."""
    scored = cand.select(
        "qid",
        "vec_id",
        F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.select(
        "qid", "vec_id", "cosine", F.row_number().over(w).cast("long").alias("rank")
    ).filter(F.col("rank") <= _TOPK_K)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    bits = lsh_bits_for(_corpus_count(spark, sf_dir))
    e = _lsh_sig_kernel(spark, sf_dir, [(0, bits, _LSH_SEED)]).drop("t")
    q = e.filter(F.col("vec_id") < _TOPK_NQUERY).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("sig").alias("qsig"),
    )
    flips = F.array(*([F.lit(0)] + [F.lit(1 << i) for i in range(bits)]))
    probes = q.withColumn("flip", F.explode(flips)).select(
        "qid", "qv", "qnorm", (F.col("qsig").bitwiseXOR(F.col("flip"))).alias("probe")
    )
    cand = (
        e.join(F.broadcast(probes), e.sig == probes.probe)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "qnorm", "vec_id", "v", "norm")
        .distinct()
    )
    return _ann_rank(cand)


def _ann_lsh_oracle() -> str:
    sig_v = _lsh_sig_sql("v", "bits")
    flip_rows = ", ".join(
        f"({k}, {0 if k == 0 else 1 << (k - 1)})" for k in range(_LSH_MAX_BITS + 1)
    )
    return f"""
WITH cnt AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
bb AS (SELECT n, {_lsh_bits_sql('n')} AS bits FROM cnt),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigd AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm, {sig_v} AS sig, bits
         FROM e CROSS JOIN bb),
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm, sig AS qsig, bits
      FROM sigd WHERE vec_id < {_TOPK_NQUERY}),
flips AS (SELECT * FROM (VALUES {flip_rows}) AS t(pos, f)),
probes AS (SELECT qid, qv, qnorm, xor(qsig, f) AS probe
           FROM q JOIN flips ON pos = 0 OR pos <= bits),
cand AS (
  SELECT DISTINCT p.qid, p.qv, p.qnorm, sigd.vec_id, sigd.v, sigd.norm
  FROM sigd JOIN probes p ON sigd.sig = p.probe
  WHERE sigd.vec_id <> p.qid
),
scored AS (
  SELECT qid, vec_id,
         ROUND(list_dot_product(qv, v) / (qnorm * norm), 6) AS cosine
  FROM cand
)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# Banded multi-table LSH: L independent hash tables, each with its own seed
# and a SHALLOWER signature (bits-2, floored at MIN_BITS); a corpus vector is
# a candidate if it collides with the query in ANY table (no hamming probes —
# table multiplicity replaces them). Classic (b, L) LSH amplification: recall
# stays bounded as bits grow with corpus size, because each table's miss
# probability multiplies across L. The corpus side is exploded L× (map-only);
# the join key is (table, sig) so tables never cross-match.
# ---------------------------------------------------------------------------
_LSH_BAND_BITS_SQL = f"GREATEST({_LSH_MIN_BITS}, bits - 2)"


def ann_lsh_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, norm, t, sig) per table → OR-of-tables candidate join →
    exact rerank."""
    e = _lsh_sig_kernel(spark, sf_dir, _lsh_band_tables_for(spark, sf_dir))
    q = e.filter(F.col("vec_id") < _TOPK_NQUERY).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("t").alias("qt"),
        F.col("sig").alias("qsig"),
    )
    cand = (
        e.join(F.broadcast(q), (e.t == q.qt) & (e.sig == q.qsig))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "qnorm", "vec_id", "v", "norm")
        .distinct()
    )
    return _ann_rank(cand)


def _ann_lsh_banded_oracle() -> str:
    per_table = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, norm, {t} AS t, "
        f"{_lsh_sig_sql('v', _LSH_BAND_BITS_SQL, seed=_LSH_SEED + t * _LSH_SEED_STRIDE)} AS sig "
        f"FROM normd CROSS JOIN bb"
        for t in range(_LSH_BAND_TABLES)
    )
    return f"""
WITH cnt AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
bb AS (SELECT n, {_lsh_bits_sql('n')} AS bits FROM cnt),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
normd AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
sigd AS ({per_table}),
q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm, t AS qt, sig AS qsig
      FROM sigd WHERE vec_id < {_TOPK_NQUERY}),
cand AS (
  SELECT DISTINCT p.qid, p.qv, p.qnorm, sigd.vec_id, sigd.v, sigd.norm
  FROM sigd JOIN q p ON sigd.t = p.qt AND sigd.sig = p.qsig
  WHERE sigd.vec_id <> p.qid
),
scored AS (
  SELECT qid, vec_id,
         ROUND(list_dot_product(qv, v) / (qnorm * norm), 6) AS cosine
  FROM cand
)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# Bucketed embedding near-dup (round 9, VERDICT r8 #1): the 100-TB production
# twin of dedup_embedding_cosine. The exact spec's block-pair matmul is
# distributed-exact but O(N²) FLOPs at any block count; this one generates
# candidates from the SAME banded LSH table family as ann_lsh_banded_topk
# (identical bits/seeds → the signature kernel memo is shared within a
# session), then runs the matmul kernel only WITHIN each (table, signature)
# bucket. Compute is Σ|bucket|² — linear in N for bounded buckets (the
# adaptive bits ladder targets _LSH_TARGET_BUCKET rows/bucket) — and shuffle
# is N×T rows. Approximation is recall-only (a pair missed by all T tables is
# absent; every emitted pair carries its exact cosine): the oracle applies
# the identical bucketing, so correctness is exact, and recall vs the exact
# spec is gated in tests/test_similarity.py.
# ---------------------------------------------------------------------------
def _lsh_band_tables_for(spark: SparkSession, sf_dir: str) -> list[tuple[int, int, int]]:
    bits = lsh_bits_for(_corpus_count(spark, sf_dir))
    bbits = max(_LSH_MIN_BITS, bits - 2)
    return [
        (t, bbits, _LSH_SEED + t * _LSH_SEED_STRIDE) for t in range(_LSH_BAND_TABLES)
    ]


def dedup_embedding_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs: banded signatures → within-bucket
    block matmul → exact cosine ≥ threshold, distinct across tables.

    Scale shape: map-only signature kernel (no corpus shuffle), one hash
    shuffle on (t, sig), per-bucket tiles row-chunked so a tile's score
    matrix stays ≤ ~2k×|bucket| doubles, pair dedup as a hash aggregate.
    No all-pairs stage anywhere — this is the registered production path the
    exact spec's docstring promises ("pre-filter with LSH and run the same
    kernel per bucket")."""
    import numpy as np
    import pandas as pd

    sigs = _lsh_sig_kernel(spark, sf_dir, _lsh_band_tables_for(spark, sf_dir))

    def bucket_tile(key, pdf):
        del key
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        if len(ids) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        vmat = np.stack(pdf["v"].to_numpy()).astype("float64")
        norm = pdf["norm"].to_numpy(dtype="float64")
        frames = []
        step = 2048  # row-chunk the tile: memory ≤ step×|bucket| doubles even
        # on a skewed signature (e.g. the all-positive-projections bucket)
        for s in range(0, len(ids), step):
            sims = np.round(
                _seq_matmul(vmat[s : s + step], vmat)
                / (norm[s : s + step, None] * norm[None, :]),
                6,
            )
            mask = (sims >= _COSINE_DUP_THRESHOLD) & (
                ids[s : s + step, None] < ids[None, :]
            )
            ai, bi = np.nonzero(mask)
            if len(ai):
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[s : s + step][ai],
                            "vec_b": ids[bi],
                            "cosine": sims[ai, bi],
                        }
                    )
                )
        if not frames:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        return pd.concat(frames)

    # a pair sharing k > 1 table buckets is emitted k times with the same
    # rounded cosine (functionally determined by the pair) — distinct folds it
    return (
        sigs.groupBy("t", "sig")
        .applyInPandas(bucket_tile, schema="vec_a long, vec_b long, cosine double")
        .distinct()
    )


def _lsh_cosine_dup_oracle() -> str:
    per_table = "\nUNION ALL\n".join(
        f"SELECT vec_id, {_lsh_sig_sql('v', _LSH_BAND_BITS_SQL, seed=_LSH_SEED + t * _LSH_SEED_STRIDE)} AS sig, {t} AS t "
        f"FROM normd CROSS JOIN bb"
        for t in range(_LSH_BAND_TABLES)
    )
    return f"""
WITH cnt AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
bb AS (SELECT n, {_lsh_bits_sql('n')} AS bits FROM cnt),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
normd AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
sigd AS ({per_table}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigd a JOIN sigd b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       ROUND(list_dot_product(x.v, y.v) / (x.norm * y.norm), 6) AS cosine
FROM cand c
JOIN normd x ON x.vec_id = c.vec_a
JOIN normd y ON y.vec_id = c.vec_b
WHERE ROUND(list_dot_product(x.v, y.v) / (x.norm * y.norm), 6) >= {_COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDedup-style): cluster the embedding space (reusing the
# deterministic IVF assignment), elect one representative per cluster (min
# vec_id), and drop members whose cosine to their representative exceeds a
# threshold. The scale shape: assignment is the map-only kernel above;
# representatives are one tiny broadcast (|clusters| rows); the verdict join
# never compares across clusters — candidate volume is |corpus|, not |pairs|.
# ---------------------------------------------------------------------------
_SEMDEDUP_THRESHOLD = 0.30


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double("embedding").alias("v")
    )
    assigned = _ivf_assign_kernel(spark, sf_dir, raw)
    rep_ids = assigned.groupBy("cid").agg(F.min("vec_id").alias("rep_id")).select(
        F.col("cid").alias("mcid"), "rep_id"
    )
    renamed = assigned.select(
        F.col("cid").alias("rcid"),
        F.col("vec_id").alias("rvid"),
        F.col("v").alias("rv"),
        F.col("norm").alias("rnorm"),
    )
    reps = renamed.join(
        F.broadcast(rep_ids),
        (F.col("rvid") == F.col("rep_id")) & (F.col("rcid") == F.col("mcid")),
    ).select("rcid", "rep_id", "rv", "rnorm")
    joined = assigned.join(F.broadcast(reps), F.col("cid") == F.col("rcid"))
    cos = F.round(dot(F.col("v"), F.col("rv")) / (F.col("norm") * F.col("rnorm")), 6)
    return joined.select(
        "vec_id",
        "cid",
        "rep_id",
        cos.alias("cosine_rep"),
        (
            (F.col("vec_id") == F.col("rep_id"))
            | (cos < _SEMDEDUP_THRESHOLD)
        ).alias("keep"),
    )


_SEMDEDUP_ORACLE = f"""
WITH {_IVF_ASSIGN_CTES},
reps AS (
  SELECT a.cid AS rcid, a.vec_id AS rep_id, a.v AS rv, a.norm AS rnorm
  FROM assigned a
  JOIN (SELECT cid, MIN(vec_id) AS rep_id FROM assigned GROUP BY cid) m
    ON a.cid = m.cid AND a.vec_id = m.rep_id
)
SELECT a.vec_id, a.cid, r.rep_id,
       ROUND(list_dot_product(a.v, r.rv) / (a.norm * r.rnorm), 6) AS cosine_rep,
       (a.vec_id = r.rep_id OR
        ROUND(list_dot_product(a.v, r.rv) / (a.norm * r.rnorm), 6) < {_SEMDEDUP_THRESHOLD}) AS keep
FROM assigned a JOIN reps r ON a.cid = r.rcid
"""


# ---------------------------------------------------------------------------
# Quantized ANN: brute-force top-k over int8-range quantized vectors
# (floor(x*127), the same convention as the embedding_quantize spec). The
# memory tier of vector search at 100 TB: int8 vectors are 4x smaller, the
# candidate scoring is INTEGER arithmetic (exactly reproducible in both
# engines - no float-fold knife edges at all in the scoring), and the
# float division/sqrt at the end operates on identical integers, so the
# estimated cosine is bit-identical cross-engine. Production recipe: rank
# by quantized estimate, fp-rerank the short list (the rerank is exactly
# ann_cosine_topk on candidates).
# ---------------------------------------------------------------------------


def _dot_long(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = F.expr("transform(embedding, x -> cast(floor(cast(x as double) * 127) as long))")
    e = table(spark, sf_dir, "embeddings").select("vec_id", qv.alias("q"))
    e = e.withColumn("qnorm", F.sqrt(_dot_long(F.col("q"), F.col("q")).cast("double")))
    qs = e.filter(F.col("vec_id") < _TOPK_NQUERY).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq"), F.col("qnorm").alias("qqnorm")
    )
    scored = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                _dot_long(F.col("qq"), F.col("q")).cast("double")
                / (F.col("qqnorm") * F.col("qnorm")),
                6,
            ).alias("est_cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("est_cosine").desc(), F.col("vec_id").asc())
    return scored.select(
        "qid", "vec_id", "est_cosine", F.row_number().over(w).cast("long").alias("rank")
    ).filter(F.col("rank") <= _TOPK_K)


_ANN_QUANTIZED_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (SELECT vec_id, qv, sqrt(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS qnorm FROM q),
qry AS (SELECT vec_id AS qid, qv AS qq, qnorm AS qqnorm FROM n WHERE vec_id < {_TOPK_NQUERY}),
scored AS (
  SELECT qry.qid, n.vec_id,
         ROUND(CAST(list_dot_product(qry.qq, n.qv) AS DOUBLE) / (qry.qqnorm * n.qnorm), 6) AS est_cosine
  FROM n CROSS JOIN qry WHERE n.vec_id <> qry.qid
)
SELECT qid, vec_id, est_cosine, rank FROM (
  SELECT qid, vec_id, est_cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY est_cosine DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# Matryoshka two-stage retrieval: exact cosine on a 32-dim PREFIX of every
# vector selects a candidate pool, full 64-dim cosine reranks it. The MRL
# funnel shape: at 100 TB the prefix index is a 2× smaller scan (and in a
# real deployment a separate, column-pruned table); full vectors are touched
# only for |queries| × CAND candidates. Deterministic end-to-end — both
# stages' rankings are total orders on (rounded score, vec_id) — so the
# funnel itself has an exact oracle. Parameter note: these embeddings are
# synthetic (information uniform across dims, unlike a trained MRL model
# that front-loads it), so the prefix must be wider — measured recall vs
# brute force at N=500: 16d/50c 0.54, 32d/50c 0.74, 32d/100c 0.92.
# ---------------------------------------------------------------------------
_MRL_DIM = 32
_MRL_CAND = 100


def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _vec_double("embedding").alias("v"),
        F.expr(f"transform(slice(embedding, 1, {_MRL_DIM}), x -> cast(x as double))").alias("p"),
    )
    e = e.withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v")))).withColumn(
        "pnorm", F.sqrt(dot(F.col("p"), F.col("p")))
    )
    q = e.filter(F.col("vec_id") < _TOPK_NQUERY).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("p").alias("qp"),
        F.col("norm").alias("qnorm"),
        F.col("pnorm").alias("qpnorm"),
    )
    coarse = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "v",
            "norm",
            "qv",
            "qnorm",
            F.round(
                dot(F.col("qp"), F.col("p")) / (F.col("qpnorm") * F.col("pnorm")), 6
            ).alias("pcos"),
        )
    )
    wc = Window.partitionBy("qid").orderBy(F.col("pcos").desc(), F.col("vec_id").asc())
    cand = coarse.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= _MRL_CAND
    )
    rer = cand.select(
        "qid",
        "vec_id",
        F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6).alias(
            "cosine"
        ),
    )
    wf = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return rer.select(
        "qid", "vec_id", "cosine", F.row_number().over(wf).cast("long").alias("rank")
    ).filter(F.col("rank") <= _TOPK_K)


_ANN_MRL_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, (embedding[1 : {_MRL_DIM}])::DOUBLE[] AS p
  FROM embeddings
),
n AS (
  SELECT vec_id, v, p,
         sqrt(list_dot_product(v, v)) AS norm,
         sqrt(list_dot_product(p, p)) AS pnorm
  FROM e
),
q AS (SELECT vec_id AS qid, v AS qv, p AS qp, norm AS qnorm, pnorm AS qpnorm
      FROM n WHERE vec_id < {_TOPK_NQUERY}),
coarse AS (
  SELECT q.qid, n.vec_id, n.v, n.norm, q.qv, q.qnorm,
         ROUND(list_dot_product(q.qp, n.p) / (q.qpnorm * n.pnorm), 6) AS pcos
  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid
),
cand AS (
  SELECT * FROM (
    SELECT qid, vec_id, v, norm, qv, qnorm,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id ASC) AS crank
    FROM coarse
  ) WHERE crank <= {_MRL_CAND}
),
rer AS (
  SELECT qid, vec_id,
         ROUND(list_dot_product(qv, v) / (qnorm * norm), 6) AS cosine
  FROM cand
)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC)::BIGINT AS rank
  FROM rer
) WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# Lloyd's k-means over int8-range quantized vectors — the iterative-ML tier
# (embedding clustering for mixture balancing / SemDedup-style curation).
# Runs T fixed iterations with the MLlib driver pattern: centroids (K×64
# ints, bounded regardless of corpus size) live in a broadcast numpy matrix,
# so ASSIGNMENT IS MAP-ONLY (an int64 matmul kernel per Arrow batch — no
# join, no corpus shuffle); the update step collects per-batch per-cluster
# partial (count, sum-vector) rows — bounded by partitions × K — and folds
# them on the driver. Total per iteration: one cached-corpus pass + a
# partitions×K collect, the textbook distributed-kmeans shape.
#
# Exactness (why quantized): squared-L2 distances and per-cluster sums are
# INTEGER arithmetic (|q|≤127 → dot ≤ ~1M, sums < 2^53 — exact in double in
# both engines, no fold-order knife edges); centroid update is
# floor(sum/count) computed as FLOOR over exact doubles in both dialects
# (DuckDB's `//` truncates instead of flooring on negatives — avoided).
# Empty clusters keep their previous centroid in both engines. The oracle
# unrolls the T iterations as CTEs.
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_T = 3  # assignment passes; T-1 centroid updates between them
_KM_DIM = 64
_KM_QEXPR = "transform(embedding, x -> cast(floor(cast(x as double) * 127) as long))"
_KM_QSQL = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127) AS BIGINT))"


def _km_quantized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        sf_dir,
        "km-quant",
        lambda: table(spark, sf_dir, "embeddings")
        .select("vec_id", F.expr(_KM_QEXPR).alias("q"))
        .cache(),
    )


def kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment runs as an int64 numpy kernel over mapInPandas — integer
    matmul is EXACT (no fold-order ulp concerns, unlike the float kernels
    that need _seq_matmul), so BLAS-class speed costs nothing in oracle
    fidelity. Updates follow the MLlib shape: each Arrow batch emits K
    per-cluster partial (count, sum-vector) rows — bounded by
    partitions × K regardless of corpus size — and the driver folds them
    into new centroids with the same floor(sum/count) both dialects use."""
    import numpy as np
    import pandas as pd

    e = _km_quantized_corpus(spark, sf_dir)
    cents = [
        [int(v) for v in r["q"]]
        for r in e.filter(F.col("vec_id") < _KM_K).orderBy("vec_id").collect()
    ]

    for t in range(_KM_T - 1):
        bc = spark.sparkContext.broadcast(np.array(cents, dtype="int64"))

        def partials(batches, bc=bc):
            C = bc.value
            cc = (C * C).sum(axis=1)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf["q"].to_numpy()).astype("int64")
                d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T) + cc[None, :]
                j = np.argmin(d, axis=1)  # first min → lowest cluster id on ties
                rows = []
                for cl in np.unique(j):
                    m = j == cl
                    rows.append(
                        {"cluster": int(cl), "n": int(m.sum()), "s": Q[m].sum(axis=0).tolist()}
                    )
                yield pd.DataFrame(rows)

        agg = e.mapInPandas(partials, schema="cluster long, n long, s array<long>").collect()
        counts: dict[int, int] = {}
        sums: dict[int, "np.ndarray"] = {}
        for r in agg:
            cl = int(r["cluster"])
            counts[cl] = counts.get(cl, 0) + int(r["n"])
            v = np.array(r["s"], dtype="int64")
            sums[cl] = sums[cl] + v if cl in sums else v
        cents = [
            # floor over exact doubles — matches FLOOR(CAST(s AS DOUBLE)/n)
            # in both engines (sums < 2^53); empty clusters keep the old one
            np.floor(sums[j].astype("float64") / counts[j]).astype("int64").tolist()
            if j in counts
            else cents[j]
            for j in range(_KM_K)
        ]

    bc = spark.sparkContext.broadcast(np.array(cents, dtype="int64"))

    def stats_kernel(batches, bc=bc):
        C = bc.value
        cc = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype("int64")
            d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T) + cc[None, :]
            j = np.argmin(d, axis=1)
            rows = []
            for cl in np.unique(j):
                m = j == cl
                rows.append(
                    {"cluster": int(cl), "n": int(m.sum()), "inertia": int(d[m, cl].sum())}
                )
            yield pd.DataFrame(rows)

    stats = (
        e.mapInPandas(stats_kernel, schema="cluster long, n long, inertia long")
        .groupBy("cluster")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.sum("inertia").cast("long").alias("inertia"),
        )
    )
    fps = local_df(
        spark,
        [(j, ",".join(str(int(v)) for v in c)) for j, c in enumerate(cents)],
        "cluster long, cstr string",
    )
    return stats.join(F.broadcast(fps), "cluster").select(
        "cluster", "n_vecs", "inertia", F.md5(F.col("cstr")).alias("centroid_fp")
    )


def _kmeans_oracle() -> str:
    dims = ", ".join(
        f"CAST(FLOOR(SUM(q[{d + 1}])::DOUBLE / COUNT(*)) AS BIGINT)" for d in range(_KM_DIM)
    )
    parts = [
        f"q AS (SELECT vec_id, {_KM_QSQL} AS q FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cl, q AS c FROM q WHERE vec_id < {_KM_K})",
    ]
    for t in range(_KM_T):
        parts.append(
            f"""d{t} AS (
  SELECT q.vec_id, q.q, c.cl,
         CAST(list_dot_product(q.q, q.q) - 2 * list_dot_product(q.q, c.c)
              + list_dot_product(c.c, c.c) AS BIGINT) AS dist
  FROM q CROSS JOIN c{t} c
),
a{t} AS (
  SELECT vec_id, q, cl, dist FROM (
    SELECT vec_id, q, cl, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn
    FROM d{t}
  ) WHERE rn = 1
)"""
        )
        if t < _KM_T - 1:
            # per-dim means via direct list indexing (q[d] — no unnest
            # ordinality dependence); empty clusters keep the old centroid
            parts.append(
                f"""u{t} AS (
  SELECT cl, [{dims}] AS c FROM a{t} GROUP BY cl
),
c{t + 1} AS (
  SELECT p.cl, COALESCE(u{t}.c, p.c) AS c
  FROM c{t} p LEFT JOIN u{t} ON u{t}.cl = p.cl
)"""
            )
    last = _KM_T - 1
    return f"""
WITH {', '.join(parts)},
stats AS (
  SELECT cl AS cluster, COUNT(*)::BIGINT AS n_vecs, SUM(dist)::BIGINT AS inertia
  FROM a{last} GROUP BY cl
)
SELECT s.cluster, s.n_vecs, s.inertia,
       md5(array_to_string(c.c, ',')) AS centroid_fp
FROM stats s JOIN c{last} c ON c.cl = s.cluster
"""


# ---------------------------------------------------------------------------
# k-NN majority-vote classification — the labeled-corpus consumer of the ANN
# tier. Probe vectors (held out of the corpus) take the majority label of
# their K nearest neighbors by cosine; ties break to the smallest label so
# the verdict is deterministic. The plan is the brute-force scored join
# (broadcast probes x corpus, JVM-side dot product), one window top-K, and a
# (qid, label) vote count — at 100 TB the scored-join stage swaps for any of
# the bucketed ANN paths above (IVF/LSH/quantized) without touching the vote
# logic, which is the point of keeping vote and search as separate stages.
# Cosines round to 6 decimals before ranking (repo float convention).
# ---------------------------------------------------------------------------
_KNN_NPROBE = 10
_KNN_K = 7


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec_double("embedding").alias("v")
    )
    e = with_norm(e)
    probes = e.filter(F.col("vec_id") < _KNN_NPROBE).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    corpus = e.filter(F.col("vec_id") >= _KNN_NPROBE)
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "qid",
        "true_label",
        "vec_id",
        "label",
        F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    nn = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _KNN_K)
    votes = nn.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("vrank", F.row_number().over(wv))
        .filter(F.col("vrank") == 1)
        .select(
            "qid",
            F.col("label").cast("long").alias("pred_label"),
            "n_votes",
            F.col("true_label").cast("long").alias("true_label"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


_KNN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
probes AS (
  SELECT vec_id AS qid, label AS true_label, v AS qv, norm AS qnorm
  FROM n WHERE vec_id < {_KNN_NPROBE}
),
scored AS (
  SELECT p.qid, p.true_label, c.vec_id, c.label,
         ROUND(list_dot_product(p.qv, c.v) / (p.qnorm * c.norm), 6) AS cosine
  FROM n c CROSS JOIN probes p WHERE c.vec_id >= {_KNN_NPROBE}
),
nn AS (
  SELECT * FROM (
    SELECT qid, true_label, vec_id, label,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {_KNN_K}
),
votes AS (
  SELECT qid, true_label, label, COUNT(*)::BIGINT AS n_votes
  FROM nn GROUP BY 1, 2, 3
)
SELECT qid, label::BIGINT AS pred_label, n_votes, true_label::BIGINT AS true_label,
       label = true_label AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n_votes DESC, label ASC) AS vrank
  FROM votes
) WHERE vrank = 1
"""

# ---------------------------------------------------------------------------
# MaxSim multi-vector (late-interaction) retrieval — the ColBERT scoring
# shape. Each "document" is a BAG of token vectors (here: 4 consecutive
# embedding rows share a group id); a query document scores against a corpus
# document as  sum over query tokens of (max over doc tokens of cosine).
# The plan: probes broadcast against the corpus vector table, one
# (query-token x corpus-doc) max-aggregation, one (query-doc x corpus-doc)
# sum-aggregation, window top-k. Per-token cosines round to 6 decimals and
# accumulate as DECIMAL so the two-level aggregation is partition-order
# independent (float sums of independently-maxed terms are not).
# At 100 TB the scored join swaps its corpus side for an ANN candidate set
# (IVF/LSH over a pooled per-doc centroid) — the MaxSim head is unchanged.
# ---------------------------------------------------------------------------
_MAXSIM_GROUP = 4  # token vectors per document
_MAXSIM_NQUERY = 5  # query documents
_MAXSIM_K = 5


def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") / _MAXSIM_GROUP).cast("long").alias("gid"),
        _vec_double("embedding").alias("v"),
    )
    e = with_norm(e)
    probes = e.filter(F.col("gid") < _MAXSIM_NQUERY).select(
        F.col("gid").alias("qid"),
        F.col("vec_id").alias("q_vec"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    corpus = e.filter(F.col("gid") >= _MAXSIM_NQUERY)
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "qid",
        "q_vec",
        F.col("gid").alias("doc_gid"),
        F.round(
            dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6
        ).cast("decimal(10,6)").alias("cosine"),
    )
    # level 1: best corpus token per (query token, corpus doc)
    best = scored.groupBy("qid", "q_vec", "doc_gid").agg(F.max("cosine").alias("best"))
    # level 2: MaxSim = exact decimal sum of the per-query-token maxima
    sims = best.groupBy("qid", "doc_gid").agg(
        F.sum("best").cast("double").alias("maxsim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("maxsim").desc(), F.col("doc_gid").asc())
    return sims.select(
        "qid", "doc_gid", "maxsim", F.row_number().over(w).cast("long").alias("rank")
    ).filter(F.col("rank") <= _MAXSIM_K)


_MAXSIM_ORACLE = f"""
WITH e AS (
  SELECT vec_id, vec_id // {_MAXSIM_GROUP} AS gid, embedding::DOUBLE[] AS v
  FROM embeddings
),
n AS (SELECT vec_id, gid, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
probes AS (
  SELECT gid AS qid, vec_id AS q_vec, v AS qv, norm AS qnorm
  FROM n WHERE gid < {_MAXSIM_NQUERY}
),
scored AS (
  SELECT p.qid, p.q_vec, c.gid AS doc_gid,
         ROUND(list_dot_product(p.qv, c.v) / (p.qnorm * c.norm), 6)::DECIMAL(10,6) AS cosine
  FROM n c CROSS JOIN probes p WHERE c.gid >= {_MAXSIM_NQUERY}
),
best AS (
  SELECT qid, q_vec, doc_gid, MAX(cosine) AS best FROM scored GROUP BY 1, 2, 3
),
sims AS (
  SELECT qid, doc_gid, CAST(SUM(best) AS DOUBLE) AS maxsim FROM best GROUP BY 1, 2
)
SELECT qid, doc_gid, maxsim, rank FROM (
  SELECT qid, doc_gid, maxsim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, doc_gid ASC)::BIGINT AS rank
  FROM sims
) WHERE rank <= {_MAXSIM_K}
"""

# ---------------------------------------------------------------------------
# Hard-example mining for contrastive embedding training: for each anchor
# vector, the hardest NEGATIVE (highest-cosine corpus vector with a
# DIFFERENT label — the confusable impostor) and the hardest POSITIVE
# (lowest-cosine corpus vector with the SAME label — the estranged twin).
# These pairs are what metric-learning batches are built from. One scored
# broadcast join, two window top-1 passes over opposite orderings, joined
# back per anchor. At 100 TB the negatives side runs over ANN candidates
# (a hard negative is by definition a near neighbor — IVF/LSH candidates
# contain it); the positives side runs per label partition.
# ---------------------------------------------------------------------------
_MINE_NANCHOR = 10


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec_double("embedding").alias("v")
    )
    e = with_norm(e)
    anchors = e.filter(F.col("vec_id") < _MINE_NANCHOR).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("a_label"),
        F.col("v").alias("av"),
        F.col("norm").alias("anorm"),
    )
    corpus = e.filter(F.col("vec_id") >= _MINE_NANCHOR)
    scored = corpus.crossJoin(F.broadcast(anchors)).select(
        "aid",
        "a_label",
        "vec_id",
        "label",
        F.round(dot(F.col("av"), F.col("v")) / (F.col("anorm") * F.col("norm")), 6).alias("cosine"),
    )
    wneg = Window.partitionBy("aid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    hard_neg = (
        scored.filter(F.col("label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(wneg))
        .filter(F.col("rn") == 1)
        .select(
            "aid",
            "a_label",
            F.col("vec_id").alias("hard_neg_id"),
            F.col("cosine").alias("hard_neg_cos"),
        )
    )
    wpos = Window.partitionBy("aid").orderBy(F.col("cosine").asc(), F.col("vec_id").asc())
    hard_pos = (
        scored.filter(F.col("label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select(
            F.col("aid").alias("p_aid"),
            F.col("vec_id").alias("hard_pos_id"),
            F.col("cosine").alias("hard_pos_cos"),
        )
    )
    return (
        hard_neg.join(hard_pos, hard_neg["aid"] == hard_pos["p_aid"], "left")
        .select("aid", "a_label", "hard_neg_id", "hard_neg_cos", "hard_pos_id", "hard_pos_cos")
    )


_MINE_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
anchors AS (
  SELECT vec_id AS aid, label AS a_label, v AS av, norm AS anorm
  FROM n WHERE vec_id < {_MINE_NANCHOR}
),
scored AS (
  SELECT a.aid, a.a_label, c.vec_id, c.label,
         ROUND(list_dot_product(a.av, c.v) / (a.anorm * c.norm), 6) AS cosine
  FROM n c CROSS JOIN anchors a WHERE c.vec_id >= {_MINE_NANCHOR}
),
hard_neg AS (
  SELECT aid, a_label, vec_id AS hard_neg_id, cosine AS hard_neg_cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM scored WHERE label <> a_label
  ) WHERE rn = 1
),
hard_pos AS (
  SELECT aid AS p_aid, vec_id AS hard_pos_id, cosine AS hard_pos_cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cosine ASC, vec_id ASC) AS rn
    FROM scored WHERE label = a_label
  ) WHERE rn = 1
)
SELECT hn.aid, hn.a_label, hn.hard_neg_id, hn.hard_neg_cos, hp.hard_pos_id, hp.hard_pos_cos
FROM hard_neg hn LEFT JOIN hard_pos hp ON hp.p_aid = hn.aid
"""

for spec in [
    QuerySpec("kmeans_quantized", kmeans_quantized, _kmeans_oracle(), "fixed-iteration integer k-means over quantized embeddings (iterative-ML tier)"),
    QuerySpec("ann_cosine_topk", ann_cosine_topk, _ANN_TOPK_ORACLE, "brute-force cosine top-k"),
    QuerySpec("ann_matryoshka_topk", ann_matryoshka_topk, _ANN_MRL_ORACLE, "Matryoshka two-stage retrieval: 16-dim prefix funnel + full-dim rerank"),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, _COSINE_DUP_ORACLE, "embedding cosine near-dup pairs"),
    QuerySpec("dedup_embedding_lsh_cosine", dedup_embedding_lsh_cosine, _lsh_cosine_dup_oracle(), "LSH-bucketed embedding near-dup pairs (100-TB production twin: banded buckets -> within-bucket matmul, no all-pairs stage)"),
    QuerySpec("ann_ivf_topk", ann_ivf_topk, _ANN_IVF_ORACLE, "IVF-bucketed ANN top-k (scale path)"),
    QuerySpec("ann_lsh_topk", ann_lsh_topk, _ann_lsh_oracle(), "multi-probe random-hyperplane LSH ANN top-k (adaptive bits)"),
    QuerySpec("ann_lsh_banded_topk", ann_lsh_banded_topk, _ann_lsh_banded_oracle(), "banded multi-table LSH ANN top-k"),
    QuerySpec("semantic_dedup", semantic_dedup, _SEMDEDUP_ORACLE, "SemDedup-style cluster-representative dedup"),
    QuerySpec("ann_quantized_topk", ann_quantized_topk, _ANN_QUANTIZED_ORACLE, "int8-range quantized brute-force ANN (integer scoring, exact oracle)"),
    QuerySpec("knn_classify", knn_classify, _KNN_ORACLE, "k-NN majority-vote label classification over the ANN scored join"),
    QuerySpec("maxsim_multivector_topk", maxsim_multivector_topk, _MAXSIM_ORACLE, "ColBERT-style MaxSim late-interaction retrieval over multi-vector documents"),
    QuerySpec("hard_negative_mining", hard_negative_mining, _MINE_ORACLE, "contrastive hard-example mining: hardest negative + hardest positive per anchor"),
]:
    register(spec)


# ---------------------------------------------------------------------------
# ANN recall evaluation (round 10): the acceptance gate every approximate
# index must pass before a pipeline trusts it — recall@k of the IVF tier
# against the brute-force ground truth, per query and aggregated. Composes
# the two existing operators (same constants, same rounding, same
# tie-breaks), so the eval itself adds only an equi-join on (qid, vec_id)
# and two tiny aggregates. hits/min_hits are exact integers; mean_recall is
# one division of exact BIGINTs.
# Scale: both inputs end TakeOrdered-style per-query top-k (≤ nq·k rows) —
# the join and rollup are metadata-sized next to the index builds.
# ---------------------------------------------------------------------------
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = ann_cosine_topk(spark, sf_dir).select(
        F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_vid")
    )
    approx = ann_ivf_topk(spark, sf_dir).select("qid", "vec_id")
    per_q = (
        truth.join(
            approx,
            (F.col("t_qid") == F.col("qid")) & (F.col("t_vid") == F.col("vec_id")),
            "left",
        )
        .groupBy("t_qid")
        .agg(F.count("vec_id").cast("long").alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.lit(_TOPK_K).cast("long").alias("k"),
        F.sum("hits").cast("long").alias("total_hits"),
        F.min("hits").cast("long").alias("min_hits"),
        (F.sum("hits") / (F.count(F.lit(1)) * _TOPK_K)).alias("mean_recall"),
    )


_ANN_RECALL_ORACLE = f"""
WITH truth AS ({_ANN_TOPK_ORACLE}),
approx AS ({_ANN_IVF_ORACLE}),
per_q AS (
  SELECT t.qid, COUNT(a.vec_id)::BIGINT AS hits
  FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
  GROUP BY t.qid
)
SELECT COUNT(*)::BIGINT AS n_queries,
       {_TOPK_K}::BIGINT AS k,
       SUM(hits)::BIGINT AS total_hits,
       MIN(hits)::BIGINT AS min_hits,
       (SUM(hits)::DOUBLE / (COUNT(*) * {_TOPK_K})) AS mean_recall
FROM per_q
"""

register(
    QuerySpec(
        "ann_recall_eval",
        ann_recall_eval,
        _ANN_RECALL_ORACLE,
        "recall@k acceptance gate: IVF ANN vs brute-force ground truth, exact integer hit counts",
    )
)
