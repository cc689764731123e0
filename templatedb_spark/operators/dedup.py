"""Deduplication operators over the `documents` table.

Extension tier beyond the reference (which has no text operators): the
large-scale-training-pipeline dedup family, each designed for 100 TB and each
paired with an *exact* DuckDB oracle:

- exact dedup         — md5 fingerprint groupBy (one shuffle on a 16-byte key)
- n-gram Jaccard      — word-trigram shingles, pairs sharing a shingle, exact
                        Jaccard; candidate generation IS the shingle join (no
                        approximation → oracle-exact)
- MinHash + LSH       — k=16 md5-derived universal hashes; banded candidate
                        join (band size 1 here = max recall); est. Jaccard =
                        matching-minhash fraction. Deterministic end-to-end, so
                        the oracle reproduces it bit-for-bit
- SimHash             — 32-bit simhash; 4×8-bit band blocking (pigeonhole: any
                        pair at hamming ≤ 3 shares ≥ 1 exact band, so the
                        banded join loses nothing vs the oracle's all-pairs)

Scale notes: every operator is a chain of explode → groupBy/join on short keys.
At 100 TB the shingle explosion dominates — it is a map-side op feeding a
shuffle keyed by (shingle hash), and AQE coalesces the long tail. The banded
self-joins key on (band, value) so only genuine candidates shuffle together;
there is no all-pairs stage anywhere in the Spark plans (all-pairs lives only
in the sf0.01 oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from templatedb_spark.functions.hashing import (
    MERSENNE_31,
    exact_fingerprint,
    h32,
    h32_sql,
    md5_long,
    md5_long_sql,
    minhash_params,
)
from templatedb_spark.suite import QuerySpec, fan_out, register, table

# ---------------------------------------------------------------------------
# Shared tokenization/shingling — one definition per engine, kept in lockstep.
# ---------------------------------------------------------------------------

_TOKEN_RE = "[a-z0-9]+"


def tokens_col(text: Column) -> Column:
    return F.expr(f"regexp_extract_all(lower(text), '{_TOKEN_RE}', 0)").alias("t")


_TOKENS_SQL = f"regexp_extract_all(lower(text), '{_TOKEN_RE}')"


def tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t): the tokenized corpus — the shared base relation of every
    token-level operator in the repo (dedup shingles, vocabulary, TF-IDF,
    token-budget shard packing).

    Cached: Spark's cache manager substitutes the in-memory relation into ANY
    plan containing an equal subtree, so a concurrent suite run pays the
    corpus scan + regex tokenization once, not once per family. At 100 TB a
    pipeline would materialize this to a parquet/Delta table instead — same
    architecture, durable medium.
    """
    # fan_out BEFORE the regex tokenization: the corpus ships as one row
    # group → a 1-task scan, and the tokenize + every downstream explode
    # inherits that single partition (guide §2.5). Repartitioning the raw
    # rows costs one small shuffle at cache build; the cached relation then
    # carries defaultParallelism partitions into every token operator.
    d = fan_out(table(spark, sf_dir, "documents"))
    return d.select("doc_id", tokens_col(F.col("text")).alias("t")).cache()


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct word-trigram shingles per document.

    Cached: the shingle stream is THE shared intermediate of the dedup family
    (ngram, capped, minhash all start from it); it derives from the shared
    tokenized() base so dedup and the vocab/tfidf/packing tier tokenize the
    corpus once between them. Storage level is MEMORY_AND_DISK (spills,
    never OOMs).
    """
    return (
        tokenized(spark, sf_dir)
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(t) - 2), "
                        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))"
                    )
                )
            ).alias("sh"),
        )
        .cache()
    )


# DuckDB twin of `shingles` (1-based arrays match element_at semantics).
_SHINGLES_SQL = f"""
toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx)
"""


# ---------------------------------------------------------------------------
# Asymmetric shingle CONTAINMENT — the dup relation Jaccard misses: a short
# document quoted wholesale inside a long one scores |A∩B|/|A| ≈ 1 for the
# short side while Jaccard |A∩B|/|A∪B| stays tiny. Emits one directed row
# per (contained ⊂ container) pair above threshold. Same candidate economics
# as the exact-Jaccard anchor (shared-shingle self-join over the cached
# pre-partitioned hashed shingles); the capped/prefix variants remain the
# 100 TB candidate-generation path — containment only changes the verdict
# arithmetic, not the join.
# ---------------------------------------------------------------------------
_CONTAINMENT_T = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7 NEGATIVE RESULT (measured, kept as guidance): an asymmetric
    # PPJoin-style candidate path (prefix(contained) ⋈ full(container) +
    # length/positional bounds + a separate verify join) was built, proven
    # exact (tests/test_prefix_filter.py's containment cases ran green
    # against it), and measured SLOWER at every tier — sf3 warm 50 → 280 s.
    # Why the symmetric Jaccard win doesn't transfer: here the full
    # self-join IS the verification (the pair intersection falls out of the
    # one groupBy), so a prefix stage saves join mass only to pay it back
    # re-joining full shingle sets for the surviving DIRECTED candidates —
    # at t=0.8 the prefix keeps 20% of tokens against a FULL opposite side
    # (0.4× mass for 2 directions), nowhere near the symmetric case's
    # 0.04×. The shared one-pass join stays; the df-capped variant remains
    # the documented at-scale path for this family (SCALE.md).
    pair_inter, counts = _pair_intersections(spark, sf_dir)
    inter = pair_inter.select(
        F.col("doc_a").alias("da"), F.col("doc_b").alias("db"), "inter"
    )
    na = counts.select(F.col("doc_id").alias("da"), F.col("n").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("db"), F.col("n").alias("n_b"))
    scored = inter.join(na, "da").join(nb, "db")
    ab = scored.select(
        F.col("da").alias("doc_contained"),
        F.col("db").alias("doc_container"),
        "inter",
        F.col("n_a").alias("n_contained"),
        F.round(F.col("inter") / F.col("n_a"), 6).alias("containment"),
    )
    ba = scored.select(
        F.col("db").alias("doc_contained"),
        F.col("da").alias("doc_container"),
        "inter",
        F.col("n_b").alias("n_contained"),
        F.round(F.col("inter") / F.col("n_b"), 6).alias("containment"),
    )
    return ab.unionByName(ba).filter(F.col("containment") >= _CONTAINMENT_T)


_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_SQL},
hs AS (SELECT doc_id, {md5_long_sql('sh')} AS h FROM sh),
counts AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY 1),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT i.da, i.db, i.inter, ca.n AS n_a, cb.n AS n_b
  FROM inter i JOIN counts ca ON ca.doc_id = i.da JOIN counts cb ON cb.doc_id = i.db
),
directed AS (
  SELECT da AS doc_contained, db AS doc_container, inter, n_a AS n_contained,
         ROUND(inter * 1.0 / n_a, 6) AS containment
  FROM scored
  UNION ALL
  SELECT db, da, inter, n_b, ROUND(inter * 1.0 / n_b, 6) FROM scored
)
SELECT * FROM directed WHERE containment >= {_CONTAINMENT_T}
"""
# ---------------------------------------------------------------------------
# Exact dedup: group documents by normalized-text fingerprint.
# At scale: one shuffle keyed by a 16-byte hash — the canonical first pass of
# any training-data pipeline.
# ---------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", exact_fingerprint().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 1)
    )


_DEDUP_EXACT_ORACLE = r"""
SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: exact pairwise Jaccard over word trigrams, with the
# shingle self-join as candidate generation (complete: J > 0 ⇒ shared shingle).
# ---------------------------------------------------------------------------
_JACCARD_THRESHOLD = 0.20


def hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): md5-hashed shingles — the shared cached input of the
    ngram variants (joining on the 60-bit hash instead of the string halves
    the shuffle bytes; both engines hash identically, so even a collision
    would produce identical, still-exact-to-oracle output).

    Cached pre-partitioned on `h`: the self-join and the df window are both
    keyed by `h`, so a cache whose layout already satisfies their required
    distribution removes one Exchange per *consumer side* (three consumers ×
    2 sides at sf0.1 → 31% off the warm critical-path query, measured). The
    one repartition shuffle is paid once at cache build. Same at cluster
    scale: materialize the hashed-shingle table bucketed by h.
    """
    return (
        shingles(spark, sf_dir)
        .select("doc_id", md5_long(F.col("sh")).alias("h"))
        .repartition("h")
        .cache()
    )


def _pair_intersections(spark: SparkSession, sf_dir: str):
    """Shared candidate-generation sub-plan of the exact pairwise family:
    (inter, counts) where `inter` is per shared-shingle pair intersection
    size (doc_a < doc_b) and `counts` the per-doc shingle count. Jaccard and
    containment differ only in the verdict arithmetic on top of these."""
    sh = hashed_shingles(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, counts


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter, counts = _pair_intersections(spark, sf_dir)
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("ca.n") + F.col("cb.n") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


def _ngram_jaccard_oracle(threshold: float) -> str:
    return f"""
WITH {_SHINGLES_SQL},
hs AS (SELECT doc_id, {md5_long_sql('sh')} AS h FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE), 6) AS jaccard
FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
WHERE ROUND(CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE), 6) >= {threshold}
"""


_NGRAM_JACCARD_ORACLE = _ngram_jaccard_oracle(_JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# N-gram Jaccard via PREFIX FILTERING — identical semantics (and oracle) to
# dedup_ngram_jaccard, smarter candidate generation. For J(A,B) ≥ t, with any
# consistent global order on shingles, the first |A| - ⌈t·|A|⌉ + 1 shingles of
# A (rarest first) and the corresponding prefix of B must share an element
# (pigeonhole: fewer than that many misses forces an overlap too small for t).
# So instead of joining EVERY shingle occurrence against itself, only prefix
# shingles join — measured 10× candidate reduction at sf0.1/t=0.8 (1.13M →
# 119k pairs), growing with corpus size and stop-shingle heat, while provably
# losing nothing. Verification then counts the true intersection for
# surviving pairs only.
#
# Shuffle inventory: df(h) agg + per-doc rank window + prefix self-join +
# two verify joins — more stages than the plain self-join, each carrying far
# fewer rows. The prefix size is (1-t)·n + 1, so the technique's power is the
# threshold: measured at sf0.1, t=0.2 keeps 80% of shingles (1.4× candidate
# reduction — not worth the extra stages), t=0.8 keeps 20% (the design
# point). The spec runs at t=0.8 accordingly; the plain self-join remains the
# right plan for low thresholds.
#
# r7: the sf3 probe (SCALE.md) caught the bare prefix join going
# SUPER-linear on the 10×→30× leg (21.5 → 107.5 s warm). Two classic
# exactness-preserving PPJoin filters fixed it — the LENGTH filter inside
# the join and the POSITIONAL bound after pair grouping (derivations at the
# code below) — measured sf3 107.5 → 16.6 s, sf1 21.5 → 7.9 s, sf0.1
# 3.98 → 2.89 s; 30× cost ratio 27× → 5.7×. All threshold comparisons are
# exact integer arithmetic (t = p/q), so a pair sitting exactly ON the
# threshold can never be lost to float rounding; equality with the plain
# join is pinned by tests/test_prefix_filter.py incl. an engineered
# J = 8/10 = t pair.
# ---------------------------------------------------------------------------
_PREFIX_THRESHOLD = 0.80


def dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fractions import Fraction

    from pyspark.sql.window import Window

    t = _PREFIX_THRESHOLD
    # exact rational form of the threshold: every boundary comparison below
    # is pure integer arithmetic (p/q = t), so a pair sitting exactly ON the
    # threshold can never be lost to float rounding
    frac = Fraction(str(t))
    p, q = frac.numerator, frac.denominator
    sh = hashed_shingles(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_h = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfh"))
    # NOTE (measured, round 3): fusing the per-doc count into the rank stage
    # as COUNT() OVER (PARTITION BY doc_id) is 2× SLOWER than this agg+join —
    # the unbounded window buffers every partition's rows while the aggregate
    # ships only partial counts. Keep the join.
    ranked = (
        sh.join(df_h, "h")
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("dfh").asc(), F.col("h").asc())
            ),
        )
        .join(counts, "doc_id")
        # prefix length n - ⌈t·n⌉ + 1, with ⌈t·n⌉ = ⌊(p·n + q - 1) / q⌋ exact
        .filter(
            F.col("r")
            <= F.col("n") - F.floor((p * F.col("n") + q - 1) / q) + 1
        )
        .select("doc_id", "h", "dfh", "r", "n")
    )
    p1 = ranked.alias("p1")
    p2 = ranked.alias("p2")
    # r7 candidate pruning (PPJoin-family, both EXACTNESS-PRESERVING —
    # the oracle stays the plain Jaccard join):
    # 1. LENGTH filter in the join: J(A,B) ≥ t forces t·|A| ≤ |B| ≤ |A|/t
    #    (J ≤ min/max), as q·n_small ≥ p·n_large in integers.
    # 2. POSITIONAL filter after grouping: among a pair's shared PREFIX
    #    tokens, take the one earliest in the GLOBAL (dfh, h) order — the
    #    same order the per-doc ranks are built on. A shared token ordered
    #    before it in both docs would itself be an earlier prefix collision
    #    (positions in each doc are monotone in the global order), so every
    #    OTHER common token sits after rank ra in A and after rank rb in B:
    #    overlap ≤ ub = 1 + min(n_a − ra, n_b − rb). Prune unless
    #    ub·(q + p) ≥ p·(n_a + n_b), the integer form of
    #    J_max = ub/(n_a + n_b − ub) ≥ t.
    matched = p1.join(
        p2,
        (F.col("p1.h") == F.col("p2.h"))
        & (F.col("p1.doc_id") < F.col("p2.doc_id"))
        & (q * F.col("p1.n") >= p * F.col("p2.n"))
        & (q * F.col("p2.n") >= p * F.col("p1.n")),
    )
    pairs = matched.groupBy(
        F.col("p1.doc_id").alias("doc_a"), F.col("p2.doc_id").alias("doc_b")
    ).agg(
        F.min_by(
            F.struct(F.col("p1.r").alias("ra"), F.col("p2.r").alias("rb")),
            F.struct(F.col("p1.dfh"), F.col("p1.h")),
        ).alias("fm"),
        F.min("p1.n").alias("na"),  # constant per group
        F.min("p2.n").alias("nb"),
    )
    ub = F.lit(1) + F.least(
        F.col("na") - F.col("fm.ra"), F.col("nb") - F.col("fm.rb")
    )
    cand = pairs.filter(ub * (q + p) >= p * (F.col("na") + F.col("nb"))).select(
        "doc_a", "doc_b"
    )
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.h") == F.col("sb.h")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("ca.n") + F.col("cb.n") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard with a document-frequency cap on shingles: the at-scale
# variant. A shingle appearing in m documents contributes m² candidate pairs;
# stop-shingles ("in the of") make the uncapped self-join quadratic in the
# hottest key. Capping df ≤ K bounds every key's pair fan-out at K² — the
# standard trick that keeps shingle-join dedup linear-ish at 100 TB. Semantics
# change (Jaccard is computed over the capped shingle sets), so the oracle
# applies the identical cap.
# ---------------------------------------------------------------------------
_DF_CAP = 50


def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = hashed_shingles(spark, sf_dir)
    # df(h) as agg + join, not COUNT() OVER (PARTITION BY h): the unbounded
    # window buffers every key's rows while the aggregate ships partial
    # counts (the prefix variant's round-3 finding). Honest r7 head-to-head
    # at sf3 (same session, alternating, 2 runs each): window ≈13.5 s
    # median vs agg+join ≈12.8 s — within host noise, slight edge + the
    # window's full-relation buffering is the shape that degrades first on
    # a hot key at 100 TB. Semantics identical — same df, same cap.
    df_h = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfh"))
    capped = (
        sh.join(df_h.filter(F.col("dfh") <= _DF_CAP).select("h"), "h")
        .select("doc_id", "h")
        .cache()
    )
    counts = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("ca.n") + F.col("cb.n") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


_NGRAM_CAPPED_ORACLE = f"""
WITH {_SHINGLES_SQL},
hs AS (SELECT doc_id, {md5_long_sql('sh')} AS h FROM sh),
capped AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS dfh FROM hs
  ) WHERE dfh <= {_DF_CAP}
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE), 6) AS jaccard
FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
WHERE ROUND(CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE), 6) >= {_JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup.
# ---------------------------------------------------------------------------
_MINHASH_K = 16
_MINHASH_MATCH_MIN = 8  # est. Jaccard >= 0.5
_PERMS = minhash_params(_MINHASH_K)


def minhash_signatures_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh_0..mh_15): k=16 minhash values per doc from md5-derived h32.

    Shape matters at scale: the k permutations are inlined as k aggregate
    expressions over ONE pass of the shingle stream (map-side partial min,
    single shuffle keyed by doc_id) — not a shingle × perm cross join, which
    would shuffle k× the data.
    """
    sh = shingles(spark, sf_dir)
    hashed = sh.select("doc_id", h32(F.col("sh")).alias("h"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(_PERMS)
        ]
    )


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, restrict: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) LSH near-dup pairs.

    `restrict` (optional, a (doc_id) relation) limits BOTH sides of the band
    join to that doc set via a semi-join on the shared cached signature
    relation. This is the funnel entry point: signature computation is linear
    and stays corpus-wide (cached once for the whole suite), but the
    QUADRATIC stage — banding candidates among k exact copies growing
    C(k,2) per dup group — only ever sees the restricted set.
    """
    sig_wide = minhash_signatures_wide(spark, sf_dir).cache()
    if restrict is not None:
        sig_wide = sig_wide.join(restrict.select("doc_id"), "doc_id", "left_semi")
    stack_expr = ", ".join(f"{i}, mh_{i}" for i in range(_MINHASH_K))
    sig = sig_wide.selectExpr("doc_id", f"stack({_MINHASH_K}, {stack_expr}) AS (i, mh)")
    s1 = sig.alias("s1")
    s2 = sig.alias("s2")
    # LSH banding with band size 1: candidates share >= 1 minhash value.
    cand = (
        s1.join(
            s2,
            (F.col("s1.i") == F.col("s2.i"))
            & (F.col("s1.mh") == F.col("s2.mh"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .select(F.col("s1.doc_id").alias("doc_a"), F.col("s2.doc_id").alias("doc_b"))
        .distinct()
    )
    # estimate on the wide form: one row per doc, 16 equality terms — no 16×
    # fan-out join + re-aggregation for the estimate phase
    sa = sig_wide.alias("sa")
    sb = sig_wide.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.mh_{i}") == F.col(f"sb.mh_{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", matches.alias("matches"))
        .filter(F.col("matches") >= _MINHASH_MATCH_MIN)
        .select(
            "doc_a",
            "doc_b",
            (F.col("matches").cast("double") / F.lit(float(_MINHASH_K))).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: the production daily-ingest shape. A new BATCH of
# documents (here the deterministic 10% slice doc_id % 10 == 9; a real
# pipeline passes yesterday's corpus and today's delta as two tables) is
# checked against the EXISTING corpus only — batch×corpus band join, never
# corpus×corpus — and every batch doc gets one verdict row. At 100 TB the
# corpus side's signatures are a materialized table maintained across runs
# (the shared minhash cache is the local stand-in), so each ingest costs
# one signature pass over the delta plus a band join keyed by minhash value.
# ---------------------------------------------------------------------------


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.suite import table as _table

    # one cached k=16 aggregation pass feeds the band join (both sides) AND
    # the wide verification joins — without the cache the plan re-runs the
    # shingle-hash group-by three times (Spark does not CSE across joins)
    wide = minhash_signatures_wide(spark, sf_dir).cache()
    stack_expr = ", ".join(f"{i}, mh_{i}" for i in range(_MINHASH_K))
    sig = wide.selectExpr("doc_id", f"stack({_MINHASH_K}, {stack_expr}) AS (i, mh)")
    is_batch = F.col("doc_id") % 10 == 9
    bsig = sig.filter(is_batch).select(
        F.col("doc_id").alias("bdoc"), "i", "mh"
    )
    csig = sig.filter(~is_batch).select(
        F.col("doc_id").alias("cdoc"), F.col("i").alias("ci"), F.col("mh").alias("cmh")
    )
    cand = (
        bsig.join(csig, (F.col("i") == F.col("ci")) & (F.col("mh") == F.col("cmh")))
        .select("bdoc", "cdoc")
        .distinct()
    )
    wb = wide.select(F.col("doc_id").alias("wb"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(_MINHASH_K)])
    wc = wide.select(F.col("doc_id").alias("wc"), *[F.col(f"mh_{i}").alias(f"c_{i}") for i in range(_MINHASH_K)])
    matches = sum(
        F.when(F.col(f"b_{i}") == F.col(f"c_{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    est = (
        cand.join(wb, F.col("bdoc") == F.col("wb"))
        .join(wc, F.col("cdoc") == F.col("wc"))
        .select("bdoc", "cdoc", matches.alias("matches"))
        .filter(F.col("matches") >= _MINHASH_MATCH_MIN)
    )
    w = Window.partitionBy("bdoc").orderBy(F.col("matches").desc(), F.col("cdoc").asc())
    best = est.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    batch_docs = _table(spark, sf_dir, "documents").filter(is_batch).select("doc_id")
    return (
        batch_docs.join(best, batch_docs.doc_id == best.bdoc, "left")
        .select(
            "doc_id",
            F.col("cdoc").isNotNull().alias("is_dup"),
            F.col("cdoc").alias("matched_doc"),
            (F.col("matches").cast("double") / F.lit(float(_MINHASH_K))).alias("est_jaccard"),
        )
    )


def _perms_values_sql() -> str:
    return ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_PERMS))


# CTE list and final SELECT kept separable so downstream oracles (the
# connected-components clustering in operators/pipeline.py) can embed the
# minhash pair generation inside their own WITH chain.
_MINHASH_CTES = f"""{_SHINGLES_SQL},
hs AS (SELECT doc_id, {h32_sql('sh')} AS h FROM sh),
perms(i, a, b) AS (VALUES {_perms_values_sql()}),
sig AS (SELECT doc_id, i, MIN((a * h + b) % {MERSENNE_31}) AS mh
        FROM hs CROSS JOIN perms GROUP BY doc_id, i),
cand AS (SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
         FROM sig s1 JOIN sig s2
           ON s1.i = s2.i AND s1.mh = s2.mh AND s1.doc_id < s2.doc_id),
est AS (SELECT c.doc_a, c.doc_b,
               SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS matches
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sa.i = sb.i
        GROUP BY 1, 2)"""

_MINHASH_SELECT = f"""SELECT doc_a, doc_b, CAST(matches AS DOUBLE) / {_MINHASH_K} AS est_jaccard
FROM est WHERE matches >= {_MINHASH_MATCH_MIN}"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
{_MINHASH_SELECT}
"""

_INCREMENTAL_ORACLE = f"""
WITH {_SHINGLES_SQL},
hs AS (SELECT doc_id, {h32_sql('sh')} AS h FROM sh),
perms(i, a, b) AS (VALUES {_perms_values_sql()}),
sig AS (SELECT doc_id, i, MIN((a * h + b) % {MERSENNE_31}) AS mh
        FROM hs CROSS JOIN perms GROUP BY doc_id, i),
bsig AS (SELECT doc_id AS bdoc, i, mh FROM sig WHERE doc_id % 10 = 9),
csig AS (SELECT doc_id AS cdoc, i, mh FROM sig WHERE doc_id % 10 <> 9),
cand AS (SELECT DISTINCT b.bdoc, c.cdoc
         FROM bsig b JOIN csig c ON b.i = c.i AND b.mh = c.mh),
est AS (SELECT cand.bdoc, cand.cdoc,
               SUM(CASE WHEN sb.mh = sc.mh THEN 1 ELSE 0 END) AS matches
        FROM cand
        JOIN sig sb ON sb.doc_id = cand.bdoc
        JOIN sig sc ON sc.doc_id = cand.cdoc AND sb.i = sc.i
        GROUP BY 1, 2
        HAVING SUM(CASE WHEN sb.mh = sc.mh THEN 1 ELSE 0 END) >= {_MINHASH_MATCH_MIN}),
best AS (SELECT bdoc, cdoc, matches,
                ROW_NUMBER() OVER (PARTITION BY bdoc ORDER BY matches DESC, cdoc ASC) AS rn
         FROM est)
SELECT d.doc_id,
       (b.cdoc IS NOT NULL) AS is_dup,
       b.cdoc AS matched_doc,
       CAST(b.matches AS DOUBLE) / {_MINHASH_K} AS est_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.bdoc
"""


# ---------------------------------------------------------------------------
# SimHash near-dup: 60-bit token-weighted simhash, 4×15-bit band blocking.
# 60 bits because the cross-engine hash (md5_long) yields 60 usable bits; a
# 15-bit band has 32768 values, so the banded self-join's collision rate is
# ~2^-15 per band — at corpus scale the candidate set stays near-linear where
# an 8-bit band (256 values) would degenerate toward N²/256 all-pairs.
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 60
_SIMHASH_MAX_HAMMING = 3
_SIMHASH_BANDS = 4  # 4 bands × 15 bits; hamming<=3 ⇒ >=1 clean band (pigeonhole)
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS


def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit weighted simhash over tokens.

    One pass, one shuffle: the 60 bit-planes are 60 inlined SUM aggregates over
    the token stream (literal shift counts keep everything in whole-stage
    codegen), combined into the final simhash with a single expression — no
    token × bit cross join (which would shuffle 60× the token stream).
    """
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .select("doc_id", "w", md5_long(F.col("tok")).alias("h"))
    )
    planes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("w")
                * F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s_{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    combine = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN shiftleft(cast(1 as bigint), {j}) ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    return planes.select("doc_id", F.expr(combine).cast("long").alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sv = simhash_values(spark, sf_dir).cache()
    bands = spark.range(_SIMHASH_BANDS).select(F.col("id").cast("int").alias("band"))
    banded = sv.crossJoin(F.broadcast(bands)).select(
        "doc_id",
        "simhash",
        "band",
        F.expr(
            f"shiftright(simhash, band * {_SIMHASH_BAND_BITS})"
            f" & {(1 << _SIMHASH_BAND_BITS) - 1}"
        ).alias("band_val"),
    )
    b1 = banded.alias("b1")
    b2 = banded.alias("b2")
    cand = (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.band_val") == F.col("b2.band_val"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_a"),
            F.col("b2.doc_id").alias("doc_b"),
            F.col("b1.simhash").alias("sha"),
            F.col("b2.simhash").alias("shb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
    )


_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, tok, COUNT(*) AS w FROM (
    SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
  ) GROUP BY doc_id, tok
),
hashed AS (SELECT doc_id, w, {md5_long_sql('tok')} AS h FROM tok),
bits AS (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS j),
contrib AS (
  SELECT doc_id, j,
         SUM(w * (CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)) AS s
  FROM hashed CROSS JOIN bits GROUP BY doc_id, j
),
sv AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM contrib GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sv a JOIN sv b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Edit-distance near-dup with SYMMETRIC-DELETE blocking (round 9, VERDICT r8
# #4 — the slice-bound placeholder replaced by a real blocking key). Target:
# document "titles" (first 4 tokens, lowercased) — the near-duplicate-title
# shape a curation pipeline actually dedups on.
#
# Blocking: each title emits its ≤2-deletion neighborhood (the SymSpell
# scheme — public knowledge, used for spell correction at scale): the string
# itself, every 1-char deletion, every 2-char deletion. Two strings with
# levenshtein ≤ 2 ALWAYS share a neighborhood entry (deletes on both sides
# cover substitutions, insertions, deletions, and their mixes), so the
# blocked result EQUALS the unblocked all-pairs truth — zero recall loss,
# verified empirically in tests/test_curation.py. Candidates are pairs sharing
# a key, which for natural strings tracks the TRUE pair count, not N²
# (measured: N=500 → 28 candidates/27 pairs; N=5000 → 337/306 — candidate
# growth is ~linear in N while all-pairs would be 100×).
#
# Scale shape: key generation is a map-only explode (O(L²) keys per row, L
# ≈ title length); keys are hashed to BIGINT before the join (hash choice
# is engine-internal — collisions only add candidates, and the exact
# levenshtein verdict keeps precisely the lev≤2 pairs either way, so both
# engines emit the identical set); the hot-key funnel (keys seen >1 doc)
# shrinks the self-join input from N·L² rows to just the collide set before
# any pair is formed. No all-pairs stage at any N.
# ---------------------------------------------------------------------------
_LEV_MAX = 2
_LEV_TITLE_TOKENS = 4


def _lev_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the O(L²) delete-neighborhood expansion below is the suite's
    # heaviest per-row map (3.3 s CPU in ONE task at sf0.1 before this —
    # the single-row-group scan serialized it; guide §2.5)
    return fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.lower(
            F.concat_ws(
                " ", F.slice(F.split(F.col("text"), " "), 1, _LEV_TITLE_TOKENS)
            )
        ).alias("ttl"),
    )


# delete-neighborhood variants as pure JVM expressions (whole-stage codegen,
# no Python): the string itself, all 1-deletions, all 2-deletions
_LEV_VARIANTS_EXPR = """
concat(
  array(ttl),
  transform(sequence(1, length(ttl)),
            i -> concat(substr(ttl, 1, i-1), substr(ttl, i+1, length(ttl)))),
  flatten(transform(sequence(1, length(ttl)),
    i -> CASE WHEN i < length(ttl)
         THEN transform(sequence(i+1, length(ttl)),
              j -> concat(substr(ttl, 1, i-1), substr(ttl, i+1, j-i-1),
                          substr(ttl, j+1, length(ttl))))
         ELSE array() END))
)
"""


def _lev_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) pairs sharing a ≤2-deletion neighborhood key — the
    blocking stage alone, exposed so tests can gate candidate-count scaling
    and blocking precision independently of the verdict.

    One-shuffle shape (r10 — the first cut ran 560 s engine-only at sf3
    because the 43M-row key relation paid a global distinct() AND was
    recomputed for each of (hot, kk.a, kk.b)): within-doc duplicate
    variants (equal-char runs) are removed MAP-SIDE by array_distinct
    before the explode, so the only wide operation left is a single
    groupBy(h) that collects each key's doc list; pairs explode from those
    lists directly. Collide sets are tiny by construction (titles are the
    first 4 tokens, L ≤ ~40 → keys/doc bounded; measured max |docs|/key =
    15 at sf3), so the per-key pair explode is O(c²) of a small c — a
    degenerate corpus with a mega-hot key (e.g. millions of empty titles)
    would need a cap-and-fallback on collect_set size at 100 TB, which
    this titles shape cannot produce (normalization bounds L, and c is
    bounded by the count of near-identical titles the verdict would pair
    anyway)."""
    d = _lev_titles(spark, sf_dir)
    keys = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_LEV_VARIANTS_EXPR))).alias("k"),
    ).select("doc_id", F.xxhash64("k").alias("h"))
    # ONE shuffle: key -> sorted distinct doc list; singleton keys drop here
    # (the old hot-key funnel's c>1 filter, now free on the same pass)
    grouped = (
        keys.groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # (a, b) with a < b from each key's doc list — pure JVM expression
    pairs = grouped.select(
        F.explode(
            F.expr(
                """flatten(transform(ds, (a, i) ->
                     filter(transform(ds, (b, j) ->
                              CASE WHEN j > i THEN struct(a AS doc_a, b AS doc_b) END),
                            x -> x IS NOT NULL)))"""
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _lev_titles(spark, sf_dir)
    cand = _lev_candidates(spark, sf_dir)
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("ttl").alias("ttl_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("ttl").alias("ttl_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("ttl_a"), F.col("ttl_b")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= _LEV_MAX)
        .select("doc_a", "doc_b", "dist")
    )


_LEV_TTL_SQL = (
    f"lower(array_to_string(string_split(text, ' ')[1:{_LEV_TITLE_TOKENS}], ' '))"
)

# DuckDB mirror of the same funnel. `pos` is bounded by the observed max
# title length; the MATERIALIZED hints keep DuckDB from re-expanding the
# O(N·L²) key relation per reference (the same id-only funnel discipline
# that took the ANN oracles to sf10).
_LEVENSHTEIN_ORACLE = f"""
WITH d AS (SELECT doc_id, {_LEV_TTL_SQL} AS ttl FROM documents),
mx AS (SELECT MAX(length(ttl))::BIGINT AS m FROM d),
pos AS (SELECT unnest(range(1, (SELECT m FROM mx) + 1)) AS i),
keys AS MATERIALIZED (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, hash(ttl) AS h FROM d
    UNION ALL
    SELECT doc_id, hash(substr(ttl, 1, i-1) || substr(ttl, i+1, length(ttl))) AS h
    FROM d JOIN pos ON i <= length(ttl)
    UNION ALL
    SELECT doc_id, hash(substr(ttl, 1, i.i-1) || substr(ttl, i.i+1, j.i-i.i-1)
                        || substr(ttl, j.i+1, length(ttl))) AS h
    FROM d JOIN pos i ON i.i <= length(ttl)
           JOIN pos j ON j.i > i.i AND j.i <= length(ttl)
  )
),
hot AS MATERIALIZED (SELECT h FROM keys GROUP BY h HAVING COUNT(*) > 1),
kk AS MATERIALIZED (SELECT k.doc_id, k.h FROM keys k JOIN hot USING (h)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kk a JOIN kk b ON a.h = b.h AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, levenshtein(a.ttl, b.ttl)::BIGINT AS dist
FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
WHERE levenshtein(a.ttl, b.ttl) <= {_LEV_MAX}
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood near-dup (the classical record-linkage blocking
# strategy, complementing the shingle/minhash/simhash families): documents
# are ordered by a composite blocking key (lang, padded length, first two
# tokens), and only pairs within a rank window of w are compared — O(n·w)
# candidates instead of O(n²). Candidates then get the exact shingle-Jaccard
# verdict via the family's shared cached shingle relation.
#
# Scale: the rank window partitions by lang (no single-partition global
# sort); at 100 TB the per-language sort is a range-partitioned shuffle and
# the window self-join touches w row-neighbors per doc. The w-offset join is
# an equi-join on (lang, rank) — shuffle-friendly, no cartesian anywhere.
# ---------------------------------------------------------------------------
_SNM_W = 4
_SNM_THRESHOLD = 0.5


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = tokenized(spark, sf_dir)
    keyed = d.join(tok, "doc_id").select(
        "doc_id",
        "lang",
        F.concat(
            F.col("lang"),
            F.lit(":"),
            F.lpad(F.col("n_chars").cast("string"), 6, "0"),
            F.lit(":"),
            F.concat_ws(" ", F.slice(F.col("t"), 1, 2)),
        ).alias("sk"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("sk").asc(), F.col("doc_id").asc())
    ranked = keyed.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rn"))
    offs = spark.range(1, _SNM_W + 1).select(F.col("id").alias("off"))
    left = ranked.crossJoin(F.broadcast(offs)).select(
        F.col("doc_id").alias("doc_a"), "lang", (F.col("rn") + F.col("off")).alias("rn_b")
    )
    cand = left.join(
        ranked.select(F.col("doc_id").alias("doc_b"), "lang", F.col("rn").alias("rn_b")),
        ["lang", "rn_b"],
    ).select("doc_a", "doc_b")
    sh = shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= _SNM_THRESHOLD)


_SNM_ORACLE = f"""
WITH {_SHINGLES_SQL},
keyed AS (
  SELECT d.doc_id, d.lang,
         d.lang || ':' || lpad(CAST(d.n_chars AS VARCHAR), 6, '0') || ':' ||
         array_to_string(t.t[1:2], ' ') AS sk
  FROM documents d JOIN toks t ON t.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sk ASC, doc_id ASC)::BIGINT AS rn
  FROM keyed
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ranked a JOIN ranked b
    ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + {_SNM_W}
),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*)::BIGINT AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.i::DOUBLE / (na.n + nb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE round(i.i::DOUBLE / (na.n + nb.n - i.i), 6) >= {_SNM_THRESHOLD}
"""


for spec in [
    QuerySpec("dedup_sorted_neighborhood", dedup_sorted_neighborhood, _SNM_ORACLE, "sorted-neighborhood blocking + exact Jaccard verdict (O(n*w) candidates)"),
    QuerySpec("dedup_exact", dedup_exact, _DEDUP_EXACT_ORACLE, "exact dedup via md5 fingerprint"),
    QuerySpec("dedup_levenshtein", dedup_levenshtein, _LEVENSHTEIN_ORACLE, "edit-distance near-dup via symmetric-delete blocking (complete recall, no all-pairs stage)"),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, _NGRAM_JACCARD_ORACLE, "word-trigram exact Jaccard near-dup"),
    QuerySpec("dedup_containment", dedup_containment, _CONTAINMENT_ORACLE, "asymmetric shingle containment (catches quoted/subset duplication Jaccard misses)"),
    QuerySpec("dedup_ngram_capped", dedup_ngram_capped, _NGRAM_CAPPED_ORACLE, "df-capped shingle Jaccard (the at-scale variant)"),
    QuerySpec("dedup_ngram_prefix", dedup_ngram_prefix, _ngram_jaccard_oracle(_PREFIX_THRESHOLD), "prefix-filtered exact Jaccard at t=0.8 (the technique's design point)"),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, _MINHASH_ORACLE, "MinHash(16) + LSH banding near-dup"),
    QuerySpec("dedup_simhash", dedup_simhash, _SIMHASH_ORACLE, "60-bit SimHash + 4x15-bit-band blocking near-dup"),
    QuerySpec("dedup_incremental", dedup_incremental, _INCREMENTAL_ORACLE, "incremental batch-vs-corpus minhash dedup (daily-ingest shape)"),
]:
    register(spec)
