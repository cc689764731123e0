"""Corpus-curation operators: the quality/sampling tier of a training-data
pipeline (extension tier — the reference has no text operators; this completes
the repo's dedup → filter → sample → pack chain).

Five operators, each a pure DataFrame plan with an exact DuckDB oracle:

- `dedup_substring`    — exact common-substring detection (the
  deduplicate-text-datasets shape): every W=10-token sliding window is
  fingerprinted; a doc's dup_frac is the fraction of its windows that appear
  in some OTHER document. Unlike the shingle-Jaccard family this is LINEAR —
  windows are aggregated by fingerprint, never pair-joined, so arbitrarily
  hot windows cost one combiner row, not df² candidate pairs.
- `stratified_sample`  — per-source deterministic hash sampling at
  heterogeneous rates (the data-mixing primitive): rate chosen per source
  bucket, membership decided by md5(doc) % 100. Map-side only + one
  per-source rollup.
- `token_entropy`      — per-document Shannon entropy of the token
  distribution + type-token ratio (the "word soup vs natural text" quality
  signal). Float determinism: per-doc token counts are folded in (count,
  token) sorted order via a left fold that both engines evaluate
  identically (Spark `aggregate` / DuckDB `list_reduce`).
- `bigram_logprob`     — corpus bigram language model scoring each document
  by mean log P(b|a) (the perplexity-style quality filter). The model is
  built from the corpus itself in one pass; per-doc log-probs are folded in
  token-position order so the mean is bit-identical across engines.
- `pmi_cooccurrence`   — top-k token pairs by pointwise mutual information
  over document co-occurrence. Pair generation is an in-row array
  combination (no self-join): per doc, the sorted distinct-token array is
  expanded to its C(v,2) pairs map-side, then one groupBy counts pairs.

Scale notes (100 TB):
- `dedup_substring`: explode is W× amplification map-side; the only shuffle
  keys on the 60-bit window fingerprint with map-side partial aggregation,
  so duplicate-heavy corpora shrink in the combiner. This is the standard
  exact-substring dedup shape at scale (suffix arrays are the single-node
  alternative; fingerprinted windows are what distributes).
- `stratified_sample`: no shuffle at all before the per-source rollup;
  sampling decisions are pure row-local hashes, reproducible under retry.
- `token_entropy` / `bigram_logprob`: one shuffle on (doc, token)-grain,
  model tables broadcast (vocabulary-sized). The sorted-fold determinism
  trick costs an in-row sort of per-doc distinct counts — bounded by
  per-doc vocabulary, not corpus size.
- `pmi_cooccurrence`: per-doc pair fan-out is C(distinct tokens, 2); at real
  scale the array is first intersected with a broadcast top-V vocabulary so
  the fan-out is C(V,2)-bounded (here the whole vocab is 31 tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from templatedb_spark.functions.hashing import md5_long, md5_long_sql
from templatedb_spark.operators.dedup import _TOKENS_SQL, tokenized
from templatedb_spark.suite import QuerySpec, memo, register, table

# ---------------------------------------------------------------------------
# Exact substring dedup: shared W-token windows.
# ---------------------------------------------------------------------------
_SUB_W = 10


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= _SUB_W)
    wins = tok.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(t) - {_SUB_W} + 1)")).alias("s"),
        "t",
    ).select(
        "doc_id",
        # md5_long (60-bit BIGINT), not the 32-char md5 string: the window
        # fingerprint is this plan's shuffle key and 8 bytes beat 32+ on the
        # wire; cross-engine equality holds because the oracle derives the
        # same integer from the same md5
        md5_long(F.expr(f"array_join(slice(t, s, {_SUB_W}), ' ')")).alias("fp"),
    )
    # One aggregation + one window instead of agg + agg + self-join: the
    # (doc_id, fp) relation is this plan's fattest intermediate, and the r3
    # join shape both re-computed it per branch and reshuffled it on fp for
    # the join. COUNT() OVER (PARTITION BY fp) on the already-aggregated
    # relation yields ndocs with a single fp shuffle (VERDICT r3 #3).
    per_doc_fp = wins.groupBy("doc_id", "fp").agg(F.count(F.lit(1)).alias("c"))
    with_ndocs = per_doc_fp.withColumn(
        "ndocs", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    agg = with_ndocs.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("ndocs") > 1, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_shared"),
    )
    return agg.select(
        "doc_id",
        "n_windows",
        "n_shared",
        F.round(F.col("n_shared").cast("double") / F.col("n_windows"), 6).alias(
            "dup_frac"
        ),
    )


_SUBSTRING_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (SELECT doc_id, t FROM toks WHERE len(t) >= {_SUB_W}),
wins AS (
  SELECT doc_id, (('0x' || substr(md5(array_to_string(t[s : s + {_SUB_W} - 1], ' ')), 1, 15))::BIGINT) AS fp
  FROM base, unnest(generate_series(1, len(t) - {_SUB_W} + 1)) AS u(s)
),
pdf AS (SELECT doc_id, fp, count(*) AS c FROM wins GROUP BY 1, 2),
fpd AS (SELECT fp, count(*) AS ndocs FROM pdf GROUP BY 1)
SELECT doc_id,
       sum(c)::BIGINT AS n_windows,
       sum(CASE WHEN ndocs > 1 THEN c ELSE 0 END)::BIGINT AS n_shared,
       round(sum(CASE WHEN ndocs > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 6)
         AS dup_frac
FROM pdf JOIN fpd USING (fp)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Stratified deterministic sampling: per-source rates, hash membership.
# ---------------------------------------------------------------------------
_STRATA_RATES = [100, 50, 25, 10]  # rate_pct by (source index % 4)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    idx = F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int")
    rate = (
        F.when(idx % 4 == 0, F.lit(_STRATA_RATES[0]))
        .when(idx % 4 == 1, F.lit(_STRATA_RATES[1]))
        .when(idx % 4 == 2, F.lit(_STRATA_RATES[2]))
        .otherwise(F.lit(_STRATA_RATES[3]))
    )
    keep = md5_long(F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))) % 100 < rate
    return (
        d.select("source", rate.alias("rate_pct"), keep.cast("int").alias("k"))
        .groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_sampled"),
        )
        .select(
            "source",
            F.col("rate_pct").cast("long").alias("rate_pct"),
            "n_docs",
            "n_sampled",
            F.round(F.col("n_sampled") * 100.0 / F.col("n_docs"), 6).alias(
                "achieved_pct"
            ),
        )
    )


_STRAT_HASH = md5_long_sql("'smp|' || doc_id::VARCHAR")
_STRATIFIED_ORACLE = f"""
WITH tagged AS (
  SELECT source,
         CASE (regexp_extract(source, '[0-9]+')::INT % 4)
           WHEN 0 THEN {_STRATA_RATES[0]} WHEN 1 THEN {_STRATA_RATES[1]}
           WHEN 2 THEN {_STRATA_RATES[2]} ELSE {_STRATA_RATES[3]} END AS rate_pct,
         CASE WHEN {_STRAT_HASH} % 100 <
           CASE (regexp_extract(source, '[0-9]+')::INT % 4)
             WHEN 0 THEN {_STRATA_RATES[0]} WHEN 1 THEN {_STRATA_RATES[1]}
             WHEN 2 THEN {_STRATA_RATES[2]} ELSE {_STRATA_RATES[3]} END
           THEN 1 ELSE 0 END AS k
  FROM documents
)
SELECT source, rate_pct::BIGINT AS rate_pct,
       count(*)::BIGINT AS n_docs, sum(k)::BIGINT AS n_sampled,
       round(sum(k) * 100.0 / count(*), 6) AS achieved_pct
FROM tagged GROUP BY source, rate_pct
"""


# ---------------------------------------------------------------------------
# Token entropy: per-doc Shannon entropy in bits + type-token ratio.
# Determinism: counts folded in (c, tok) sorted order; H assembled from the
# identical expression tree ((ln(n) - acc/n) / ln(2)) in both engines.
# ---------------------------------------------------------------------------
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 1)
    cnt = (
        tok.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sort_array(F.collect_list(F.struct("c", "tok"))).alias("lst"),
    )
    acc = F.expr(
        "aggregate(lst, CAST(0.0 AS DOUBLE),"
        " (a, x) -> a + CAST(x.c AS DOUBLE) * ln(CAST(x.c AS DOUBLE)))"
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round((F.log(F.col("n_tokens").cast("double")) - acc / F.col("n_tokens"))
                / F.log(F.lit(2.0)), 6).alias("entropy_bits"),
        F.round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
    )


_ENTROPY_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
cnt AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks WHERE len(t) >= 1)
  GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
         list(c ORDER BY c, tok) AS lst
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round((ln(n_tokens::DOUBLE)
              - list_reduce(list_transform(lst, x -> x::DOUBLE * ln(x::DOUBLE)),
                            (a, b) -> a + b) / n_tokens) / ln(2.0), 6)
         AS entropy_bits,
       round(n_distinct::DOUBLE / n_tokens, 6) AS ttr
FROM per_doc
"""


# ---------------------------------------------------------------------------
# Bigram LM log-probability: corpus-trained model, per-doc mean ln P(b|a).
# The model tables are vocabulary-sized → broadcast joins; per-doc log-probs
# folded in token-position order for a bit-identical mean.
# ---------------------------------------------------------------------------
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 2)
    big = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS a, t[i] AS b))"
            )
        ).alias("pos", "bg"),
    ).select("doc_id", "pos", F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    cab = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    scored = (
        big.join(F.broadcast(cab), ["a", "b"])
        .join(F.broadcast(ca), "a")
        .select(
            "doc_id",
            "pos",
            F.log(F.col("cab").cast("double") / F.col("ca").cast("double")).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("aggregate(array_sort(collect_list(struct(pos, lp))),"
               " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.lp)").alias("acc"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("acc") / F.col("n_bigrams"), 6).alias("avg_logprob"),
    )


_BIGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
big AS (
  SELECT doc_id, s AS pos, t[s] AS a, t[s + 1] AS b
  FROM base, unnest(generate_series(1, len(t) - 1)) AS u(s)
),
cab AS (SELECT a, b, count(*) AS cab FROM big GROUP BY 1, 2),
ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY 1),
scored AS (
  SELECT doc_id, pos, ln(cab::DOUBLE / ca::DOUBLE) AS lp
  FROM big JOIN cab USING (a, b) JOIN ca USING (a)
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) AS acc
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, round(acc / n_bigrams, 6) AS avg_logprob
FROM per_doc
"""


# ---------------------------------------------------------------------------
# PMI co-occurrence: top-k token pairs by pointwise mutual information.
# Pairs are generated in-row from the sorted distinct-token array (no
# self-join); counts are exact integers so pmi is one ln over an exact ratio.
# ---------------------------------------------------------------------------
_PMI_K = 20


def pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 1)
    arr = tok.select("doc_id", F.array_sort(F.array_distinct("t")).alias("v"))
    n_docs = arr.agg(F.count(F.lit(1)).alias("n_docs"))
    cx = (
        arr.select(F.explode("v").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    pairs = arr.select(
        F.explode(
            F.expr(
                "flatten(transform(v, (x, i) ->"
                " transform(slice(v, i + 2, size(v)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    cab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    scored = (
        cab.join(F.broadcast(cx.withColumnRenamed("tok", "a").withColumnRenamed("cx", "ca")), "a")
        .join(F.broadcast(cx.withColumnRenamed("tok", "b").withColumnRenamed("cx", "cb")), "b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a",
            "b",
            F.col("cab").cast("long").alias("n_cooc"),
            F.round(
                F.log(
                    (F.col("cab") * F.col("n_docs")).cast("double")
                    / (F.col("ca") * F.col("cb")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "a", "b").limit(_PMI_K)


_PMI_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
arr AS (
  SELECT doc_id, list_sort(list_distinct(t)) AS v
  FROM toks WHERE len(t) >= 1
),
n AS (SELECT count(*) AS n_docs FROM arr),
cx AS (
  SELECT tok, count(*) AS cx
  FROM (SELECT doc_id, unnest(v) AS tok FROM arr) GROUP BY tok
),
pairs AS (
  SELECT v[i] AS a, v[j] AS b
  FROM arr,
       unnest(generate_series(1, len(v))) AS ui(i),
       unnest(generate_series(1, len(v))) AS uj(j)
  WHERE i < j
),
cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2)
SELECT a, b, cab::BIGINT AS n_cooc,
       round(ln((cab * n_docs)::DOUBLE / (ca.cx * cb.cx)::DOUBLE), 6) AS pmi
FROM cab
JOIN cx ca ON ca.tok = cab.a
JOIN cx cb ON cb.tok = cab.b
CROSS JOIN n
ORDER BY pmi DESC, a, b
LIMIT {_PMI_K}
"""


# ---------------------------------------------------------------------------
# Sequence-length bucketing: batch-packing diagnostic. Each doc lands in the
# smallest power-of-two token bucket; padding waste is what a fixed-shape
# trainer pays. Pure integer arithmetic — map-side + one bucket rollup.
# ---------------------------------------------------------------------------
_LEN_BUCKETS = [16, 32, 64, 128, 256, 512, 1024]


def _bucket_case_spark(n):
    expr = F.lit(_LEN_BUCKETS[-1])
    for b in reversed(_LEN_BUCKETS):
        expr = F.when(n <= b, F.lit(b)).otherwise(expr)
    return expr


def length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 1)
    n = F.size("t").cast("long")
    d = tok.select(n.alias("n"), _bucket_case_spark(n).cast("long").alias("bucket"))
    return (
        d.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("sum_tokens"),
            F.sum(F.col("bucket") - F.col("n")).cast("long").alias("sum_padding"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            "sum_padding",
            F.round(
                F.col("sum_padding").cast("double")
                / (F.col("sum_padding") + F.col("sum_tokens")),
                6,
            ).alias("waste_pct"),
        )
    )


def _bucket_case_sql(n: str) -> str:
    expr = str(_LEN_BUCKETS[-1])
    for b in reversed(_LEN_BUCKETS):
        expr = f"CASE WHEN {n} <= {b} THEN {b} ELSE {expr} END"
    return expr


_LENBUCKET_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
d AS (
  SELECT len(t)::BIGINT AS n, ({_bucket_case_sql('len(t)')})::BIGINT AS bucket
  FROM toks WHERE len(t) >= 1
)
SELECT bucket, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS sum_tokens,
       sum(bucket - n)::BIGINT AS sum_padding,
       round(sum(bucket - n)::DOUBLE / (sum(bucket - n) + sum(n)), 6) AS waste_pct
FROM d GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# Cross-source duplicate overlap matrix: for every source pair, how many
# duplicate fingerprints they share. The fingerprint is the first 12 tokens
# (a prefix fingerprint — the cheap first-pass near-dup key real pipelines
# use; exact-text md5 finds nothing across synthetic sources). NO self-join —
# each fingerprint's sorted distinct-source set expands to its pairs in-row
# (same shape as PMI), so a fingerprint duplicated across s sources costs
# C(s,2) rows, bounded by the source count, never by corpus size.
# ---------------------------------------------------------------------------
_PREFIX_FP_K = 12


def _prefix_fp_spark() -> F.Column:
    return F.md5(
        F.expr(
            f"array_join(slice(regexp_extract_all(lower(text), '[a-z0-9]+', 0),"
            f" 1, {_PREFIX_FP_K}), ' ')"
        )
    )


_PREFIX_FP_SQL = (
    f"md5(array_to_string((regexp_extract_all(lower(text), '[a-z0-9]+'))"
    f"[1 : {_PREFIX_FP_K}], ' '))"
)


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    fps = d.select(_prefix_fp_spark().alias("fp"), "source").distinct()
    sets = fps.groupBy("fp").agg(F.array_sort(F.collect_set("source")).alias("v"))
    pairs = sets.filter(F.size("v") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(v, (x, i) ->"
                " transform(slice(v, i + 2, size(v)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
    )


_SOURCE_OVERLAP_ORACLE = f"""
WITH fps AS (SELECT DISTINCT {_PREFIX_FP_SQL} AS fp, source FROM documents),
sets AS (SELECT fp, list_sort(list(DISTINCT source)) AS v FROM fps GROUP BY fp),
pairs AS (
  SELECT v[i] AS source_a, v[j] AS source_b
  FROM sets,
       unnest(generate_series(1, len(v))) AS ui(i),
       unnest(generate_series(1, len(v))) AS uj(j)
  WHERE i < j AND len(v) >= 2
)
SELECT source_a, source_b, count(*)::BIGINT AS n_shared_fps
FROM pairs GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Deterministic train/val split + leakage audit: hash-split at 90/10, then
# count, per split, the docs whose prefix fingerprint also appears in the
# OTHER split (what a decontamination pass must remove before training; the
# prefix fingerprint is the same near-dup key source_overlap uses).
# One shuffle on the fingerprint; split membership is row-local.
# ---------------------------------------------------------------------------
_SPLIT_TRAIN_PCT = 90


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    split = F.when(
        md5_long(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
        < _SPLIT_TRAIN_PCT,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    tagged = d.select(
        "doc_id", "n_chars", _prefix_fp_spark().alias("fp"), split.alias("split")
    )
    fp_sides = tagged.groupBy("fp").agg(
        F.countDistinct("split").alias("n_sides")
    )
    return (
        tagged.join(fp_sides, "fp")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("fp").cast("long").alias("n_unique_fps"),
            F.sum(F.when(F.col("n_sides") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_leaked_docs"),
        )
    )


_SPLIT_HASH = md5_long_sql("'split|' || doc_id::VARCHAR")
_SPLIT_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id, n_chars, {_PREFIX_FP_SQL} AS fp,
         CASE WHEN {_SPLIT_HASH} % 100 < {_SPLIT_TRAIN_PCT}
              THEN 'train' ELSE 'val' END AS split
  FROM documents
),
fp_sides AS (SELECT fp, count(DISTINCT split) AS n_sides FROM tagged GROUP BY fp)
SELECT split, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       count(DISTINCT fp)::BIGINT AS n_unique_fps,
       sum(CASE WHEN n_sides > 1 THEN 1 ELSE 0 END)::BIGINT AS n_leaked_docs
FROM tagged JOIN fp_sides USING (fp)
GROUP BY split
"""


# ---------------------------------------------------------------------------
# Composite quality-filter verdict: the Gopher/C4-style rule stack as ONE
# pass over the (doc, token) aggregate — min length, type-token-ratio band
# (too-high TTR = word soup), repetition cap (max token frequency share),
# mean token length band. Every signal is an exact integer ratio compared
# unrounded (both engines evaluate the identical single division), so the
# verdict is deterministic; fail reasons concatenate in a fixed rule order.
# ---------------------------------------------------------------------------
_QF_MIN_TOKENS = 25
_QF_TTR_MAX = 0.6
_QF_TOPFRAC_MAX = 0.12
_QF_MEANLEN_LO = 4.0
_QF_MEANLEN_HI = 5.0


def quality_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 1)
    cnt = (
        tok.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("nd"),
        F.max("c").alias("mx"),
        F.sum(F.length("tok") * F.col("c")).alias("sl"),
    )
    ttr = F.col("nd").cast("double") / F.col("n_tokens")
    topf = F.col("mx").cast("double") / F.col("n_tokens")
    mlen = F.col("sl").cast("double") / F.col("n_tokens")
    fails = F.concat_ws(
        ",",
        F.when(F.col("n_tokens") < _QF_MIN_TOKENS, F.lit("short")),
        F.when(ttr > _QF_TTR_MAX, F.lit("soup")),
        F.when(topf > _QF_TOPFRAC_MAX, F.lit("repetitive")),
        F.when((mlen < _QF_MEANLEN_LO) | (mlen > _QF_MEANLEN_HI), F.lit("token_len")),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.round(ttr, 6).alias("ttr"),
        F.round(topf, 6).alias("top_tok_frac"),
        F.round(mlen, 6).alias("mean_tok_len"),
        F.when(fails == "", 1).otherwise(0).cast("long").alias("keep"),
        fails.alias("fail_reasons"),
    )


_QF_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
cnt AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks WHERE len(t) >= 1)
  GROUP BY 1, 2
),
d AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS nd, max(c) AS mx,
         sum(len(tok) * c) AS sl
  FROM cnt GROUP BY doc_id
),
v AS (
  SELECT doc_id, n_tokens,
         nd::DOUBLE / n_tokens AS ttr,
         mx::DOUBLE / n_tokens AS topf,
         sl::DOUBLE / n_tokens AS mlen
  FROM d
),
f AS (
  SELECT doc_id, n_tokens, ttr, topf, mlen,
         concat_ws(',',
           CASE WHEN n_tokens < {_QF_MIN_TOKENS} THEN 'short' END,
           CASE WHEN ttr > {_QF_TTR_MAX} THEN 'soup' END,
           CASE WHEN topf > {_QF_TOPFRAC_MAX} THEN 'repetitive' END,
           CASE WHEN mlen < {_QF_MEANLEN_LO} OR mlen > {_QF_MEANLEN_HI}
                THEN 'token_len' END) AS fails
  FROM v
)
SELECT doc_id, n_tokens,
       round(ttr, 6) AS ttr, round(topf, 6) AS top_tok_frac,
       round(mlen, 6) AS mean_tok_len,
       (CASE WHEN fails = '' THEN 1 ELSE 0 END)::BIGINT AS keep,
       fails AS fail_reasons
FROM f
"""


# ---------------------------------------------------------------------------
# PII detection + redaction. The corpus is synthetic word-salad with no
# natural PII, so the spec follows the multimodal encode->decode precedent:
# a deterministic contact line (email, phone, IPv4 — all derived from doc_id)
# is RENDERED into each document inside the query, then the scrubber has to
# find and redact it. Both engines render identically, so the oracle is a
# real exactness check on the regex machinery, not a trivial all-zeros pass.
#
# Scale: pure map-side projection — zero shuffle at any corpus size; the
# regex stack runs inside whole-stage codegen (no Python). Patterns restrict
# to syntax Java regex and DuckDB's RE2 interpret identically (character
# classes + bounded repetition; no backrefs, no lookaround).
# ---------------------------------------------------------------------------
_PII_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PII_PHONE_RE = "555-[0-9]{4}"
_PII_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tld = F.when(F.col("doc_id") % 3 == 0, "com").when(F.col("doc_id") % 3 == 1, "org").otherwise("net")
    contact = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example."),
        tld,
        F.lit(" phone 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" host 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    aug = d.select("doc_id", F.concat(F.col("text"), contact).alias("s"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE,
            "<PHONE>",
        ),
        _PII_IP_RE,
        "<IP>",
    )
    out = aug.select(
        "doc_id",
        F.regexp_count(F.col("s"), F.lit(_PII_EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(F.col("s"), F.lit(_PII_PHONE_RE)).cast("long").alias("n_phone"),
        F.regexp_count(F.col("s"), F.lit(_PII_IP_RE)).cast("long").alias("n_ip"),
        redacted.alias("r"),
    )
    residual = (
        F.regexp_count(F.col("r"), F.lit(_PII_EMAIL_RE))
        + F.regexp_count(F.col("r"), F.lit(_PII_PHONE_RE))
        + F.regexp_count(F.col("r"), F.lit(_PII_IP_RE))
    )
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ip",
        F.md5(F.col("r")).alias("redacted_fp"),
        residual.cast("long").alias("residual_pii"),
    )


_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.' ||
         (CASE WHEN doc_id % 3 = 0 THEN 'com'
               WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) ||
         ' phone 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         CAST((doc_id * 7) % 256 AS VARCHAR) AS s
  FROM documents
),
red AS (
  SELECT doc_id, s,
         regexp_replace(
           regexp_replace(
             regexp_replace(s, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PII_PHONE_RE}', '<PHONE>', 'g'),
           '{_PII_IP_RE}', '<IP>', 'g') AS r
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(s, '{_PII_EMAIL_RE}'))::BIGINT AS n_email,
       len(regexp_extract_all(s, '{_PII_PHONE_RE}'))::BIGINT AS n_phone,
       len(regexp_extract_all(s, '{_PII_IP_RE}'))::BIGINT AS n_ip,
       md5(r) AS redacted_fp,
       (len(regexp_extract_all(r, '{_PII_EMAIL_RE}'))
        + len(regexp_extract_all(r, '{_PII_PHONE_RE}'))
        + len(regexp_extract_all(r, '{_PII_IP_RE}')))::BIGINT AS residual_pii
FROM red
"""


# ---------------------------------------------------------------------------
# BPE merge learning (the tokenizer-training primitive): K merge rules are
# learned from the corpus with the classic Sennrich algorithm — count
# adjacent symbol pairs over the WORD VOCABULARY weighted by word frequency
# (the trick that makes BPE scale: iterations run over the vocab relation,
# not the token stream; the 100 TB corpus is touched exactly once to build
# (word, freq)), pick the most frequent pair (ties: lexicographic), and
# apply the merge with GREEDY LEFT-TO-RIGHT semantics before the next count.
#
# Greedy application is the part engines get wrong: in a run of overlapping
# matches (l l l l), only every other occurrence merges. That is expressed
# relationally with gaps-and-islands — maximal runs of consecutive match
# positions keep their odd-numbered members — so the operator is pure
# integer/string window logic, identically unrolled in the DuckDB oracle.
# No floats anywhere.
# ---------------------------------------------------------------------------
_BPE_ITERS = 3


def _bpe_step(s: DataFrame, it: int):
    """One BPE iteration: (word, freq, pos, sym) → (merged relation, best-pair
    row). All windows are vocabulary-partitioned (bounded by max word length,
    not corpus size)."""
    ww = Window.partitionBy("word").orderBy("pos")
    p = s.withColumn("nxt", F.lead("sym").over(ww))
    cnt = (
        p.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )
    best = cnt.orderBy(
        F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(1)
    m = p.crossJoin(F.broadcast(best)).withColumn(
        "m",
        F.coalesce((F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b")), F.lit(False)),
    )
    wm = Window.partitionBy("word", "m").orderBy("pos")
    m = m.withColumn("run", F.col("pos") - F.row_number().over(wm))
    wrun = Window.partitionBy("word", "m", "run").orderBy("pos")
    m = m.withColumn(
        "merge_at", F.col("m") & (F.row_number().over(wrun) % 2 == 1)
    ).withColumn("consumed", F.coalesce(F.lag("merge_at").over(ww), F.lit(False)))
    nxt_s = (
        m.filter(~F.col("consumed"))
        .select(
            "word",
            "freq",
            "pos",
            F.when(F.col("merge_at"), F.concat(F.col("sym"), F.col("nxt")))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .withColumn("pos", F.row_number().over(Window.partitionBy("word").orderBy("pos")))
    )
    out = best.select(
        F.lit(it).cast("long").alias("iteration"),
        F.col("a").alias("sym_a"),
        F.col("b").alias("sym_b"),
        "pair_count",
        F.concat(F.col("a"), F.col("b")).alias("merged"),
    )
    return nxt_s, out


def _bpe_state(spark: SparkSession, sf_dir: str):
    """(final symbol relation, merge rules) — the learn chain, run ONCE per
    (application, sf_dir) through suite.memo and localCheckpoint'd. Both
    consumers replay the same iteration machinery otherwise (learn needs the
    per-iteration best pairs, encode needs the final per-word symbol
    sequences); the memo's per-key lock keeps the bench's concurrent
    submitters from double-building. Released by suite.clear_memos()."""

    def build():
        vocab = (
            tokenized(spark, sf_dir)
            .select(F.explode("t").alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        )
        s = vocab.select(
            "word",
            "freq",
            F.posexplode(F.split(F.col("word"), "")).alias("pos0", "sym"),
        ).select("word", "freq", (F.col("pos0") + 1).alias("pos"), "sym")
        merges = []
        for it in range(1, _BPE_ITERS + 1):
            s, out = _bpe_step(s, it)
            merges.append(out)
        res = merges[0]
        for df in merges[1:]:
            res = res.unionByName(df)
        return s.localCheckpoint(eager=True), res.localCheckpoint(eager=True)

    return memo(spark, sf_dir, "bpe-state", build)


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_state(spark, sf_dir)[1]


def _bpe_chain() -> tuple[list, list]:
    """Shared DuckDB CTE chain for BPE learn/encode: returns (parts, per-iter
    best-pair selects); parts end at s{_BPE_ITERS+1}, the fully-merged symbol
    relation."""
    parts = [
        f"tok AS (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)",
        "vocab AS (SELECT word, COUNT(*)::BIGINT AS freq FROM tok GROUP BY 1)",
        """s1 AS (
  SELECT word, freq, i AS pos, substr(word, i, 1) AS sym
  FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(word))) AS i)
)""",
    ]
    sel = []
    for it in range(1, _BPE_ITERS + 1):
        parts.append(
            f"""p{it} AS (
  SELECT word, freq, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM s{it}
),
best{it} AS (
  SELECT sym AS a, nxt AS b, SUM(freq)::BIGINT AS pair_count
  FROM p{it} WHERE nxt IS NOT NULL GROUP BY 1, 2
  ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1
),
m{it} AS (
  SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
         COALESCE(p.sym = b.a AND p.nxt = b.b, false) AS m
  FROM p{it} p CROSS JOIN best{it} b
),
r{it} AS (
  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, m ORDER BY pos) AS run
  FROM m{it}
),
g{it} AS (
  SELECT *,
         m AND (ROW_NUMBER() OVER (PARTITION BY word, m, run ORDER BY pos) % 2 = 1) AS merge_at
  FROM r{it}
),
h{it} AS (
  SELECT *, COALESCE(LAG(merge_at) OVER (PARTITION BY word ORDER BY pos), false) AS consumed
  FROM g{it}
),
s{it + 1} AS (
  SELECT word, freq,
         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         CASE WHEN merge_at THEN sym || nxt ELSE sym END AS sym
  FROM h{it} WHERE NOT consumed
)"""
        )
        sel.append(
            f"SELECT {it}::BIGINT AS iteration, a AS sym_a, b AS sym_b, pair_count, a || b AS merged FROM best{it}"
        )
    return parts, sel


def _bpe_oracle() -> str:
    parts, sel = _bpe_chain()
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)

# ---------------------------------------------------------------------------
# BPE encode — apply the learned merges back to the corpus. The companion of
# bpe_learn_merges: where learn runs over the (word, freq) VOCABULARY, encode
# reports the tokenization the learned merges induce on every DOCUMENT.
# Because BPE merges are a pure function of the word, the corpus never
# re-runs the merge machinery per occurrence: the final per-word symbol
# sequences (the learn loop's last state) aggregate to one tiny
# (word → n_symbols) relation that broadcast-joins onto the per-doc token
# stream. At 100 TB that relation IS the tokenizer — a few MB no matter the
# corpus size — so encode is one broadcast join + one groupBy(doc_id).
# ---------------------------------------------------------------------------
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokenized(spark, sf_dir)
    s = _bpe_state(spark, sf_dir)[0]
    word_syms = s.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_sym"),
        F.sum(F.when(F.length("sym") > 1, 1).otherwise(0)).cast("long").alias("n_merged"),
    )
    stream = toks.select("doc_id", F.explode("t").alias("word"))
    return (
        stream.join(F.broadcast(word_syms), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.sum("n_merged").cast("long").alias("n_merged_syms"),
        )
    )


def _bpe_encode_oracle() -> str:
    parts, _sel = _bpe_chain()
    parts.insert(0, f"tokd AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)")
    parts.append(
        f"""word_syms AS (
  SELECT word, COUNT(*)::BIGINT AS n_sym,
         SUM(CASE WHEN length(sym) > 1 THEN 1 ELSE 0 END)::BIGINT AS n_merged
  FROM s{_BPE_ITERS + 1} GROUP BY 1
)"""
    )
    final = """SELECT t.doc_id,
       COUNT(*)::BIGINT AS n_words,
       SUM(w.n_sym)::BIGINT AS n_symbols,
       SUM(w.n_merged)::BIGINT AS n_merged_syms
FROM tokd t JOIN word_syms w USING (word) GROUP BY 1"""
    return "WITH " + ",\n".join(parts) + "\n" + final



# ---------------------------------------------------------------------------
# Held-out LM perplexity — the EVALUATION composition of the split + LM
# tiers: an add-one-smoothed bigram model is fit on the TRAIN split only
# (same deterministic hash split as train_val_split) and scored on the VAL
# split, unseen bigrams falling back to the smoothed floor. This is the
# quality signal real pipelines gate on (is this document "surprising" to a
# model of the corpus?) — and fitting on train-only is what makes it honest.
# Per-doc sums fold in position order (the repo's bit-identical-float trick);
# smoothed probabilities are exact rational doubles in both engines.
# ---------------------------------------------------------------------------
def lm_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 2)
    split_of = F.when(
        md5_long(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
        < _SPLIT_TRAIN_PCT,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    tagged = tok.select("doc_id", "t", split_of.alias("split"))
    big = tagged.select(
        "doc_id",
        "split",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS a, t[i] AS b))"
            )
        ).alias("pos", "bg"),
    ).select("doc_id", "split", "pos", F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    train = big.filter(F.col("split") == "train")
    # ONE materialization of the bigram-count TYPE relation: its consumers
    # below (ca, the vocab union, the scored join) each re-executed the
    # whole tokenize+posexplode train pass otherwise (measured r11: the
    # spec's profile was 5 corpus-explode map stages; exchange reuse does
    # not collapse them across the differing aggregates). cab is
    # vocab²-bounded — the right size to pin executor-resident, same
    # barrier discipline as naive_bayes_lang's cnt (r10).
    cab = (
        train.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
        .localCheckpoint(eager=False)
    )
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    # vocab from the TYPE relation, not the instance stream: distinct(a) ∪
    # distinct(b) over cab equals train's distinct tokens exactly (every
    # train token occurs in some train bigram as a or b), and cab is orders
    # of magnitude smaller than the bigram instances — this drops two full
    # tokenize+posexplode passes the union over `train` paid (guide §2.4)
    vsize = cab.select("b").union(cab.select("a")).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    val = big.filter(F.col("split") == "val")
    scored = (
        val.join(F.broadcast(cab), ["a", "b"], "left")
        .join(F.broadcast(ca), "a", "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            "pos",
            F.log(
                (F.coalesce(F.col("cab"), F.lit(0)).cast("double") + 1.0)
                / (F.coalesce(F.col("ca"), F.lit(0)).cast("double") + F.col("v").cast("double"))
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("aggregate(array_sort(collect_list(struct(pos, lp))),"
               " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.lp)").alias("acc"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(-F.col("acc") / F.col("n_bigrams"), 6).alias("cross_entropy"),
    )


_HELDOUT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (
  SELECT doc_id, t,
         CASE WHEN {md5_long_sql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < {_SPLIT_TRAIN_PCT}
              THEN 'train' ELSE 'val' END AS split
  FROM toks WHERE len(t) >= 2
),
big AS (
  SELECT doc_id, split, s AS pos, t[s] AS a, t[s + 1] AS b
  FROM base, unnest(generate_series(1, len(t) - 1)) AS u(s)
),
train AS (SELECT * FROM big WHERE split = 'train'),
cab AS (SELECT a, b, count(*) AS cab FROM train GROUP BY 1, 2),
ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY 1),
vsize AS (
  SELECT count(*)::BIGINT AS v
  FROM (SELECT b FROM train UNION SELECT a FROM train)
),
scored AS (
  SELECT vb.doc_id, vb.pos,
         ln((COALESCE(cab.cab, 0)::DOUBLE + 1.0)
            / (COALESCE(ca.ca, 0)::DOUBLE + vsize.v::DOUBLE)) AS lp
  FROM big vb
  LEFT JOIN cab ON cab.a = vb.a AND cab.b = vb.b
  LEFT JOIN ca ON ca.a = vb.a
  CROSS JOIN vsize
  WHERE vb.split = 'val'
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) AS acc
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, round(-acc / n_bigrams, 6) AS cross_entropy
FROM per_doc
"""


# ---------------------------------------------------------------------------
# Near-dup threshold sweep — the tuning diagnostic for the minhash tier:
# histogram of estimated-Jaccard mass over the candidate pairs, by 0.1 bins.
# Answers "where should the dedup threshold sit for THIS corpus?" from work
# the suite already computes (the memoized LSH pair relation); one ≤10-row
# rollup on top. Deliberately RAW pairs (not the funnel feed): the sweep
# characterizes the candidate distribution the dedup pass itself must
# enumerate — exact-copy pair mass in the 1.0 bin is part of the answer.
# ---------------------------------------------------------------------------
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    binned = pairs.select(
        F.floor(F.col("est_jaccard") * 10).cast("long").alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    ).select(
        "bin",
        (F.col("bin").cast("double") / 10).alias("threshold_lo"),
        "n_pairs",
    )


def _sweep_oracle() -> str:
    from templatedb_spark.operators.dedup import _MINHASH_CTES, _MINHASH_SELECT

    return f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_SELECT})
SELECT CAST(FLOOR(est_jaccard * 10) AS BIGINT) AS bin,
       CAST(FLOOR(est_jaccard * 10) AS BIGINT)::DOUBLE / 10 AS threshold_lo,
       COUNT(*)::BIGINT AS n_pairs
FROM pairs GROUP BY 1, 2
"""

for spec in [
    QuerySpec(
        "bpe_encode",
        bpe_encode,
        _bpe_encode_oracle(),
        "BPE encode: learned merges applied per word, broadcast onto the doc token stream",
    ),
    QuerySpec(
        "bpe_learn_merges",
        bpe_learn_merges,
        _bpe_oracle(),
        "BPE tokenizer merge learning: vocab-weighted pair counts, greedy left-to-right application",
    ),
    QuerySpec(
        "pii_redaction",
        pii_redaction,
        _PII_ORACLE,
        "PII detect + redact: rendered contact lines scrubbed by a portable regex stack",
    ),
    QuerySpec(
        "dedup_substring",
        dedup_substring,
        _SUBSTRING_ORACLE,
        "exact shared W-token window detection (linear substring dedup, no pair join)",
    ),
    QuerySpec(
        "stratified_sample",
        stratified_sample,
        _STRATIFIED_ORACLE,
        "per-source deterministic hash sampling at heterogeneous rates",
    ),
    QuerySpec(
        "token_entropy",
        token_entropy,
        _ENTROPY_ORACLE,
        "per-doc Shannon entropy + type-token ratio via sorted bit-identical fold",
    ),
    QuerySpec(
        "bigram_logprob",
        bigram_logprob,
        _BIGRAM_ORACLE,
        "corpus bigram LM scoring: per-doc mean log P(b|a), position-ordered fold",
    ),
    QuerySpec(
        "pmi_cooccurrence",
        pmi_cooccurrence,
        _PMI_ORACLE,
        "top-k PMI token pairs via in-row pair expansion (no self-join)",
    ),
    QuerySpec(
        "length_bucket_stats",
        length_bucket_stats,
        _LENBUCKET_ORACLE,
        "power-of-two sequence-length buckets with padding-waste accounting",
    ),
    QuerySpec(
        "source_overlap",
        source_overlap,
        _SOURCE_OVERLAP_ORACLE,
        "cross-source duplicate-fingerprint matrix via in-row pair expansion",
    ),
    QuerySpec(
        "train_val_split",
        train_val_split,
        _SPLIT_ORACLE,
        "deterministic 90/10 hash split + cross-split exact-dup leakage audit",
    ),
    QuerySpec(
        "quality_filter_verdict",
        quality_filter_verdict,
        _QF_ORACLE,
        "composite Gopher-style quality rule stack: one keep/drop verdict per doc",
    ),
    QuerySpec(
        "lm_heldout_perplexity",
        lm_heldout_perplexity,
        _HELDOUT_ORACLE,
        "held-out cross-entropy: add-one bigram LM fit on the train split, scored on val",
    ),
    QuerySpec(
        "dedup_threshold_sweep",
        dedup_threshold_sweep,
        _sweep_oracle(),
        "near-dup threshold tuning histogram over the minhash candidate pairs",
    ),
]:
    register(spec)


# ---------------------------------------------------------------------------
# N-gram novelty: for every VAL-split document, the fraction of its distinct
# trigrams never seen in the TRAIN split — the memorization/novelty probe run
# before held-out evaluation (a val doc with near-zero novelty is effectively
# train data; complements lm_heldout_perplexity, which scores probability,
# and source_overlap, which only compares prefix fingerprints). Same
# deterministic doc_id hash split as train_val_split.
#
# Scale: trigrams explode map-side; the train trigram SET is one distinct
# aggregation; the val-vs-train membership is a shuffle join on the trigram
# string (at 100 TB: hash the trigram to 8 bytes first — same key discipline
# as dedup_substring's fp).
# ---------------------------------------------------------------------------
_NOVELTY_N = 3


def _trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= _NOVELTY_N)
    return tok.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(t) - {_NOVELTY_N} + 1)")).alias("s"),
        "t",
    ).select(
        "doc_id",
        F.expr(f"array_join(slice(t, s, {_NOVELTY_N}), ' ')").alias("tg"),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    tg = _trigrams(spark, sf_dir)
    split = (
        md5_long(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
        % 100
        < _SPLIT_TRAIN_PCT
    )
    tagged = tg.withColumn("is_train", split)
    train_set = tagged.filter("is_train").select("tg").distinct()
    val_tg = tagged.filter(~F.col("is_train")).select("doc_id", "tg").distinct()
    flagged = val_tg.join(
        train_set.withColumn("_seen", F.lit(1)), "tg", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_frac"),
    )


_NOVELTY_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (SELECT doc_id, t FROM toks WHERE len(t) >= {_NOVELTY_N}),
tg AS (
  SELECT doc_id, array_to_string(t[s : s + {_NOVELTY_N} - 1], ' ') AS tg,
         ({_SPLIT_HASH} % 100 < {_SPLIT_TRAIN_PCT}) AS is_train
  FROM base, unnest(generate_series(1, len(t) - {_NOVELTY_N} + 1)) AS u(s)
),
train_set AS (SELECT DISTINCT tg FROM tg WHERE is_train),
val_tg AS (SELECT DISTINCT doc_id, tg FROM tg WHERE NOT is_train)
SELECT v.doc_id,
       COUNT(*)::BIGINT AS n_ngrams,
       SUM(CASE WHEN t.tg IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       ROUND(SUM(CASE WHEN t.tg IS NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         AS novelty_frac
FROM val_tg v LEFT JOIN train_set t USING (tg)
GROUP BY v.doc_id
"""

register(
    QuerySpec(
        "ngram_novelty",
        ngram_novelty,
        _NOVELTY_ORACLE,
        "per-val-doc fraction of trigrams unseen in the train split (memorization/novelty probe)",
    )
)


# ---------------------------------------------------------------------------
# Preference-pair construction (round 9): the RLHF / reward-model data-prep
# op — per prompt group, turn scalar feedback over candidate responses into
# one (chosen, rejected) training pair. Events stand in as the feedback
# stream: user_id is the prompt group, each event a scored candidate
# (value = reward), and the emitted pair is the max-margin one — argmax vs
# argmin of (value, event_id), ties broken by event_id so the pair is
# deterministic. Groups with no strict preference (all candidates tied, or
# a single candidate) emit nothing.
#
# Scale: ONE hash aggregation on the group key — the argmax/argmin ride the
# same partial+final agg as any min/max (struct ordering), so there is no
# window, no self-join, and above all no all-pairs expansion (the naive
# "every (better, worse) combination" construction is quadratic per group
# and is exactly what this operator avoids at 100 TB).
# ---------------------------------------------------------------------------
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    agg = cand.groupBy("user_id").agg(
        F.max(F.struct(F.col("value"), F.col("event_id"))).alias("ch"),
        F.min(F.struct(F.col("value"), F.col("event_id"))).alias("rj"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )
    return agg.filter(F.col("ch.value") > F.col("rj.value")).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ch.event_id").cast("long").alias("chosen_event_id"),
        F.col("rj.event_id").cast("long").alias("rejected_event_id"),
        F.col("ch.value").cast("double").alias("chosen_value"),
        F.col("rj.value").cast("double").alias("rejected_value"),
        (F.col("ch.value") - F.col("rj.value")).cast("double").alias("margin"),
        "n_candidates",
    )


_PREF_ORACLE = """
WITH cand AS (
  SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rb,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rw,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM cand
),
pairs AS (
  SELECT user_id,
         MAX(CASE WHEN rb = 1 THEN event_id END) AS chosen_event_id,
         MAX(CASE WHEN rw = 1 THEN event_id END) AS rejected_event_id,
         MAX(CASE WHEN rb = 1 THEN value END) AS chosen_value,
         MAX(CASE WHEN rw = 1 THEN value END) AS rejected_value,
         MAX(n) AS n_candidates
  FROM r GROUP BY user_id
)
SELECT user_id::BIGINT AS user_id,
       chosen_event_id::BIGINT AS chosen_event_id,
       rejected_event_id::BIGINT AS rejected_event_id,
       chosen_value::DOUBLE AS chosen_value,
       rejected_value::DOUBLE AS rejected_value,
       (chosen_value - rejected_value)::DOUBLE AS margin,
       n_candidates::BIGINT AS n_candidates
FROM pairs WHERE chosen_value > rejected_value
"""

register(
    QuerySpec(
        "preference_pairs",
        preference_pairs,
        _PREF_ORACLE,
        "RLHF preference-pair construction: per-group max-margin (chosen, rejected) election via struct argmax/argmin — one hash agg, no all-pairs expansion",
    )
)


# ---------------------------------------------------------------------------
# GDPR/right-to-erasure propagation (round 9): the compliance op a lakehouse
# runs on every deletion request — a tombstone identity set scrubbed from
# EVERY table that carries the key, with an auditable per-table accounting
# (rows before / purged / after) that the DPO can sign. The tombstone set is
# derived deterministically here (user_id % 37 == 2 among observed event
# users) so the spec is reproducible from the shipped tables.
#
# Scale: the tombstone list is small relative to the corpus — each scrub is
# a BROADCAST anti-join (no shuffle of the fact side); at a tombstone
# cardinality that outgrows broadcast, the bloom_semi_join spec's shape
# (broadcast bitmap prefilter + exact join on survivors) is the documented
# upgrade path. The audit rollup is a per-table aggregate, one pass each.
# ---------------------------------------------------------------------------
def gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    tomb = (
        table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("k"))
        .filter(F.col("k") % 37 == 2)
        .distinct()
    )

    def audit(df: DataFrame, key: str, tbl: str) -> DataFrame:
        keyed = df.select(F.col(key).alias("k"))
        kept = keyed.join(F.broadcast(tomb), "k", "left_anti")
        return keyed.agg(
            F.lit(tbl).alias("tbl"), F.count(F.lit(1)).cast("long").alias("n_before")
        ).crossJoin(kept.agg(F.count(F.lit(1)).cast("long").alias("n_after"))).select(
            "tbl",
            "n_before",
            (F.col("n_before") - F.col("n_after")).cast("long").alias("n_purged"),
            "n_after",
        )

    return (
        audit(table(spark, sf_dir, "events"), "user_id", "events")
        .unionByName(audit(table(spark, sf_dir, "orders"), "o_custkey", "orders"))
        .unionByName(audit(table(spark, sf_dir, "customer"), "c_custkey", "customer"))
    )


_GDPR_ORACLE = """
WITH tomb AS (
  SELECT DISTINCT user_id AS k FROM events WHERE user_id % 37 = 2
),
a AS (
  SELECT 'events' AS tbl, COUNT(*)::BIGINT AS n_before,
         COUNT(*) FILTER (WHERE user_id IN (SELECT k FROM tomb))::BIGINT AS n_purged
  FROM events
  UNION ALL
  SELECT 'orders', COUNT(*)::BIGINT,
         COUNT(*) FILTER (WHERE o_custkey IN (SELECT k FROM tomb))::BIGINT
  FROM orders
  UNION ALL
  SELECT 'customer', COUNT(*)::BIGINT,
         COUNT(*) FILTER (WHERE c_custkey IN (SELECT k FROM tomb))::BIGINT
  FROM customer
)
SELECT tbl, n_before, n_purged, (n_before - n_purged)::BIGINT AS n_after FROM a
"""

register(
    QuerySpec(
        "gdpr_erasure",
        gdpr_erasure,
        _GDPR_ORACLE,
        "right-to-erasure propagation: broadcast anti-join scrub of a tombstone identity set across every keyed table, with per-table audit counts",
    )
)


# ---------------------------------------------------------------------------
# KMV (bottom-k / K-minimum-values) cross-source overlap estimation
# (round 9): the cheap pre-dedup PLANNING op — before paying for a full
# cross-source dedup, estimate every source pair's union cardinality and
# Jaccard from k-sized sketches. Each source group keeps only its k
# smallest distinct 40-bit md5 fingerprint hashes; a pair's union estimate
# is (k-1)·2^40 DIV h_k over the merged sketch (exact integer arithmetic),
# and its Jaccard estimate is the fraction of the merged bottom-k present
# in BOTH sketches (j_cnt/k — a dyadic rational, float-exact). Exact truth
# columns ride along so the spec doubles as an error report.
#
# Scale: sketch construction is one bounded window per group (k rows
# survive); the pair stage then works on k-sized sketches — CONSTANT cost
# per pair regardless of corpus size, which is the entire point: estimating
# N² source overlaps without N² corpus joins. (`source_overlap` is the
# exact twin that pays the real join.)
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_SPACE = 2**40
_KMV_GROUPS = 4


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    fps = d.select(
        (md5_long(F.col("source")) % _KMV_GROUPS).alias("g"),
        _prefix_fp_spark().alias("fp"),
    )
    hashes = fps.select(
        "g",
        (md5_long(F.concat(F.lit("kmv|"), F.col("fp"))) % _KMV_SPACE).alias("h"),
    ).distinct()
    wg = W.partitionBy("g").orderBy(F.col("h").asc())
    sk = (
        hashes.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= _KMV_K)
        .select("g", "h")
    )
    a = sk.select(F.col("g").alias("ga"), F.col("h").alias("h"))
    b = sk.select(F.col("g").alias("gb"), F.col("h").alias("h"))
    merged = (
        a.select("ga").distinct()
        .join(b.select("gb").distinct(), F.col("ga") < F.col("gb"))
        .join(a, "ga")
        .unionByName(
            a.select("ga").distinct()
            .join(b.select("gb").distinct(), F.col("ga") < F.col("gb"))
            .join(b, "gb")
            .select("ga", "gb", "h")
        )
        .select("ga", "gb", "h")
        .distinct()
    )
    wp = W.partitionBy("ga", "gb").orderBy(F.col("h").asc())
    bot = merged.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= _KMV_K
    )
    in_a = a.withColumnRenamed("ga", "g_")
    in_b = b.withColumnRenamed("gb", "g_")
    marked = (
        bot.join(
            in_a.select(F.col("g_").alias("ga"), "h", F.lit(1).alias("ia")),
            ["ga", "h"],
            "left",
        )
        .join(
            in_b.select(F.col("g_").alias("gb"), "h", F.lit(1).alias("ib")),
            ["gb", "h"],
            "left",
        )
    )
    est = marked.groupBy("ga", "gb").agg(
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
        F.sum(
            F.when(F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("j_cnt"),
    )
    # exact truth per pair via the distinct-fp sets (union by |A|+|B|-|A∩B|)
    fa = fps.select("g", "fp").distinct()
    ga_sets = fa.select(F.col("g").alias("ga"), "fp")
    gb_sets = fa.select(F.col("g").alias("gb"), "fp")
    inter = (
        ga_sets.join(gb_sets, "fp")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.countDistinct("fp").cast("long").alias("n_inter"))
    )
    sizes = fa.groupBy("g").agg(F.countDistinct("fp").cast("long").alias("n"))
    pairs = (
        sizes.select(F.col("g").alias("ga"), F.col("n").alias("na"))
        .join(
            sizes.select(F.col("g").alias("gb"), F.col("n").alias("nb")),
            F.col("ga") < F.col("gb"),
        )
        .join(inter, ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            (F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0)))
            .cast("long")
            .alias("n_union"),
            F.coalesce("n_inter", F.lit(0)).cast("long").alias("n_inter"),
        )
    )
    return est.join(pairs, ["ga", "gb"]).select(
        F.col("ga").cast("long").alias("ga"),
        F.col("gb").cast("long").alias("gb"),
        F.expr(f"cast(({_KMV_K} - 1) * cast({_KMV_SPACE} as bigint) div hk as bigint)").alias(
            "est_union"
        ),
        "j_cnt",
        "n_union",
        "n_inter",
    )


def _kmv_oracle() -> str:
    gh = md5_long_sql("source")
    hh = md5_long_sql("'kmv|' || fp")
    return f"""
WITH fps AS (
  SELECT {gh} % {_KMV_GROUPS} AS g, {_PREFIX_FP_SQL} AS fp FROM documents
),
hashes AS (
  SELECT DISTINCT g, {hh} % {_KMV_SPACE} AS h
  FROM (SELECT DISTINCT g, fp FROM fps)
),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h ASC) AS rn
    FROM hashes
  ) WHERE rn <= {_KMV_K}
),
gs AS (SELECT DISTINCT g FROM sk),
prs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
merged AS (
  SELECT DISTINCT p.ga, p.gb, s.h
  FROM prs p JOIN sk s ON s.g = p.ga OR s.g = p.gb
),
bot AS (
  SELECT ga, gb, h, rn FROM (
    SELECT ga, gb, h,
           ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h ASC) AS rn
    FROM merged
  ) WHERE rn <= {_KMV_K}
),
est AS (
  SELECT ga, gb,
         MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS hk,
         SUM(CASE WHEN EXISTS (SELECT 1 FROM sk WHERE sk.g = bot.ga AND sk.h = bot.h)
                   AND EXISTS (SELECT 1 FROM sk WHERE sk.g = bot.gb AND sk.h = bot.h)
                  THEN 1 ELSE 0 END)::BIGINT AS j_cnt
  FROM bot GROUP BY ga, gb
),
fa AS (SELECT DISTINCT g, fp FROM fps),
sizes AS (SELECT g, COUNT(DISTINCT fp) AS n FROM fa GROUP BY g),
inter AS (
  SELECT x.g AS ga, y.g AS gb, COUNT(DISTINCT x.fp) AS n_inter
  FROM fa x JOIN fa y ON x.fp = y.fp AND x.g < y.g
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb,
         (a.n + b.n - COALESCE(i.n_inter, 0))::BIGINT AS n_union,
         COALESCE(i.n_inter, 0)::BIGINT AS n_inter
  FROM sizes a JOIN sizes b ON a.g < b.g
  LEFT JOIN inter i ON i.ga = a.g AND i.gb = b.g
)
SELECT e.ga::BIGINT AS ga, e.gb::BIGINT AS gb,
       (({_KMV_K} - 1) * {_KMV_SPACE}::BIGINT // e.hk)::BIGINT AS est_union,
       e.j_cnt, p.n_union, p.n_inter
FROM est e JOIN pairs p ON e.ga = p.ga AND e.gb = p.gb
"""


register(
    QuerySpec(
        "kmv_source_overlap",
        kmv_source_overlap,
        _kmv_oracle(),
        "KMV bottom-k sketch overlap planning: per source-pair union/Jaccard estimates from k-sized sketches (constant pair cost) with exact truth columns",
    )
)


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier (round 10): train on a hashed
# 80% split of the corpus, score the heldout 20%, emit the confusion matrix —
# the quality-filter model a curation pipeline trains to audit its cheaper
# n-gram language ID. Laplace +1 smoothing over the training vocabulary;
# unseen tokens take the ln(1/(tot_l+V)) penalty.
#
# Determinism: every log-likelihood is QUANTIZED to integer micro-nats
# (floor(1e6·ln p)) before any aggregation, so per-document scores are exact
# BIGINT sums — partitioning-independent — and the argmax (ties broken by
# MIN language) is decided on integers, never on float summation order.
#
# Scale: training counts are two hash aggs on (lang, tok); scoring is
# heldout-tokens × |langs| (a 5-row broadcast) LEFT JOIN the (lang, tok)
# likelihood table — a plain shuffle join that AQE broadcasts while the
# vocabulary fits and co-partitions when it doesn't. No driver state.
# ---------------------------------------------------------------------------
_NB_TRAIN_PCT = 80
# micro-nat quantizer. Residual risk (ADVICE r7): floor(Q*ln(x)) is only
# cross-engine-deterministic while Q*ln(x) stays clear of the integer
# lattice — JVM Math.log and libm log may differ by ~1 ulp (~2e-8 after the
# Q multiply). tests/test_nb_lattice.py enumerates every ratio the operator
# quantizes at the audited scale and proves each sits >1e-6 (50x the double
# error bound) from the nearest integer, so both engines' floors agree.
_NB_Q = 1_000_000


def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    is_train = (
        md5_long(F.concat(F.lit("nb|"), F.col("doc_id").cast("string"))) % 100
        < _NB_TRAIN_PCT
    )
    base = (
        tokenized(spark, sf_dir)
        .join(d, "doc_id")
        .select("doc_id", "lang", "t", is_train.alias("is_train"))
    )
    # ONE materialization of the token-instance stream: its consumers below
    # (train counts, heldout counts) would otherwise each re-run the
    # explode over the corpus — this spec measured 117 stages / ~15 corpus
    # passes before (r10). Same lazy-localCheckpoint barrier as ranks.py.
    toks = base.select(
        "doc_id", "lang", "is_train", F.explode("t").alias("tok")
    ).localCheckpoint(eager=False)
    train = toks.filter(F.col("is_train"))
    # cnt is vocabulary-sized but has THREE consumers (tot, voc, lp) — each
    # re-aggregated the full materialized token stream without this barrier
    # (r10). The checkpoint holds |lang|x|vocab| rows, not the corpus.
    cnt = (
        train.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("tot"))
    # vocab from the TYPE relation: distinct tok over cnt == distinct train
    # tokens (every train token occurs under its lang), one instance-stream
    # pass cheaper
    voc = cnt.select("tok").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    ndl = base.filter(F.col("is_train")).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("ndl")
    )
    nd = ndl.agg(F.sum("ndl").cast("long").alias("nd"))
    q = F.lit(_NB_Q).cast("double")
    cand = (
        ndl.join(tot, "lang")
        .crossJoin(F.broadcast(voc))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("lang").alias("cand"),
            F.floor(q * F.log(F.col("ndl") / F.col("nd"))).cast("long").alias("prior"),
            F.floor(q * F.log(F.lit(1.0) / (F.col("tot") + F.col("v"))))
            .cast("long")
            .alias("unseen"),
        )
    )
    lp = (
        cnt.join(tot, "lang")
        .crossJoin(F.broadcast(voc))
        .select(
            F.col("lang").alias("cand"),
            "tok",
            F.floor(q * F.log((F.col("c") + 1) / (F.col("tot") + F.col("v"))))
            .cast("long")
            .alias("lp"),
        )
    )
    held = (
        toks.filter(~F.col("is_train"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    terms = (
        held.crossJoin(F.broadcast(cand))
        .join(lp, ["cand", "tok"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand",
            "prior",
            (F.col("c") * F.coalesce(F.col("lp"), F.col("unseen"))).alias("term"),
        )
    )
    scores = terms.groupBy("doc_id", "true_lang", "cand").agg(
        (F.max("prior") + F.sum("term")).alias("score")
    )
    # argmax-with-min-tiebreak as ONE aggregate: min_by over
    # (-score, cand) — the struct order makes the minimum the highest
    # score, ties broken by the smallest cand, exactly the old
    # max-then-join-then-min chain. That chain consumed `scores` twice, so
    # the whole held⋈cand⋈lp terms subtree executed twice per run (r10;
    # same shape as the q21/attribution aggregate rewrites). Scores are
    # exact integers (micro-nats), so equality/ordering is bit-safe.
    pred = scores.groupBy("doc_id", "true_lang").agg(
        F.min_by("cand", F.struct((-F.col("score")).alias("ns"), F.col("cand"))).alias(
            "pred_lang"
        )
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


_NB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS t,
         ({md5_long_sql("'nb|' || CAST(doc_id AS VARCHAR)")} % 100 < {_NB_TRAIN_PCT}) AS is_train
  FROM documents
),
toks AS (SELECT doc_id, lang, is_train, unnest(t) AS tok FROM d),
cnt AS (SELECT lang, tok, COUNT(*)::BIGINT AS c FROM toks WHERE is_train GROUP BY 1, 2),
tot AS (SELECT lang, SUM(c)::BIGINT AS tot FROM cnt GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT tok)::BIGINT AS v FROM toks WHERE is_train),
ndl AS (SELECT lang, COUNT(*)::BIGINT AS ndl FROM d WHERE is_train GROUP BY 1),
ndt AS (SELECT SUM(ndl)::BIGINT AS nd FROM ndl),
cand AS (
  SELECT ndl.lang AS cand,
         CAST(FLOOR({_NB_Q} * ln(ndl::DOUBLE / nd)) AS BIGINT) AS prior,
         CAST(FLOOR({_NB_Q} * ln(1.0 / (tot + v))) AS BIGINT) AS unseen
  FROM ndl JOIN tot ON ndl.lang = tot.lang, ndt, voc
),
lp AS (
  SELECT cnt.lang AS cand, tok,
         CAST(FLOOR({_NB_Q} * ln((c + 1)::DOUBLE / (tot + v))) AS BIGINT) AS lp
  FROM cnt JOIN tot ON cnt.lang = tot.lang, voc
),
held AS (
  SELECT doc_id, lang AS true_lang, tok, COUNT(*)::BIGINT AS c
  FROM toks WHERE NOT is_train GROUP BY 1, 2, 3
),
terms AS (
  SELECT h.doc_id, h.true_lang, cd.cand, cd.prior,
         h.c * COALESCE(lp.lp, cd.unseen) AS term
  FROM held h CROSS JOIN cand cd
  LEFT JOIN lp ON lp.cand = cd.cand AND lp.tok = h.tok
),
scores AS (
  SELECT doc_id, true_lang, cand, MAX(prior) + SUM(term) AS score
  FROM terms GROUP BY 1, 2, 3
),
best AS (SELECT doc_id, true_lang, MAX(score) AS mx FROM scores GROUP BY 1, 2),
pred AS (
  SELECT s.doc_id, s.true_lang, MIN(s.cand) AS pred_lang
  FROM scores s JOIN best b ON s.doc_id = b.doc_id AND s.score = b.mx
  GROUP BY 1, 2
)
SELECT true_lang, pred_lang, COUNT(*)::BIGINT AS n_docs
FROM pred GROUP BY 1, 2
"""

register(
    QuerySpec(
        "naive_bayes_lang",
        naive_bayes_lang,
        _NB_ORACLE,
        "multinomial Naive Bayes language classifier: hashed 80/20 split, Laplace smoothing, integer micro-nat scores (order-independent argmax), confusion matrix",
    )
)


# ---------------------------------------------------------------------------
# Perplexity-percentile quality filter (round 10): the CCNet-style gate —
# score every heldout document with the bigram LM's cross-entropy, find the
# EXACT 90th-percentile threshold over the scored corpus, and report the
# keep/drop verdict per language. Composes lm_heldout_perplexity (already
# rounded to 6 decimals, so the threshold compare is decided on identical
# numbers cross-engine); the percentile is the value at global rank
# ceil(0.9·n) under (cross_entropy asc, doc_id asc) — computed with
# operators.ranks' distributed row_number, never a single-task sort, and
# broadcast back as a 1-row relation.
# ---------------------------------------------------------------------------
_PPL_PCT = 90


def perplexity_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.ranks import global_row_number

    # ONE materialization of the LM-scoring pipeline: three consumers below
    # (count, global rank, verdict join) would otherwise each re-execute the
    # whole train+score subtree (measured r10: 79 stages, ~3× the work). The
    # lazy localCheckpoint shares a single executor-resident copy — the same
    # barrier discipline ranks._range_local already uses; `scored` is one
    # (doc_id, cross_entropy) row per heldout doc, far smaller than the
    # relation being scored.
    scored = (
        lm_heldout_perplexity(spark, sf_dir)
        .select("doc_id", "cross_entropy")
        .localCheckpoint(eager=False)
    )
    n_tot = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = global_row_number(
        scored, [F.col("cross_entropy").asc(), F.col("doc_id").asc()], rank_col="i"
    )
    thr = (
        ranked.crossJoin(F.broadcast(n_tot))
        .filter(F.col("i") == F.ceil(F.col("n") * _PPL_PCT / 100).cast("long"))
        .select(F.col("cross_entropy").alias("thr"))
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        scored.join(d, "doc_id")
        .crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum(F.when(F.col("cross_entropy") <= F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("cross_entropy") > F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.max("thr").alias("threshold"),
        )
    )


_PPL_FILTER_ORACLE = f"""
WITH scored AS (SELECT doc_id, cross_entropy FROM ({_HELDOUT_ORACLE})),
ranked AS (
  SELECT cross_entropy,
         ROW_NUMBER() OVER (ORDER BY cross_entropy ASC, doc_id ASC) AS i,
         COUNT(*) OVER () AS n
  FROM scored
),
thr AS (
  SELECT cross_entropy AS thr FROM ranked
  WHERE i = CAST(CEIL(n * {_PPL_PCT} / 100.0) AS BIGINT)
)
SELECT d.lang,
       COUNT(*)::BIGINT AS n_scored,
       SUM(CASE WHEN s.cross_entropy <= thr.thr THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       SUM(CASE WHEN s.cross_entropy > thr.thr THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       MAX(thr.thr) AS threshold
FROM scored s JOIN documents d USING (doc_id), thr
GROUP BY d.lang
"""

register(
    QuerySpec(
        "perplexity_filter_verdict",
        perplexity_filter_verdict,
        _PPL_FILTER_ORACLE,
        "CCNet-style perplexity quality gate: exact 90th-percentile threshold via distributed global rank, per-language keep/drop verdict",
    )
)


# ---------------------------------------------------------------------------
# Interpolated Kneser–Ney bigram LM (round 10): the smoothing that actually
# ships in n-gram LM pipelines (absolute discount d + continuation
# probability), scored on the same hashed heldout split as
# lm_heldout_perplexity. Exact formulation (documented, identical on both
# engines):
#   Pcont(b) = (N1+(·b) + 1) / (N1+(··) + V + 1)      [+1 continuation
#              smoothing keeps unseen-b mass positive]
#   seen a:   P(b|a) = max(cab − d, 0)/ca + (d · N1+(a·)/ca) · Pcont(b)
#   unseen a: P(b|a) = Pcont(b)
# with d = 0.75 (exact binary double). All counts are exact integers; the
# per-document fold sums ln P in position order on both engines (the house
# ordered-fold rule), so the rounded cross-entropy is bit-identical.
# Scale: three hash aggs over the training bigram relation (cab, N1+(a·),
# N1+(·b)) + the per-doc fold — the same shape as the existing LM specs.
# ---------------------------------------------------------------------------
_KN_D = 0.75


def kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 2)
    split_of = F.when(
        md5_long(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
        < _SPLIT_TRAIN_PCT,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    tagged = tok.select("doc_id", "t", split_of.alias("split"))
    big = tagged.select(
        "doc_id",
        "split",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS a, t[i] AS b))"
            )
        ).alias("pos", "bg"),
    ).select("doc_id", "split", "pos", F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    train = big.filter(F.col("split") == "train")
    # same one-materialization barrier as lm_heldout_perplexity: cab has SIX
    # consumers here (ca, n1b, n1tot, the vocab union twice, the scored
    # join) and each re-ran the corpus explode (measured r11: 7 explode map
    # stages in the profile)
    cab = (
        train.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .localCheckpoint(eager=False)
    )
    ca = cab.groupBy("a").agg(
        F.sum("cab").cast("long").alias("ca"),
        F.count(F.lit(1)).cast("long").alias("n1a"),  # N1+(a·): distinct b after a
    )
    n1b = cab.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n1b"))
    # vocab from the TYPE relation (see lm_heldout_perplexity): distinct
    # tokens of cab == distinct tokens of train, two instance-stream passes
    # cheaper
    glob = cab.agg(F.count(F.lit(1)).cast("long").alias("n1tot")).crossJoin(
        cab.select(F.col("a").alias("tok"))
        .union(cab.select(F.col("b").alias("tok")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    d = F.lit(_KN_D)
    val = big.filter(F.col("split") == "val")
    scored = (
        val.join(F.broadcast(cab), ["a", "b"], "left")
        .join(F.broadcast(ca), "a", "left")
        .join(F.broadcast(n1b), "b", "left")
        .crossJoin(F.broadcast(glob))
        .withColumn(
            "pcont",
            (F.coalesce(F.col("n1b"), F.lit(0)) + 1)
            / (F.col("n1tot") + F.col("v") + 1),
        )
        .select(
            "doc_id",
            "pos",
            F.log(
                F.when(
                    F.col("ca").isNotNull(),
                    F.greatest(F.coalesce(F.col("cab"), F.lit(0)) - d, F.lit(0.0))
                    / F.col("ca")
                    + (d * F.col("n1a") / F.col("ca")) * F.col("pcont"),
                ).otherwise(F.col("pcont"))
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(pos, lp))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.lp)"
        ).alias("acc"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(-F.col("acc") / F.col("n_bigrams"), 6).alias("kn_cross_entropy"),
    )


_KN_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (
  SELECT doc_id, t,
         CASE WHEN {md5_long_sql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < {_SPLIT_TRAIN_PCT}
              THEN 'train' ELSE 'val' END AS split
  FROM toks WHERE len(t) >= 2
),
big AS (
  SELECT doc_id, split, s AS pos, t[s] AS a, t[s + 1] AS b
  FROM base, unnest(generate_series(1, len(t) - 1)) AS u(s)
),
train AS (SELECT * FROM big WHERE split = 'train'),
cab AS (SELECT a, b, count(*)::BIGINT AS cab FROM train GROUP BY 1, 2),
ca AS (SELECT a, sum(cab)::BIGINT AS ca, count(*)::BIGINT AS n1a FROM cab GROUP BY 1),
n1b AS (SELECT b, count(*)::BIGINT AS n1b FROM cab GROUP BY 1),
kng AS (
  SELECT (SELECT count(*)::BIGINT FROM cab) AS n1tot,
         (SELECT count(*)::BIGINT FROM (SELECT a AS tok FROM train UNION SELECT b FROM train)) AS v
),
scored AS (
  SELECT vb.doc_id, vb.pos,
         ln(CASE WHEN ca.ca IS NOT NULL
                 THEN greatest(COALESCE(cab.cab, 0) - {_KN_D}, 0.0) / ca.ca
                      + ({_KN_D} * ca.n1a / ca.ca)
                        * ((COALESCE(n1b.n1b, 0) + 1)::DOUBLE / (kng.n1tot + kng.v + 1))
                 ELSE (COALESCE(n1b.n1b, 0) + 1)::DOUBLE / (kng.n1tot + kng.v + 1)
            END) AS lp
  FROM big vb
  LEFT JOIN cab ON cab.a = vb.a AND cab.b = vb.b
  LEFT JOIN ca ON ca.a = vb.a
  LEFT JOIN n1b ON n1b.b = vb.b
  CROSS JOIN kng
  WHERE vb.split = 'val'
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) AS acc
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, round(-acc / n_bigrams, 6) AS kn_cross_entropy
FROM per_doc
"""

register(
    QuerySpec(
        "kn_bigram_perplexity",
        kn_bigram_perplexity,
        _KN_ORACLE,
        "interpolated Kneser-Ney bigram LM heldout scoring: absolute discount + continuation probability from exact counts, position-ordered fold",
    )
)


# ---------------------------------------------------------------------------
# Context-window chunking (round 11): split every document's token sequence
# into fixed-size overlapping windows — the chunker every pretraining /
# RAG-ingest pipeline runs between cleaning and packing. Window W=64
# tokens, stride S=48 (overlap 16); chunk i covers tokens
# [i*S+1, i*S+W] (1-based, tail clamped), and n_chunks =
# 1 + ceil(max(n-W, 0)/S) so the final window always reaches the last
# token without emitting an empty tail. Each chunk carries a
# deterministic md5-derived fingerprint of its joined tokens — the handle
# downstream chunk-level dedup / provenance joins key on.
#
# Scale shape: MAP-ONLY. One projection computes the chunk index array
# with integer arithmetic, one explode emits ~n/S rows per doc, the
# slice+hash are per-row expressions — no shuffle, no window, no UDF.
# At 100 TB this parallelizes embarrassingly across whatever partitioning
# the corpus already has (and the explode factor is bounded by W/S ≈ 1.33×
# token volume).
#
# Determinism: both engines slice the same regexp token array; DuckDB's
# inclusive list_slice(t, a, a+W-1) equals Spark's slice(t, a, W); the
# fingerprint hashes the '|'-joined slice with the repo-standard
# md5-derived 60-bit integer (functions/hashing.py — bit-identical
# cross-engine).
# ---------------------------------------------------------------------------
_CHUNK_W = 64
_CHUNK_S = 48


def chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.dedup import tokenized

    t = tokenized(spark, sf_dir).filter(F.size("t") > 0)
    n_chunks = F.expr(
        f"1 + (greatest(size(t) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1) div {_CHUNK_S}"
    )
    c = t.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    toks = F.expr(f"slice(t, chunk_idx * {_CHUNK_S} + 1, {_CHUNK_W})")
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * _CHUNK_S + 1).cast("long").alias("start_pos"),
        F.size(toks).cast("long").alias("n_toks"),
        md5_long(F.concat_ws("|", toks)).alias("chunk_fp"),
    )


_CHUNK_ORACLE = f"""
WITH d AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
nz AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
c AS (
  SELECT doc_id, t,
         unnest(range(0, 1 + (greatest(n - {_CHUNK_W}, 0) + {_CHUNK_S} - 1) // {_CHUNK_S})) AS chunk_idx
  FROM nz
),
s AS (
  SELECT doc_id, chunk_idx,
         list_slice(t, chunk_idx * {_CHUNK_S} + 1, chunk_idx * {_CHUNK_S} + {_CHUNK_W}) AS toks
  FROM c
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       (chunk_idx * {_CHUNK_S} + 1)::BIGINT AS start_pos,
       len(toks)::BIGINT AS n_toks,
       {md5_long_sql("array_to_string(toks, '|')")} AS chunk_fp
FROM s
"""

register(
    QuerySpec(
        "chunk_token_windows",
        chunk_token_windows,
        _CHUNK_ORACLE,
        "context-window chunking: fixed-size overlapping token windows (W=64, S=48) with per-chunk md5 fingerprints — map-only, no shuffle",
    )
)
