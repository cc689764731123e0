"""Text analysis operators over the `documents` table.

Extension tier (reference has no text functions): language-ID, quality scoring,
token counting, fingerprinting. All pure JVM-side expression chains (regexp +
arithmetic — no UDFs), each with an exact DuckDB oracle built from the same
formulas. At 100 TB these are embarrassingly parallel map-only stages: no
shuffle at all except the optional per-language rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.functions.hashing import exact_fingerprint, h32, h32_sql, hex_long, md5_long, md5_long_sql
from templatedb_spark.operators.dedup import _TOKENS_SQL
from templatedb_spark.suite import QuerySpec, fused_topk, register, table

# Stopword regexes per language — the n-gram-heuristic language classifier.
# (documents.text is synthetic word soup; what matters is that the classifier
# is a deterministic formula both engines evaluate identically.)
_LANG_PATTERNS = {
    "en": r"\b(the|of|and|to|a|in|is|it)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
    "fr": r"\b(le|la|les|et|est|une|des)\b",
    "es": r"\b(el|la|los|y|es|una|que)\b",
}


def _count_re(col, pat: str):
    return F.regexp_count(col, F.lit(pat)).cast("long")


def _count_re_sql(expr: str, pat: str) -> str:
    return f"len(regexp_extract_all({expr}, '{pat}'))::BIGINT"


# ---------------------------------------------------------------------------
# Language ID: stopword-hit argmax with deterministic tie order en>de>fr>es.
# ---------------------------------------------------------------------------
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    scores = {k: _count_re(low, p) for k, p in _LANG_PATTERNS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, F.lit("unknown"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["de"] == best, F.lit("de"))
        .when(scores["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return d.select(
        "doc_id",
        "lang",
        *[scores[k].alias(f"hits_{k}") for k in _LANG_PATTERNS],
        pred.alias("pred_lang"),
    )


def _lang_oracle() -> str:
    s = {k: _count_re_sql("lower(text)", p) for k, p in _LANG_PATTERNS.items()}
    best = f"greatest({s['en']}, {s['de']}, {s['fr']}, {s['es']})"
    return f"""
SELECT doc_id, lang,
       {s['en']} AS hits_en, {s['de']} AS hits_de,
       {s['fr']} AS hits_fr, {s['es']} AS hits_es,
       CASE WHEN {best} = 0 THEN 'unknown'
            WHEN {s['en']} = {best} THEN 'en'
            WHEN {s['de']} = {best} THEN 'de'
            WHEN {s['fr']} = {best} THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM documents
"""


# ---------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword / uppercase ratios.
# ---------------------------------------------------------------------------
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text).cast("double")
    n_tokens = _count_re(text, r"[A-Za-z0-9]+").cast("double")
    n_punct = _count_re(text, r"[^\w\s]").cast("double")
    n_stop = _count_re(F.lower(text), _LANG_PATTERNS["en"]).cast("double")
    avg_tok_len = F.round(
        F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0)), 6
    )
    punct_ratio = F.round(F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0), 6)
    stop_ratio = F.round(F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0), 6)
    score = F.round(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2,
        6,
    )
    return d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


_NT_SQL = _count_re_sql("text", "[A-Za-z0-9]+")
_NP_SQL = _count_re_sql("text", r"[^\w\s]")
_NS_SQL = _count_re_sql("lower(text)", _LANG_PATTERNS["en"])

_QUALITY_ORACLE = f"""
WITH m AS (
  SELECT doc_id, n_chars,
         CAST(length(text) AS DOUBLE) AS nc,
         CAST({_NT_SQL} AS DOUBLE) AS nt,
         CAST({_NP_SQL} AS DOUBLE) AS np,
         CAST({_NS_SQL} AS DOUBLE) AS ns
  FROM documents
)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       nt::BIGINT AS n_tokens,
       ROUND(CASE WHEN nt > 0 THEN nc / nt ELSE 0.0 END, 6) AS avg_token_len,
       ROUND(CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END, 6) AS punct_ratio,
       ROUND(CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END, 6) AS stopword_ratio,
       ROUND(least(nt / 50.0, 1.0) * 0.5
             + ROUND(CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END, 6) * 0.3
             + (1.0 - least(ROUND(CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END, 6) * 10, 1.0)) * 0.2,
             6) AS quality_score
FROM m
"""


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + BPE-ish subword segments.
# ---------------------------------------------------------------------------
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        _count_re(text, r"\S+").alias("ws_tokens"),
        # BPE-ish segmentation: letter runs (split every 4 chars at merge
        # boundaries), digit runs, single punctuation marks
        _count_re(F.lower(text), r"[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]").alias("bpe_tokens"),
        F.round(
            _count_re(F.lower(text), r"[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]").cast("double")
            / F.greatest(_count_re(text, r"\S+"), F.lit(1)).cast("double"),
            6,
        ).alias("subword_ratio"),
    )


_WS_SQL = _count_re_sql("text", r"\S+")
_BPE_SQL = _count_re_sql("lower(text)", r"[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]")

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       {_WS_SQL} AS ws_tokens,
       {_BPE_SQL} AS bpe_tokens,
       ROUND(CAST({_BPE_SQL} AS DOUBLE)
             / CAST(greatest({_WS_SQL}, 1) AS DOUBLE), 6) AS subword_ratio
FROM documents
"""


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 of normalized text (hex + 60-bit int form).
# ---------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    fp = exact_fingerprint()
    return d.select(
        "doc_id",
        fp.alias("fp_hex"),
        hex_long(fp).alias("fp_long"),
        (hex_long(fp) % 1024).alias("fp_shard"),  # shard key for partitioned dedup
    )


_FP_LONG_SQL = md5_long_sql("norm")

_FINGERPRINT_ORACLE = (
    r"WITH n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents) "
    f"SELECT doc_id, md5(norm) AS fp_hex, {_FP_LONG_SQL} AS fp_long, "
    f"{_FP_LONG_SQL} % 1024 AS fp_shard FROM n"
)


# ---------------------------------------------------------------------------
# Deterministic hash-based sampling: the reproducible sampling primitive for
# training pipelines. `md5(key) % 100 < pct` selects the same rows on every
# engine, every run, every partitioning — unlike TABLESAMPLE/rand(), which are
# engine- and partitioning-dependent. Stratified variant: per-language quotas.
# ---------------------------------------------------------------------------
_SAMPLE_QUOTA = {"en": 50, "de": 20, "fr": 20, "es": 20, "zh": 10}  # pct per lang


def text_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    quota = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _SAMPLE_QUOTA.items()],
        F.lit(0),
    )
    return d.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < quota
    )


def _hash_sample_oracle() -> str:
    bucket = md5_long_sql("CAST(doc_id AS VARCHAR)")
    quota = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _SAMPLE_QUOTA.items()
    )
    return f"""
SELECT doc_id, lang, {bucket} % 100 AS bucket
FROM documents
WHERE {bucket} % 100 < (CASE {quota} ELSE 0 END)
"""


# ---------------------------------------------------------------------------
# Epoch-weighted source mixture: the data-recipe step of corpus assembly.
# Each source gets a mixture weight (here derived deterministically from the
# source index; a real run passes a weights table): weight 1.6 means every doc
# appears once and 60% of docs (chosen by doc-hash) appear a second time —
# i.e. fractional EPOCHS, the standard up/down-sampling recipe for pretraining
# mixes. All arithmetic is integer (weight in percent) so both engines agree
# exactly; the row multiplication is a map-side explode of sequence(1, n) —
# no shuffle, and at 100 TB the output is written straight to shards.
# ---------------------------------------------------------------------------


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 8).cast("int")
    w_pct = (F.lit(25) + (idx % 8) * F.lit(45)).cast("long")  # 25%..340%
    whole = F.floor(w_pct / 100).cast("long")
    frac = w_pct % 100
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))) % 100
    n_copies = (whole + F.when(h < frac, 1).otherwise(0)).cast("int")
    return (
        d.select("doc_id", "source", "lang", n_copies.alias("n_copies"))
        .withColumn(
            "epoch",
            F.explode(
                F.when(F.col("n_copies") >= 1, F.sequence(F.lit(1), F.col("n_copies")))
                .otherwise(F.array().cast("array<int>"))
            ),
        )
        .select("doc_id", "source", "lang", "n_copies", F.col("epoch").cast("int").alias("epoch"))
    )


def _mixture_oracle() -> str:
    h = md5_long_sql("CAST(doc_id AS VARCHAR) || ':mix'")
    return f"""
WITH w AS (
  SELECT doc_id, source, lang,
         (25 + (CAST(substr(source, 4) AS INT) % 8) * 45)::BIGINT AS w_pct,
         {h} % 100 AS h
  FROM documents
),
n AS (
  SELECT doc_id, source, lang,
         (w_pct // 100 + CASE WHEN h < w_pct % 100 THEN 1 ELSE 0 END)::INT AS n_copies
  FROM w
)
SELECT doc_id, source, lang, n_copies,
       unnest(generate_series(1, n_copies))::INT AS epoch
FROM n WHERE n_copies >= 1
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (sketch tier, alongside HLL distinct and
# sketch percentiles): d=4 salted hash rows x W buckets. Deterministic
# md5-derived bucket hashes make the SKETCH ITSELF bit-identical across
# engines, so unlike most sketch implementations this one has an EXACT
# oracle. The sketch is built from the aggregated (token, count) relation -
# the token stream is shuffled once (the same shared tokenize pass as
# vocab/tfidf), and the 4xW-cell sketch is a broadcast-sized relation
# at ANY corpus size; estimates are min over the 4 rows. Output: the true
# top-K tokens with their CMS estimates and overestimation error (>= 0 by
# construction - the classic CMS guarantee).
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 8  # tiny W: the synthetic vocab is 31 tokens - W=8 forces real collisions so the min-over-rows estimate is actually exercised; production W scales with vocab (the sketch stays d*W cells regardless of corpus size)
_CMS_K = 20


def _cms_cells(df: DataFrame) -> DataFrame:
    """`df`'s rows, one per sketch cell (j, b) their `tok` hashes to: the
    d salted-hash rows' buckets."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (h32(F.concat(F.lit(f"cms{j}:"), F.col("tok"))) % _CMS_W).alias("b"),
            )
            for j in range(_CMS_D)
        ]
    )
    return df.select("*", F.explode(cells).alias("jb")).select(*df.columns, "jb.j", "jb.b")


def cms_sketch(tf: DataFrame) -> DataFrame:
    """The (j, b, cnt) sketch of a (tok, n) term-frequency relation — also
    one micro-batch's partial sketch in the streaming gate, since cells
    merge by sum."""
    return _cms_cells(tf).groupBy("j", "b").agg(F.sum("n").cast("long").alias("cnt"))


def cms_top_k(tf: DataFrame, sketch: DataFrame) -> DataFrame:
    """The exact top-K tokens of `tf` with their `sketch` estimates (min
    over the d cells) and the overestimate."""
    cand = tf.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(_CMS_K)
    est = (
        _cms_cells(cand)
        .join(F.broadcast(sketch), ["j", "b"])
        .groupBy("tok", "n")
        .agg(F.min("cnt").cast("long").alias("cms_n"))
    )
    return est.select(
        "tok",
        F.col("n").alias("true_n"),
        "cms_n",
        (F.col("cms_n") - F.col("n")).cast("long").alias("overestimate"),
    )


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.dedup import tokenized

    tok = tokenized(spark, sf_dir).select(F.explode("t").alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cms_top_k(tf, cms_sketch(tf))


def _cms_oracle() -> str:
    per_row = "\nUNION ALL\n".join(
        f"SELECT tok, n, {j} AS j, {h32_sql(repr('cms' + str(j) + ':') + ' || tok')} % {_CMS_W} AS b FROM tf"
        for j in range(_CMS_D)
    )
    return f"""
WITH tok AS (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents),
tf AS (SELECT tok, COUNT(*)::BIGINT AS n FROM tok GROUP BY tok),
buckets AS ({per_row}),
sketch AS (SELECT j, b, SUM(n) AS cnt FROM buckets GROUP BY j, b),
cand AS (SELECT tok, n FROM tf ORDER BY n DESC, tok ASC LIMIT {_CMS_K}),
est AS (
  SELECT c.tok, c.n AS true_n, MIN(s.cnt)::BIGINT AS cms_n
  FROM cand c
  JOIN buckets bu ON bu.tok = c.tok
  JOIN sketch s ON s.j = bu.j AND s.b = bu.b
  GROUP BY 1, 2
)
SELECT tok, true_n, cms_n, (cms_n - true_n)::BIGINT AS overestimate FROM est
"""


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (sketch tier, completing CMS heavy-hitters and
# approx_percentiles): m=64 registers, 40-bit md5-derived hash. Like the CMS
# spec, the md5 register/rank derivation makes the SKETCH ITSELF bit-identical
# across engines, so the whole thing has an EXACT oracle — unusual for HLL.
# rho (leading-zero rank) avoids float log2 knife edges entirely: it is
# computed by string ops on the binary expansion (lpad/ltrim), and the
# harmonic denominator sum(2^-M_j) is scaled by 2^41 so it accumulates as an
# EXACT BIGINT (register terms 2^(41-M_j); sum < 2^47) — no float-fold order
# dependence. The final estimate divides two exactly-represented integers in
# double, identical in both engines.
#
# Scale: the register build is one groupBy over m=64 keys with map-side
# partial MAX — the classic mergeable-sketch shape: per-partition register
# vectors merge by elementwise max, so a 100 TB scan reduces to 64 rows.
# ---------------------------------------------------------------------------
_HLL_M = 64  # registers (p=6 bits)
_HLL_WBITS = 40  # rank-hash width
_HLL_ALPHA = 0.709  # alpha_64 = 0.7213/(1 + 1.079/64), conventional constant


def hll_partial_registers(u_df: DataFrame) -> DataFrame:
    """(reg, m) partial register vector over a column `u` of string ids —
    the mergeable unit: register vectors from any row partition (or any
    micro-batch) merge into the exact whole-input vector by elementwise MAX.
    Reused by the streaming gate (streaming/gate.py stream_hll_users)."""
    reg = (md5_long(F.concat(F.col("u"), F.lit(":hllr"))) % _HLL_M).alias("reg")
    w = (md5_long(F.concat(F.col("u"), F.lit(":hllw"))) % F.lit(2**_HLL_WBITS)).alias("w")
    # rho = leading zeros of the WBITS-wide w, + 1 (string ops — no log2)
    hashed = u_df.select(reg, w)
    rho = F.expr(
        f"{_HLL_WBITS + 1} - length(ltrim('0', lpad(bin(w), {_HLL_WBITS}, '0')))"
    ).alias("rho")
    return hashed.select("reg", rho).groupBy("reg").agg(F.max("rho").alias("m"))


def hll_fill_registers(spark: SparkSession, regs: DataFrame) -> DataFrame:
    """Densify a partial (reg, m) vector to all m=64 registers (absent = 0)."""
    return (
        spark.range(_HLL_M)
        .select(F.col("id").alias("reg"))
        .join(regs, "reg", "left")
        .select("reg", F.coalesce(F.col("m"), F.lit(0)).cast("long").alias("m"))
    )


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(F.col("user_id").cast("string").alias("u"))
    all_regs = hll_fill_registers(spark, hll_partial_registers(e))
    truth = (
        table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    )
    return hll_finalize(all_regs, truth)


def hll_finalize(all_regs: DataFrame, truth: DataFrame) -> DataFrame:
    """Estimate + fingerprint from a dense 64-register vector (see module
    comment: exact-integer harmonic sum, linear-counting small-range)."""
    # exact integer harmonic denominator: S = sum(2^(41 - M_j))
    scaled = all_regs.select(
        "reg",
        "m",
        F.expr(
            f"shiftleft(cast(1 as bigint), cast({_HLL_WBITS + 1} - m as int))"
        ).alias("term"),
    )
    est_num = _HLL_ALPHA * _HLL_M * _HLL_M * float(2 ** (_HLL_WBITS + 1))
    summary = scaled.agg(
        F.count(F.lit(1)).cast("long").alias("m_regs"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).cast("long").alias("n_zero_regs"),
        F.sum("term").cast("long").alias("s"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("reg", "m"))),
                    lambda x: x["m"].cast("string"),
                ),
                ",",
            )
        ).alias("registers_fp"),
    )
    # small-range (linear counting) correction, as in the HLL paper: when the
    # raw estimate is <= 2.5m and empty registers exist, m*ln(m/V) is the
    # better estimator. ln of exact small integers — both engines agree at
    # round-to-6 (same convention as the BM25 idf log).
    raw = F.lit(est_num) / F.col("s").cast("double")
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("n_zero_regs") > 0),
        _HLL_M * F.log(F.lit(float(_HLL_M)) / F.col("n_zero_regs").cast("double")),
    ).otherwise(raw)
    return summary.crossJoin(truth).select(
        "m_regs",
        "n_zero_regs",
        "registers_fp",
        "n_true",
        F.round(est, 6).alias("hll_estimate"),
        F.round(F.abs(est - F.col("n_true")) / F.col("n_true"), 4).alias("rel_err"),
    )


def _hll_oracle() -> str:
    reg = md5_long_sql("u || ':hllr'")
    w = md5_long_sql("u || ':hllw'")
    est_num = _HLL_ALPHA * _HLL_M * _HLL_M * float(2 ** (_HLL_WBITS + 1))
    return f"""
WITH e AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events),
hashed AS (SELECT {reg} % {_HLL_M} AS reg, {w} % {2**_HLL_WBITS} AS w FROM e),
rho AS (
  SELECT reg,
         {_HLL_WBITS + 1} - length(ltrim(lpad(bin(w), {_HLL_WBITS}, '0'), '0')) AS rho
  FROM hashed
),
regs AS (SELECT reg, MAX(rho) AS m FROM rho GROUP BY reg),
all_regs AS (
  SELECT gs.reg, COALESCE(regs.m, 0)::BIGINT AS m
  FROM (SELECT unnest(generate_series(0, {_HLL_M - 1}))::BIGINT AS reg) gs
  LEFT JOIN regs ON regs.reg = gs.reg
),
scaled AS (SELECT reg, m, (1::BIGINT << ({_HLL_WBITS + 1} - m)::INT) AS term FROM all_regs),
truth AS (SELECT COUNT(DISTINCT user_id)::BIGINT AS n_true FROM events),
summary AS (
  SELECT COUNT(*)::BIGINT AS m_regs,
         SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_regs,
         SUM(term)::BIGINT AS s,
         md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY reg)) AS registers_fp
  FROM scaled
),
est AS (
  SELECT m_regs, n_zero_regs, registers_fp,
         CASE WHEN {est_num!r} / s::DOUBLE <= {2.5 * _HLL_M} AND n_zero_regs > 0
              THEN {_HLL_M} * ln({float(_HLL_M)!r} / n_zero_regs::DOUBLE)
              ELSE {est_num!r} / s::DOUBLE END AS e
  FROM summary
)
SELECT m_regs, n_zero_regs, registers_fp, n_true,
       round(e, 6) AS hll_estimate,
       round(abs(e - n_true) / n_true, 4) AS rel_err
FROM est CROSS JOIN truth
"""


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (A-ES / Efraimidis–Spirakis): each
# row draws a deterministic uniform u from its id hash and competes with key
# ln(u)/w — the exponential-clock form of u^(1/w), same ordering, one less
# transcendental. Top-K by key IS a weighted sample without replacement.
# This is THE one-pass distributed weighted sampler: no global state, no
# rejection loop; at 100 TB it is a map-side key projection + TakeOrdered.
# Determinism: u is an exact rational from md5 (no RNG), and the only float
# op is one ln + one division in identical expression shape (the BM25-idf
# precedent); keys are rounded before ranking, ties break on doc_id.
# ---------------------------------------------------------------------------
_WS_K = 25
_WS_U_MOD = 1_000_000


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = (1 + F.substring("source", 4, 8).cast("int") % 8).cast("long").alias("weight")
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))) % _WS_U_MOD
    key = F.round(
        F.log((h + 1).cast("double") / float(_WS_U_MOD + 1)) / F.col("weight"), 6
    ).alias("key")
    scored = d.select("doc_id", "source", w).select("doc_id", "source", "weight", key)
    # top-k via TakeOrderedAndProject prefilter (per-partition heaps), not a
    # global row_number window — the sampler stays one map pass + TakeOrdered
    return fused_topk(
        scored, [F.col("key").desc(), F.col("doc_id").asc()], _WS_K, "rank"
    )


def _weighted_sample_oracle() -> str:
    h = md5_long_sql("CAST(doc_id AS VARCHAR) || ':ws'")
    return f"""
WITH s AS (
  SELECT doc_id, source,
         (1 + CAST(substr(source, 4) AS INT) % 8)::BIGINT AS weight,
         {h} % {_WS_U_MOD} AS h
  FROM documents
),
scored AS (
  SELECT doc_id, source, weight,
         ROUND(ln((h + 1)::DOUBLE / {float(_WS_U_MOD + 1)!r}) / weight, 6) AS key
  FROM s
)
SELECT doc_id, source, weight, key, rank FROM (
  SELECT doc_id, source, weight, key,
         ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_WS_K}
"""


# ---------------------------------------------------------------------------
# UDTF-backed shingle stats — puts the Python table-function protocol (the
# extensibility twin of the reference's TVF registry, functions/udtf.py)
# under the correctness gate: documents LATERAL-join the registered
# `shingles(text, 3)` UDTF and the rollup is checked against a pure-SQL
# oracle computing the same trigrams. The UDTF is the USER escape hatch —
# engine hot paths use the JVM explode form (dedup.shingles) — so the spec
# deliberately runs a bounded doc subset: it proves protocol fidelity, not
# throughput. Arrow-batched UDTF evaluation; one shuffle for the rollup.
# ---------------------------------------------------------------------------
_UDTF_DOC_MOD = 10


def udtf_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _UDTF_DOC_MOD == 0
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(COUNT(DISTINCT s.sh) AS BIGINT) AS n_distinct,
               MIN(s.sh) AS first_shingle
        FROM _udtf_docs d, LATERAL shingles(d.text, 3) s
        GROUP BY d.doc_id
        """
    )


_UDTF_SHINGLE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE doc_id % {_UDTF_DOC_MOD} = 0
),
sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM docs, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
)
SELECT doc_id, COUNT(*)::BIGINT AS n_shingles,
       COUNT(DISTINCT sh)::BIGINT AS n_distinct,
       MIN(sh) AS first_shingle
FROM sh GROUP BY 1
"""

for spec in [
    QuerySpec("text_hash_sample", text_hash_sample, _hash_sample_oracle(), "deterministic stratified hash sampling"),
    QuerySpec("weighted_sample_docs", weighted_sample_docs, _weighted_sample_oracle(), "A-ES weighted sampling without replacement (one-pass, deterministic keys)"),
    QuerySpec("hll_distinct_users", hll_distinct_users, _hll_oracle(), "deterministic HyperLogLog distinct sketch with exact integer-scaled oracle"),
    QuerySpec("mixture_sample", mixture_sample, _mixture_oracle(), "epoch-weighted source mixture (fractional up/down-sampling)"),
    QuerySpec("heavy_hitters_cms", heavy_hitters_cms, _cms_oracle(), "count-min sketch heavy hitters (deterministic, exact-oracle sketch)"),
    QuerySpec("text_language_id", text_language_id, _lang_oracle(), "stopword-heuristic language ID"),
    QuerySpec("text_quality_score", text_quality_score, _QUALITY_ORACLE, "doc quality scoring"),
    QuerySpec("text_token_count", text_token_count, _TOKEN_COUNT_ORACLE, "whitespace + BPE-ish token counts"),
    QuerySpec("text_fingerprint", text_fingerprint, _FINGERPRINT_ORACLE, "md5 fingerprint + shard key"),
    QuerySpec("udtf_shingle_stats", udtf_shingle_stats, _UDTF_SHINGLE_ORACLE, "Python UDTF table-function protocol under the gate: LATERAL shingles() vs pure-SQL oracle"),
]:
    register(spec)
