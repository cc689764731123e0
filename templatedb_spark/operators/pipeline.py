"""Training-data pipeline compositions over the `documents` table.

Extension tier (no reference counterpart): the corpus-preparation operators a
large-scale LLM data pipeline runs after cleaning — vocabulary statistics,
TF-IDF salience, and token-budget shard packing. All three are pure
DataFrame/SQL plans with exact DuckDB oracles.

Scale notes:
- `vocab_top_tokens`: explode → partial+final agg on the token key → fused
  top-k. One shuffle on the token; stop-token skew is absorbed by the
  map-side partial agg (counts, not rows, cross the wire).
- `tfidf_top_terms`: tf is one agg on (doc, token); df is one agg on token;
  idf joins back on the token key (broadcast at real scale: the surviving
  vocabulary is small relative to the corpus); per-doc top-k is a bounded
  window.
- `pack_token_shards`: cumulative token offsets are computed per hash bucket
  (`doc_id % BUCKETS`) — parallel window partitions, NO global sort. This is
  how real packers shard: sequential fill within a worker's slice, never a
  total order over 100 TB. The assignment (shard = floor(start_offset /
  budget)) is the deterministic Megatron-style offset rule.

Tokenization reuses the dedup family's shared cached base relation
(`dedup.tokenized`) so every text operator in the repo agrees on what a token
is AND the corpus is scanned + regex-tokenized once per suite run, not once
per family (vocab, tfidf, packing, and the dedup shingle cache all derive
from the same cached subtree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from templatedb_spark.functions.hashing import exact_fingerprint
from templatedb_spark.operators.dedup import _TOKENS_SQL, tokenized
from templatedb_spark.suite import (
    QuerySpec,
    fused_topk,
    memo,
    register,
    table,
    unpersist_local_checkpoint,
)


# ---------------------------------------------------------------------------
# Corpus vocabulary: token frequency + document frequency, top 100.
# ---------------------------------------------------------------------------
_VOCAB_K = 100


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).select("doc_id", F.explode("t").alias("tok"))
    return (
        tok.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(_VOCAB_K)
    )


_VOCAB_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents)
SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
FROM tok GROUP BY tok
ORDER BY n DESC, tok ASC LIMIT {_VOCAB_K}
"""


# ---------------------------------------------------------------------------
# TF-IDF: smooth idf = ln((N+1)/(df+1)); top 3 salient terms per document.
# ---------------------------------------------------------------------------
_TFIDF_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = tokenized(spark, sf_dir).select("doc_id", F.explode("t").alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    # df derives from tf (one row per (doc, tok)) — the corpus is tokenized
    # and shuffled once, not twice; df's input is the much smaller tf relation
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_total"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("c")
                * F.log((F.col("n_total") + 1) / (F.col("df") + 1).cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TFIDF_K)
        .filter(F.col("doc_id") < 100)  # bounded output for the differential gate
    )


_TFIDF_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.c * ln((n.n_total + 1) / (df.df + 1)::DOUBLE), 6) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC)::BIGINT AS rank
  FROM scored
)
SELECT doc_id, tok, tfidf, rank FROM ranked WHERE rank <= {_TFIDF_K} AND doc_id < 100
"""


# ---------------------------------------------------------------------------
# Token-budget shard packing: per-bucket sequential fill, shard by start
# offset. Output is the shard manifest (doc counts + token totals per shard).
# ---------------------------------------------------------------------------
_PACK_BUCKETS = 32
_PACK_BUDGET = 2048


def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    counted = tokenized(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % _PACK_BUCKETS).alias("bucket"),
        F.size("t").cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = counted.select(
        "bucket",
        "doc_id",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_BUDGET)
        .cast("long")
        .alias("shard"),
    )
    return placed.groupBy("bucket", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PACK_ORACLE = f"""
WITH counted AS (
  SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
         len({_TOKENS_SQL})::BIGINT AS n_tok
  FROM documents
),
placed AS (
  SELECT bucket, doc_id, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                    / {_PACK_BUDGET}) AS BIGINT) AS shard
  FROM counted
)
SELECT bucket, shard, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM placed GROUP BY bucket, shard
"""


# ---------------------------------------------------------------------------
# SCD2 history build (warehouse/CDC tier): collapse each user's event stream
# into type-2 dimension rows — consecutive runs of the same event_type become
# one row with [valid_from, valid_to) and an is_current flag. Gaps-and-islands
# via two window passes (change marker → running island id), then one
# aggregate per island and a lead() for the close timestamp. All windows
# partition by user — parallel at corpus scale, no global sort.
# ---------------------------------------------------------------------------
_SCD2_USERS = 50


def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < _SCD2_USERS)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    islands = marked.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    runs = islands.groupBy("user_id", "island", "event_type").agg(
        F.min("ts").alias("vf"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("island")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return runs.select(
        "user_id",
        F.col("island").cast("long").alias("version"),
        F.col("event_type").alias("segment"),
        F.date_format("vf", fmt).alias("valid_from"),
        F.date_format(F.lead("vf").over(w2), fmt).alias("valid_to"),
        "n_events",
        F.lead("vf").over(w2).isNull().alias("is_current"),
    )


_SCD2_ORACLE = f"""
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events WHERE user_id < {_SCD2_USERS}),
marked AS (
  SELECT *, CASE WHEN LAG(event_type) OVER w IS NULL
                   OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
runs AS (
  SELECT user_id, island, event_type, MIN(ts) AS vf, COUNT(*) AS n_events
  FROM islands GROUP BY user_id, island, event_type
)
SELECT user_id, island::BIGINT AS version, event_type AS segment,
       STRFTIME(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
       STRFTIME(LEAD(vf) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       n_events,
       (LEAD(vf) OVER w2 IS NULL) AS is_current
FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY island)
"""


# ---------------------------------------------------------------------------
# AS OF snapshot over the SCD2 history — the point-in-time read that
# justifies building type-2 rows at all: "what segment was each user in at
# time T?" resolves to the single history row whose [valid_from, valid_to)
# interval covers T (open-ended current rows cover everything after their
# start). The filter is sargable on the validity columns, so a history table
# range-partitioned on valid_from answers any T by pruning — no window
# function at read time, the windows were paid once at build.
# ---------------------------------------------------------------------------
_ASOF_T = "2024-01-15 00:00:00"


def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = scd2_user_segments(spark, sf_dir)
    t = F.lit(_ASOF_T)
    return hist.filter(
        (F.col("valid_from") <= t) & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "version", "segment", "valid_from", "n_events")


_ASOF_SNAPSHOT_ORACLE = f"""
SELECT user_id, version, segment, valid_from, n_events
FROM ({_SCD2_ORACLE}) hist
WHERE valid_from <= '{_ASOF_T}' AND (valid_to IS NULL OR valid_to > '{_ASOF_T}')
"""
# ---------------------------------------------------------------------------
# Inverted index build: posting lists (sorted doc_ids, capped) + document
# frequency per token — the retrieval-side artifact of a text corpus. One
# shuffle on the token key; the capped sorted posting list is a bounded
# per-group aggregate (collect_list is safe because df is bounded by the
# corpus, and the output is capped at _POSTINGS_CAP before leaving the agg).
# ---------------------------------------------------------------------------
_POSTINGS_CAP = 20


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct("t")).alias("tok")
    )
    return tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(
            ",", F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTINGS_CAP)
        ).alias("postings"),
    )


_INVERTED_ORACLE = f"""
WITH tok AS (SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents)
SELECT tok, COUNT(*) AS df,
       array_to_string(list_sort(list(doc_id))[1:{_POSTINGS_CAP}], ',') AS postings
FROM tok GROUP BY tok
"""


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance: the per-customer order rollup is
# kept as mergeable partial state; refreshing with a delta slice re-aggregates
# (base partials ∪ delta partials) — never rescans the base fact table. The
# oracle recomputes from the full table, proving state merge == recompute.
# This is the Delta/MV incremental-refresh contract, and it works at 100 TB
# precisely because COUNT/SUM partials merge associatively (the same property
# the exact DECIMAL convention gives shuffle-order independence).
# ---------------------------------------------------------------------------
_MV_CUTOFF = "2000-01-01"


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("spent"),
        )

    base = state(o.filter(F.col("o_orderdate") < _MV_CUTOFF))
    delta = state(o.filter(F.col("o_orderdate") >= _MV_CUTOFF))
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("spent").cast("double").alias("total_spent"),
        )
    )


_MV_ORACLE = """
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus documents sharing >= _CONTAM_MIN
# distinct trigram shingles with any eval-set document (here: doc_id < 20 as
# the eval proxy). The standard pre-training hygiene pass: the eval side is
# small by construction, so it broadcasts and the probe is one map-side hash
# join over the corpus shingle stream — no shuffle of the corpus at all.
# Reuses the dedup family's cached shingle relation.
# ---------------------------------------------------------------------------
_CONTAM_EVAL_MAX = 20
_CONTAM_MIN = 3


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.dedup import shingles

    sh = shingles(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") < _CONTAM_EVAL_MAX).select(
        F.col("doc_id").alias("eval_id"), "sh"
    )
    corp = sh.filter(F.col("doc_id") >= _CONTAM_EVAL_MAX)
    return (
        corp.join(F.broadcast(ev), "sh")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _CONTAM_MIN)
    )


def _contam_oracle() -> str:
    from templatedb_spark.operators.dedup import _SHINGLES_SQL

    return f"""
WITH {_SHINGLES_SQL},
ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id < {_CONTAM_EVAL_MAX}),
corp AS (SELECT doc_id, sh FROM sh WHERE doc_id >= {_CONTAM_EVAL_MAX})
SELECT corp.doc_id, ev.eval_id, COUNT(*) AS n_shared
FROM corp JOIN ev USING (sh)
GROUP BY corp.doc_id, ev.eval_id
HAVING COUNT(*) >= {_CONTAM_MIN}
"""


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style quality rule, token form): distinct-token
# ratio + most-frequent-bigram fraction per document, with the keep/drop
# verdict. Map-only until the per-doc bigram aggregate (keyed by doc — never
# a corpus-wide shuffle of text), from the shared tokenized base.
# ---------------------------------------------------------------------------
_REP_MIN_DISTINCT = 0.3
_REP_MAX_TOP_BIGRAM = 0.1


def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition stats with ZERO shuffles: the bigram histogram of a
    document is row-local, so instead of explode → two hash aggregations
    (which shuffled ~n_tokens rows per doc — the suite's contended critical
    path in round 3), sort the bigram array in place and take the longest
    run of equal neighbors with one fold. The whole spec is a map-side
    projection over the shared tokenized corpus."""
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 2)
    max_run = F.expr(
        """
        aggregate(
          array_sort(transform(sequence(1, size(t) - 1),
                     i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))),
          named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
          (acc, x) -> named_struct(
            'prev', x,
            'run',  CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
                         THEN acc.run + 1 ELSE 1L END,
            'best', greatest(acc.best,
                    CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
                         THEN acc.run + 1 ELSE 1L END)),
          acc -> acc.best)
        """
    )
    stats = tok.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (F.size(F.array_distinct("t")) / F.size("t")).alias("distinct_ratio"),
        (max_run / (F.size("t") - 1)).alias("top_bigram_frac"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        (
            (F.col("distinct_ratio") >= _REP_MIN_DISTINCT)
            & (F.col("top_bigram_frac") <= _REP_MAX_TOP_BIGRAM)
        ).alias("keep"),
    )


_REPETITION_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens,
         len(list_distinct(t)) / len(t) AS distinct_ratio, t
  FROM toks WHERE len(t) >= 2
),
bg AS (
  SELECT doc_id, n_tokens, distinct_ratio, t[i] || ' ' || t[i+1] AS bg
  FROM (SELECT *, unnest(generate_series(1, len(t) - 1)) AS i FROM base)
),
cnt AS (SELECT doc_id, n_tokens, distinct_ratio, bg, COUNT(*) AS c
        FROM bg GROUP BY 1, 2, 3, 4),
stats AS (SELECT doc_id, n_tokens, distinct_ratio, MAX(c) / SUM(c) AS top_bigram_frac
          FROM cnt GROUP BY 1, 2, 3)
SELECT doc_id, n_tokens,
       ROUND(distinct_ratio, 6) AS distinct_ratio,
       ROUND(top_bigram_frac, 6) AS top_bigram_frac,
       (distinct_ratio >= {_REP_MIN_DISTINCT} AND top_bigram_frac <= {_REP_MAX_TOP_BIGRAM}) AS keep
FROM stats
"""


# ---------------------------------------------------------------------------
# CDC net-effect apply (warehouse/CDC tier, completing SCD2 + merge_upsert):
# treat the events stream as a change feed against the customer dimension —
# per key, compact the feed to its LAST change (net effect), then MERGE:
# 'error' → DELETE, existing key → UPDATE (segment/balance), unseen key →
# INSERT a synthesized row. This is the Debezium/Delta-CDF apply pattern:
# compaction is one window per key (never replaying intermediate states),
# the merge is one outer join — two shuffles total regardless of feed length.
# The key offset maps users into the upper customer range so all three MERGE
# branches (update / insert / delete) are exercised and asserted.
# ---------------------------------------------------------------------------
_CDC_KEY_OFFSET = 1400
_CDC_VIEW_LO, _CDC_VIEW_HI = 1350, 1600  # bounded slice for the gate


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    changes = e.select(
        (F.col("user_id") + _CDC_KEY_OFFSET).alias("key"),
        "ts",
        "event_id",
        "event_type",
        "value",
    )
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    # Compact once, reuse thrice: the three MERGE branches all read the
    # net-effect feed, so cache it instead of re-running the window per branch
    # (at warehouse scale this is the materialized staging table CDC appliers
    # write before the merge).
    latest = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .cache()
    )
    dels = latest.filter(F.col("event_type") == "error").select("key")
    ups = latest.filter(F.col("event_type") != "error")
    touched = dels.unionByName(ups.select("key"))
    surviving = c.join(touched, c.c_custkey == touched.key, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal", F.lit("kept").alias("src")
    )
    updated = c.join(ups, c.c_custkey == ups.key).select(
        "c_custkey",
        "c_name",
        F.col("event_type").alias("c_mktsegment"),
        F.col("value").alias("c_acctbal"),
        F.lit("updated").alias("src"),
    )
    inserted = ups.join(c, ups.key == c.c_custkey, "left_anti").select(
        F.col("key").alias("c_custkey"),
        F.concat(F.lit("cdc:"), F.col("key")).alias("c_name"),
        F.col("event_type").alias("c_mktsegment"),
        F.col("value").alias("c_acctbal"),
        F.lit("inserted").alias("src"),
    )
    return (
        surviving.unionByName(updated)
        .unionByName(inserted)
        .filter(F.col("c_custkey").between(_CDC_VIEW_LO, _CDC_VIEW_HI - 1))
    )


_CDC_ORACLE = f"""
WITH changes AS (
  SELECT user_id + {_CDC_KEY_OFFSET} AS key, ts, event_id, event_type, value
  FROM events
),
latest AS (
  SELECT key, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
    FROM changes
  ) WHERE rn = 1
),
dels AS (SELECT key FROM latest WHERE event_type = 'error'),
ups  AS (SELECT * FROM latest WHERE event_type <> 'error'),
surviving AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, 'kept' AS src
  FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM dels WHERE dels.key = c_custkey)
    AND NOT EXISTS (SELECT 1 FROM ups WHERE ups.key = c_custkey)
),
updated AS (
  SELECT c_custkey, c_name, event_type AS c_mktsegment, value AS c_acctbal,
         'updated' AS src
  FROM customer JOIN ups ON c_custkey = key
),
inserted AS (
  SELECT key AS c_custkey, 'cdc:' || key AS c_name, event_type AS c_mktsegment,
         value AS c_acctbal, 'inserted' AS src
  FROM ups WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = ups.key)
)
SELECT * FROM (
  SELECT * FROM surviving UNION ALL SELECT * FROM updated UNION ALL SELECT * FROM inserted
)
WHERE c_custkey BETWEEN {_CDC_VIEW_LO} AND {_CDC_VIEW_HI} - 1
"""


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the MinHash-LSH pair graph —
# the step real pipelines run between pair generation and the keep/drop
# decision (keep one representative per component, drop the rest). Spark side
# is iterative min-label propagation (each round is one distributed
# join+aggregate; rounds ≈ component diameter, tiny for dup clusters); the
# oracle is a DuckDB recursive CTE computing the same label closure. The only
# driver values are the per-round convergence counters (scalars, not data).
# At 100 TB: same loop, each round shuffles (edges ⋈ labels) on doc_id —
# this is exactly large-scale GraphX/GraphFrames connected components minus
# the framework dependency.
# ---------------------------------------------------------------------------
_CLUSTER_MAX_ROUNDS = 20


def _funnel_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(keep, pairs): the funnel's two shared intermediates, memoized once per
    (application, sf_dir) through suite.memo — `keep` = (doc_id, keep_id)
    exact-fingerprint assignment (lazy: one cheap window, recomputed per
    consumer action) and `pairs` = survivor-restricted LSH pairs
    (checkpointed: the one expensive stage, computed once for
    funnel_pair_graph AND dedup_cascade instead of twice per suite run)."""
    from templatedb_spark.operators.dedup import dedup_minhash_lsh

    def build():
        d = table(spark, sf_dir, "documents")
        fp = d.select("doc_id", exact_fingerprint().alias("fingerprint"))
        keep = fp.select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy("fingerprint")).alias("keep_id"),
        )
        surv = keep.filter(F.col("doc_id") == F.col("keep_id")).select("doc_id")
        pairs = (
            dedup_minhash_lsh(spark, sf_dir, restrict=surv)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        return keep, pairs

    return memo(spark, sf_dir, "funnel-parts", build)


def funnel_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (doc_a, doc_b) edge list of the dup graph, built through the
    exact-dedup-first FUNNEL — the default pair-graph feed for the graph tier
    (cluster_labels / pagerank / BFS) since round 5.

    The raw LSH pair graph grows C(k,2) edges per group of k exact copies
    (496× per group at k=32 replication — the measured single-JVM heap
    ceiling at x16, SCALE.md). The funnel collapses each exact-fingerprint
    group to its min-doc_id survivor BEFORE the quadratic banding stage:

      1. fingerprint = md5(lower(text) with whitespace collapsed); one
         shuffle; keep_id = min doc_id per fingerprint;
      2. LSH band join restricted to survivors (semi-join on the shared
         cached signature relation — signatures stay linear, corpus-wide);
      3. STAR edges keep_id—copy re-attach every exact copy, so connected
         components are provably IDENTICAL to the raw graph's: fingerprint-
         equal docs have identical token streams (the tokenizer lowercases
         and is whitespace-insensitive), hence identical minhash signatures,
         hence every raw pair (a,b) maps to a survivor pair (s(a),s(b)) or
         a star path — and back. cluster_labels' oracle is therefore
         UNCHANGED; pagerank/BFS oracles compute the same funnel graph in
         SQL (degrees/hop counts differ from the raw graph by design).

    Memoized (suite.memo) + checkpointed: three specs consume it; edges are
    one row per dup relation (tiny relative to the corpus).
    """

    def build():
        keep, pairs = _funnel_parts(spark, sf_dir)
        stars = keep.filter(F.col("doc_id") != F.col("keep_id")).select(
            F.col("keep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        und = pairs.unionAll(stars)
        return (
            und.unionAll(und.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "funnel-edges", build)


_FUNNEL_SQL_PREFIX = r"""
fpr AS MATERIALIZED (
  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
  FROM documents
),
keepg AS MATERIALIZED (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep_id FROM fpr
),
sdocs AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN keepg k ON d.doc_id = k.doc_id
  WHERE k.doc_id = k.keep_id
)"""


def _survivor_pairs_ctes() -> str:
    """Funnel entry in SQL: exact-fingerprint groups collapse to their
    min-doc_id survivor BEFORE the minhash chain runs, so the quadratic
    cand/est stages only ever see survivors — the same funnel the Spark
    side executes (r7, VERDICT r6 #2: the previous oracles materialized the
    RAW pair graph, whose C(k,2) exact-copy candidate mass spilled >40 GB
    of DuckDB temp at generated sf1; survivor restriction removes the
    group structure on the oracle side too). Equality with raw-pairs-then-
    map: fingerprint-equal docs have identical token streams (the
    fingerprint normalization — lower + whitespace collapse — is strictly
    coarser than the [a-z0-9]+ tokenizer), hence identical signatures, so
    every raw pair maps to a survivor pair with the SAME match count and
    vice versa (see funnel_pair_graph)."""
    from templatedb_spark.operators.dedup import _MINHASH_CTES, _MINHASH_SELECT

    ctes = _MINHASH_CTES.replace("FROM documents", "FROM sdocs")
    return f"{_FUNNEL_SQL_PREFIX},\n{ctes},\nspairs AS MATERIALIZED ({_MINHASH_SELECT})"


def _funnel_edges_ctes() -> str:
    """SQL twin of funnel_pair_graph: survivor-restricted LSH pairs + star
    edges keep_id—copy, symmetrized."""
    return f"""{_survivor_pairs_ctes()},
stars AS (SELECT keep_id AS doc_a, doc_id AS doc_b FROM keepg WHERE doc_id <> keep_id),
und AS (SELECT doc_a, doc_b FROM spairs UNION SELECT doc_a, doc_b FROM stars),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM und UNION SELECT doc_b, doc_a FROM und)"""


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label) for every document in the LSH dup-pair graph — label =
    the component's minimum doc_id after iterative min-label propagation.

    Memoized per (application, sf_dir) through suite.memo: the iterative
    loop drives eager checkpoint jobs at build time, which Spark's
    subtree-equality cache cannot deduplicate, so both consumers
    (dedup_dup_clusters, dedup_keep_policy) would otherwise each run the full
    propagation. The checkpointed result is tiny (one row per dup-graph
    member); each superseded round's checkpoint is released as soon as the
    next one exists, so only the memoized result pins executor blocks."""

    def build():
        # funnel feed (round 5): connected components over the funnel graph
        # are provably identical to the raw pair graph's — the oracle is
        # unchanged — while the quadratic banding stage only ever sees
        # exact-dedup survivors
        edges = funnel_pair_graph(spark, sf_dir)
        labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().select(
            "doc_id", F.col("doc_id").alias("label")
        )
        for _ in range(_CLUSTER_MAX_ROUNDS):
            msgs = edges.join(labels, F.col("doc_a") == F.col("doc_id")).select(
                F.col("doc_b").alias("doc_id"), F.col("label")
            )
            new_labels = (
                labels.unionAll(msgs)
                .groupBy("doc_id")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)  # truncate per-round lineage
            )
            changed = (
                labels.alias("o")
                .join(new_labels.alias("n"), "doc_id")
                .filter(F.col("o.label") != F.col("n.label"))
                .count()
            )
            unpersist_local_checkpoint(labels)
            labels = new_labels
            if changed == 0:
                break
        return labels

    return memo(spark, sf_dir, "cluster-labels", build)


def dedup_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_labels(spark, sf_dir).groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def dedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: the corpus keep/drop manifest.

    Every document gets a verdict — docs outside any dup cluster are kept;
    inside a cluster only the representative (minimum doc_id) survives. This
    is the actual deliverable of a production dedup pass (the filter applied
    before training), composed from the same label relation as
    dedup_dup_clusters: one broadcast-sized join against the labels (dup
    clusters are a small fraction of any real corpus), never a corpus shuffle.
    """
    d = table(spark, sf_dir, "documents").select("doc_id")
    labels = cluster_labels(spark, sf_dir).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    return d.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("cluster_id"))).alias(
            "keep"
        ),
    )


# The recursive closure runs over the FUNNEL edges (r7): components over the
# funnel graph are provably identical to the raw pair graph's (see
# funnel_pair_graph's equivalence argument), and the funnel form is the one
# DuckDB can evaluate at generated sf1 without materializing the quadratic
# raw candidate mass.
_CLUSTERS_ORACLE = """
WITH RECURSIVE {funnel},
reach(doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
),
labeled AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
SELECT cluster_id, COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id, MAX(doc_id) AS max_doc_id
FROM labeled GROUP BY cluster_id
"""


def _clusters_oracle() -> str:
    return _CLUSTERS_ORACLE.format(funnel=_funnel_edges_ctes())


_KEEP_ORACLE = """
WITH RECURSIVE {funnel},
reach(doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
),
labeled AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
SELECT d.doc_id, l.cluster_id,
       (l.cluster_id IS NULL OR d.doc_id = l.cluster_id) AS keep
FROM documents d LEFT JOIN labeled l USING (doc_id)
"""


def _keep_oracle() -> str:
    return _KEEP_ORACLE.format(funnel=_funnel_edges_ctes())


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the dup-pair graph (the similarity graph the
# LSH family already produces): K synchronized power-method steps, damping
# 0.85. Each step is one distributed join (edges ⋈ ranks) + one aggregate on
# the destination key — the canonical iterative-analytics shape (same loop
# skeleton as connected components, but with floating-point mass instead of
# min-labels). Cross-engine exactness: per-node in-degree sums are tiny (dup
# neighborhoods), and every iteration rounds to 9 decimals, so engine-side
# summation-order ulps cannot accumulate; the oracle unrolls the SAME K
# iterations as chained CTEs from the same constants.
# ---------------------------------------------------------------------------
_PR_ITERS = 4
_PR_DAMP = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # funnel feed (round 5): ranks are computed over the exact-dedup-first
    # funnel graph (survivor LSH pairs + star edges) — the graph a production
    # pipeline actually ranks, and the one that stays within memory when dup
    # groups grow quadratically; the oracle unrolls the same funnel edges
    edges = funnel_pair_graph(spark, sf_dir)
    deg = edges.groupBy(F.col("doc_a").alias("v")).agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = deg.count()
    ranks = deg.select("v", F.round(F.lit(1.0) / n_nodes, 9).alias("r"))
    base = (1.0 - _PR_DAMP) / n_nodes
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.doc_a == ranks.v)
            .join(deg.withColumnRenamed("v", "dv"), F.col("doc_a") == F.col("dv"))
            .select(F.col("doc_b").alias("v"), (F.col("r") / F.col("outdeg")).alias("c"))
        )
        ranks = contrib.groupBy("v").agg(
            F.round(F.lit(base) + F.lit(_PR_DAMP) * F.sum("c"), 9).alias("r")
        )
    return ranks.select(F.col("v").alias("doc_id"), F.round("r", 6).alias("pagerank"))


def _pagerank_oracle() -> str:
    steps = []
    prev = "pr0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""pr{i} AS (
  SELECT e.dst AS v, ROUND((1.0 - {_PR_DAMP}) / (SELECT n FROM nn)
         + {_PR_DAMP} * SUM(p.r / d.outdeg), 9) AS r
  FROM edges e JOIN {prev} p ON e.src = p.v JOIN deg d ON e.src = d.v
  GROUP BY e.dst
)"""
        )
        prev = f"pr{i}"
    chain = ",\n".join(steps)
    return f"""
WITH {_funnel_edges_ctes()},
deg AS (SELECT src AS v, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
pr0 AS (SELECT v, ROUND(1.0 / (SELECT n FROM nn), 9) AS r FROM deg),
{chain}
SELECT v AS doc_id, ROUND(r, 6) AS pagerank FROM {prev}
"""


# ---------------------------------------------------------------------------
# Running z-score anomaly detection (batch form; the streaming twin is
# streaming/anomaly.stream_anomaly_zscore and must agree bit-for-bit). Each
# event is scored against the running distribution of the events BEFORE it:
# running sums S/Q/n over the per-user (ts, event_id) order — window state is
# three doubles per user, the exact shape the streaming state store keeps.
# ---------------------------------------------------------------------------
_Z_THRESHOLD = 3.0
_Z_MIN_PRIOR = 12


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
        F.count("value").over(w).alias("n_prior"),
        F.sum("value").over(w).alias("s"),
        F.sum(F.col("value") * F.col("value")).over(w).alias("q"),
    ).filter(F.col("n_prior") >= _Z_MIN_PRIOR)
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("n_prior")) / (
        F.col("n_prior") - 1
    )
    z = F.round(
        (F.col("value") - F.col("s") / F.col("n_prior")) / F.sqrt(var), 6
    )
    return (
        scored.filter(var > 0)
        .select("user_id", "ts", "value", "n_prior", z.alias("z"))
        .filter(F.abs(F.col("z")) >= _Z_THRESHOLD)
    )


_ANOMALY_ORACLE = f"""
WITH scored AS (
  SELECT user_id,
         STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         value,
         COUNT(value) OVER w AS n_prior,
         SUM(value) OVER w AS s,
         SUM(value * value) OVER w AS q
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT user_id, ts_s AS ts, value, n_prior,
         ROUND((value - s / n_prior)
               / sqrt((q - s * s / n_prior) / (n_prior - 1)), 6) AS z
  FROM scored
  WHERE n_prior >= {_Z_MIN_PRIOR}
    AND (q - s * s / n_prior) / (n_prior - 1) > 0
)
SELECT user_id, ts, value, n_prior, z FROM z WHERE ABS(z) >= {_Z_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Triangle census over the dup-pair graph (graph tier, alongside clustering
# and PageRank): triangles + open triads + global clustering coefficient.
# Triangles via the ordered-pair join (a<b<c — each triangle counted once,
# the standard distributed triangle count); triads from per-node degrees.
# The pair relation is the LSH candidate graph, so edge volume is already
# bounded by the banding — at 100 TB this is |pairs| join |pairs| on one key,
# not anything quadratic in documents.
# ---------------------------------------------------------------------------


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # funnel feed (late round 5, closing the graph tier): triangles are
    # counted on the same funnel graph as clustering/pagerank/BFS, so the
    # C(k,2) exact-copy blow-up cannot reach the triangle join either; the
    # oracle computes the identical funnel graph (its `und` CTE IS the
    # canonical a<b pair set — stars are keep_id<copy by construction)
    pairs = funnel_pair_graph(spark, sf_dir).filter(F.col("doc_a") < F.col("doc_b"))
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        p1.join(p2, F.col("b") == F.col("b2"))
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    sym = p1.unionAll(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    triads = deg.agg(F.expr("CAST(sum((d * (d - 1)) DIV 2) AS BIGINT)").alias("n_triads"))
    edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tri.crossJoin(triads)
        .crossJoin(edges)
        .select(
            "n_triangles",
            "n_triads",
            "n_edges",
            F.when(
                F.col("n_triads") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_triads"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def _triangles_oracle() -> str:
    return f"""
WITH {_funnel_edges_ctes()},
fpairs AS (SELECT doc_a, doc_b FROM und),
tri AS (SELECT COUNT(*)::BIGINT AS n_triangles
        FROM fpairs p1
        JOIN fpairs p2 ON p1.doc_b = p2.doc_a
        JOIN fpairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
sym AS (SELECT doc_a AS u FROM fpairs UNION ALL SELECT doc_b FROM fpairs),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
triads AS (SELECT COALESCE(SUM((d * (d - 1)) // 2), 0)::BIGINT AS n_triads FROM deg),
ecnt AS (SELECT COUNT(*)::BIGINT AS n_edges FROM fpairs)
SELECT n_triangles, n_triads, n_edges,
       CASE WHEN n_triads > 0 THEN ROUND(3.0 * n_triangles / n_triads, 6) ELSE 0.0 END AS clustering_coeff
FROM tri CROSS JOIN triads CROSS JOIN ecnt
"""


# ---------------------------------------------------------------------------
# Fixed-depth BFS shortest paths over the dup-pair graph (completing the
# graph tier: connected components, PageRank, triangles, now distance). The
# frontier-expansion loop is the textbook distributed BFS: each hop is one
# join of the current frontier against the symmetric edge list plus an
# anti-join against the visited set — level-synchronous, no driver-side
# traversal, frontier and visited stay DataFrames throughout. Depth is a
# fixed K=3 so the oracle unrolls to K CTE levels. Deterministic: BFS level
# sets are order-free, the source is the highest-degree node (ties → min id).
#
# Scale: per hop, one shuffle keyed on the frontier node id; the visited
# anti-join is the standard dedup barrier. At 100 TB the edge list would be
# pre-partitioned by u so frontier joins co-locate.
# ---------------------------------------------------------------------------
_BFS_DEPTH = 3


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # funnel feed (round 5): hops are measured on the exact-dedup-first
    # funnel graph (already checkpointed — the frontier loop references the
    # edge list once per hop without re-running the banding pipeline)
    sym = funnel_pair_graph(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # seed: the highest-degree node (ties → lowest id) — the hub whose
    # neighborhood actually exercises multi-hop expansion
    src = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("u").asc())
        .limit(1)
        .select(F.col("u").alias("doc_id"))
    )
    # Each level is localCheckpoint'd (frontiers are tiny — a few rows), so
    # `visited` stays a K-way union of MATERIALIZED levels. Without this the
    # level-k plan references level-(k-1) twice (expand + anti-join) and the
    # whole subtree re-executes per reference — lineage grows exponentially
    # in depth (measured: 14 s → <2 s at sf0.1 for K=3).
    visited = src.select("doc_id", F.lit(0).cast("long").alias("hops")).localCheckpoint()
    frontier = visited
    for k in range(1, _BFS_DEPTH + 1):
        nxt = (
            frontier.join(sym, frontier["doc_id"] == sym["u"])
            .select(F.col("v").alias("doc_id"))
            .distinct()
            .join(visited.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.lit(k).cast("long").alias("hops"))
            .localCheckpoint()
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def _bfs_oracle() -> str:
    # MATERIALIZED: DuckDB inlines plain CTEs per reference — sym feeds the
    # degree seed plus every BFS level, which would re-run the whole minhash
    # chain 4+ times (measured 112 s → ~2 s at sf0.1).
    parts = [
        _funnel_edges_ctes(),
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM edges)",
        "deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u)",
        "l0 AS (SELECT u AS doc_id, 0::BIGINT AS hops FROM deg ORDER BY d DESC, u ASC LIMIT 1)",
    ]
    union = ["SELECT doc_id, hops FROM l0"]
    seen = "SELECT doc_id FROM l0"
    for k in range(1, _BFS_DEPTH + 1):
        parts.append(
            f"""l{k} AS (
  SELECT DISTINCT sym.v AS doc_id, {k}::BIGINT AS hops
  FROM sym JOIN l{k - 1} f ON sym.u = f.doc_id
  WHERE sym.v NOT IN ({seen})
)"""
        )
        union.append(f"SELECT doc_id, hops FROM l{k}")
        seen += f" UNION ALL SELECT doc_id FROM l{k}"
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(union)


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows (size C, stride S) — the
# standard preprocessing step for pretraining sequence packing and RAG
# indexing. Pure map-side: sequence() generates the window starts inside the
# row, slice() takes each window, and the chunk fingerprint keeps the output
# compact. Zero shuffle; at 100 TB the chunks stream straight to shards.
# ---------------------------------------------------------------------------
_CHUNK_C = 32  # tokens per chunk
_CHUNK_S = 24  # stride (overlap = C - S)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokenized(spark, sf_dir).filter(F.size("t") >= 1)
    starts = tok.select(
        "doc_id",
        "t",
        F.size("t").alias("n"),
        # upper bound 1 + ceil((n-C)/S)*S: the last window may be short but
        # always reaches the document tail (a bare n-C+1 bound drops the tail
        # whenever S does not divide n-C — caught by the tiling test)
        F.explode(
            F.expr(
                f"sequence(1, 1 + ((greatest(0, size(t) - {_CHUNK_C}) + {_CHUNK_S} - 1)"
                f" DIV {_CHUNK_S}) * {_CHUNK_S}, {_CHUNK_S})"
            )
        ).alias("start"),
    )
    chunk = F.expr(f"slice(t, start, {_CHUNK_C})")
    return starts.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {_CHUNK_S} + 1 AS BIGINT)").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


_CHUNK_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
starts AS (
  SELECT doc_id, t, n,
         unnest(generate_series(
             1,
             1 + ((greatest(0, n - {_CHUNK_C}) + {_CHUNK_S} - 1) // {_CHUNK_S}) * {_CHUNK_S},
             {_CHUNK_S})) AS start
  FROM base
)
SELECT doc_id,
       ((start - 1) // {_CHUNK_S} + 1)::BIGINT AS chunk_idx,
       start::BIGINT AS start_tok,
       len(t[start : least(start + {_CHUNK_C} - 1, n)])::BIGINT AS n_tok,
       md5(array_to_string(t[start : least(start + {_CHUNK_C} - 1, n)], ' ')) AS chunk_fp
FROM starts
"""


# ---------------------------------------------------------------------------
# BM25 ranking (IR tier, completing inverted_index + tfidf): score documents
# against a fixed query token set with Okapi BM25 (k1=1.2, b=0.75,
# +1-smoothed idf). Float determinism: the per-document score is assembled
# from per-token COLUMNS added in fixed left-to-right order (not a SUM over
# a group, whose accumulation order differs between engines), and avgdl is
# an exact integer-sum divided by an exact count. One shuffle for tf, one
# broadcast of corpus stats; at 100 TB this is the standard batch-scoring
# shape over a posting-list join.
# ---------------------------------------------------------------------------
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ["table", "query", "spark"]
_BM25_K = 20


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok_base = tokenized(spark, sf_dir)
    dl = tok_base.select("doc_id", F.size("t").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tok = tok_base.select("doc_id", F.explode("t").alias("tok")).filter(
        F.col("tok").isin(*_BM25_QUERY)
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("double").alias("c"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("c") * (_BM25_K1 + 1))
                / (
                    F.col("c")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    per_tok = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(F.max(F.when(F.col("tok") == q, F.col("s"))), F.lit(0.0)).alias(
                f"s{i}"
            )
            for i, q in enumerate(_BM25_QUERY)
        ]
    )
    total = F.col("s0")
    for i in range(1, len(_BM25_QUERY)):
        total = total + F.col(f"s{i}")
    ranked = per_tok.select("doc_id", F.round(total, 6).alias("score"))
    # top-k via TakeOrderedAndProject prefilter, NOT a global row_number
    # window (which would single-task-sort the whole per-doc score relation)
    return fused_topk(
        ranked, [F.col("score").desc(), F.col("doc_id").asc()], _BM25_K, "rank"
    )


def _bm25_ranked_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_topk's ≤K-row result, checkpointed + memoized per (application,
    sf_dir) through suite.memo for downstream consumers (rrf_fusion), which
    would otherwise re-run the whole tf/idf chain as a subtree of their own
    plans. The spec itself stays un-memoized so its plan pins see the live
    fused top-k."""
    return memo(
        spark, sf_dir, "bm25-ranked", lambda: bm25_topk(spark, sf_dir).localCheckpoint(eager=True)
    )


def _bm25_oracle() -> str:
    qlist = ", ".join(repr(q) for q in _BM25_QUERY)
    per_tok_cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN tok = {q!r} THEN s END), 0.0) AS s{i}"
        for i, q in enumerate(_BM25_QUERY)
    )
    total = " + ".join(f"s{i}" for i in range(len(_BM25_QUERY)))
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks),
stats AS (SELECT COUNT(*)::BIGINT AS n_docs,
                 (SUM(dl)::DOUBLE / COUNT(*)) AS avgdl FROM dl),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tf AS (SELECT doc_id, tok, COUNT(*)::DOUBLE AS c FROM tok
       WHERE tok IN ({qlist}) GROUP BY doc_id, tok),
dfreq AS (SELECT tok, COUNT(*)::BIGINT AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id, tf.tok,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * (tf.c * ({_BM25_K1} + 1))
         / (tf.c + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)) AS s
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
),
per_tok AS (SELECT doc_id, {per_tok_cols} FROM scored GROUP BY doc_id),
ranked AS (SELECT doc_id, ROUND({total}, 6) AS score FROM per_tok)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
  FROM ranked
) WHERE rank <= {_BM25_K}
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical ranking and a
# dense cosine ranking against the aligned embedding (doc_id == vec_id in the
# synthetic corpus — the standard "one embedding per document" layout). The
# RAG-stack shape: each retriever produces its top-POOL list independently
# (sparse: posting-list join; dense: ANN), then fusion is a cheap full outer
# join on doc id with score = Σ 1/(K + rank). Float determinism: ranks are
# integers, the two reciprocal terms are added in fixed left-to-right order,
# and the fused score is rounded before the final ordering.
#
# Scale: both retriever legs are top-POOL lists (broadcast-sized regardless
# of corpus size), so the fusion join is a driver-free broadcast join; the
# expensive work stays inside the per-leg operators which already have their
# own scale paths (inverted index / IVF-LSH ANN).
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_POOL = _BM25_K  # both legs feed their top-20
_RRF_OUT = 15
_RRF_QVEC = 0  # dense query: embedding of vec_id 0


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.operators.similarity import _vec_double, dot

    bm = _bm25_ranked_memo(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("bm25_rank")
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double("embedding").alias("v")
    )
    e = e.withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))
    q = e.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    scored = (
        e.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6).alias(
                "cos"
            ),
        )
    )
    ann = fused_topk(
        scored, [F.col("cos").desc(), F.col("vec_id").asc()], _RRF_POOL, "ann_rank"
    ).select(F.col("vec_id").alias("id"), "ann_rank")
    fused = bm.join(ann, "id", "full_outer").select(
        F.col("id").alias("doc_id"),
        "bm25_rank",
        "ann_rank",
        F.round(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("ann_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused_topk(
        fused,
        [F.col("rrf_score").desc(), F.col("doc_id").asc()],
        _RRF_OUT,
        "fused_rank",
    )


def _rrf_oracle() -> str:
    return f"""
WITH bm AS (SELECT doc_id AS id, rank AS bm25_rank FROM ({_bm25_oracle()})),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM ev),
q AS (SELECT v AS qv, norm AS qnorm FROM en WHERE vec_id = {_RRF_QVEC}),
scored AS (
  SELECT vec_id, ROUND(list_dot_product(q.qv, en.v) / (q.qnorm * en.norm), 6) AS cos
  FROM en CROSS JOIN q WHERE vec_id <> {_RRF_QVEC}
),
ann AS (
  SELECT vec_id AS id, ann_rank FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC)::BIGINT AS ann_rank
    FROM scored
  ) WHERE ann_rank <= {_RRF_POOL}
),
fused AS (
  SELECT COALESCE(bm.id, ann.id) AS doc_id, bm25_rank, ann_rank,
         ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + bm25_rank), 0.0)
               + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + ann_rank), 0.0), 6) AS rrf_score
  FROM bm FULL OUTER JOIN ann ON bm.id = ann.id
)
SELECT doc_id, bm25_rank, ann_rank, rrf_score, fused_rank FROM (
  SELECT doc_id, bm25_rank, ann_rank, rrf_score,
         ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC)::BIGINT AS fused_rank
  FROM fused
) WHERE fused_rank <= {_RRF_OUT}
"""



# ---------------------------------------------------------------------------
# Cascade dedup — the staged funnel every production corpus actually runs:
# cheap exact dedup first (hash groupBy, removes the bulk), then near-dup
# LSH only over the exact survivors. One verdict row per document records
# WHICH stage dropped it and against which partner — the lineage auditors
# ask for ("why is this doc gone?"). Near-stage policy is keep-first: a
# survivor is dropped iff an exact-surviving partner with a smaller doc_id
# shares an LSH band (partner = the smallest such). The stages reuse the
# memoized LSH pair relation, so the cascade adds two broadcast-scale joins
# on top of work the suite already shares. At 100 TB the exact stage is one
# shuffle on the 16-byte fingerprint and the near stage inherits the banded
# join's economics — the funnel ordering is precisely what keeps the
# expensive stage's input small.
# ---------------------------------------------------------------------------
def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r5: the exact-fingerprint assignment and the survivor-restricted band
    # join are the SHARED funnel intermediates (_funnel_parts, memoized +
    # checkpointed) — the graph tier and the cascade consume one computation
    # of the expensive stage instead of each rebuilding it. (Banding and
    # verification are pairwise, so survivor-restricted pairs are exactly
    # the raw pairs with both endpoints surviving; the post-hoc semi-join
    # filter this replaced computed the same set AFTER paying the C(k,2)
    # candidate cost over exact-copy groups.)
    ex, pairs = _funnel_parts(spark, sf_dir)
    near = pairs.groupBy(F.col("doc_b").alias("n_id")).agg(
        F.min("doc_a").alias("n_partner")
    )
    return (
        ex.join(F.broadcast(near), ex["doc_id"] == near["n_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("keep_id"), F.lit("exact"))
            .when(F.col("n_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("keep"))
            .alias("stage"),
            F.when(F.col("doc_id") != F.col("keep_id"), F.col("keep_id"))
            .otherwise(F.col("n_partner"))
            .cast("long")
            .alias("partner"),
        )
    )


def _cascade_oracle() -> str:
    # survivor-restricted pairs computed DIRECTLY (r7): banding and
    # verification are pairwise, so restricting the band join's input to
    # survivors equals filtering the raw pair set to survivor endpoints —
    # without ever materializing the quadratic raw candidate mass (the
    # >40 GB DuckDB spill at generated sf1, VERDICT r6 #2)
    return f"""
WITH {_survivor_pairs_ctes()},
near AS (
  SELECT doc_b AS n_id, MIN(doc_a) AS n_partner FROM spairs GROUP BY 1
)
SELECT k.doc_id,
       CASE WHEN k.doc_id <> k.keep_id THEN 'exact'
            WHEN n.n_id IS NOT NULL THEN 'near'
            ELSE 'keep' END AS stage,
       CASE WHEN k.doc_id <> k.keep_id THEN k.keep_id
            ELSE n.n_partner END::BIGINT AS partner
FROM keepg k LEFT JOIN near n ON n.n_id = k.doc_id
"""

for spec in [
    QuerySpec("inverted_index", inverted_index, _INVERTED_ORACLE, "inverted index: capped sorted posting lists + doc frequency"),
    QuerySpec("rrf_fusion", rrf_fusion, _rrf_oracle(), "hybrid retrieval: reciprocal-rank fusion of BM25 and dense cosine top-k"),
    QuerySpec("mv_incremental_refresh", mv_incremental_refresh, _MV_ORACLE, "incremental MV refresh: base ∪ delta partial-state merge == full recompute"),
    QuerySpec("contamination_check", contamination_check, _contam_oracle(), "eval-set decontamination: broadcast shingle-overlap probe"),
    QuerySpec("text_repetition_score", text_repetition_score, _REPETITION_ORACLE, "Gopher-style repetition scoring (distinct ratio, top-bigram fraction)"),
    QuerySpec("cdc_apply", cdc_apply, _CDC_ORACLE, "CDC net-effect compaction + three-branch MERGE apply"),
    QuerySpec("anomaly_zscore", anomaly_zscore, _ANOMALY_ORACLE, "running z-score anomaly detection (batch twin of the stateful stream)"),
    QuerySpec("dedup_dup_clusters", dedup_dup_clusters, _clusters_oracle(), "connected-components dup clustering (iterative label propagation vs recursive CTE)"),
    QuerySpec("dedup_keep_policy", dedup_keep_policy, _keep_oracle(), "end-to-end dedup verdict: keep representative per cluster, drop the rest"),
    QuerySpec("graph_pagerank", graph_pagerank, _pagerank_oracle(), "fixed-iteration PageRank over the dup-pair graph (power method, unrolled oracle)"),
    QuerySpec("scd2_user_segments", scd2_user_segments, _SCD2_ORACLE, "SCD2 history build: gaps-and-islands + validity windows"),
    QuerySpec("scd2_asof_snapshot", scd2_asof_snapshot, _ASOF_SNAPSHOT_ORACLE, "point-in-time AS OF read over the SCD2 history (sargable validity-interval filter)"),
    QuerySpec("vocab_top_tokens", vocab_top_tokens, _VOCAB_ORACLE, "corpus vocabulary: token + doc frequency, fused top-k"),
    QuerySpec("tfidf_top_terms", tfidf_top_terms, _TFIDF_ORACLE, "TF-IDF salient terms per document (smooth idf)"),
    QuerySpec("pack_token_shards", pack_token_shards, _PACK_ORACLE, "token-budget shard packing, per-bucket sequential fill"),
    QuerySpec("graph_triangles", graph_triangles, _triangles_oracle(), "triangle census + clustering coefficient over the dup-pair graph"),
    QuerySpec("graph_bfs_hops", graph_bfs_hops, _bfs_oracle(), "fixed-depth level-synchronous BFS shortest paths over the dup-pair graph"),
    QuerySpec("chunk_documents", chunk_documents, _CHUNK_ORACLE, "overlapping token-window chunking (pretraining/RAG preprocessing)"),
    QuerySpec("bm25_topk", bm25_topk, _bm25_oracle(), "Okapi BM25 ranking against a fixed query (IR tier)"),
    QuerySpec("dedup_cascade", dedup_cascade, _cascade_oracle(), "staged dedup funnel: exact fingerprint stage, then LSH near-dup over survivors, with per-doc drop lineage"),
]:
    register(spec)


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (round 9): the delta-propagation algebra
# for a materialized JOIN — the piece `mv_incremental_refresh` (single-table
# agg merge) deliberately leaves out. With base relations A (orders), B
# (customer) and deltas dA, dB arriving since the last refresh, the view over
# (A u dA) JOIN (B u dB) decomposes into FOUR join terms
#
#     A JOIN B   (the already-materialized state — never recomputed)
#   + dA JOIN B  + A JOIN dB + dA JOIN dB   (the delta terms)
#
# and the refreshed aggregate is the partial-state merge of the four term
# rollups. The spec EXECUTES that incremental plan (the materialized term
# stands in as its rollup, the three delta terms are genuinely small joins)
# and the oracle is the full recompute — any missed/duplicated term or a
# non-distributive merge is a hash mismatch.
#
# Scale: this is the refresh shape that makes a 100 TB join view affordable —
# the delta terms touch |dA|·|B| etc. via broadcast of the small delta side,
# never re-shuffling A JOIN B; partial states merge by groupBy-sum (the same
# distributive-aggregate contract as the agg MV).
# ---------------------------------------------------------------------------
def mv_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a = o.filter(F.col("o_orderkey") % 10 != 0)
    da = o.filter(F.col("o_orderkey") % 10 == 0)
    b = c.filter(F.col("c_custkey") % 20 != 0)
    db = c.filter(F.col("c_custkey") % 20 == 0)

    def state(orders: DataFrame, cust: DataFrame, broadcast_dim: bool) -> DataFrame:
        dim = F.broadcast(cust) if broadcast_dim else cust
        return (
            orders.join(dim, orders.o_custkey == dim.c_custkey)
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"),
            )
        )

    terms = (
        state(a, b, True)  # the materialized term (stands in as its rollup)
        .unionByName(state(da, b, True))  # dA ⋈ B
        .unionByName(state(a, db, True))  # A ⋈ dB (delta side broadcast)
        .unionByName(state(da, db, True))  # dA ⋈ dB
    )
    return terms.groupBy("c_mktsegment", "o_orderstatus").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("rev").cast("double").alias("revenue"),
    )


_MV_JOIN_ORACLE = """
SELECT c.c_mktsegment, o.o_orderstatus,
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "mv_join_delta",
        mv_join_delta,
        _MV_JOIN_ORACLE,
        "incremental JOIN-view maintenance: four-term delta propagation (A⋈B + dA⋈B + A⋈dB + dA⋈dB) partial-state merge vs full-recompute oracle",
    )
)
