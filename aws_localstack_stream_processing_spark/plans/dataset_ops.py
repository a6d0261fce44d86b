"""Dataset-curation, lake-maintenance and behavioral-analytics operators
(round-3 breadth). Every query is declared once as a two-dialect SQL
template (see :mod:`dialect`) so the DuckDB oracle is the same text modulo
function spellings.

Text curation (documents table):

- ``text_repetition_stats`` — per-document repetition ratios in the style
  of the Gopher repetition filters (Rae et al. 2021, public): duplicate
  word fraction and top-bigram share, each an exact ratio of counts.
- ``text_vocab_oov``        — two-phase vocabulary build: global top-V
  token table, then per-document out-of-vocabulary rate against it.
  The V-row vocab broadcasts; the corpus is never re-shuffled.

Lake maintenance (orders / lineitem as the keyed lake tables):

- ``lake_snapshot_diff``    — snapshot-to-snapshot diff (added / removed /
  changed) via one full-outer join on the table key. At 100 TB both
  sides hash-partition on the key and the join is the only shuffle; the
  row comparison here is direct column equality (a production diff would
  compare a per-row content hash computed in the same scan).
- ``lake_compaction_plan``  — small-file compaction planner: greedy
  bin-packing of file fragments into fixed-size output files via a
  prefix-sum window, the standard OPTIMIZE/rewrite planning step. The
  pack-size divisor is a power of two so ``floor(cum / target)`` is
  bit-exact in IEEE double in both engines.
- ``lake_zonemap_prune``    — data-skipping statistics: per-zone min/max
  column ranges plus the scan/skip decision a predicate induces — the
  planning half of parquet row-group pruning, as a query.

Behavioral analytics (events table):

- ``cohort_retention``      — weekly signup-cohort retention matrix: one
  shuffle to find each user's first week, one to count (cohort, offset)
  cells.
- ``seq_pattern_match``     — MATCH_RECOGNIZE-style sequence detection
  (view -> click -> purchase, each hop within 30 minutes) expressed as
  two layered carry-forward windows over the same (user, time) order —
  both window layers reuse one exchange.

Time-series (events table):

- ``ts_m4_downsample``      — M4 downsampling (Jugel et al., VLDB 2014,
  public): per (series, hour) keep the first/last/min/max points — the
  lossless-for-plotting reduction. One shuffle; the four orderings are
  window sorts over the same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .dialect import tbl, ts_str, views
from .registry import query

# ---------------------------------------------------------------------------
# text_repetition_stats
# ---------------------------------------------------------------------------


def _tok_cte(d: str) -> str:
    """doc_id, pos (1-based), word — the tokenized corpus."""
    if d == "spark":
        return f"""
tok AS (
  SELECT doc_id, pos + 1 AS pos, word
  FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, word)
        FROM {tbl('documents', d)})
)"""
    return f"""
tok AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM {tbl('documents', d)}
)"""


def _repetition_sql(d: str) -> str:
    return f"""
WITH {_tok_cte(d)},
big AS (
  SELECT doc_id,
         word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos)
           AS bigram
  FROM tok
),
wc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words
  FROM tok GROUP BY doc_id
),
wtop AS (
  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS top_word_n
  FROM (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id, word)
  GROUP BY doc_id
),
btop AS (
  SELECT doc_id,
         CAST(SUM(n) AS BIGINT) AS n_bigrams,
         CAST(MAX(n) AS BIGINT) AS top_bigram_n
  FROM (SELECT doc_id, COUNT(*) AS n FROM big
        WHERE bigram IS NOT NULL GROUP BY doc_id, bigram)
  GROUP BY doc_id
)
SELECT wc.doc_id, n_words, n_distinct_words, top_word_n,
       n_bigrams, top_bigram_n,
       round(CAST(n_words - n_distinct_words AS DOUBLE)
             / NULLIF(n_words, 0), 6) AS dup_word_frac,
       round(CAST(top_word_n AS DOUBLE) / NULLIF(n_words, 0), 6)
         AS top_word_share,
       round(CAST(top_bigram_n AS DOUBLE) / NULLIF(n_bigrams, 0), 6)
         AS top_bigram_share
FROM wc
JOIN wtop ON wtop.doc_id = wc.doc_id
JOIN btop ON btop.doc_id = wc.doc_id
ORDER BY wc.doc_id
"""


@query(
    "text_repetition_stats",
    oracle=_repetition_sql("duck"),
    tags=("llm", "text", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-word fraction, top-word
    share and top-bigram share per document — the signals that catch
    boilerplate and degenerate repetition in a pretraining corpus. The
    tokenize/explode is a narrow map; the per-(doc, gram) counts
    hash-partition on doc_id, so every aggregation and the final joins
    share one partitioning. All ratios are ratios of exact counts."""
    views(spark, sf_dir, "documents")
    return spark.sql(_repetition_sql("spark"))


# ---------------------------------------------------------------------------
# text_vocab_oov
# ---------------------------------------------------------------------------

_VOCAB_V = 200


def _vocab_oov_sql(d: str) -> str:
    return f"""
WITH {_tok_cte(d)},
counts AS (
  SELECT word, COUNT(*) AS n FROM tok GROUP BY word
),
vocab AS (
  SELECT word FROM counts ORDER BY n DESC, word LIMIT {_VOCAB_V}
)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(SUM(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab ON tok.word = vocab.word
GROUP BY tok.doc_id
ORDER BY tok.doc_id
"""


@query("text_vocab_oov", oracle=_vocab_oov_sql("duck"), tags=("llm", "text"))
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the global top-V token table (ties
    broken lexicographically, so the vocab is deterministic), then score
    every document's out-of-vocabulary rate against it. The vocab is V
    rows — Spark broadcasts it, so the corpus-side explode never
    re-shuffles for the join; the only wide ops are the two counts."""
    views(spark, sf_dir, "documents")
    return spark.sql(_vocab_oov_sql("spark"))


# ---------------------------------------------------------------------------
# lake_snapshot_diff
# ---------------------------------------------------------------------------


def _snapshot_diff_sql(d: str) -> str:
    # Two synthetic snapshots of the keyed ``orders`` table, derived
    # deterministically so both engines build identical inputs:
    #   A (old): every key except multiples of 10
    #   B (new): every key except multiples of 11; price bumped on
    #            multiples of 7 (the "updated" rows)
    return f"""
WITH snap_a AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18, 2)) AS price
  FROM {tbl('orders', d)} WHERE o_orderkey % 10 <> 0
),
snap_b AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(CASE WHEN o_orderkey % 7 = 0
                   THEN CAST(o_totalprice AS DECIMAL(18, 2)) + 1
                   ELSE CAST(o_totalprice AS DECIMAL(18, 2)) END
              AS DECIMAL(18, 2)) AS price
  FROM {tbl('orders', d)} WHERE o_orderkey % 11 <> 0
)
SELECT COALESCE(a.k, b.k) AS o_orderkey,
       CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       CAST(a.price AS DOUBLE) AS old_price,
       CAST(b.price AS DOUBLE) AS new_price
FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL
   OR a.price <> b.price OR a.status <> b.status
ORDER BY o_orderkey
"""


@query("lake_snapshot_diff", oracle=_snapshot_diff_sql("duck"), tags=("lakehouse",))
def lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot table diff (the read side of CDC): classify
    every key as added / removed / changed with one full-outer join.
    Prices compute in DECIMAL(18,2) (exact compare) but emit as DOUBLE —
    the repo-wide output convention, so the driver's canonicalizer never
    sees engine-specific decimal renderings (the r03 hash-FAIL mode).
    Both snapshots hash-partition on the key, so the join is the only
    shuffle regardless of table size; at 100 TB the row comparison
    becomes a per-row content hash computed in the same scan (see
    ``cdc_merge_upsert`` for the write side)."""
    views(spark, sf_dir, "orders")
    return spark.sql(_snapshot_diff_sql("spark"))


# ---------------------------------------------------------------------------
# lake_compaction_plan
# ---------------------------------------------------------------------------

# 2^18 bytes — a power of two so cum/target is exact in IEEE double.
_PACK_TARGET = 262144


def _compaction_sql(d: str) -> str:
    return f"""
WITH files AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS part_year,
         l_orderkey % 50 AS file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) * 64 AS BIGINT) AS est_bytes
  FROM {tbl('lineitem', d)}
  GROUP BY year(l_shipdate), l_orderkey % 50
)
SELECT part_year, file_id, n_rows, est_bytes,
       CAST(floor(
         (SUM(est_bytes) OVER (PARTITION BY part_year ORDER BY file_id
                               ROWS UNBOUNDED PRECEDING) - est_bytes)
         / {_PACK_TARGET}.0) AS BIGINT) AS out_file
FROM files
ORDER BY part_year, file_id
"""


@query("lake_compaction_plan", oracle=_compaction_sql("duck"), tags=("lakehouse",))
def lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the planning step of OPTIMIZE /
    rewrite-data-files): fragments are greedily packed into ~256 KiB
    output files per partition by assigning each fragment the bin its
    cumulative prefix size falls into. The manifest aggregation is one
    shuffle; the prefix sum is a window over the same partitioning. The
    plan — unlike the rewrite — is tiny, which is why planners run as
    queries even on 100 TB tables."""
    views(spark, sf_dir, "lineitem")
    return spark.sql(_compaction_sql("spark"))


# ---------------------------------------------------------------------------
# lake_zonemap_prune
# ---------------------------------------------------------------------------


def _zonemap_sql(d: str) -> str:
    # 2048 = 2^11: zone id is an exact double floor in both engines.
    return f"""
WITH zones AS (
  SELECT CAST(floor(l_orderkey / 2048.0) AS BIGINT) AS zone_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
  FROM {tbl('lineitem', d)}
  GROUP BY floor(l_orderkey / 2048.0)
)
SELECT zone_id, n_rows,
       {ts_str('mn', d)} AS min_shipdate,
       {ts_str('mx', d)} AS max_shipdate,
       (mx >= TIMESTAMP '1994-01-01 00:00:00'
        AND mn < TIMESTAMP '1995-01-01 00:00:00') AS must_scan
FROM zones
ORDER BY zone_id
"""


@query(
    "lake_zonemap_prune",
    oracle=_zonemap_sql("duck"),
    tags=("lakehouse", "scale"),
)
def lake_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping statistics: per-zone min/max ranges for the sort
    key plus the scan/skip decision a range predicate induces — the
    planning half of parquet row-group pruning, surfaced as a query.
    Zones follow the key order (floor(key / 2^11)), so a clustered
    predicate skips almost everything; a single scan + small agg
    produces the zone map at any scale."""
    views(spark, sf_dir, "lineitem")
    return spark.sql(_zonemap_sql("spark"))


# ---------------------------------------------------------------------------
# cohort_retention
# ---------------------------------------------------------------------------


def _daydiff(a: str, b: str, d: str) -> str:
    """Whole days from b to a (both date_trunc'd, so always integral)."""
    if d == "spark":
        return f"datediff({a}, {b})"
    return f"date_diff('day', {b}, {a})"


def _cohort_sql(d: str) -> str:
    dd = _daydiff("act_week", "cohort_week", d)
    return f"""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM {tbl('events', d)} GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
  FROM {tbl('events', d)}
)
SELECT {ts_str('cohort_week', d)} AS cohort_week,
       CAST({dd} / 7 AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM active JOIN first_seen USING (user_id)
GROUP BY cohort_week, {dd} / 7
ORDER BY cohort_week, week_offset
"""


@query("cohort_retention", oracle=_cohort_sql("duck"), tags=("analytics",))
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: each user's cohort is the week of
    their first event; each (cohort, week-offset) cell counts users still
    active that many weeks later. Two aggregations and one join, all
    hash-partitioned on user_id — the join reuses the partitioning of
    the first-seen aggregation, and the final cell count is the only
    re-shuffle (to the tiny cohort x offset grid)."""
    views(spark, sf_dir, "events")
    return spark.sql(_cohort_sql("spark"))


# ---------------------------------------------------------------------------
# seq_pattern_match
# ---------------------------------------------------------------------------

_HOP_SECONDS = 1800


def _epoch_sec(d: str) -> str:
    # Same idiom as timeseries.py: UTC session + naive oracle timestamps.
    if d == "spark":
        return "CAST(unix_timestamp(ts) AS BIGINT)"
    return "CAST(floor(epoch(ts)) AS BIGINT)"


def _seq_match_sql(d: str) -> str:
    w = (
        "PARTITION BY user_id ORDER BY sec, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    return f"""
WITH base AS (
  SELECT user_id, event_id, event_type, ts, {_epoch_sec(d)} AS sec
  FROM {tbl('events', d)}
),
l1 AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'view' THEN sec END) OVER ({w})
           AS last_view_sec
  FROM base
),
l2 AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'click'
                   AND last_view_sec IS NOT NULL
                   AND sec - last_view_sec <= {_HOP_SECONDS}
              THEN sec END) OVER ({w}) AS chain_click_sec
  FROM l1
)
SELECT user_id, event_id, {ts_str('ts', d)} AS purchase_ts,
       (chain_click_sec IS NOT NULL
        AND sec - chain_click_sec <= {_HOP_SECONDS}) AS converted
FROM l2
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""


@query("seq_pattern_match", oracle=_seq_match_sql("duck"), tags=("analytics", "window"))
def seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection without the operator:
    a purchase "converts" when a click preceded it within 30 minutes
    and a view preceded *that click* within 30 minutes. Two layered
    carry-forward windows (last qualifying view, then last qualifying
    click) express the chain; both layers share the same (user, time)
    partitioning and ordering, so the whole pattern costs one exchange
    and two frame-local sorts — no self-joins, no state explosion."""
    views(spark, sf_dir, "events")
    return spark.sql(_seq_match_sql("spark"))


# ---------------------------------------------------------------------------
# ts_m4_downsample
# ---------------------------------------------------------------------------


def _m4_sql(d: str) -> str:
    w = "PARTITION BY event_type, bucket"
    return f"""
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         event_id, value, {_epoch_sec(d)} AS sec
  FROM {tbl('events', d)}
),
ranked AS (
  SELECT *,
         row_number() OVER ({w} ORDER BY sec, event_id)        AS rn_first,
         row_number() OVER ({w} ORDER BY sec DESC, event_id DESC) AS rn_last,
         row_number() OVER ({w} ORDER BY value, event_id)      AS rn_min,
         row_number() OVER ({w} ORDER BY value DESC, event_id) AS rn_max
  FROM base
)
SELECT event_type, {ts_str('bucket', d)} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MAX(CASE WHEN rn_first = 1 THEN event_id END) AS BIGINT)
         AS first_id,
       CAST(MAX(CASE WHEN rn_last = 1 THEN event_id END) AS BIGINT)
         AS last_id,
       CAST(MAX(CASE WHEN rn_min = 1 THEN event_id END) AS BIGINT)
         AS min_id,
       CAST(MAX(CASE WHEN rn_max = 1 THEN event_id END) AS BIGINT)
         AS max_id,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM ranked
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@query("ts_m4_downsample", oracle=_m4_sql("duck"), tags=("timeseries", "window"))
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (first/last/min/max per pixel-bucket — the
    reduction that preserves line-chart rendering exactly): per
    (series, hour) emit the ids of the four extreme points plus the
    value envelope. The four rankings are window sorts over ONE
    hash-partitioning, then the group-by collapses in place — a single
    exchange end to end, which is what makes M4 viable as a
    display-resolution reduction over 100 TB of raw points."""
    views(spark, sf_dir, "events")
    return spark.sql(_m4_sql("spark"))


# ---------------------------------------------------------------------------
# rag_bm25_topk
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "stream")
_BM25_TOPN = 20


def _bm25_sql(d: str) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    # k1 = 1.2, b = 0.75, idf in the log-free rational form
    # (n - df + 0.5) / (df + 0.5). Multiplying idf and the tf-norm out to
    # a single integer numerator over a single integer denominator leaves
    # exactly ONE double division per (doc, term):
    #   idf      = (2n - 2df + 1) / (2df + 1)
    #   tf_norm  = 2.2 tf / (tf + 0.3 + 0.9 dl n / sum_dl)
    #            = 22 tf sum_dl / (10 tf sum_dl + 3 sum_dl + 9 dl n)
    # so both engines produce bit-identical doubles (decimal-literal
    # arithmetic never enters) and the top-k order is stable. The int64
    # products stay < 1e16 at every test SF; a 100 TB corpus would cast
    # the numerator/denominator to DOUBLE first, same shape.
    score = (
        "(CAST((2 * n_docs - 2 * df + 1) * 22 * tf * sum_dl AS DOUBLE)"
        " / CAST((2 * df + 1)"
        "        * (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"
        "        AS DOUBLE))"
    )
    per_term = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    total = " + ".join(
        f"COALESCE(s{i}, CAST(0 AS DOUBLE))" for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH {_tok_cte(d)},
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
),
stats AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM dl
),
tf AS (
  SELECT doc_id, word AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE word IN ({terms}) GROUP BY doc_id, word
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term, {score} AS score
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df ON df.term = tf.term
  CROSS JOIN stats
),
pivoted AS (
  SELECT doc_id, {per_term} FROM scored GROUP BY doc_id
)
SELECT doc_id, round({total}, 6) AS bm25
FROM pivoted
ORDER BY {total} DESC, doc_id
LIMIT {_BM25_TOPN}
"""


def _bm25_perdoc_ctes() -> str:
    """Spark-side one-pass BM25 base (r13 optimization): the oracle's
    tok→dl→tf→df→scored→pivoted chain re-plans the tokenize scan for
    every CTE reference (measured: 9 parquet scans / 14 exchange nodes
    in ``rag_rrf_fusion``'s physical plan). dl and every per-term tf are
    ONE conditional aggregation over one tokenize pass (``perdoc``), and
    sum_dl / n_docs / every per-term df are ONE 1-row aggregate over it
    (``g``, broadcast by the cross join) — same integers, therefore
    bit-identical scores. Guide §2.4 (remove shuffles outright) +
    §2.3 (aggregate before you shuffle)."""
    tfs = ", ".join(
        f"CAST(COUNT(CASE WHEN word = '{t}' THEN 1 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"CAST(COUNT(CASE WHEN tf{i} > 0 THEN 1 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    return f"""{_tok_cte('spark')},
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl, {tfs}
  FROM tok GROUP BY doc_id
),
g AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl,
         CAST(COUNT(*) AS BIGINT) AS n_docs, {dfs}
  FROM perdoc
)"""


def _bm25_score_i(i: int) -> str:
    """The oracle's per-(doc,term) rational score over perdoc×g columns
    (texts differ only by column renames tf→tf{i}, df→df{i})."""
    return (
        f"(CAST((2 * n_docs - 2 * df{i} + 1) * 22 * tf{i} * sum_dl AS DOUBLE)"
        f" / CAST((2 * df{i} + 1)"
        f"        * (10 * tf{i} * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"
        f"        AS DOUBLE))"
    )


@query("rag_bm25_topk", oracle=_bm25_sql("duck"), tags=("llm", "rag", "text"))
def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query against
    the corpus — the lexical half of hybrid RAG retrieval. The idf is the
    log-free rational form and the per-doc total is a fixed-order sum,
    keeping the ranking bit-stable across engines.

    Spark path (r13): ONE tokenize pass — per-doc dl and per-term tfs in
    a single conditional aggregation, the corpus stats + per-term dfs in
    a single 1-row aggregate cross-joined back (broadcast), so the only
    corpus-sized shuffle is the one doc_id aggregation (the oracle's
    multi-CTE join chain re-planned the tokenize scan 4×; plan: 9→2
    scans, 7→2 exchanges). Top-k is a TakeOrdered, never a global sort."""
    terms_sql = _bm25_perdoc_ctes()
    s_i = ", ".join(
        f"CASE WHEN tf{i} > 0 THEN {_bm25_score_i(i)} END AS s{i}"
        for i in range(len(_BM25_TERMS))
    )
    total = " + ".join(
        f"COALESCE(s{i}, CAST(0 AS DOUBLE))" for i in range(len(_BM25_TERMS))
    )
    any_tf = " OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))
    views(spark, sf_dir, "documents")
    return spark.sql(
        f"""
WITH {terms_sql},
pivoted AS (
  SELECT doc_id, {s_i}
  FROM perdoc CROSS JOIN g
  WHERE {any_tf}
)
SELECT doc_id, round({total}, 6) AS bm25
FROM pivoted
ORDER BY {total} DESC, doc_id
LIMIT {_BM25_TOPN}
"""
    )


# ---------------------------------------------------------------------------
# mm_modality_router
# ---------------------------------------------------------------------------


def _modality_blob(d: str) -> str:
    """Synthesize a binary column with a real magic-byte header chosen by
    doc_id % 4 — PNG / JPEG / WAV / raw text (same synthesis discipline as
    the other mm_* operators: deterministic fake payload, real plumbing)."""
    if d == "spark":
        body = "CAST(text AS BINARY)"
        png, jpg, wav = "X'89504E47'", "X'FFD8FFE0'", "X'52494646'"
        cat = "concat({h}, " + body + ")"
    else:
        body = "encode(text)"
        png, jpg, wav = r"'\x89\x50\x4E\x47'::BLOB", r"'\xFF\xD8\xFF\xE0'::BLOB", r"'\x52\x49\x46\x46'::BLOB"
        cat = "({h} || " + body + ")"
    return f"""
  CASE doc_id % 4
    WHEN 0 THEN {cat.format(h=png)}
    WHEN 1 THEN {cat.format(h=jpg)}
    WHEN 2 THEN {cat.format(h=wav)}
    ELSE {body}
  END"""


def _router_sql(d: str) -> str:
    return f"""
WITH blobs AS (
  SELECT doc_id, {_modality_blob(d)} AS blob FROM {tbl('documents', d)}
),
routed AS (
  SELECT doc_id, blob,
         CASE WHEN left(hex(blob), 8) = '89504E47' THEN 'image/png'
              WHEN left(hex(blob), 6) = 'FFD8FF'   THEN 'image/jpeg'
              WHEN left(hex(blob), 8) = '52494646' THEN 'audio/wav'
              ELSE 'text/plain' END AS modality
  FROM blobs
)
SELECT modality,
       CAST(COUNT(*) AS BIGINT) AS n_blobs,
       CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes,
       CAST(MIN(octet_length(blob)) AS BIGINT) AS min_bytes,
       CAST(MAX(octet_length(blob)) AS BIGINT) AS max_bytes
FROM routed
GROUP BY modality
ORDER BY modality
"""


@query("mm_modality_router", oracle=_router_sql("duck"), tags=("multimodal",))
def mm_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-sniffing router for mixed-modality lakes: detect each
    blob's type from its magic bytes (PNG/JPEG/RIFF headers) and route to
    the per-modality pipeline — here surfaced as per-modality routing
    stats. Unlike the decode operators this needs NO Python at all: the
    header probe is hex(blob) prefix comparison inside whole-stage
    codegen, so routing 100 TB of blobs costs exactly one scan."""
    views(spark, sf_dir, "documents")
    return spark.sql(_router_sql("spark"))


# ---------------------------------------------------------------------------
# scale_token_bucket_admit
# ---------------------------------------------------------------------------

# Integer micro-units: 60 units = 1 token. Refill 1 unit/second
# (= 1 token per minute), capacity 300 units (= 5 tokens), admission
# costs 60 units. Integer arithmetic end to end — bit-exact everywhere.
_TB_CAP = 300
_TB_COST = 60


def _token_bucket_oracle() -> str:
    # Sequential per-key recurrence — the textbook case SQL can only
    # express as a recursive fixpoint. Depth = max events per user (<100
    # at every test SF), one hash join per step.
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                     event_id) AS rn
  FROM events
),
tb AS (
  SELECT user_id, event_id, sec, rn,
         CAST({_TB_CAP - _TB_COST} AS BIGINT) AS units_after,
         TRUE AS admitted
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_id, e.sec, e.rn,
         CAST(LEAST({_TB_CAP}, tb.units_after + (e.sec - tb.sec))
              - CASE WHEN LEAST({_TB_CAP}, tb.units_after + (e.sec - tb.sec))
                          >= {_TB_COST}
                     THEN {_TB_COST} ELSE 0 END AS BIGINT),
         LEAST({_TB_CAP}, tb.units_after + (e.sec - tb.sec)) >= {_TB_COST}
  FROM ev e JOIN tb ON e.user_id = tb.user_id AND e.rn = tb.rn + 1
)
SELECT user_id, event_id, admitted, units_after
FROM tb ORDER BY user_id, rn
"""


@query(
    "scale_token_bucket_admit",
    oracle=_token_bucket_oracle(),
    tags=("scale", "stateful", "udf"),
)
def scale_token_bucket_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key token-bucket admission control (capacity 5 tokens, refill
    1/minute, 1 token per event) — deterministic rate limiting over an
    event log. The recurrence is inherently sequential PER KEY but
    embarrassingly parallel ACROSS keys, so the Spark plan is one hash
    partition on user_id + an Arrow-batched ``applyInPandas`` that walks
    each user's timeline with integer arithmetic (60 units = 1 token; no
    floats, no clock). This is the grouped-map pattern for any per-entity
    state machine the built-in window functions can't express; the
    DuckDB oracle is the same recurrence as a recursive CTE."""
    import pandas as pd

    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
    )

    def admit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "event_id"]).reset_index(drop=True)
        units, prev_sec = _TB_CAP, None
        out_admit, out_units = [], []
        for sec in pdf["sec"]:
            if prev_sec is not None:
                units = min(_TB_CAP, units + (sec - prev_sec))
            admitted = units >= _TB_COST
            if admitted:
                units -= _TB_COST
            out_admit.append(admitted)
            out_units.append(units)
            prev_sec = sec
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "admitted": out_admit,
                "units_after": out_units,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        admit, "user_id bigint, event_id bigint, admitted boolean, units_after bigint"
    )


# ---------------------------------------------------------------------------
# rag_rrf_fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 20
# Hot-term guard (the rag analogue of _CONTAM_DF_CAP): a query term whose
# document frequency exceeds this absolute cap is dropped from candidate
# generation, so the global rank windows sort at most
# |query_terms| * _RRF_DF_CAP rows no matter how stop-wordy a term is.
# Far above every test-SF df (max ~400 at sf0.1) — the guard only bites
# at corpus scales where an uncapped term would collapse the window to
# one giant partition.
_RRF_DF_CAP = 100_000


def _rrf_sql(d: str) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    score = (
        "(CAST((2 * n_docs - 2 * df + 1) * 22 * tf * sum_dl AS DOUBLE)"
        " / CAST((2 * df + 1)"
        "        * (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"
        "        AS DOUBLE))"
    )
    per_term = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    total = " + ".join(
        f"COALESCE(s{i}, CAST(0 AS DOUBLE))" for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH {_tok_cte(d)},
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
),
stats AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM dl
),
tf AS (
  SELECT doc_id, word AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE word IN ({terms}) GROUP BY doc_id, word
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
  HAVING COUNT(*) <= {_RRF_DF_CAP}
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, {score} AS score
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df ON df.term = tf.term
  CROSS JOIN stats
),
pivoted AS (
  SELECT s.doc_id,
         {total.replace('s0', 'p.s0').replace('s1', 'p.s1').replace('s2', 'p.s2')} AS bm25,
         CAST(COUNT(*) AS BIGINT) AS coverage,
         MAX(dl.dl) AS dl
  FROM scored s
  JOIN dl ON dl.doc_id = s.doc_id
  JOIN (SELECT doc_id, {per_term} FROM scored GROUP BY doc_id) p
    ON p.doc_id = s.doc_id
  GROUP BY s.doc_id, {total.replace('s0', 'p.s0').replace('s1', 'p.s1').replace('s2', 'p.s2')}
),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25,
         ROW_NUMBER() OVER (ORDER BY coverage DESC, dl, doc_id) AS rank_cov
  FROM pivoted
)
SELECT doc_id,
       CAST(rank_bm25 AS BIGINT) AS rank_bm25,
       CAST(rank_cov AS BIGINT) AS rank_cov,
       round(CAST(1 AS DOUBLE) / ({_RRF_K} + rank_bm25)
             + CAST(1 AS DOUBLE) / ({_RRF_K} + rank_cov), 6) AS rrf
FROM ranked
ORDER BY CAST(1 AS DOUBLE) / ({_RRF_K} + rank_bm25)
         + CAST(1 AS DOUBLE) / ({_RRF_K} + rank_cov) DESC, doc_id
LIMIT {_RRF_TOPN}
"""


@query("rag_rrf_fusion", oracle=_rrf_sql("duck"), tags=("llm", "rag"))
def rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval rankings — the
    standard hybrid-RAG merge. Ranker A is the BM25 score; ranker B is a
    coverage ranker (distinct query terms matched, shorter docs first) —
    in production B is the ANN ranking from ``sim_ann_lsh``/``sim_ann_ivf``,
    which returns (doc_id, rank) in exactly this shape. Only docs
    matching ≥1 query term enter the candidate set, and terms above the
    ``_RRF_DF_CAP`` document-frequency cap are dropped from candidate
    generation, so the global rank windows sort at most
    |query_terms| * cap rows — a stop-word query term can no longer pull
    the whole corpus into one window partition. The fused score is a
    fixed-order sum of two integer-denominator divisions — bit-stable.

    Spark path (r13): the same one-pass perdoc/g base as
    ``rag_bm25_topk`` (the oracle's CTE chain re-planned the tokenize
    scan 9× / 14 exchanges here, including a scored⋈scored self-join for
    the pivot); per-term scores, coverage and dl come straight off the
    conditional aggregation (s_i gated on the df cap, coverage = count
    of surviving terms — the same integers the scored/pivot join
    produced), so only the two bounded rank windows follow the one
    corpus aggregation. Guide §2.4."""
    n = len(_BM25_TERMS)
    terms_sql = _bm25_perdoc_ctes()
    s_i = ", ".join(
        f"CASE WHEN tf{i} > 0 AND df{i} <= {_RRF_DF_CAP} "
        f"THEN {_bm25_score_i(i)} END AS s{i}"
        for i in range(n)
    )
    coverage = " + ".join(
        f"(CASE WHEN tf{i} > 0 AND df{i} <= {_RRF_DF_CAP} "
        f"THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    total = " + ".join(
        f"COALESCE(s{i}, CAST(0 AS DOUBLE))" for i in range(n)
    )
    views(spark, sf_dir, "documents")
    return spark.sql(
        f"""
WITH {terms_sql},
pivoted AS (
  SELECT doc_id, {s_i}, CAST({coverage} AS BIGINT) AS coverage, dl
  FROM perdoc CROSS JOIN g
  WHERE {coverage} > 0
),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY {total} DESC, doc_id) AS rank_bm25,
         ROW_NUMBER() OVER (ORDER BY coverage DESC, dl, doc_id) AS rank_cov
  FROM pivoted
)
SELECT doc_id,
       CAST(rank_bm25 AS BIGINT) AS rank_bm25,
       CAST(rank_cov AS BIGINT) AS rank_cov,
       round(CAST(1 AS DOUBLE) / ({_RRF_K} + rank_bm25)
             + CAST(1 AS DOUBLE) / ({_RRF_K} + rank_cov), 6) AS rrf
FROM ranked
ORDER BY CAST(1 AS DOUBLE) / ({_RRF_K} + rank_bm25)
         + CAST(1 AS DOUBLE) / ({_RRF_K} + rank_cov) DESC, doc_id
LIMIT {_RRF_TOPN}
"""
    )


# ---------------------------------------------------------------------------
# sketch_kmv_distinct
# ---------------------------------------------------------------------------

_KMV_K = 64
_HASH_SPACE = 4294967296  # 2^32


def _kmv_hash(d: str) -> str:
    """user_id -> uniform 32-bit integer via the first 8 md5 hex digits,
    folded with positional arithmetic (no engine-specific hex-to-int
    builtin). Deterministic in both engines, so the sketch contents are
    identical."""
    from ..functions import hashing

    to_str = "CAST(user_id AS STRING)" if d == "spark" else "CAST(user_id AS VARCHAR)"
    hx = f"md5({to_str})"
    digits = " + ".join(
        f"CAST({hashing.hexdigit_val(f'substr({hx}, {i + 1}, 1)', d)} AS BIGINT)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"CAST({digits} AS BIGINT)"


def _kmv_hashes_sql(d: str) -> str:
    """The distinct (event_type, hash) table — the md5 pass every other
    stage of the sketch reads; both dialects inline it as a CTE (the
    Spark path re-runs the scan per reference, see
    :func:`sketch_kmv_distinct`)."""
    return (
        f"SELECT DISTINCT event_type, {_kmv_hash(d)} AS h "
        f"FROM {tbl('events', d)}"
    )


def _kmv_body(d: str, hashes_src: str) -> str:
    est = (
        f"CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)"
        f" ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_HASH_SPACE} / kth END"
    )
    return f"""
WITH hashes AS (SELECT * FROM {hashes_src}),
keyed AS (
  SELECT event_type, h FROM hashes
  UNION ALL
  SELECT '__all__' AS event_type, h FROM (SELECT DISTINCT h FROM hashes)
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rnk
  FROM keyed
),
sketch AS (
  SELECT event_type,
         CAST(MAX(h) AS BIGINT) AS kth,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM ranked WHERE rnk <= {_KMV_K}
  GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM hashes
  GROUP BY event_type
  UNION ALL
  SELECT '__all__', CAST(COUNT(DISTINCT h) AS BIGINT) FROM hashes
)
SELECT s.event_type, s.n_kept, s.kth,
       round({est}, 2) AS kmv_estimate,
       e.exact_distinct
FROM sketch s JOIN exact e ON e.event_type = s.event_type
ORDER BY s.event_type
"""


def _kmv_sql(d: str) -> str:
    """One-WITH composition for the oracle (DuckDB materializes the
    multiply-referenced ``hashes`` CTE itself)."""
    return _kmv_body(d, f"({_kmv_hashes_sql(d)})")


@query("sketch_kmv_distinct", oracle=_kmv_sql("duck"), tags=("sketch", "scale"))
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64: keep the k
    smallest 32-bit hashes per group; estimate = (k-1) * 2^32 / kth-min
    (Bar-Yossef et al. 2002, public). Unlike HLL the sketch content is a
    deterministic function of the data — same hashes in any engine, any
    partitioning — so it gets a full value oracle, not just a bound
    test. Sketches MERGE by taking the min-k of a union (the '__all__'
    row is exactly that), which is what makes KMV the right distinct
    counter for re-aggregatable 100 TB rollup layers: per-partition
    sketches are k rows each, the merge is associative, and the exact
    distinct column here exhibits the estimate quality.

    r14 (guide §5, tried and REVERTED): the ``hashes`` CTE (the md5
    pass over events) heads a 4-way diamond, so CTE inlining re-runs
    the hash scan 4×. Persisting it once was measured at sf0.1 in two
    calibrated gated windows: 0.525 s before → 1.091 s after (×2.08
    WORSE) — the DISTINCT's exchange plus materializing the ~|events|
    row cache costs more than three extra columnar md5 scans at this
    scale (the same persist-barrier trap r13 measured on
    text_unigram_kl_mix and mm_crossmodal_joint_dedup). The inlined
    4-scan shape is the keeper; each scan is a pipelined
    scan→project→partial-agg with no barrier."""
    views(spark, sf_dir, "events")
    return spark.sql(_kmv_sql("spark"))


# ---------------------------------------------------------------------------
# text_chunk_dedup — C4-style sub-document dedup accounting.
# ---------------------------------------------------------------------------

_CHUNK_W = 10


def _chunk_dedup_sql(d: str) -> str:
    if d == "spark":
        chunks = f"""
chunks AS (
  SELECT doc_id, chunk
  FROM (
    SELECT doc_id,
           posexplode(transform(
             sequence(0, (size(w) DIV {_CHUNK_W}) - 1),
             i -> array_join(slice(w, i * {_CHUNK_W} + 1, {_CHUNK_W}), ' ')
           )) AS (cpos, chunk)
    FROM (SELECT doc_id, split(text, ' ') AS w FROM {tbl('documents', d)})
    WHERE size(w) >= {_CHUNK_W}
  )
)"""
    else:
        chunks = f"""
chunks AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, len(w) // {_CHUNK_W}),
           i -> array_to_string(
                  list_slice(w, i * {_CHUNK_W} + 1, i * {_CHUNK_W} + {_CHUNK_W}),
                  ' ')
         )) AS chunk
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {tbl('documents', d)})
  WHERE len(w) >= {_CHUNK_W}
)"""
    return f"""
WITH {chunks},
freq AS (
  SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_occ FROM chunks GROUP BY chunk
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       round(CAST(SUM(CASE WHEN f.n_occ > 1 THEN 0 ELSE 1 END) AS DOUBLE)
             / COUNT(*), 6) AS retained_frac
FROM chunks c JOIN freq f ON f.chunk = c.chunk
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


@query(
    "text_chunk_dedup",
    oracle=_chunk_dedup_sql("duck"),
    tags=("llm", "text", "dedup"),
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) dedup accounting in the C4 style
    (Raffel et al. 2020, public — C4 dropped duplicate three-sentence
    spans across the corpus): cut each document into fixed 10-word
    chunks, count corpus-wide chunk occurrences, and report the
    per-document retained fraction after removing every chunk that
    appears more than once. The chunking is a narrow codegen map; the
    only shuffles are the chunk-frequency count and the re-join, both
    partitioned on the chunk hash — cost scales with chunk count, never
    |corpus|². Document-level dedup misses this entirely (boilerplate
    rides inside otherwise-unique pages), which is why chunk-level
    accounting is a first-class curation signal."""
    views(spark, sf_dir, "documents")
    return spark.sql(_chunk_dedup_sql("spark"))


# ---------------------------------------------------------------------------
# ts_holt_linear — double-exponential smoothing as a grouped state machine.
# ---------------------------------------------------------------------------


def _holt_oracle() -> str:
    # alpha = beta = 1/2: every recurrence step is adds plus a divide-by-2
    # (an IEEE exponent shift), so the pandas loop and this recursive CTE
    # produce bit-identical doubles at every step.
    l_new = "(e.value + (tb.l + tb.b)) / 2"
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                     event_id) AS rn
  FROM events
),
tb AS (
  SELECT user_id, event_id, rn,
         CAST(value AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_id, e.rn,
         {l_new},
         (({l_new} - tb.l) + tb.b) / 2
  FROM ev e JOIN tb ON e.user_id = tb.user_id AND e.rn = tb.rn + 1
)
SELECT user_id, event_id, l AS level, b AS trend
FROM tb ORDER BY user_id, rn
"""


@query(
    "ts_holt_linear",
    oracle=_holt_oracle(),
    tags=("timeseries", "stateful", "udf"),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing, alpha = beta = 1/2,
    per user series — level + trend state carried through a sequential
    recurrence that window functions cannot express (the trend feeds
    back into the next level). Same shape as the token-bucket operator:
    one hash partition on the series key, an Arrow-batched grouped-map
    walking each series in order — sequential per key, parallel across
    keys. Halving is an exponent shift, so the Python loop and the
    recursive-CTE oracle agree bit-for-bit."""
    import pandas as pd

    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "CAST(value AS DOUBLE) AS value",
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "event_id"]).reset_index(drop=True)
        levels, trends = [], []
        l = b = None
        for y in pdf["value"]:
            if l is None:
                l, b = float(y), 0.0
            else:
                l_prev = l
                l = (float(y) + (l + b)) / 2
                b = ((l - l_prev) + b) / 2
            levels.append(l)
            trends.append(b)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "level": levels,
                "trend": trends,
            }
        )

    # raw doubles out, NO rounding anywhere: halving yields dyadic
    # rationals that sit exactly on .5 decimal boundaries, where the two
    # engines' round() disagree — but the unrounded doubles are
    # bit-identical, which is the stronger contract.
    return ev.groupBy("user_id").applyInPandas(
        smooth, "user_id bigint, event_id bigint, level double, trend double"
    )


# ---------------------------------------------------------------------------
# ts_cusum_drift — sequential change detection per series.
# ---------------------------------------------------------------------------

# CUSUM parameters: target mean 50, slack 5, alarm threshold 200 — all
# integers so only the data values contribute float bits.
_CUSUM_TARGET = 50
_CUSUM_SLACK = 5
_CUSUM_H = 200


def _cusum_oracle() -> str:
    up = f"GREATEST(CAST(0 AS DOUBLE), tb.s_hi + (e.value - {_CUSUM_TARGET + _CUSUM_SLACK}))"
    dn = f"GREATEST(CAST(0 AS DOUBLE), tb.s_lo + ({_CUSUM_TARGET - _CUSUM_SLACK} - e.value))"
    return f"""
WITH RECURSIVE ev AS (
  SELECT event_type, user_id, event_id, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                     event_id) AS rn
  FROM events
),
tb AS (
  SELECT event_type, user_id, event_id, rn,
         GREATEST(CAST(0 AS DOUBLE), value - {_CUSUM_TARGET + _CUSUM_SLACK}) AS s_hi,
         GREATEST(CAST(0 AS DOUBLE), {_CUSUM_TARGET - _CUSUM_SLACK} - value) AS s_lo
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.event_type, e.user_id, e.event_id, e.rn, {up}, {dn}
  FROM ev e JOIN tb ON e.event_type = tb.event_type
                   AND e.user_id = tb.user_id AND e.rn = tb.rn + 1
)
SELECT event_type, user_id, event_id, s_hi, s_lo,
       (s_hi > {_CUSUM_H} OR s_lo > {_CUSUM_H}) AS drift_alarm
FROM tb ORDER BY event_type, user_id, rn
"""


@query(
    "ts_cusum_drift",
    oracle=_cusum_oracle(),
    tags=("timeseries", "stateful", "udf"),
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change detection (Page 1954, public) per series:
    upper/lower cumulative sums that reset at zero and alarm past a
    threshold — the standard drift monitor for data-quality pipelines.
    Series key is (event_type, user_id): hundreds of short independent
    series rather than a handful of long ones, so the grouped map scales
    out and the oracle's recursion depth stays bounded by the per-user
    history, not the table.
    The running max(0, s + deviation) recurrence is sequential per
    series (a reset depends on everything before it), so it rides the
    same one-exchange grouped-map shape as ``ts_holt_linear``; adds and
    max against 0.0 are bit-exact in IEEE double, so the raw state
    values hash-match the recursive-CTE oracle with no rounding."""
    import pandas as pd

    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "user_id",
        "event_id",
        "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "CAST(value AS DOUBLE) AS value",
    )
    hi_ref = float(_CUSUM_TARGET + _CUSUM_SLACK)
    lo_ref = float(_CUSUM_TARGET - _CUSUM_SLACK)

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "event_id"]).reset_index(drop=True)
        s_hi = s_lo = 0.0
        his, los, alarms = [], [], []
        for y in pdf["value"]:
            y = float(y)
            s_hi = max(0.0, s_hi + (y - hi_ref))
            s_lo = max(0.0, s_lo + (lo_ref - y))
            his.append(s_hi)
            los.append(s_lo)
            alarms.append(s_hi > _CUSUM_H or s_lo > _CUSUM_H)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "s_hi": his,
                "s_lo": los,
                "drift_alarm": alarms,
            }
        )

    return ev.groupBy("event_type", "user_id").applyInPandas(
        cusum,
        "event_type string, user_id bigint, event_id bigint,"
        " s_hi double, s_lo double, drift_alarm boolean",
    )


# ---------------------------------------------------------------------------
# profile_drift_chi2 — distribution drift between two time periods.
# ---------------------------------------------------------------------------

_DRIFT_BINS = 10
_DRIFT_SPLIT = "2024-01-15 00:00:00"


def _drift_sql(d: str) -> str:
    # Fixed [0, 100) value range binned into 10 equal widths (bin 9 takes
    # the tail): integer bin ids, integer counts — the chi-square-style
    # statistic is a ratio of exact integers, so exact in both engines.
    return f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT}' THEN 0 ELSE 1 END AS period,
         LEAST({_DRIFT_BINS - 1},
               GREATEST(0, CAST(floor(value / {100 // _DRIFT_BINS})
                                AS BIGINT))) AS bin
  FROM {tbl('events', d)}
),
cells AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM binned GROUP BY event_type, bin
),
with_totals AS (
  SELECT event_type, bin, na, nb,
         CAST(SUM(na) OVER (PARTITION BY event_type) AS BIGINT) AS ta,
         CAST(SUM(nb) OVER (PARTITION BY event_type) AS BIGINT) AS tb
  FROM cells
)
SELECT event_type, bin, na, nb,
       round((CAST(na AS DOUBLE) * tb - CAST(nb AS DOUBLE) * ta)
             * (CAST(na AS DOUBLE) * tb - CAST(nb AS DOUBLE) * ta)
             / (CAST(ta AS DOUBLE) * tb * (na + nb)), 6) AS chi2_term
FROM with_totals
ORDER BY event_type, bin
"""


@query("profile_drift_chi2", oracle=_drift_sql("duck"), tags=("quality", "profiling"))
def profile_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: split the stream at a calendar
    boundary, histogram each series' values into fixed bins, and emit
    the per-cell chi-square contribution comparing the two periods —
    the data-quality check that catches upstream schema/meaning changes
    before they poison training data. (PSI, the other standard drift
    score, needs ln(); the chi-square form is log-free.) The na*tb
    cross-products are computed in DOUBLE — identical parenthesization
    in both dialects keeps the engines bit-identical, and unlike BIGINT
    the products cannot overflow at 100 TB row counts (values beyond
    2^53 round, but round identically). One scan, one shuffle to the (series,
    bin) grid, and the per-series totals as a window over that SAME
    partitioning (a totals self-join would re-scan the table — CTEs
    inline) — drift monitoring at 100 TB costs the same as counting."""
    views(spark, sf_dir, "events")
    return spark.sql(_drift_sql("spark"))


# ---------------------------------------------------------------------------
# sql_listagg_ordered — deterministic ordered string aggregation.
# ---------------------------------------------------------------------------


def _listagg_sql(d: str) -> str:
    if d == "spark":
        agg = "listagg(o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)"
    else:
        agg = "string_agg(o_orderstatus, ',' ORDER BY o_orderstatus)"
    return f"""
WITH uniq AS (
  SELECT DISTINCT o_orderpriority, o_orderstatus FROM {tbl('orders', d)}
)
SELECT o_orderpriority,
       {agg} AS statuses,
       CAST(COUNT(*) AS BIGINT) AS n_statuses
FROM uniq
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("sql_listagg_ordered", oracle=_listagg_sql("duck"), tags=("sql", "agg"))
def sql_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 ``listagg ... WITHIN GROUP``,
    DuckDB ``string_agg(... ORDER BY)``): the list is deterministic only
    because an explicit ORDER BY pins the concatenation order — unordered
    listagg is partition-order-dependent and would never hash-match.
    Pre-distincting keeps the aggregation state bounded by the domain."""
    views(spark, sf_dir, "orders")
    return spark.sql(_listagg_sql("spark"))


# ---------------------------------------------------------------------------
# sql_try_arithmetic — error-safe expression surface under ANSI mode.
# ---------------------------------------------------------------------------

_I64_MAX = 9223372036854775807


def _try_arith_sql(d: str) -> str:
    if d == "spark":
        # ANSI mode: plain /, CAST and * THROW on bad input; the try_
        # variants return NULL instead — the row-level error-isolation
        # contract (reference semantics: per-record failure isolation,
        # partitioner/index.js catch-per-record).
        div = "try_divide(l_extendedprice, l_quantity - 25)"
        cst = ("try_cast(CASE WHEN l_orderkey % 3 = 0 THEN 'x' "
               "ELSE CAST(l_orderkey AS STRING) END AS BIGINT)")
        mul = f"try_multiply(l_orderkey, {_I64_MAX})"
    else:
        div = ("CASE WHEN l_quantity - 25 = 0 THEN NULL "
               "ELSE l_extendedprice / (l_quantity - 25) END")
        cst = ("TRY_CAST(CASE WHEN l_orderkey % 3 = 0 THEN 'x' "
               "ELSE CAST(l_orderkey AS VARCHAR) END AS BIGINT)")
        mul = f"CASE WHEN l_orderkey > 1 THEN NULL ELSE l_orderkey * {_I64_MAX} END"
    return f"""
WITH probed AS (
  SELECT l_returnflag,
         {div} AS safe_div,
         {cst} AS safe_cast,
         {mul} AS safe_mul
  FROM {tbl('lineitem', d)}
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN safe_div IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_by_zero,
       CAST(SUM(CASE WHEN safe_cast IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_casts,
       CAST(SUM(CASE WHEN safe_mul IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overflows,
       round(MIN(safe_div), 6) AS min_div,
       round(MAX(safe_div), 6) AS max_div
FROM probed
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("sql_try_arithmetic", oracle=_try_arith_sql("duck"), tags=("sql", "scalar"))
def sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic under ANSI mode: ``try_divide`` /
    ``try_cast`` / ``try_multiply`` convert row-level failures (divide by
    zero, malformed cast, int64 overflow) into NULLs instead of killing
    the job — Spark's row-granular analogue of the reference's
    per-record failure isolation. At 100 TB one poisoned row must never
    abort a stage; the NULL counts per group are exactly the DLQ volume
    a strict pipeline would route. The oracle spells the same semantics
    with guarded CASE expressions."""
    views(spark, sf_dir, "lineitem")
    return spark.sql(_try_arith_sql("spark"))
