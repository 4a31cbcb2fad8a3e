"""Round-5 catalog additions.

Dedup/curation: repeated-substring span dedup (stats, applied strip,
incremental gram-count store), Efraimidis-Spirakis weighted sampling,
char-entropy quality signal, feature hashing, BM25 ranking.
Similarity: product quantization (encode + ADC top-k), IVF-PQ
composite search. Temporal/relational: gaps-and-islands streaks, M4
downsampling, ordered-stage funnel, point-in-time join vs SCD2,
native session_window twin, mergeable HLL sketch contract. Layout:
Z-order (Morton) and Hilbert clustering keys. API surface:
mapInArrow.

Same contract as every other catalog module: each query has a DuckDB
oracle with identical column names and engine-portable arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textfns import HASH_MOD
from ..functions import textfns
from ..operators import dedup, selection, similarity, temporal
from . import relational
from ._util import (
    centroid_means,
    memo,
    round_to,
    spread,
    sql_char_hash,
    sql_round,
    sql_tokens,
    t,
)


def _docs(spark: SparkSession, sf_dir: str):
    """documents scan spread across cores: every consumer in this
    module runs tokenize/hash/explode work per row BEFORE its first
    shuffle, which serializes on the single-row-group test file
    (see _util.spread — no-op on real multi-split tables)."""
    return spread(t(spark, sf_dir, "documents"))

# ---------------------------------------------------------------------------
# repeated-substring (duplicated span) dedup — Lee et al. 2022 family
# ---------------------------------------------------------------------------

SPAN_K = 4


def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc verbatim duplicated-span statistics over word 4-grams.

    The distributed formulation of suffix-array substring dedup: a
    position is duplicated when its k-gram occurs >= 2 times corpus-wide;
    overlapping duplicated positions merge into maximal spans
    (operators/dedup.duplicated_span_stats). Reference repo has no such
    operator (SURVEY.md §2.5 — no text ops at all); this is north-star
    LLM-curation surface.
    """
    d = _docs(spark, sf_dir)
    return dedup.duplicated_span_stats(d, "text", "doc_id", k=SPAN_K)


_DUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+{SPAN_K - 1}], ' ') AS gram
  FROM toks, unnest(range(1, greatest(length(tk) - {SPAN_K - 1}, 0) + 1)) AS u(i)
),
dupg AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
),
duppos AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {SPAN_K} THEN 0 ELSE 1 END AS new_span
  FROM duppos
),
numbered AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS UNBOUNDED PRECEDING) AS span
  FROM flagged
),
spans AS (
  SELECT doc_id, span, count(*) AS n_pos,
         max(pos) - min(pos) + {SPAN_K} AS cov
  FROM numbered GROUP BY doc_id, span
),
per_doc AS (
  SELECT doc_id, sum(n_pos)::BIGINT AS dup_positions,
         count(*)::BIGINT AS dup_spans,
         sum(cov)::BIGINT AS dup_token_cov
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.dup_positions, 0)::BIGINT AS dup_positions,
       coalesce(p.dup_spans, 0)::BIGINT AS dup_spans,
       coalesce(p.dup_token_cov, 0)::BIGINT AS dup_token_cov
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


LCS_W = 32


def docs_max_dup_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximal duplicated extents (suffix-window LCS —
    operators/dedup.suffix_window_lcs_stats): the Lee et al. 2022
    completeness step over the k-gram span form, on the
    planted-duplicate corpus where every base doc's text recurs
    verbatim inside its perturbed copy — so true extents run far past
    k and the k-gram approximation visibly under-reports them.
    Per-position lcp is the exact repeated-prefix length (capped at
    {LCS_W}); relations to docs_dup_spans' k-gram form (position sets
    EQUAL, coverage >=) are pinned in tests/test_spans.py."""
    from .llm import _perturbed_docs

    corpus = _perturbed_docs(spark, sf_dir)
    return dedup.suffix_window_lcs_stats(
        corpus, "text", "doc_id", k=SPAN_K, w=LCS_W
    )


def docs_max_dup_extents_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-anchor SCALE PATH of docs_max_dup_extents: the suffix
    sort window sub-partitions each k-gram anchor by the (k+1)-th
    suffix token, and an anchor-repeats join restores the exactly-k
    floor — so a web-scale stop-gram anchor ("in the of") spreads over
    |vocab| tasks instead of funnelling one window partition. Output
    is provably EQUAL to the unsalted form (argument in
    operators/dedup._suffix_lcp_scored; twin-pinned in
    tests/test_spans.py), so it shares docs_max_dup_extents' oracle —
    the driver verifies the salted plan produces the exact stats."""
    from .llm import _perturbed_docs

    corpus = _perturbed_docs(spark, sf_dir)
    return dedup.suffix_window_lcs_stats(
        corpus, "text", "doc_id", k=SPAN_K, w=LCS_W, salt_anchors=True
    )


def _lcs_scored_ctes() -> str:
    """Shared WITH-body through ``scored`` (doc_id, pos, suffix, lcp)
    for the suffix-window LCS oracles (_max_dup_sql, _top_extents_sql)
    over the planted corpus."""
    from .llm import _PERTURB_SQL

    def lcp_sql(o: str) -> str:
        # list_position returns 0 for a missing element on this DuckDB
        # (NULL on others) — nullif routes BOTH conventions to the
        # all-equal minlen branch, mirroring Spark's p == 0 case
        minlen = f"least(len(suffix), len({o}))"
        return (
            f"(CASE WHEN {o} IS NULL THEN 0 ELSE coalesce(nullif("
            f"list_position(list_transform(range(1, {minlen} + 1), "
            f"mi -> (suffix[mi] = {o}[mi])::INT), 0), 0) - 1, {minlen}) END)"
        )

    k, w = SPAN_K, LCS_W
    return f"""base AS ({_PERTURB_SQL}),
toks AS (SELECT doc_id, {sql_tokens("text")} AS tk FROM base),
sufs AS (
  SELECT doc_id, i - 1 AS pos, tk[i : i + {w - 1}] AS suffix,
         array_to_string(tk[i : i + {k - 1}], ' ') AS anchor
  FROM toks, unnest(range(1, greatest(length(tk) - {k - 1}, 0) + 1)) AS u(i)
),
nb AS (
  SELECT doc_id, pos, suffix,
         lag(suffix) OVER w1 AS prv, lead(suffix) OVER w1 AS nxt
  FROM sufs
  WINDOW w1 AS (PARTITION BY anchor ORDER BY suffix, doc_id, pos)
),
scored AS (
  SELECT doc_id, pos, suffix,
         greatest({lcp_sql("prv")}, {lcp_sql("nxt")})::BIGINT AS lcp
  FROM nb
)"""


def _max_dup_sql() -> str:
    k = SPAN_K
    return f"""
WITH {_lcs_scored_ctes()},
dup AS (SELECT doc_id, pos, lcp FROM scored WHERE lcp >= {k}),
cov AS (
  SELECT doc_id, pos, lcp,
         greatest(pos + lcp - greatest(coalesce(max(pos + lcp) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos), pos),
           0) AS addcov
  FROM dup
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_dup_pos,
         max(lcp)::BIGINT AS max_dup_len,
         sum(addcov)::BIGINT AS dup_token_cov_lcs
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(p.n_dup_pos, 0)::BIGINT AS n_dup_pos,
       coalesce(p.max_dup_len, 0)::BIGINT AS max_dup_len,
       coalesce(p.dup_token_cov_lcs, 0)::BIGINT AS dup_token_cov_lcs
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


TOP_EXTENTS_N = 20


def corpus_top_dup_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-{TOP_EXTENTS_N} maximal duplicated extents WITH their
    text (operators/dedup.top_dup_extents) — the artifact an operator
    inspects to see WHAT is duplicated (boilerplate, licenses,
    templates) before choosing a strip policy. Deterministic
    TakeOrdered by (extent_len desc, doc_id, pos); extent text sliced
    from the position's suffix window, no second corpus pass."""
    from .llm import _perturbed_docs

    corpus = _perturbed_docs(spark, sf_dir)
    return dedup.top_dup_extents(
        corpus, "text", "doc_id", k=SPAN_K, w=LCS_W, n=TOP_EXTENTS_N
    )


def _top_extents_sql() -> str:
    return f"""
WITH {_lcs_scored_ctes()}
SELECT doc_id, pos, lcp AS extent_len,
       array_to_string(suffix[1 : lcp::INT], ' ') AS extent_text
FROM scored WHERE lcp >= {SPAN_K}
ORDER BY extent_len DESC, doc_id, pos LIMIT {TOP_EXTENTS_N}
"""


def docs_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the span dedup: rebuild each document with every token
    covered by a corpus-duplicated 4-gram span removed
    (operators/dedup.strip_duplicated_spans — the boilerplate-stripping
    variant of Lee et al. substring dedup)."""
    d = _docs(spark, sf_dir)
    return dedup.strip_duplicated_spans(d, "text", "doc_id", k=SPAN_K)


_STRIP_SQL = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+{SPAN_K - 1}], ' ') AS gram
  FROM toks, unnest(range(1, greatest(length(tk) - {SPAN_K - 1}, 0) + 1)) AS u(i)
),
dupg AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
),
dups AS (
  SELECT g.doc_id, list_sort(list(g.pos)) AS dups
  FROM grams g JOIN dupg USING (gram) GROUP BY g.doc_id
),
j AS (
  SELECT t2.doc_id, t2.tk, coalesce(d.dups, []::BIGINT[]) AS dups
  FROM toks t2 LEFT JOIN dups d USING (doc_id)
),
kept AS (
  SELECT doc_id, length(tk)::BIGINT AS n,
    list_filter(
      list_transform(range(1, length(tk) + 1),
        i -> CASE WHEN length(list_filter(dups,
                     p -> (i - 1) >= p AND (i - 1) < p + {SPAN_K})) > 0
             THEN NULL ELSE tk[i] END),
      x -> x IS NOT NULL) AS kt
  FROM j
)
SELECT doc_id,
       -- fully-stripped docs: array_to_string([]) is NULL in DuckDB,
       -- '' in Spark's concat_ws — align on ''
       coalesce(array_to_string(kt, ' '), '') AS clean_text,
       (n - length(kt))::BIGINT AS n_removed
FROM kept
"""


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

WSWR_K = 10
WSWR_SALT = "wswr"


def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement: k=10 docs per
    source stratum, probability proportional to length (n_chars).
    Output is integer/string-only — the float A-ES score orders rows but
    never reaches the hashed result."""
    d = _docs(spark, sf_dir)
    out = selection.weighted_sample_without_replacement(
        d.select("source", "doc_id", "n_chars"),
        key_col="doc_id",
        weight_col="n_chars",
        k=WSWR_K,
        strata_cols=["source"],
        salt=WSWR_SALT,
    )
    return out.select(
        "source",
        "doc_id",
        F.col("n_chars").alias("weight"),
        F.col("rk").cast("long").alias("rk"),
    )


_WSWR_SQL = f"""
WITH scored AS (
  SELECT source, doc_id, n_chars,
         ln(({sql_char_hash(f"(doc_id::VARCHAR || '{WSWR_SALT}')")} + 1)
            / {float(HASH_MOD + 1)}) / n_chars AS s
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars AS weight,
         row_number() OVER (PARTITION BY source ORDER BY s DESC, doc_id) AS rk
  FROM scored
)
SELECT source, doc_id, weight, rk FROM ranked WHERE rk <= {WSWR_K}
"""


# ---------------------------------------------------------------------------
# gaps-and-islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------


def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-active-day streak summary over the events
    stream (gaps-and-islands via the day - row_number island key;
    operators/temporal.activity_streaks)."""
    e = t(spark, sf_dir, "events")
    return temporal.activity_streaks(e, entity_col="user_id", ts_col="ts")


_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP)::DATE AS day FROM events
),
streaks AS (
  SELECT user_id, day - (row_number() OVER (
           PARTITION BY user_id ORDER BY day))::INT AS g,
         day
  FROM days
),
agg AS (
  SELECT user_id, g, count(*)::BIGINT AS len, min(day) AS start
  FROM streaks GROUP BY user_id, g
),
per_user AS (
  SELECT user_id, sum(len)::BIGINT AS active_days,
         count(*)::BIGINT AS n_streaks, max(len)::BIGINT AS max_streak
  FROM agg GROUP BY user_id
)
SELECT p.user_id, p.active_days, p.n_streaks, p.max_streak,
       (SELECT min(a.start) FROM agg a
        WHERE a.user_id = p.user_id AND a.len = p.max_streak
       ) AS max_streak_start
FROM per_user p
"""


# ---------------------------------------------------------------------------
# funnel analysis (ordered-stage conversion)
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user view→click→purchase funnel: earliest view, earliest
    click strictly after it, earliest purchase strictly after that,
    and the stage reached (operators/temporal.funnel_stages — one
    collect shuffle + row-local HOF passes, no self-joins)."""
    e = t(spark, sf_dir, "events")
    return temporal.funnel_stages(
        e,
        entity_col="user_id",
        ts_col="ts",
        type_col="event_type",
        stages=list(FUNNEL_STAGES),
    )


def funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-to-stage conversion summary over the per-user funnel: how
    many users reach each ordered stage and the conversion rate from
    the previous one — the report a growth team reads. One tiny
    aggregate over the funnel op's per-user rows; rates are exact
    integer ratios rounded portably."""
    per_user = events_funnel(spark, sf_dir)
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.sum((F.col("stage") >= k).cast("long")).alias(f"n{k}")
            for k in (1, 2, 3)
        ],
    )
    rows = []
    names = ["all_users", *FUNNEL_STAGES]
    for k in range(4):
        prev = F.col(f"n{k - 1}") if k else F.col("n0")
        rows.append(
            F.struct(
                F.lit(k).alias("stage"),
                F.lit(names[k]).alias("stage_name"),
                F.col(f"n{k}").alias("n_users"),
                F.when(
                    prev > 0,
                    round_to(
                        F.col(f"n{k}").cast("double") / prev.cast("double"), 6
                    ),
                ).alias("conversion_from_prev"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def _funnel_dropoff_sql() -> str:
    names = ["all_users", *FUNNEL_STAGES]
    selects = []
    for k in range(4):
        prev = f"n{k - 1}" if k else "n0"
        selects.append(
            f"SELECT {k} AS stage, '{names[k]}' AS stage_name, "
            f"n{k} AS n_users, "
            f"CASE WHEN {prev} > 0 THEN "
            + sql_round(f"n{k}::DOUBLE / {prev}::DOUBLE", 6)
            + " END AS conversion_from_prev FROM agg"
        )
    return (
        "WITH f AS (" + _FUNNEL_SQL + "), agg AS ("
        "SELECT count(*)::BIGINT AS n0, "
        "sum((stage >= 1)::INT)::BIGINT AS n1, "
        "sum((stage >= 2)::INT)::BIGINT AS n2, "
        "sum((stage >= 3)::INT)::BIGINT AS n3 FROM f) "
        + " UNION ALL ".join(selects)
    )


_FUNNEL_SQL = """
WITH norm AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
),
v AS (
  SELECT user_id, min(ts) AS t_view FROM norm
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT n.user_id, min(n.ts) AS t_click
  FROM norm n JOIN v USING (user_id)
  WHERE n.event_type = 'click' AND n.ts > v.t_view
  GROUP BY n.user_id
),
p AS (
  SELECT n.user_id, min(n.ts) AS t_purchase
  FROM norm n JOIN c USING (user_id)
  WHERE n.event_type = 'purchase' AND n.ts > c.t_click
  GROUP BY n.user_id
),
u AS (SELECT DISTINCT user_id FROM norm)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
       (CASE WHEN p.t_purchase IS NOT NULL THEN 3
             WHEN c.t_click IS NOT NULL THEN 2
             WHEN v.t_view IS NOT NULL THEN 1
             ELSE 0 END)::INT AS stage
FROM u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
"""


# ---------------------------------------------------------------------------
# point-in-time join against the SCD2 dimension (feature-store pattern)
# ---------------------------------------------------------------------------

PIT_MOD = 30


def orders_pit_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each order probes the SCD2 customer-history
    dimension at a deterministic version (o_orderkey % 30) and gets the
    acctbal that was valid THEN — max valid_from <= probe version, the
    leakage-free feature-store lookup. Equi-join on the customer key
    (hash join, scale-safe) + a version filter + one max_by aggregate;
    no interval explosion, no window over the fact table."""
    from .cdcq import scd2_customer_history

    hist = scd2_customer_history(spark, sf_dir)
    o = t(spark, sf_dir, "orders")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % PIT_MOD).cast("int").alias("v"),
    )
    j = probe.join(
        hist, probe["o_custkey"] == hist["c_custkey"]
    ).filter(F.col("valid_from") <= F.col("v"))
    return j.groupBy("o_orderkey", "o_custkey", "v").agg(
        F.max_by("c_acctbal", "valid_from").alias("acctbal_asof"),
        F.max("valid_from").alias("asof_from"),
    )


def _pit_sql() -> str:
    from .cdcq import ORACLES as CDC_ORACLES

    return f"""
WITH hist AS ({CDC_ORACLES["scd2_customer_history"]}),
probe AS (
  SELECT o_orderkey, o_custkey, (o_orderkey % {PIT_MOD})::INT AS v
  FROM orders
),
j AS (
  SELECT p.o_orderkey, p.o_custkey, p.v, h.c_acctbal, h.valid_from
  FROM probe p JOIN hist h ON p.o_custkey = h.c_custkey
  WHERE h.valid_from <= p.v
)
SELECT o_orderkey, o_custkey, v,
       max_by(c_acctbal, valid_from) AS acctbal_asof,
       max(valid_from) AS asof_from
FROM j GROUP BY o_orderkey, o_custkey, v
"""


# ---------------------------------------------------------------------------
# mergeable HLL sketches (Apache DataSketches via Spark 3.5+ hll_* fns)
# ---------------------------------------------------------------------------


def sketch_merge_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioned-sketch scale pattern as a tolerance contract:
    build one HLL sketch of distinct users PER DAY, union the partial
    sketches, and require (a) the merged estimate equals the estimate
    of one global sketch bit-for-bit — HLL union is a register-wise
    max, so pre-aggregating by partition is lossless — and (b) both
    land within 10% of the exact distinct count. This is how a 100 TB
    table answers COUNT(DISTINCT) incrementally: per-partition sketch
    columns persisted at ingest, merged at query time, raw data never
    re-read. The DuckDB oracle emits the exact count and literal
    trues, so a broken merge fails the driver hash. lgConfigK is
    PINNED (not the library default) so the register-wise-max
    losslessness contract survives a Spark/DataSketches default bump
    (ADVICE r05); union disallows mixed lgConfigK explicitly."""
    lg_k = 12
    e = t(spark, sf_dir, "events")
    per_day = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk")
    )
    merged = per_day.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("sk", F.lit(False))
        ).alias("est_merged")
    )
    direct = e.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(lg_k))
        ).alias("est_direct"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    out = direct.crossJoin(merged)
    return out.select(
        "n_exact",
        (F.col("est_merged") == F.col("est_direct")).alias(
            "merge_lossless"
        ),
        (
            F.abs(F.col("est_merged") - F.col("n_exact"))
            <= F.lit(0.1) * F.col("n_exact")
        ).alias("est_within_10pct"),
    )


_SKETCH_SQL = """
SELECT count(DISTINCT user_id)::BIGINT AS n_exact,
       true AS merge_lossless,
       true AS est_within_10pct
FROM events
"""


def sketch_overlap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA: estimate the clicker∩purchaser audience via
    inclusion-exclusion (|A| + |B| - |A∪B|) — the sketch pattern for
    audience-overlap questions where only per-segment sketch columns
    are persisted and the raw id sets never co-locate. Contract output:
    exact distinct counts for both segments and the intersection, plus
    a within-10% boolean on the estimated overlap (measured 1.1% at
    sf0.1; lgConfigK pinned like sketch_merge_distinct)."""
    lg_k = 12
    e = t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")

    def est(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(lg_k))
            ).alias(name)
        )

    ests = (
        est(a, "ea")
        .crossJoin(F.broadcast(est(b, "eb")))
        .crossJoin(F.broadcast(est(a.unionByName(b), "eu")))
    )
    exacts = (
        a.distinct()
        .join(b.distinct(), "user_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .crossJoin(
            F.broadcast(a.agg(F.countDistinct("user_id").alias("n_a")))
        )
        .crossJoin(
            F.broadcast(b.agg(F.countDistinct("user_id").alias("n_b")))
        )
    )
    out = exacts.crossJoin(F.broadcast(ests))
    est_inter = F.col("ea") + F.col("eb") - F.col("eu")
    return out.select(
        "n_a",
        "n_b",
        "n_inter",
        (
            F.abs(est_inter - F.col("n_inter").cast("double"))
            <= F.lit(0.1) * F.col("n_inter").cast("double")
        ).alias("est_within_10pct"),
    )


_SKETCH_OVERLAP_SQL = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT count(*) FROM a)::BIGINT AS n_a,
       (SELECT count(*) FROM b)::BIGINT AS n_b,
       (SELECT count(*) FROM a JOIN b USING (user_id))::BIGINT AS n_inter,
       true AS est_within_10pct
"""


def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD in one row — the summary an LLM data release
    ships with: corpus size, token volume, language mix cardinality,
    exact-duplicate rate, and mean quality score. Composes the
    catalog's own operators (fingerprint dedup, lang-id, quality
    features) into two aggregate passes; every value exact or
    portably rounded."""
    d = spread(t(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        textfns.token_count(F.col("text")).alias("nt"),
        textfns.lang_id(F.col("text")).alias("lang"),
        textfns.quality_score(F.col("text")).alias("q"),
        textfns.fingerprint(F.col("text")).alias("fp"),
    )
    base = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        round_to(F.avg("q"), 6).alias("mean_quality"),
        F.countDistinct("fp").alias("n_unique"),
    )
    return base.select(
        "n_docs",
        "n_tokens",
        F.col("n_langs").cast("long").alias("n_langs"),
        "mean_quality",
        (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_exact_dups"),
        round_to(
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
    )


def _manifest_sql() -> str:
    # reuse llm.py's exact lang-id/quality/fingerprint SQL builders so
    # tie-breaks and thresholds can't drift from the verified queries
    from ._util import sql_fingerprint, sql_token_count
    from .llm import _sql_lang_id, _sql_stop_hits

    quality = f"""
      (CASE WHEN length(text) BETWEEN 100 AND 10000 THEN 0.25 ELSE 0.0 END
       + CASE WHEN list_sum(list_transform({sql_tokens("text")}, t__ -> length(t__)))::DOUBLE
                / nullif(length({sql_tokens("text")}), 0)::DOUBLE BETWEEN 3 AND 12
              THEN 0.25 ELSE 0.0 END
       + CASE WHEN {_sql_stop_hits("en")}::DOUBLE
                / nullif(length({sql_tokens("text")}), 0)::DOUBLE >= 0.02
              THEN 0.25 ELSE 0.0 END
       + CASE WHEN length({sql_tokens("text")}) >= 10 THEN 0.25 ELSE 0.0 END
      )::DOUBLE"""
    return f"""
WITH scores AS (
  SELECT doc_id, text, {sql_token_count("text")} AS nt,
    {_sql_stop_hits("en")} AS s_en, {_sql_stop_hits("es")} AS s_es,
    {_sql_stop_hits("fr")} AS s_fr, {_sql_stop_hits("de")} AS s_de,
    {quality} AS q,
    {sql_fingerprint("text")} AS fp
  FROM documents
),
withbest AS (SELECT *, greatest(s_en, s_es, s_fr, s_de) AS __best FROM scores),
scored AS (SELECT nt, {_sql_lang_id()} AS lang, q, fp FROM withbest)
SELECT count(*)::BIGINT AS n_docs,
       sum(nt)::BIGINT AS n_tokens,
       count(DISTINCT lang)::BIGINT AS n_langs,
       {sql_round("avg(q)", 6)} AS mean_quality,
       (count(*) - count(DISTINCT fp))::BIGINT AS n_exact_dups,
       {sql_round(
           "(count(*) - count(DISTINCT fp))::DOUBLE / count(*)::DOUBLE", 6
       )} AS dup_rate
FROM scored
"""


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

from ..operators.sketches import CMS_D, CMS_SEED, CMS_W  # noqa: E402


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus token frequencies, with the two
    contracts that make it a 100 TB primitive: (a) MERGEABLE — the
    sketch built from per-half partials (split by doc_id % 2, summed
    cell-wise) must equal the sketch built in one pass, which is how
    per-partition sketch columns persisted at ingest answer frequency
    queries without re-reading raw data; (b) ONE-SIDED — the estimate
    for each of the exact top-20 tokens must over-count, never under.
    Hashes are ``(a_d * char_hash(tok) + b_d) mod p mod W`` from the
    shared LCG coefficient family, so char_hash folds once per DISTINCT
    token (staged column) and each row costs one affine map. The sketch
    is D x W = 2048 cells — broadcastable at any corpus size."""
    from ..operators import sketches

    d = _docs(spark, sf_dir)
    tokc = (
        d.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(textfns.tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("half", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", textfns.char_hash(F.col("tok")))
    )

    def fan(df: DataFrame) -> DataFrame:
        return sketches.cms_fan(df, keep=[df.columns[0]])

    partial = fan(tokc).groupBy("half", "d", "bucket").agg(F.sum("cnt").alias("pc"))
    merged = partial.groupBy("d", "bucket").agg(F.sum("pc").cast("long").alias("cell"))
    total = tokc.groupBy("tok", "h").agg(F.sum("cnt").cast("long").alias("exact_cnt"))
    direct = (
        fan(total.select("tok", "h", F.col("exact_cnt").alias("cnt")))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("dcell"))
    )
    lossless = (
        merged.join(direct, ["d", "bucket"], "full_outer")
        .agg(
            F.bool_and(
                F.coalesce(F.col("cell") == F.col("dcell"), F.lit(False))
            ).alias("merge_lossless")
        )
    )
    top = total.orderBy(F.col("exact_cnt").desc(), F.col("tok")).limit(20)
    est = (
        fan(top.select("tok", "h", F.col("exact_cnt").alias("cnt")))
        .join(F.broadcast(merged), ["d", "bucket"])
        .groupBy(F.col("tok"), F.col("cnt").alias("exact_cnt"))
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return est.crossJoin(F.broadcast(lossless)).select(
        F.col("tok").alias("token"),
        F.col("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        "merge_lossless",
    )


def cms_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based JOIN-SIZE ESTIMATION — the cost-model primitive a
    planner needs before committing to a join strategy: the self-join
    size Σ count(k)² of lineitem on l_partkey (the same second
    frequency moment that flags skew) estimated from the 4×512-cell
    count-min sketch as min_d Σ_b cell², next to the exact answer.
    The CMS inner product is provably one-sided (cells are sums of
    non-negative counts, so collisions only ADD cross terms) — the
    ``one_sided`` bool is that contract, hash-checked; the ratio says
    what a 2048-cell summary costs in precision. At 100 TB the exact
    side is this query's own verification harness — production keeps
    only the broadcastable sketch."""
    from ..operators import sketches

    pc = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cells = sketches.cms_cells(pc, key_col="l_partkey", count_col="cnt")
    perd = cells.groupBy("d").agg(
        F.sum(F.col("c") * F.col("c")).alias("__ip")
    )
    est = perd.agg(F.min("__ip").cast("long").alias("cms_estimate"))
    ex = pc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias(
            "exact_selfjoin"
        ),
    )
    return ex.crossJoin(F.broadcast(est)).select(
        "n_keys",
        "exact_selfjoin",
        "cms_estimate",
        round_to(
            F.col("cms_estimate").cast("double")
            / F.col("exact_selfjoin").cast("double"),
            6,
        ).alias("ratio"),
        (F.col("cms_estimate") >= F.col("exact_selfjoin")).alias(
            "one_sided"
        ),
    )


def _cms_join_sql() -> str:
    from ..operators.sketches import CMS_D, CMS_SEED, CMS_W

    coeffs = textfns.minhash_coeffs(CMS_D, seed=CMS_SEED)
    p = textfns.MINHASH_P
    values = ", ".join(
        f"({d}, {a}::BIGINT, {b}::BIGINT)"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH coeffs(d, a, b) AS (VALUES {values}),
pc AS (
  SELECT l_partkey, count(*)::BIGINT AS cnt,
         {sql_char_hash("l_partkey::VARCHAR")} AS h
  FROM lineitem GROUP BY l_partkey
),
cells AS (
  SELECT d, (a * h + b) % {p} % {CMS_W} AS bucket, sum(cnt)::BIGINT AS c
  FROM pc CROSS JOIN coeffs GROUP BY 1, 2
),
perd AS (SELECT d, sum(c * c)::BIGINT AS ip FROM cells GROUP BY d),
est AS (SELECT min(ip)::BIGINT AS cms_estimate FROM perd),
ex AS (
  SELECT count(*)::BIGINT AS n_keys,
         sum(cnt * cnt)::BIGINT AS exact_selfjoin
  FROM pc
)
SELECT n_keys, exact_selfjoin, cms_estimate,
       {sql_round("cms_estimate::DOUBLE / exact_selfjoin::DOUBLE", 6)}
         AS ratio,
       cms_estimate >= exact_selfjoin AS one_sided
FROM ex, est
"""


def _cms_sql() -> str:
    coeffs = textfns.minhash_coeffs(CMS_D, seed=CMS_SEED)
    p = textfns.MINHASH_P
    values = ", ".join(f"({d}, {a}::BIGINT, {b}::BIGINT)" for d, (a, b) in enumerate(coeffs))
    return f"""
WITH coeffs(d, a, b) AS (VALUES {values}),
occ AS (
  SELECT doc_id % 2 AS half, unnest({sql_tokens('lower(text)')}) AS tok
  FROM documents
),
tokc AS (
  SELECT half, tok, count(*)::BIGINT AS cnt, {sql_char_hash('tok')} AS h
  FROM occ GROUP BY half, tok
),
cells AS (
  SELECT half, d, (a * h + b) % {p} % {CMS_W} AS bucket, cnt
  FROM tokc CROSS JOIN coeffs
),
merged AS (SELECT d, bucket, sum(cnt)::BIGINT AS cell FROM cells GROUP BY 1, 2),
total AS (
  SELECT tok, h, sum(cnt)::BIGINT AS exact_cnt FROM tokc GROUP BY tok, h
),
direct AS (
  SELECT d, (a * h + b) % {p} % {CMS_W} AS bucket, sum(exact_cnt)::BIGINT AS dcell
  FROM total CROSS JOIN coeffs GROUP BY 1, 2
),
lossless AS (
  SELECT bool_and(coalesce(m.cell = dd.dcell, false)) AS merge_lossless
  FROM merged m FULL JOIN direct dd USING (d, bucket)
),
top AS (SELECT tok, h, exact_cnt FROM total ORDER BY exact_cnt DESC, tok LIMIT 20),
est AS (
  SELECT t.tok, t.exact_cnt, min(m.cell)::BIGINT AS cms_est
  FROM top t CROSS JOIN coeffs c
  JOIN merged m ON m.d = c.d AND m.bucket = (c.a * t.h + c.b) % {p} % {CMS_W}
  GROUP BY 1, 2
)
SELECT tok AS token, exact_cnt, cms_est,
       cms_est - exact_cnt AS overestimate,
       (SELECT merge_lossless FROM lossless) AS merge_lossless
FROM est
"""


# ---------------------------------------------------------------------------
# zone-map data skipping (what clustering buys)
# ---------------------------------------------------------------------------

ZM_ROWS_PER_FILE = 1000
ZM_LO, ZM_HI = "1995-03-01", "1995-05-31"


def zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies data skipping under two physical layouts of the same
    orders table: ARRIVAL order (files = o_orderkey ranges — dates
    spread uniformly, every zone straddles the predicate) vs
    DATE-CLUSTERED (files = calendar months — the layout a
    zorder/sorted rewrite on o_orderdate produces). Per-file zone maps
    (min/max o_orderdate, the parquet-footer stats) decide which files
    a 3-month range predicate must scan (sources/maintenance.
    zone_map_report). The clustered layout should scan ~3 files; the
    arrival layout scans all of them — the measured argument for the
    clustering operators. Zone-map math never touches row data beyond
    one aggregate."""
    from ..sources import maintenance

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lo, hi = F.lit(ZM_LO).cast("date"), F.lit(ZM_HI).cast("date")
    layouts = {
        "arrival": o.withColumn(
            "f", F.floor(F.col("o_orderkey") / F.lit(ZM_ROWS_PER_FILE))
        ),
        "date_clustered": o.withColumn(
            "f",
            F.year("o_orderdate") * 12 + F.month("o_orderdate"),
        ),
    }
    outs = []
    for name, df in layouts.items():
        rep = maintenance.zone_map_report(df, "f", "o_orderdate", lo, hi)
        outs.append(rep.select(F.lit(name).alias("layout"), "*"))
    both = outs[0].unionByName(outs[1])
    return both.select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_total",
        "rows_scanned",
        round_to(
            F.col("rows_scanned").cast("double")
            / F.col("rows_total").cast("double"),
            6,
        ).alias("scan_fraction"),
    )


_ZONE_MAP_SQL = f"""
WITH lay AS (
  SELECT 'arrival' AS layout, o_orderkey // {ZM_ROWS_PER_FILE} AS f, o_orderdate
  FROM orders
  UNION ALL
  SELECT 'date_clustered',
         year(o_orderdate) * 12 + month(o_orderdate), o_orderdate
  FROM orders
),
z AS (
  SELECT layout, f, min(o_orderdate) AS zmin, max(o_orderdate) AS zmax,
         count(*)::BIGINT AS n_rows
  FROM lay GROUP BY 1, 2
),
fl AS (
  SELECT layout, n_rows,
         (zmin <= DATE '{ZM_HI}' AND zmax >= DATE '{ZM_LO}') AS scanned
  FROM z
)
SELECT layout, count(*)::BIGINT AS n_files,
       sum(scanned::INT)::BIGINT AS files_scanned,
       sum(n_rows)::BIGINT AS rows_total,
       sum(CASE WHEN scanned THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned,
       {sql_round(
           "sum(CASE WHEN scanned THEN n_rows ELSE 0 END)::DOUBLE"
           " / sum(n_rows)::DOUBLE",
           6,
       )} AS scan_fraction
FROM fl GROUP BY 1
"""


# ---------------------------------------------------------------------------
# mergeable histogram quantile sketch
# ---------------------------------------------------------------------------

HQ_BINS = 256
HQ_QS = (0.5, 0.9, 0.99)


def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch as a fixed-bin histogram — the third
    member of the sketch family (HLL distinct, CMS frequency, histogram
    quantiles). Two passes: one aggregate for [lo, hi] (broadcast
    back), then per-DAY partial histograms whose cell-wise sum must
    equal the one-pass histogram — the mergeability that lets a 100 TB
    table keep per-partition histogram columns at ingest and answer
    quantiles without re-reading raw data. Quantile estimates read off
    the merged histogram with an array fold (no window, no sort): the
    upper edge of the first bin whose cumulative count reaches
    ceil(q*n) — within one bin width of the true order statistic by
    construction (tolerance pinned in tests/test_approx_tolerance.py).
    Every output value is pure IEEE arithmetic on the histogram, so the
    oracle hash-checks estimates exactly."""
    e = t(spark, sf_dir, "events").select(F.col("ts"), F.col("value"))
    bounds = e.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (F.col("hi") - F.col("lo")) / F.lit(float(HQ_BINS))
    binned = e.crossJoin(F.broadcast(bounds)).select(
        F.to_date("ts").alias("day"),
        "lo",
        "hi",
        "n",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / w),
                F.lit(HQ_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    direct = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    partial = binned.groupBy("day", "bin").agg(F.count(F.lit(1)).alias("pc"))
    merged = partial.groupBy("bin").agg(F.sum("pc").alias("c"))
    lossless = direct.withColumnRenamed("c", "dc").join(
        merged, "bin", "full_outer"
    ).agg(
        F.bool_and(F.coalesce(F.col("dc") == F.col("c"), F.lit(False))).alias(
            "merge_lossless"
        )
    )
    hist = merged.agg(
        F.array_sort(F.collect_list(F.struct("bin", "c"))).alias("h")
    )
    one = (
        bounds.crossJoin(F.broadcast(hist))
        .crossJoin(F.broadcast(lossless))
        .select(
            "lo",
            "hi",
            "n",
            "h",
            "merge_lossless",
            F.explode(F.array(*[F.lit(q) for q in HQ_QS])).alias("q"),
        )
    )
    target = F.ceil(F.col("q") * F.col("n"))
    found = F.aggregate(
        F.col("h"),
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(-1).alias("bin")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(acc["bin"] >= 0, acc["bin"])
            .when(acc["cum"] + x["c"] >= target, x["bin"])
            .otherwise(F.lit(-1))
            .alias("bin"),
        ),
    )["bin"]
    wq = (F.col("hi") - F.col("lo")) / F.lit(float(HQ_BINS))
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
        F.col("lo") + (found.cast("double") + F.lit(1.0)) * wq
    )
    return one.select(
        F.col("q"),
        F.col("n").cast("long").alias("n_total"),
        round_to(est, 6).alias("est"),
        "merge_lossless",
    )


def _hq_sql() -> str:
    qs = ", ".join(str(q) for q in HQ_QS)
    return f"""
WITH v AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
b AS (SELECT min(value) AS lo, max(value) AS hi, count(*)::BIGINT AS n FROM v),
binned AS (
  SELECT CAST(v.ts AS DATE) AS day,
         CASE WHEN hi = lo THEN 0
              ELSE least(floor((value - lo) / ((hi - lo) / {HQ_BINS}.0)),
                         {HQ_BINS - 1}) END::INT AS bin
  FROM v CROSS JOIN b
),
direct AS (SELECT bin, count(*)::BIGINT AS c FROM binned GROUP BY 1),
partial AS (SELECT day, bin, count(*)::BIGINT AS pc FROM binned GROUP BY 1, 2),
merged AS (SELECT bin, sum(pc)::BIGINT AS c FROM partial GROUP BY 1),
lossless AS (
  SELECT bool_and(coalesce(d.c = m.c, false)) AS merge_lossless
  FROM direct d FULL JOIN merged m USING (bin)
),
cum AS (
  SELECT bin, sum(c) OVER (ORDER BY bin) AS cum FROM merged
),
qs AS (SELECT unnest([{qs}]::DOUBLE[]) AS q),
pick AS (
  SELECT q, min(bin) AS bsel
  FROM qs CROSS JOIN cum CROSS JOIN b
  WHERE cum >= ceil(q * n)
  GROUP BY q
)
SELECT q, b.n AS n_total,
       {sql_round(
           "CASE WHEN hi = lo THEN lo "
           f"ELSE lo + (bsel::DOUBLE + 1.0) * ((hi - lo) / {HQ_BINS}.0) END",
           6,
       )} AS est,
       (SELECT merge_lossless FROM lossless) AS merge_lossless
FROM pick CROSS JOIN b
"""


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning (runtime-filter pattern)
# ---------------------------------------------------------------------------


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter contract: build a 64 Kbit Bloom filter from the
    BUILDING-segment customer keys (one dim-side aggregate → a 16 KiB
    word table), probe every order via K broadcast joins + a bit-test
    projection (zero fact-side shuffle, no explode — operators/
    bloom.py), and emit the confusion summary. The pinned guarantees:
    false_negatives = 0 (pruning never loses a match) and n_pass ≪
    n_facts (the shuffle the prune saves). The oracle rebuilds the
    identical filter bit-for-bit."""
    from ..operators import bloom

    keys = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    words = bloom.build_bloom(keys, "key")
    probed = bloom.bloom_probe(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        words,
        "o_custkey",
    )
    flagged = probed.join(
        F.broadcast(keys.withColumn("__m", F.lit(True))),
        probed["o_custkey"] == F.col("key"),
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_pass"),
        F.sum(F.col("__m").isNotNull().cast("long")).alias("n_true"),
        F.sum(
            (F.col("bloom_pass") & F.col("__m").isNull()).cast("long")
        ).alias("false_positives"),
        F.sum(
            (~F.col("bloom_pass") & F.col("__m").isNotNull()).cast("long")
        ).alias("false_negatives"),
    )


def _bloom_sql() -> str:
    from ..operators.bloom import BLOOM_SEED, K_HASHES, M_BITS, WORD_BITS

    coeffs = textfns.minhash_coeffs(K_HASHES, seed=BLOOM_SEED)
    p = textfns.MINHASH_P
    values = ", ".join(f"({a}::BIGINT, {b}::BIGINT)" for a, b in coeffs)
    pos = f"(c.a * (o.o_custkey % {p}) + c.b) % {p} % {M_BITS}"
    return f"""
WITH coeffs(a, b) AS (VALUES {values}),
keys AS (
  SELECT DISTINCT c_custkey AS key FROM customer
  WHERE c_mktsegment = 'BUILDING'
),
bloom AS (
  SELECT ((c.a * (k.key % {p}) + c.b) % {p} % {M_BITS}) // {WORD_BITS} AS w,
         bit_or(1::BIGINT <<
                (((c.a * (k.key % {p}) + c.b) % {p} % {M_BITS}) % {WORD_BITS})::INT)
           AS bits
  FROM keys k CROSS JOIN coeffs c GROUP BY 1
),
probe AS (
  SELECT o.o_orderkey, o.o_custkey,
         bool_and((coalesce(b.bits, 0)
                   & (1::BIGINT << ({pos} % {WORD_BITS})::INT)) != 0)
           AS pass
  FROM orders o CROSS JOIN coeffs c
  LEFT JOIN bloom b ON b.w = {pos} // {WORD_BITS}
  GROUP BY 1, 2
),
flagged AS (
  SELECT p.pass, (k.key IS NOT NULL) AS hit
  FROM probe p LEFT JOIN keys k ON p.o_custkey = k.key
)
SELECT count(*)::BIGINT AS n_facts,
       sum(pass::INT)::BIGINT AS n_pass,
       sum(hit::INT)::BIGINT AS n_true,
       sum((pass AND NOT hit)::INT)::BIGINT AS false_positives,
       sum((NOT pass AND hit)::INT)::BIGINT AS false_negatives
FROM flagged
"""


# ---------------------------------------------------------------------------
# feature hashing (Weinberger et al., ICML 2009 — the hashing trick)
# ---------------------------------------------------------------------------

FH_DIM = 64


def docs_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words features in sparse form: every token maps to
    bucket ``char_hash % 64`` with a sign from the hash's next bit, and
    signed counts sum per (doc, bucket) — model-free text vectors that
    feed the ANN/PQ family directly. Sparse (doc, bucket, w) output is
    the natural relational form; densify with a 64-slot transform when
    a fixed-width column is needed."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(textfns.tokens(F.col("text"))).alias("tok")
    )
    staged = toks.withColumn("__h", textfns.char_hash(F.col("tok")))
    return (
        staged.select(
            "doc_id",
            (F.col("__h") % FH_DIM).cast("long").alias("bucket"),
            F.when(
                (F.floor(F.col("__h") / FH_DIM) % 2) == 0, F.lit(1)
            ).otherwise(F.lit(-1)).cast("long").alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("w"))
        .filter(F.col("w") != 0)
    )


_FH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens("text")}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, {sql_char_hash("tok")} AS h FROM toks
),
signed AS (
  SELECT doc_id, (h % {FH_DIM})::BIGINT AS bucket,
         (CASE WHEN (h // {FH_DIM}) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS sgn
  FROM hashed
)
SELECT doc_id, bucket, sum(sgn)::BIGINT AS w
FROM signed GROUP BY doc_id, bucket
HAVING sum(sgn) <> 0
"""


# ---------------------------------------------------------------------------
# BM25 lexical ranking (Robertson et al.)
# ---------------------------------------------------------------------------

BM25_TERMS = ("table", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 20


def docs_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the query {table, join, window}
    (operators/ranking.bm25_scores — Lucene idf form, k1=1.2, b=0.75).
    Raw-score ordering with doc_id tie-break; the emitted score is
    rounded after selection."""
    from ..operators import ranking

    d = _docs(spark, sf_dir)
    out = ranking.bm25_scores(
        d, list(BM25_TERMS), text_col="text", id_col="doc_id",
        k1=BM25_K1, b=BM25_B,
    )
    return (
        out.orderBy(F.desc("score_raw"), "id")
        .limit(BM25_TOPN)
        .select(
            F.col("id").alias("doc_id"),
            "dl",
            round_to(F.col("score_raw"), 6).alias("bm25"),
        )
    )


RRF_K, RRF_POOL, RRF_TOP = 60, 20, 10


def docs_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-search
    combiner every modern retrieval stack uses to merge rankers without
    score calibration: each ranker contributes 1/(k + rank), k=60.
    Here the BM25 ranking fuses with a length-normalized term-frequency
    ranking (a deliberately different relevance shape) for the shared
    query {{table, join, window}}: top-20 per ranker (TakeOrdered —
    rank windows run on 20-row frames), full-outer join on doc, RRF
    sum with fixed coalesce order, top-10 by (rrf desc, doc). Swap
    ranker 2 for the embedding top-k and this IS lexical+vector hybrid
    search; the fusion plan is identical."""
    from ..functions import textfns
    from ..operators import ranking
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    bm = ranking.bm25_scores(
        d, list(BM25_TERMS), text_col="text", id_col="doc_id",
        k1=BM25_K1, b=BM25_B,
    )
    w_bm = Window.orderBy(F.desc("score_raw"), "id")
    top_bm = (
        bm.orderBy(F.desc("score_raw"), "id")
        .limit(RRF_POOL)
        .withColumn("ra", F.row_number().over(w_bm))
        .select(F.col("id").alias("doc_id"), "ra")
    )
    staged = d.select(
        "doc_id", textfns.tokens(F.col("text")).alias("__tk")
    )
    def _eq(term: str):
        # closure factory, NOT a default-arg lambda: pyspark binds HOF
        # lambda variables by parameter count (CLAUDE.md trap)
        return lambda x: x == F.lit(term)

    tf_sum = None
    for term in BM25_TERMS:
        c = F.size(F.filter(F.col("__tk"), _eq(term)))
        tf_sum = c if tf_sum is None else tf_sum + c
    scored2 = staged.select(
        "doc_id",
        (
            tf_sum.cast("double") / F.size("__tk").cast("double")
        ).alias("s2"),
    )
    w_tf = Window.orderBy(F.desc("s2"), "doc_id")
    top_tf = (
        scored2.orderBy(F.desc("s2"), "doc_id")
        .limit(RRF_POOL)
        .withColumn("rb", F.row_number().over(w_tf))
        .select("doc_id", "rb")
    )
    fused = top_bm.join(top_tf, "doc_id", "full_outer").select(
        "doc_id",
        F.col("ra").cast("long").alias("rank_bm25"),
        F.col("rb").cast("long").alias("rank_tf"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("ra")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rb")).cast("double"),
                F.lit(0.0),
            )
        ).alias("__rrf"),
    )
    return (
        fused.orderBy(F.desc("__rrf"), "doc_id")
        .limit(RRF_TOP)
        .select(
            "doc_id",
            "rank_bm25",
            "rank_tf",
            round_to(F.col("__rrf"), 6).alias("rrf"),
        )
    )


def _rrf_sql() -> str:
    k1, b = BM25_K1, BM25_B
    tf_cols = ",\n         ".join(
        f"length(list_filter(tk, x -> x = '{t_}'))::DOUBLE AS tf_{i}"
        for i, t_ in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum((tf_{i} > 0)::BIGINT)::DOUBLE AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    norm = f"({k1} * (1.0 - {b} + ({b} * dl::DOUBLE) / (sum_dl / N)))"
    terms_sum = "0.0"
    for i in range(len(BM25_TERMS)):
        idf = f"ln(1.0 + (N - df_{i} + 0.5) / (df_{i} + 0.5))"
        terms_sum += f" + {idf} * (tf_{i} * {k1 + 1.0}) / (tf_{i} + {norm})"
    tf_total = " + ".join(f"tf_{i}" for i in range(len(BM25_TERMS)))
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
staged AS (
  SELECT doc_id, length(tk)::BIGINT AS dl,
         {tf_cols}
  FROM toks
),
stats AS (
  SELECT count(*)::DOUBLE AS N, sum(dl)::DOUBLE AS sum_dl,
         {df_cols}
  FROM staged
),
scored AS (
  SELECT doc_id, dl, ({terms_sum}) AS score_raw, ({tf_total}) AS tfsum
  FROM staged, stats
),
top_bm AS (
  SELECT doc_id, rn AS ra FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_raw DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn <= {RRF_POOL}
),
top_tf AS (
  SELECT doc_id, rn AS rb FROM (
    SELECT doc_id,
           row_number() OVER (
             ORDER BY tfsum::DOUBLE / dl::DOUBLE DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn <= {RRF_POOL}
),
fused AS (
  SELECT doc_id, ra::BIGINT AS rank_bm25, rb::BIGINT AS rank_tf,
         coalesce(1.0 / ({RRF_K} + ra)::DOUBLE, 0.0)
           + coalesce(1.0 / ({RRF_K} + rb)::DOUBLE, 0.0) AS rrf_raw
  FROM top_bm FULL OUTER JOIN top_tf USING (doc_id)
)
SELECT doc_id, rank_bm25, rank_tf, {sql_round("rrf_raw", 6)} AS rrf
FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT {RRF_TOP}
"""


PHRASE = ("table", "scan")


def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over a positional inverted index: build
    (doc, pos, term) postings with one posexplode
    (operators/ranking.postings), then intersect consecutive positions
    for the phrase "table scan" (ranking.phrase_search). The plan is
    the real full-text-engine shape — per-term postings are filtered
    BEFORE the join (the index seek; predicate pushes into the scan),
    position chaining is k−1 equi-joins sized by term selectivity, and
    the per-doc rollup is one map-side-combinable aggregate. BM25 ranks
    bags of words; this is the operator that answers quoted queries."""
    from ..operators import ranking

    d = _docs(spark, sf_dir)  # documents scan, already spread
    post = ranking.postings(d, id_col="doc_id", text_col="text")
    return ranking.phrase_search(post, list(PHRASE))


def _phrase_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest({sql_tokens("text")}) AS tok,
         generate_subscripts({sql_tokens("text")}, 1)::BIGINT AS pos
  FROM documents
)
SELECT a.doc_id, count(*)::BIGINT AS n_matches, min(a.pos)::BIGINT AS first_pos
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = '{PHRASE[0]}' AND b.tok = '{PHRASE[1]}'
GROUP BY a.doc_id
"""


def _bm25_sql() -> str:
    k1, b = BM25_K1, BM25_B
    tf_cols = ",\n         ".join(
        f"length(list_filter(tk, x -> x = '{t_}'))::DOUBLE AS tf_{i}"
        for i, t_ in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum((tf_{i} > 0)::BIGINT)::DOUBLE AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    norm = f"({k1} * (1.0 - {b} + ({b} * dl::DOUBLE) / (sum_dl / N)))"
    terms_sum = "0.0"
    for i in range(len(BM25_TERMS)):
        idf = f"ln(1.0 + (N - df_{i} + 0.5) / (df_{i} + 0.5))"
        terms_sum += (
            f" + {idf} * (tf_{i} * {k1 + 1.0}) / (tf_{i} + {norm})"
        )
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
staged AS (
  SELECT doc_id, length(tk)::BIGINT AS dl,
         {tf_cols}
  FROM toks
),
stats AS (
  SELECT count(*)::DOUBLE AS N, sum(dl)::DOUBLE AS sum_dl,
         {df_cols}
  FROM staged
),
scored AS (
  SELECT doc_id, dl, ({terms_sum}) AS score_raw
  FROM staged, stats
)
SELECT doc_id, dl, bm25 FROM (
  SELECT doc_id, dl, score_raw, {sql_round("score_raw", 6)} AS bm25
  FROM scored ORDER BY score_raw DESC, doc_id LIMIT {BM25_TOPN}
) q
"""


# ---------------------------------------------------------------------------
# M4 time-series downsampling (Jugel et al., VLDB 2014)
# ---------------------------------------------------------------------------


def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour) M4 aggregate — first/last/min/max value
    plus bucket bounds (operators/temporal.m4_downsample). Selection
    aggregates only, no arithmetic, so parity is exact without
    rounding."""
    e = t(spark, sf_dir, "events")
    return temporal.m4_downsample(
        e, series_col="event_type", ts_col="ts", value_col="value"
    )


_M4_SQL = """
WITH norm AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
)
SELECT event_type, date_trunc('hour', ts) AS bucket,
       (array_agg(value ORDER BY ts, value))[1] AS v_first,
       (array_agg(value ORDER BY ts DESC, value DESC))[1] AS v_last,
       min(value) AS v_min,
       max(value) AS v_max,
       min(ts) AS ts_first,
       max(ts) AS ts_last,
       count(*)::BIGINT AS n_points
FROM norm
GROUP BY event_type, date_trunc('hour', ts)
"""


# ---------------------------------------------------------------------------
# character-entropy quality signal
# ---------------------------------------------------------------------------


def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram Shannon entropy per document — the classic
    gibberish/boilerplate detector (low entropy = repeated characters,
    high = random noise). All JVM-side HOFs; the distinct-char array is
    sorted so the float fold order matches the oracle exactly.

    Scale note: the HOF fold is O(alphabet x len) per doc — fine for
    bounded alphabets; for unbounded ones (CJK corpora) use the
    explode+groupBy twin ``docs_char_entropy_explode`` (same oracle,
    O(len) work, one extra shuffle)."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id", "text", F.split(F.col("text"), "").alias("__chars")
    )
    # round_to references its argument 3x (overflow guard) — stage the
    # raw entropy fold in its own projection or the whole
    # O(distinct*len) HOF tree evaluates three times (measured ~2.5x
    # wall on this query; the CLAUDE.md staging rule)
    raw = staged.select(
        "doc_id",
        F.size("__chars").cast("long").alias("n_chars_total"),
        F.size(F.array_distinct("__chars")).cast("long").alias("distinct_chars"),
        textfns.char_entropy_bits(F.col("text"), F.col("__chars")).alias(
            "__raw_ent"
        ),
    )
    return raw.select(
        "doc_id",
        "n_chars_total",
        "distinct_chars",
        round_to(F.col("__raw_ent"), 6).alias("entropy_bits"),
    )


_ENTROPY_SQL = f"""
WITH c AS (
  SELECT doc_id, text, string_split(text, '') AS ch FROM documents
),
s AS (
  SELECT doc_id, text, ch, length(ch)::DOUBLE AS n,
         list_sort(list_distinct(ch)) AS d
  FROM c
),
e AS (
  SELECT doc_id, length(ch)::BIGINT AS n_chars_total,
         length(d)::BIGINT AS distinct_chars,
         CASE WHEN length(text) = 0 THEN 0.0 ELSE
           -list_reduce(
              list_prepend(0.0::DOUBLE, list_transform(d,
                x -> (length(list_filter(ch, y -> y = x))::DOUBLE / n)
                     * log2(length(list_filter(ch, y -> y = x))::DOUBLE / n))),
              (a, b) -> a + b)
         END AS raw_ent
  FROM s
)
SELECT doc_id, n_chars_total, distinct_chars,
       {sql_round("raw_ent", 6)} AS entropy_bits
FROM e
"""

def docs_char_entropy_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-alphabet twin of ``docs_char_entropy`` (VERDICT
    r05 item 8): explode chars -> groupBy(doc, char) count -> per-doc
    fold of -p*log2(p) over the SORTED (char, count) list, so the
    float summation order — and therefore the hash — is identical to
    the HOF form and the shared oracle. Work is O(len) per doc plus
    one (doc, char)-keyed shuffle; per-group state is one count, so a
    CJK-scale alphabet costs rows, not per-row quadratic time."""
    d = _docs(spark, sf_dir)
    ch = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    counts = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_chars_total"),
        F.count(F.lit(1)).cast("long").alias("distinct_chars"),
        F.array_sort(F.collect_list(F.struct("ch", "cnt"))).alias("__cc"),
    )
    n = F.col("n_chars_total").cast("double")
    raw = per_doc.select(
        "doc_id",
        "n_chars_total",
        "distinct_chars",
        (
            -F.aggregate(
                F.col("__cc"),
                F.lit(0.0),
                lambda acc, x: acc
                + (x["cnt"].cast("double") / n)
                * F.log2(x["cnt"].cast("double") / n),
            )
        ).alias("__raw"),
    )
    # explode drops char-less docs; restore them with the oracle's
    # zero convention
    scored = raw.select(
        "doc_id",
        "n_chars_total",
        "distinct_chars",
        round_to(F.col("__raw"), 6).alias("entropy_bits"),
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars_total", F.lit(0)).alias("n_chars_total"),
            F.coalesce("distinct_chars", F.lit(0)).alias("distinct_chars"),
            F.coalesce("entropy_bits", F.lit(0.0)).alias("entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow surface (Spark 4 iterator-of-RecordBatch API)
# ---------------------------------------------------------------------------


def events_arrow_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.mapInArrow`` coverage: per-batch pyarrow.compute
    kernels with zero pandas materialization — the lowest-overhead
    Python hook Spark offers (no index/objects, raw Arrow buffers).
    The arithmetic (x*2+1) is exact IEEE so the oracle hash-matches.
    Scale note: this surface is for logic that genuinely needs Python
    (model scoring, codec calls); a pure arithmetic projection like
    this one would normally stay a JVM Column expression.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    e = t(spark, sf_dir, "events").select("event_id", "value")

    def scale(batches):
        for b in batches:
            scaled = pc.add(
                pc.multiply(b.column("value"), pa.scalar(2.0)),
                pa.scalar(1.0),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("event_id"), scaled], ["event_id", "value_scaled"]
            )

    return e.mapInArrow(scale, "event_id long, value_scaled double")


_ARROW_SQL = """
SELECT event_id, value * 2.0 + 1.0 AS value_scaled FROM events
"""


# ---------------------------------------------------------------------------
# product quantization (Jégou et al., TPAMI 2011)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (EMB_DIM 64 = 8x8)
PQ_NCODES = 16  # centroids per subspace: embeddings vec_id < 16
PQ_QID = 100  # ADC query vector
PQ_TOPK = 10


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """Deterministic per-subspace codebook: subvector slices of the
    first PQ_NCODES embeddings (the IVF-codebook convention; a
    production index would Lloyd-train each subspace with the existing
    kmeans operators — the encode/ADC path is unchanged). ``emb`` is
    the caller's embeddings read, before ``spread``: no exchange under
    the codebook filter, and no second read (each read is a
    schema-inference job at build time)."""
    cent = emb.filter(F.col("vec_id") < PQ_NCODES)
    return similarity.pq_subvectors(
        cent, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
    ).select(F.col("s"), F.col("id").alias("j"), F.col("sv").alias("cv"))


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding: every 64-dim vector -> 8 codes (nearest centroid
    per 8-dim subspace, squared L2, tie-break lowest code). The code
    array is flattened to a comma-joined string per the catalog's
    atomic-output convention (raw arrays crash the driver's pandas
    canonicalizer — CORRECTNESS_r05)."""
    raw = t(spark, sf_dir, "embeddings")
    out = similarity.pq_encode(
        spread(raw),
        _pq_codebook(raw),
        vec_col="embedding",
        id_col="vec_id",
        m=PQ_M,
        dsub=PQ_DSUB,
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-10 for one query vector: distances come from the
    M x 16 query-to-centroid table, never the raw corpus vectors."""
    raw = t(spark, sf_dir, "embeddings")
    emb = spread(raw)
    cb = _pq_codebook(raw)
    codes = similarity.pq_encode(
        emb, cb, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
    )
    qsub = similarity.pq_subvectors(
        emb.filter(F.col("vec_id") == PQ_QID),
        vec_col="embedding",
        id_col="vec_id",
        m=PQ_M,
        dsub=PQ_DSUB,
    ).select("s", F.col("sv").alias("qv"))
    out = similarity.pq_adc_topk(codes, cb, qsub, k=PQ_TOPK)
    return out.select(
        F.col("id").alias("vec_id"),
        round_to(F.col("adc_dist"), 6).alias("adc_dist"),
    )


PQ_SHORTLIST = 25


def pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval — the production ANN serving pattern
    (Jégou TPAMI 2011 §V, every ScaNN/FAISS deployment): stage 1
    shortlists {PQ_SHORTLIST} candidates by cheap PQ ADC distance
    (code-table lookups, no raw vectors touched); stage 2 re-ranks
    ONLY the shortlist with exact squared-L2 against the full query
    vector and keeps the top-{PQ_TOPK}. At corpus scale the exact math
    runs on a constant-size candidate set, so recall improves over
    raw ADC at negligible cost. The final window sorts a bounded
    {PQ_SHORTLIST}-row frame — never the corpus."""
    raw = t(spark, sf_dir, "embeddings")
    emb = spread(raw)
    cb = _pq_codebook(raw)
    codes = similarity.pq_encode(
        emb, cb, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
    )
    qsub = similarity.pq_subvectors(
        emb.filter(F.col("vec_id") == PQ_QID),
        vec_col="embedding",
        id_col="vec_id",
        m=PQ_M,
        dsub=PQ_DSUB,
    ).select("s", F.col("sv").alias("qv"))
    shortlist = similarity.pq_adc_topk(codes, cb, qsub, k=PQ_SHORTLIST)
    qv = emb.filter(F.col("vec_id") == PQ_QID).select(
        F.col("embedding").alias("qfull")
    )
    cand = (
        shortlist.join(
            emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "id",
            "adc_dist",
            similarity._sq_l2("embedding", "qfull").alias(
                "exact_raw"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("exact_raw"), F.col("id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            F.col("id").alias("vec_id"),
            round_to(F.col("adc_dist"), 6).alias("adc_dist"),
            round_to(F.col("exact_raw"), 6).alias("exact_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-10 with a LLOYD-TRAINED codebook: the convention
    codebook (first-16 subvectors) is only the k-means init; one Lloyd
    iteration per subspace (operators/similarity.pq_lloyd_step —
    broadcast E-step, one (s, j, dim)-keyed shuffle M-step, means
    rounded for cross-engine replay) re-centers every centroid on its
    members before encode + ADC. This is the production index path the
    convention-codebook ``pq_topk`` approximates; the recall test
    (tests/test_pq.py) pins trained >= convention."""
    raw = t(spark, sf_dir, "embeddings")
    emb = spread(raw)
    sub = similarity.pq_subvectors(
        emb, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
    )
    cb1 = similarity.pq_lloyd_step(sub, _pq_codebook(raw))
    codes = similarity.pq_encode(
        emb, cb1, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
    )
    qsub = similarity.pq_subvectors(
        emb.filter(F.col("vec_id") == PQ_QID),
        vec_col="embedding",
        id_col="vec_id",
        m=PQ_M,
        dsub=PQ_DSUB,
    ).select("s", F.col("sv").alias("qv"))
    out = similarity.pq_adc_topk(codes, cb1, qsub, k=PQ_TOPK)
    return out.select(
        F.col("id").alias("vec_id"),
        round_to(F.col("adc_dist"), 6).alias("adc_dist"),
    )


def _sql_sq_l2(a: str, b: str, dsub: int) -> str:
    """DuckDB twin of similarity._sq_l2: left-fold squared L2 over
    double-cast elements."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dsub + 1}), "
        f"d -> ({a}[d]::DOUBLE - {b}[d]::DOUBLE)"
        f" * ({a}[d]::DOUBLE - {b}[d]::DOUBLE))), (x, y) -> x + y)"
    )


_PQ_COMMON = f"""
subs AS (
  SELECT vec_id AS id, s,
         embedding[s * {PQ_DSUB} + 1 : s * {PQ_DSUB} + {PQ_DSUB}] AS sv
  FROM embeddings, unnest(range(0, {PQ_M})) AS u(s)
),
cb AS (
  SELECT s, id AS j, sv AS cv FROM subs WHERE id < {PQ_NCODES}
),
scored AS (
  SELECT subs.id, subs.s, cb.j,
         {_sql_sq_l2("subs.sv", "cb.cv", PQ_DSUB)} AS dist
  FROM subs JOIN cb USING (s)
),
codes AS (
  SELECT id, s,
         (array_agg(j ORDER BY dist, j))[1] AS code
  FROM scored GROUP BY id, s
)
"""

_PQ_CODES_SQL = f"""
WITH {_PQ_COMMON}
SELECT id AS vec_id,
       array_to_string(array_agg(code ORDER BY s), ',') AS codes
FROM codes GROUP BY id
"""

_PQ_TOPK_SQL = f"""
WITH {_PQ_COMMON},
qsub AS (
  SELECT s, sv AS qv FROM subs WHERE id = {PQ_QID}
),
qtable AS (
  SELECT cb.s, cb.j, {_sql_sq_l2("qsub.qv", "cb.cv", PQ_DSUB)} AS qd
  FROM qsub JOIN cb USING (s)
),
per_sub AS (
  SELECT c.id, c.s, q.qd
  FROM codes c JOIN qtable q ON c.s = q.s AND c.code = q.j
),
adc AS (
  SELECT id,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({{'s': s, 'qd': qd}})), x -> x.qd)),
           (x, y) -> x + y) AS adc_dist
  FROM per_sub GROUP BY id
)
SELECT vec_id, adc_dist FROM (
  SELECT id AS vec_id, adc_dist AS raw_d,
         {sql_round("adc_dist", 6)} AS rounded
  FROM adc ORDER BY raw_d, id LIMIT {PQ_TOPK}
) t(vec_id, raw_d, adc_dist)
"""


_PQ_RERANK_SQL = f"""
WITH {_PQ_COMMON},
qsub AS (
  SELECT s, sv AS qv FROM subs WHERE id = {PQ_QID}
),
qtable AS (
  SELECT cb.s, cb.j, {_sql_sq_l2("qsub.qv", "cb.cv", PQ_DSUB)} AS qd
  FROM qsub JOIN cb USING (s)
),
per_sub AS (
  SELECT c.id, c.s, q.qd
  FROM codes c JOIN qtable q ON c.s = q.s AND c.code = q.j
),
adc AS (
  SELECT id,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({{'s': s, 'qd': qd}})), x -> x.qd)),
           (x, y) -> x + y) AS adc_dist
  FROM per_sub GROUP BY id
),
shortlist AS (
  SELECT id, adc_dist FROM adc ORDER BY adc_dist, id LIMIT {PQ_SHORTLIST}
),
qfull AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {PQ_QID}
),
exact AS (
  SELECT s.id, s.adc_dist,
         {_sql_sq_l2("v.e", "q.qv", 64)} AS exact_raw
  FROM shortlist s
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) v
    ON v.vec_id = s.id, qfull q
),
ranked AS (
  SELECT id, adc_dist, exact_raw,
         row_number() OVER (ORDER BY exact_raw, id) AS rank
  FROM exact
)
SELECT id AS vec_id, {sql_round("adc_dist", 6)} AS adc_dist,
       {sql_round("exact_raw", 6)} AS exact_dist, rank::BIGINT AS rank
FROM ranked WHERE rank <= {PQ_TOPK}
"""


_PQ_TRAINED_SQL = f"""
WITH {_PQ_COMMON},
scored_sv AS (
  SELECT subs.id, subs.s, subs.sv, cb.j,
         {_sql_sq_l2("subs.sv", "cb.cv", PQ_DSUB)} AS dist
  FROM subs JOIN cb USING (s)
),
assigned AS (
  SELECT id, s, (array_agg(j ORDER BY dist, j))[1] AS j, first(sv) AS sv
  FROM scored_sv GROUP BY id, s
),
expl AS (
  SELECT s, j, d - 1 AS dim, sv[d]::DOUBLE AS v
  FROM assigned, unnest(range(1, {PQ_DSUB + 1})) AS u(d)
),
means AS (
  SELECT s, j, dim, {sql_round("avg(v)", 6)} AS c
  FROM expl GROUP BY s, j, dim
),
cb1 AS (
  SELECT s, j, array_agg(c ORDER BY dim) AS cv FROM means GROUP BY s, j
),
scored1 AS (
  SELECT subs.id, subs.s, cb1.j,
         {_sql_sq_l2("subs.sv", "cb1.cv", PQ_DSUB)} AS dist
  FROM subs JOIN cb1 USING (s)
),
codes1 AS (
  SELECT id, s, (array_agg(j ORDER BY dist, j))[1] AS code
  FROM scored1 GROUP BY id, s
),
qsub AS (
  SELECT s, sv AS qv FROM subs WHERE id = {PQ_QID}
),
qtable1 AS (
  SELECT cb1.s, cb1.j, {_sql_sq_l2("qsub.qv", "cb1.cv", PQ_DSUB)} AS qd
  FROM qsub JOIN cb1 USING (s)
),
per_sub1 AS (
  SELECT c.id, c.s, q.qd
  FROM codes1 c JOIN qtable1 q ON c.s = q.s AND c.code = q.j
),
adc1 AS (
  SELECT id,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({{'s': s, 'qd': qd}})), x -> x.qd)),
           (x, y) -> x + y) AS adc_dist
  FROM per_sub1 GROUP BY id
)
SELECT vec_id, adc_dist FROM (
  SELECT id AS vec_id, adc_dist AS raw_d,
         {sql_round("adc_dist", 6)} AS rounded
  FROM adc1 ORDER BY raw_d, id LIMIT {PQ_TOPK}
) t(vec_id, raw_d, adc_dist)
"""


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production vector-DB query path: IVF coarse probe (nprobe=2
    lists by centroid cosine) to bound the candidate set, then PQ ADC
    ranking over only the candidates' codes — raw vectors touched
    exactly once at encode time, never at query time. Composes the
    oracle-proven ivf_assign and pq_encode/pq_adc_topk pieces.

    Only the probed candidates are encoded: codes are per row, so
    encoding ``emb ⋈ cand`` equals joining the corpus's codes with
    ``cand``. The assignment and the probe rank score against one
    staged codebook subtree (``similarity.centroid_cosines``), and the
    PQ codebook is cut from the same read, so the plan broadcasts each
    small side once and the build runs one schema-inference job."""
    from .extended import IVF_NCENTROIDS, IVF_NPROBE

    raw = t(spark, sf_dir, "embeddings")
    emb = spread(raw)
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = similarity.ivf_assign(
        emb, cent, centroid_id="cid", centroid_vec="cv"
    )
    q = emb.filter(F.col("vec_id") == PQ_QID)
    probes = (
        similarity.centroid_cosines(
            q, cent, vec_col="embedding", centroid_id="cid", centroid_vec="cv"
        )
        .orderBy(F.desc("cos"), "cid")
        .limit(IVF_NPROBE)
        .select(F.col("cid").alias("centroid_id"))
    )
    # candidate set is bounded by the probed lists — broadcast it into
    # the corpus scan (at petabyte scale with huge lists this becomes a
    # shuffle-hash join on id; semantics unchanged)
    cand = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("doc") != PQ_QID)
        .select(F.col("doc").alias("vec_id"))
    )
    cb = _pq_codebook(raw)
    cand_codes = similarity.pq_encode(
        emb.join(F.broadcast(cand), "vec_id"),
        cb, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB,
    )
    qsub = similarity.pq_subvectors(
        q, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
    ).select("s", F.col("sv").alias("qv"))
    out = similarity.pq_adc_topk(cand_codes, cb, qsub, k=PQ_TOPK)
    return out.select(
        F.col("id").alias("vec_id"),
        round_to(F.col("adc_dist"), 6).alias("adc_dist"),
    )


def _ivfpq_sql() -> str:
    from .extended import _IVF_ASSIGN_CTE, _IVF_COS, IVF_NPROBE

    return f"""
WITH {_IVF_ASSIGN_CTE},
{_PQ_COMMON.strip().replace('scored', 'pq_scored')},
qv AS (SELECT e FROM v WHERE vec_id = {PQ_QID}),
qp AS (
  SELECT cid AS centroid_id FROM (
    SELECT cent.cid,
           row_number() OVER (ORDER BY
             {_IVF_COS.format(a="qv.e", b="cent.cv")} DESC, cent.cid) AS rn
    FROM cent, qv
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT a.vec_id AS id FROM assigned a JOIN qp USING (centroid_id)
  WHERE a.vec_id <> {PQ_QID}
),
candcodes AS (
  SELECT c.* FROM codes c JOIN cand ON c.id = cand.id
),
qsub AS (
  SELECT s, sv AS qv FROM subs WHERE id = {PQ_QID}
),
qtable AS (
  SELECT cb.s, cb.j, {_sql_sq_l2("qsub.qv", "cb.cv", PQ_DSUB)} AS qd
  FROM qsub JOIN cb USING (s)
),
per_sub AS (
  SELECT c.id, c.s, q.qd
  FROM candcodes c JOIN qtable q ON c.s = q.s AND c.code = q.j
),
adc AS (
  SELECT id,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({{'s': s, 'qd': qd}})), x -> x.qd)),
           (x, y) -> x + y) AS adc_dist
  FROM per_sub GROUP BY id
)
SELECT vec_id, adc_dist FROM (
  SELECT id AS vec_id, adc_dist AS raw_d,
         {sql_round("adc_dist", 6)} AS rounded
  FROM adc ORDER BY raw_d, id LIMIT {PQ_TOPK}
) t(vec_id, raw_d, adc_dist)
"""


def _ivfpq_multi(
    spark: SparkSession, sf_dir: str, *, residual: bool, k: int = PQ_TOPK
) -> DataFrame:
    """Shared multi-query IVF-PQ pipeline over queries
    [IVF_QUERY_LO, IVF_QUERY_HI). ``residual=True`` is published
    IVFADC (Jégou et al., TPAMI 2011 §IV): one k-means M-step trains
    the coarse quantizer (centroid ← member mean, rounded 6 dp — the
    kmeans_two_step determinism pattern), lists are rebuilt, the PQ
    stage quantizes RESIDUALS (vec − trained centroid) with a
    residual-convention init + one pq_lloyd_step, and each query gets
    a PER-PROBED-LIST lookup table from its per-list residual.
    ``residual=False`` is the raw-vector composite (``ivfpq_topk``
    semantics: untrained coarse quantizer, convention raw codebook,
    list-independent tables routed through the same operator) — kept
    as the recall baseline the residual form must beat
    (tests/test_pq.py). Output: (query_id, vec_id, adc_dist, rank)."""
    from ..operators.similarity import ivf_residuals, ivfpq_adc_topk
    from .extended import (
        IVF_NCENTROIDS,
        IVF_NPROBE,
        IVF_QUERY_HI,
        IVF_QUERY_LO,
    )

    raw = t(spark, sf_dir, "embeddings")
    emb = spread(raw)
    cent0 = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    if residual:
        a0 = similarity.ivf_assign(
            emb, cent0, centroid_id="cid", centroid_vec="cv"
        )
        # M-step in ONE aggregate (r17): see _util.centroid_means
        cent = centroid_means(a0, dim=64)
        # the trained assignment feeds residuals AND the candidate
        # router, and the residuals feed init/Lloyd/encode — without
        # materialization the two-pass coarse training re-executes per
        # consumer (measured 5.7 s -> 4.0 s warm at sf0.1; the
        # CLAUDE.md iterative-operator rule)
        assign = similarity.ivf_assign(
            emb, cent, centroid_id="cid", centroid_vec="cv"
        ).localCheckpoint()
        res = ivf_residuals(assign, cent).localCheckpoint()
        sub = similarity.pq_subvectors(
            res, vec_col="rvec", id_col="doc", m=PQ_M, dsub=PQ_DSUB
        )
        # residual-convention init: slices of residuals
        # IVF_NCENTROIDS..+PQ_NCODES (the centroids' own residuals
        # vanish under a perfect coarse fit — skip that band), then
        # one Lloyd step re-centers on the residual distribution
        cb0 = sub.filter(
            (F.col("id") >= IVF_NCENTROIDS)
            & (F.col("id") < IVF_NCENTROIDS + PQ_NCODES)
        ).select(
            "s",
            (F.col("id") - IVF_NCENTROIDS).alias("j"),
            F.col("sv").alias("cv"),
        )
        cb = similarity.pq_lloyd_step(sub, cb0)
        codes = similarity.pq_encode(
            res, cb, vec_col="rvec", id_col="doc", m=PQ_M, dsub=PQ_DSUB
        )
    else:
        cent = cent0
        assign = similarity.ivf_assign(
            emb, cent, centroid_id="cid", centroid_vec="cv"
        )
        cb = _pq_codebook(raw)
        codes = similarity.pq_encode(
            emb, cb, vec_col="embedding", id_col="vec_id", m=PQ_M, dsub=PQ_DSUB
        )
    q = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cid")
    probes = (
        similarity.centroid_cosines(
            q, cent, vec_col="qe", centroid_id="cid", centroid_vec="cv"
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVF_NPROBE)
        .select("query_id", "qe", F.col("cid").alias("centroid_id"), "cv")
    )
    # per-(query, list) subvectors: the residual form subtracts the
    # probed list's centroid, the raw form uses the query unchanged
    # for every list (the table is then list-independent, but routing
    # it per list keeps ONE operator serving both)
    qvec = (
        F.zip_with(
            "qe", "cv", lambda x, y: x.cast("double") - y.cast("double")
        )
        if residual
        else F.transform("qe", lambda x: x.cast("double"))
    )
    qres = probes.select(
        F.struct("query_id", "centroid_id").alias("qk"), qvec.alias("rvec")
    )
    qsub = similarity.pq_subvectors(
        qres, vec_col="rvec", id_col="qk", m=PQ_M, dsub=PQ_DSUB
    ).select(
        F.col("id.query_id").alias("query_id"),
        F.col("id.centroid_id").alias("centroid_id"),
        "s",
        F.col("sv").alias("qv"),
    )
    # probed-list candidates (assignment ⋈ broadcast probes), then
    # their codes — bounded by |queries|·nprobe lists, broadcast into
    # the codes scan (at petabyte scale with huge lists this becomes
    # a shuffle-hash join on id; semantics unchanged)
    cand_ids = (
        assign.join(
            F.broadcast(probes.select("query_id", "centroid_id")),
            "centroid_id",
        )
        .filter(F.col("doc") != F.col("query_id"))
        .select("query_id", F.col("doc").alias("id"), "centroid_id")
    )
    cand_codes = codes.join(F.broadcast(cand_ids), "id")
    return ivfpq_adc_topk(cand_codes, cb, qsub, k=k)


def ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE IVFADC (Jégou et al., TPAMI 2011 §IV): trained coarse
    quantizer + PQ over RESIDUALS (vec − coarse centroid) — the
    upgrade over ``ivfpq_topk`` the published system actually ships.
    Within one inverted list every member shares a coarse centroid, so
    residuals are centered and the 16 codes/subspace encode
    within-list variation instead of re-encoding the list offset; at
    100 TB that is what keeps ADC ranking sharp inside each list
    (measured: 26 vs 14 summed recall@10 over the 10-query batch at
    sf0.01 against the raw-vector composite — tests/test_pq.py pins
    the inequality). Per-query top-{PQ_TOPK} over queries 100..110."""
    out = _ivfpq_multi(spark, sf_dir, residual=True)
    return out.select(
        "query_id",
        F.col("id").alias("vec_id"),
        round_to(F.col("adc_dist"), 6).alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ivfpq_residual_core_sql() -> str:
    """WITH-prefix through ``ranked`` (query_id, id, adc_dist, rank) —
    shared by the plain residual top-k oracle and the rerank oracle,
    which appends an exact-cosine stage over the shortlist."""
    from .extended import (
        _IVF_ASSIGN_CTE,
        _IVF_COS,
        IVF_NCENTROIDS,
        IVF_NPROBE,
        IVF_QUERY_HI,
        IVF_QUERY_LO,
    )

    return f"""
WITH {_IVF_ASSIGN_CTE},
texpl AS (
  SELECT centroid_id,
    unnest(list_transform(range(1, 65), i -> {{'dim': i - 1, 'v': e[i]}})) AS u
  FROM assigned
),
tmeans AS (
  SELECT centroid_id, CAST(u['dim'] AS INT) AS dim,
    {sql_round("avg(u['v'])", 6)} AS c
  FROM texpl GROUP BY 1, 2
),
cent1 AS (
  SELECT centroid_id AS cid, list(c ORDER BY dim) AS cv FROM tmeans GROUP BY 1
),
scored2 AS (
  SELECT v.vec_id, v.e, cent1.cid,
    {_IVF_COS.format(a="v.e", b="cent1.cv")} AS cos
  FROM v, cent1
),
assigned2 AS (
  SELECT vec_id, e, cid AS centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cid) AS rn
    FROM scored2
  ) WHERE rn = 1
),
res AS (
  SELECT a.vec_id AS id, a.centroid_id,
         list_transform(range(1, 65), i -> a.e[i] - c1.cv[i]) AS rv
  FROM assigned2 a JOIN cent1 c1 ON c1.cid = a.centroid_id
),
rsubs AS (
  SELECT id, s, rv[s * {PQ_DSUB} + 1 : s * {PQ_DSUB} + {PQ_DSUB}] AS sv
  FROM res, unnest(range(0, {PQ_M})) AS u(s)
),
cb0 AS (
  SELECT s, id - {IVF_NCENTROIDS} AS j, sv AS cv FROM rsubs
  WHERE id >= {IVF_NCENTROIDS} AND id < {IVF_NCENTROIDS + PQ_NCODES}
),
rscored0 AS (
  SELECT rsubs.id, rsubs.s, rsubs.sv, cb0.j,
         {_sql_sq_l2("rsubs.sv", "cb0.cv", PQ_DSUB)} AS dist
  FROM rsubs JOIN cb0 USING (s)
),
rassigned AS (
  SELECT id, s, (array_agg(j ORDER BY dist, j))[1] AS j, first(sv) AS sv
  FROM rscored0 GROUP BY id, s
),
rexpl AS (
  SELECT s, j, d - 1 AS dim, sv[d]::DOUBLE AS v
  FROM rassigned, unnest(range(1, {PQ_DSUB + 1})) AS u(d)
),
rmeans AS (
  SELECT s, j, dim, {sql_round("avg(v)", 6)} AS c
  FROM rexpl GROUP BY s, j, dim
),
rcb1 AS (
  SELECT s, j, array_agg(c ORDER BY dim) AS cv FROM rmeans GROUP BY s, j
),
rscored1 AS (
  SELECT rsubs.id, rsubs.s, rcb1.j,
         {_sql_sq_l2("rsubs.sv", "rcb1.cv", PQ_DSUB)} AS dist
  FROM rsubs JOIN rcb1 USING (s)
),
rcodes AS (
  SELECT id, s, (array_agg(j ORDER BY dist, j))[1] AS code
  FROM rscored1 GROUP BY id, s
),
q AS (
  SELECT vec_id AS query_id, e AS qe FROM v
  WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}
),
qp AS (
  SELECT query_id, qe, centroid_id, cv FROM (
    SELECT q.query_id, q.qe, c1.cid AS centroid_id, c1.cv,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_IVF_COS.format(a="q.qe", b="c1.cv")} DESC, c1.cid) AS rn
    FROM q, cent1 c1
  ) WHERE rn <= {IVF_NPROBE}
),
qres AS (
  SELECT query_id, centroid_id,
         list_transform(range(1, 65), i -> qe[i] - cv[i]) AS rv
  FROM qp
),
qrsub AS (
  SELECT query_id, centroid_id, s,
         rv[s * {PQ_DSUB} + 1 : s * {PQ_DSUB} + {PQ_DSUB}] AS qv
  FROM qres, unnest(range(0, {PQ_M})) AS u(s)
),
qtable AS (
  SELECT qs.query_id, qs.centroid_id, qs.s, rcb1.j,
         {_sql_sq_l2("qs.qv", "rcb1.cv", PQ_DSUB)} AS qd
  FROM qrsub qs JOIN rcb1 USING (s)
),
cand AS (
  SELECT p.query_id, a.vec_id AS id, a.centroid_id
  FROM assigned2 a JOIN qp p ON p.centroid_id = a.centroid_id
  WHERE a.vec_id <> p.query_id
),
per_sub AS (
  SELECT c.query_id, c.id, rc.s, qt.qd
  FROM cand c
  JOIN rcodes rc ON rc.id = c.id
  JOIN qtable qt ON qt.query_id = c.query_id
                AND qt.centroid_id = c.centroid_id
                AND qt.s = rc.s AND qt.j = rc.code
),
adc AS (
  SELECT query_id, id,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({{'s': s, 'qd': qd}})), x -> x.qd)),
           (x, y) -> x + y) AS adc_dist
  FROM per_sub GROUP BY query_id, id
),
ranked AS (
  SELECT query_id, id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, id) AS rank
  FROM adc
)
"""


def _ivfpq_residual_sql() -> str:
    return _ivfpq_residual_core_sql() + f"""
SELECT query_id, id AS vec_id, {sql_round("adc_dist", 6)} AS adc_dist,
       rank::BIGINT AS rank
FROM ranked WHERE rank <= {PQ_TOPK}
"""


IVFPQ_RERANK_SHORTLIST = 50


def ivfpq_residual_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE residual-IVFADC serving (Jégou TPAMI 2011 §V — the
    shape every FAISS/ScaNN deployment ships): stage 1 shortlists
    {IVFPQ_RERANK_SHORTLIST} candidates per query by residual ADC
    distance (code-table lookups only), stage 2 re-ranks JUST the
    shortlist with exact cosine against the raw vectors and keeps the
    top-{PQ_TOPK}. The quantization error that caps ADC-only recall is
    paid back on a constant-size candidate set — the recall lift is a
    measured number (ivfpq_rerank_recall_eval), not a claim.

    Scale shape: the shortlist (|queries|·{IVFPQ_RERANK_SHORTLIST}
    rows) broadcasts INTO the corpus scan to fetch raw vectors — the
    corpus never shuffles — and the final window sorts a bounded
    shortlist frame per query."""
    return _rerank_scored(spark, sf_dir).filter(
        F.col("rank") <= PQ_TOPK
    ).select(
        "query_id",
        F.col("id").alias("vec_id"),
        round_to(F.col("cos"), 6).alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    )


def _rerank_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared two-stage frame: the 50-deep ADC
    shortlist with BOTH its ADC rank (adc_rank, carried from
    ivfpq_adc_topk — rank <= 10 of the 50-deep list is identical to a
    k=10 probe, same ordering) and the exact-cosine rerank rank. The
    serving query filters on the cosine rank; the recall eval reads
    both ranks from ONE frame, so the residual training pipeline runs
    once instead of twice (measured: the eval was the most expensive
    new r12 entry at 7.5 s precisely because it trained twice)."""
    from ..functions import vectors
    from .extended import IVF_QUERY_HI, IVF_QUERY_LO

    shortlist = _ivfpq_multi(
        spark, sf_dir, residual=True, k=IVFPQ_RERANK_SHORTLIST
    )
    emb = spread(t(spark, sf_dir, "embeddings"))
    q = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    cand = emb.select(F.col("vec_id").alias("id"), "embedding").join(
        F.broadcast(shortlist.select("query_id", "id", F.col("rank").alias("adc_rank"))),
        "id",
    )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "id",
        "adc_rank",
        vectors.cosine_cols("embedding", "qe").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "id")
    return scored.withColumn("rank", F.row_number().over(w))


def _ivfpq_rerank_sql() -> str:
    from .extended import _IVF_COS

    return _ivfpq_residual_core_sql() + f""",
short AS (
  SELECT query_id, id FROM ranked WHERE rank <= {IVFPQ_RERANK_SHORTLIST}
),
rr AS (
  SELECT s.query_id, s.id,
         {_IVF_COS.format(a="v.e", b="q.qe")} AS cos
  FROM short s
  JOIN v ON v.vec_id = s.id
  JOIN q ON q.query_id = s.query_id
),
rrk AS (
  SELECT query_id, id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, id) AS rank
  FROM rr
)
SELECT query_id, id AS vec_id, {sql_round("cos", 6)} AS cos,
       rank::BIGINT AS rank
FROM rrk WHERE rank <= {PQ_TOPK}
"""


def ivfpq_rerank_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE measured payoff of the rerank stage: per query, recall@
    {PQ_TOPK} against exact brute-force cosine for BOTH the ADC-only
    residual probe and the reranked two-stage serving path, side by
    side — the one-table answer to "is stage 2 worth it?". Same
    harness discipline as ivf_recall_eval: exact-integer hit counts,
    terminating-decimal recalls, every join on bounded per-query
    frames (the brute-force side reuses the broadcast-query
    cosine_topk plan; nothing corpus-sized shuffles)."""
    from .extended import IVF_QUERY_HI, IVF_QUERY_LO

    emb = spread(t(spark, sf_dir, "embeddings"))
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    exact = similarity.cosine_topk(emb, queries, k=PQ_TOPK).select(
        "query_id", "neighbor_id"
    )
    both = _rerank_scored(spark, sf_dir)
    adc = both.filter(F.col("adc_rank") <= PQ_TOPK).select(
        "query_id", F.col("id").alias("neighbor_id"), F.lit(1).alias("__a")
    )
    rer = both.filter(F.col("rank") <= PQ_TOPK).select(
        "query_id", F.col("id").alias("neighbor_id"), F.lit(1).alias("__r")
    )
    joined = exact.join(
        F.broadcast(adc), ["query_id", "neighbor_id"], "left"
    ).join(F.broadcast(rer), ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("__a"), F.lit(0))).cast("long").alias("n_hit_adc"),
        F.sum(F.coalesce(F.col("__r"), F.lit(0))).cast("long").alias("n_hit_rerank"),
        round_to(
            F.sum(F.coalesce(F.col("__a"), F.lit(0))).cast("double")
            / F.lit(float(PQ_TOPK)),
            6,
        ).alias("recall_adc"),
        round_to(
            F.sum(F.coalesce(F.col("__r"), F.lit(0))).cast("double")
            / F.lit(float(PQ_TOPK)),
            6,
        ).alias("recall_rerank"),
    )


def _ivfpq_rerank_eval_sql() -> str:
    from .extended import _IVF_COS

    return _ivfpq_residual_core_sql() + f""",
short AS (
  SELECT query_id, id FROM ranked WHERE rank <= {IVFPQ_RERANK_SHORTLIST}
),
rr AS (
  SELECT s.query_id, s.id,
         {_IVF_COS.format(a="v.e", b="q.qe")} AS cos
  FROM short s
  JOIN v ON v.vec_id = s.id
  JOIN q ON q.query_id = s.query_id
),
rerset AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, id) AS rank
    FROM rr
  ) WHERE rank <= {PQ_TOPK}
),
adcset AS (SELECT query_id, id FROM ranked WHERE rank <= {PQ_TOPK}),
exact_scored AS (
  SELECT q.query_id, v.vec_id AS id,
         {_IVF_COS.format(a="q.qe", b="v.e")} AS cos
  FROM q, v WHERE v.vec_id <> q.query_id
),
exactk AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, id) AS rank
    FROM exact_scored
  ) WHERE rank <= {PQ_TOPK}
)
SELECT e.query_id,
       sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit_adc,
       sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit_rerank,
       {sql_round(f"CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / {float(PQ_TOPK)}", 6)}
         AS recall_adc,
       {sql_round(f"CAST(sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / {float(PQ_TOPK)}", 6)}
         AS recall_rerank
FROM exactk e
LEFT JOIN adcset a ON a.query_id = e.query_id AND a.id = e.id
LEFT JOIN rerset r ON r.query_id = e.query_id AND r.id = e.id
GROUP BY e.query_id
"""


def ivfpq_ingest_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance at ingest
    (operators/similarity.incremental_ivfpq_postings): the IVF-PQ
    index — (doc → list id, residual PQ codes) postings — is kept
    fresh by APPENDING each batch's postings instead of rebuilding,
    closing the ingest story the dedup/phash/semdedup families already
    have. The index geometry (coarse centroids + residual-convention
    PQ codebook over residuals {IVF_NCENTROIDS}..+{PQ_NCODES}) is
    static by contract; replayed ids are dropped by probing the
    posting store with a broadcast of the batch keys (the
    batch_minus_store orientation — the store is never shuffled).
    Here the store is the 95%-of-corpus history (every vec_id except
    those ≡ 10 mod 20) built through the SAME operator against an
    empty store, and the batch (vec_id ≡ 0 mod 10) is half replays —
    the output is exactly the genuinely-new ids' postings.
    Twin-equality with a full rebuild — probe included — is pinned in
    tests/test_pq.py."""
    from ..operators.similarity import (
        incremental_ivfpq_postings,
        ivf_residuals,
    )
    from .extended import IVF_NCENTROIDS

    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cb_src = emb.filter(
        (F.col("vec_id") >= IVF_NCENTROIDS)
        & (F.col("vec_id") < IVF_NCENTROIDS + PQ_NCODES)
    )
    cb_assign = similarity.ivf_assign(
        cb_src, cent, centroid_id="cid", centroid_vec="cv"
    )
    cb = similarity.pq_subvectors(
        ivf_residuals(cb_assign, cent),
        vec_col="rvec",
        id_col="doc",
        m=PQ_M,
        dsub=PQ_DSUB,
    ).select(
        "s", (F.col("id") - IVF_NCENTROIDS).alias("j"), F.col("sv").alias("cv")
    )
    history = emb.filter(
        (F.col("vec_id") % 10 != 0) | (F.col("vec_id") % 20 == 0)
    )
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    empty = spark.createDataFrame([], "doc long")
    store = incremental_ivfpq_postings(
        history, empty, cent, cb, m=PQ_M, dsub=PQ_DSUB
    )
    fresh = incremental_ivfpq_postings(
        batch, store, cent, cb, m=PQ_M, dsub=PQ_DSUB
    )
    return fresh.select(
        F.col("doc").alias("vec_id"),
        "centroid_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
    )


def _ivfpq_ingest_sql() -> str:
    from .extended import _IVF_ASSIGN_CTE, IVF_NCENTROIDS

    return f"""
WITH {_IVF_ASSIGN_CTE},
res AS (
  SELECT a.vec_id AS id, a.centroid_id,
         list_transform(range(1, 65), i -> a.e[i] - cent.cv[i]) AS rv
  FROM assigned a JOIN cent ON cent.cid = a.centroid_id
),
rsubs AS (
  SELECT id, s, rv[s * {PQ_DSUB} + 1 : s * {PQ_DSUB} + {PQ_DSUB}] AS sv
  FROM res, unnest(range(0, {PQ_M})) AS u(s)
),
cb0 AS (
  SELECT s, id - {IVF_NCENTROIDS} AS j, sv AS cv FROM rsubs
  WHERE id >= {IVF_NCENTROIDS} AND id < {IVF_NCENTROIDS + PQ_NCODES}
),
rscored AS (
  SELECT rsubs.id, rsubs.s, cb0.j,
         {_sql_sq_l2("rsubs.sv", "cb0.cv", PQ_DSUB)} AS dist
  FROM rsubs JOIN cb0 USING (s)
),
rcodes AS (
  SELECT id, s, (array_agg(j ORDER BY dist, j))[1] AS code
  FROM rscored GROUP BY id, s
),
posting AS (
  SELECT c.id, r.centroid_id,
         array_to_string(array_agg(c.code ORDER BY c.s), ',') AS codes
  FROM rcodes c JOIN (SELECT id, centroid_id FROM res) r USING (id)
  GROUP BY c.id, r.centroid_id
),
storeids AS (
  SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0 OR vec_id % 20 = 0
),
batchids AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0),
fresh AS (
  SELECT vec_id FROM batchids
  WHERE vec_id NOT IN (SELECT vec_id FROM storeids)
)
SELECT p.id AS vec_id, p.centroid_id, p.codes
FROM posting p JOIN fresh f ON f.vec_id = p.id
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering value
# ---------------------------------------------------------------------------

Z_BITS = 8


def orders_zvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-curve clustering key over (o_custkey, order-day) — the value
    sources/maintenance.zorder_rewrite range-partitions on. Min-max
    bucketing is IEEE double arithmetic and the Morton interleave is a
    static shift-term sum, so the oracle reproduces every bit."""
    from ..sources import maintenance as mnt

    o = t(spark, sf_dir, "orders")
    daynum = F.datediff(
        F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date")
    )
    stats = o.agg(
        F.min("o_custkey").alias("min1"),
        F.max("o_custkey").alias("max1"),
        F.min(daynum).alias("min2"),
        F.max(daynum).alias("max2"),
    ).first()
    staged = o.select(
        "o_orderkey",
        mnt.minmax_bucket(
            F.col("o_custkey"), stats["min1"], stats["max1"], Z_BITS
        ).alias("b1"),
        mnt.minmax_bucket(daynum, stats["min2"], stats["max2"], Z_BITS).alias(
            "b2"
        ),
    )
    return staged.select(
        "o_orderkey",
        "b1",
        "b2",
        mnt.interleave_bits(F.col("b1"), F.col("b2"), Z_BITS).alias("zval"),
    )


def _sql_interleave(b1: str, b2: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({b1} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b2} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


_ZVALUE_SQL = f"""
WITH dn AS (
  SELECT o_orderkey, o_custkey,
         datediff('day', DATE '1990-01-01', o_orderdate::DATE) AS d
  FROM orders
),
stats AS (
  SELECT min(o_custkey)::DOUBLE AS min1, max(o_custkey)::DOUBLE AS max1,
         min(d)::DOUBLE AS min2, max(d)::DOUBLE AS max2
  FROM dn
),
b AS (
  SELECT o_orderkey,
         floor((o_custkey::DOUBLE - min1) / (max1 - min1 + 1.0)
               * {float(1 << Z_BITS)})::BIGINT AS b1,
         floor((d::DOUBLE - min2) / (max2 - min2 + 1.0)
               * {float(1 << Z_BITS)})::BIGINT AS b2
  FROM dn, stats
)
SELECT o_orderkey, b1, b2,
       {_sql_interleave("b1", "b2", Z_BITS)}::BIGINT AS zval
FROM b
"""


ZM2_TILE_SHIFT = 2 * Z_BITS - 6  # 64 quadtree tiles from the z prefix
ZM2_LO, ZM2_HI = 64, 95  # bucket-space box predicate on BOTH dims


def zone_map_pruning_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2D sequel to zone_map_pruning: for a box predicate on TWO
    dimensions (custkey range AND date range), compare data skipping
    under a Z-ORDER layout (files = z-value prefixes, i.e. quadtree
    tiles — spatially local in both dims) against a single-dimension
    layout clustered on custkey alone. Zone maps carry per-file min/max
    of BOTH bucket columns; a file scans iff both ranges overlap the
    box. The 1D layout prunes only along its sort dimension and drags
    in every date; the z-layout's tiles cover ~the box's area fraction
    — the measured case for multi-dimensional clustering keys."""
    from ..sources import maintenance as mnt

    o = t(spark, sf_dir, "orders")
    daynum = F.datediff(
        F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date")
    )
    stats = o.agg(
        F.min("o_custkey").alias("min1"),
        F.max("o_custkey").alias("max1"),
        F.min(daynum).alias("min2"),
        F.max(daynum).alias("max2"),
    ).first()
    staged = o.select(
        mnt.minmax_bucket(
            F.col("o_custkey"), stats["min1"], stats["max1"], Z_BITS
        ).alias("b1"),
        mnt.minmax_bucket(daynum, stats["min2"], stats["max2"], Z_BITS).alias(
            "b2"
        ),
    ).select(
        "b1",
        "b2",
        mnt.interleave_bits(F.col("b1"), F.col("b2"), Z_BITS).alias("zval"),
    )
    layouts = {
        "z_tiles": staged.select(
            "b1", "b2", F.shiftright("zval", ZM2_TILE_SHIFT).alias("f")
        ),
        "custkey_only": staged.select(
            "b1", "b2", F.shiftright("b1", Z_BITS - 6).alias("f")
        ),
    }
    outs = []
    for name, df in layouts.items():
        zones = df.groupBy("f").agg(
            F.min("b1").alias("min1"),
            F.max("b1").alias("max1"),
            F.min("b2").alias("min2"),
            F.max("b2").alias("max2"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        scanned = (
            (F.col("min1") <= ZM2_HI)
            & (F.col("max1") >= ZM2_LO)
            & (F.col("min2") <= ZM2_HI)
            & (F.col("max2") >= ZM2_LO)
        )
        outs.append(
            zones.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum(scanned.cast("long")).alias("files_scanned"),
                F.sum("n_rows").cast("long").alias("rows_total"),
                F.sum(F.when(scanned, F.col("n_rows")).otherwise(F.lit(0)))
                .cast("long")
                .alias("rows_scanned"),
            ).select(F.lit(name).alias("layout"), "*")
        )
    both = outs[0].unionByName(outs[1])
    return both.select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_total",
        "rows_scanned",
        round_to(
            F.col("rows_scanned").cast("double")
            / F.col("rows_total").cast("double"),
            6,
        ).alias("scan_fraction"),
    )


def _zm2_sql() -> str:
    return f"""
WITH dn AS (
  SELECT o_custkey,
         datediff('day', DATE '1990-01-01', o_orderdate::DATE) AS d
  FROM orders
),
stats AS (
  SELECT min(o_custkey)::DOUBLE AS min1, max(o_custkey)::DOUBLE AS max1,
         min(d)::DOUBLE AS min2, max(d)::DOUBLE AS max2
  FROM dn
),
b AS (
  SELECT floor((o_custkey::DOUBLE - min1) / (max1 - min1 + 1.0)
               * {float(1 << Z_BITS)})::BIGINT AS b1,
         floor((d::DOUBLE - min2) / (max2 - min2 + 1.0)
               * {float(1 << Z_BITS)})::BIGINT AS b2
  FROM dn, stats
),
z AS (
  SELECT b1, b2, {_sql_interleave("b1", "b2", Z_BITS)}::BIGINT AS zval FROM b
),
lay AS (
  SELECT 'z_tiles' AS layout, b1, b2, zval >> {ZM2_TILE_SHIFT} AS f FROM z
  UNION ALL
  SELECT 'custkey_only', b1, b2, b1 >> {Z_BITS - 6} FROM z
),
zones AS (
  SELECT layout, f, min(b1) AS min1, max(b1) AS max1,
         min(b2) AS min2, max(b2) AS max2, count(*)::BIGINT AS n_rows
  FROM lay GROUP BY 1, 2
),
fl AS (
  SELECT layout, n_rows,
         (min1 <= {ZM2_HI} AND max1 >= {ZM2_LO}
          AND min2 <= {ZM2_HI} AND max2 >= {ZM2_LO}) AS scanned
  FROM zones
)
SELECT layout, count(*)::BIGINT AS n_files,
       sum(scanned::INT)::BIGINT AS files_scanned,
       sum(n_rows)::BIGINT AS rows_total,
       sum(CASE WHEN scanned THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned,
       {sql_round(
           "sum(CASE WHEN scanned THEN n_rows ELSE 0 END)::DOUBLE"
           " / sum(n_rows)::DOUBLE",
           6,
       )} AS scan_fraction
FROM fl GROUP BY 1
"""


def orders_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over the same (o_custkey, order-day)
    buckets as orders_zvalue — the better-locality alternative to the
    Morton interleave (every curve step is grid-adjacent). Unrolled
    integer bit arithmetic; the oracle replays the identical CTE chain."""
    from ..sources import maintenance as mnt

    o = t(spark, sf_dir, "orders")
    daynum = F.datediff(
        F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date")
    )
    stats = o.agg(
        F.min("o_custkey").alias("min1"),
        F.max("o_custkey").alias("max1"),
        F.min(daynum).alias("min2"),
        F.max(daynum).alias("max2"),
    ).first()
    staged = o.select(
        "o_orderkey",
        mnt.minmax_bucket(
            F.col("o_custkey"), stats["min1"], stats["max1"], Z_BITS
        ).alias("b1"),
        mnt.minmax_bucket(daynum, stats["min2"], stats["max2"], Z_BITS).alias(
            "b2"
        ),
    )
    return mnt.hilbert_index(staged, "b1", "b2", bits=Z_BITS, out_col="hval")


def _hilbert_sql() -> str:
    bits = Z_BITS
    ctes = [
        f"h{bits} AS (SELECT o_orderkey, b1, b2, b1::BIGINT AS hx, "
        f"b2::BIGINT AS hy, 0::BIGINT AS hd FROM b)"
    ]
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        ctes.append(
            f"""h{i} AS (
  SELECT o_orderkey, b1, b2,
    CASE WHEN {ry} = 0
         THEN (CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END)
         ELSE hx END AS hx,
    CASE WHEN {ry} = 0
         THEN (CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END)
         ELSE hy END AS hy,
    hd + {s * s} * xor(3 * {rx}, {ry}) AS hd
  FROM h{i + 1})"""
        )
    chain = ",\n".join(ctes)
    return f"""
WITH dn AS (
  SELECT o_orderkey, o_custkey,
         datediff('day', DATE '1990-01-01', o_orderdate::DATE) AS d
  FROM orders
),
stats AS (
  SELECT min(o_custkey)::DOUBLE AS min1, max(o_custkey)::DOUBLE AS max1,
         min(d)::DOUBLE AS min2, max(d)::DOUBLE AS max2
  FROM dn
),
b AS (
  SELECT o_orderkey,
         floor((o_custkey::DOUBLE - min1) / (max1 - min1 + 1.0)
               * {float(1 << Z_BITS)})::BIGINT AS b1,
         floor((d::DOUBLE - min2) / (max2 - min2 + 1.0)
               * {float(1 << Z_BITS)})::BIGINT AS b2
  FROM dn, stats
),
{chain}
SELECT o_orderkey, b1, b2, hd AS hval FROM h0
"""


# ---------------------------------------------------------------------------
# native session_window (batch) — twin of the manual gap+cumsum form
# ---------------------------------------------------------------------------


def sessionize_events_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` in a BATCH aggregate — the
    same 30-minute-gap sessions as ``sessionize_events`` (manual
    lag+cumsum), same oracle: the two strategies are proven identical
    by the shared driver hash (the agg_topk/window_topk pattern).

    ``session_window.start`` IS min(ts), so only ``session_id`` (a
    per-user ordinal over session starts) needs a follow-up window —
    user-partitioned, never global. Boundary note: the native form
    closes a window at gap >= 30 min exactly, the manual form at
    gap > 30 min; with microsecond-random timestamps no row sits on
    the boundary, which the shared hash verifies.
    """
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    sessions = (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return sessions.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
    )


PCA_SCALE_BITS = 20
PCA_ITERS = 128
PCA_DIM = 64

# The PCA constructors run a distributed collect + a 128-256-iteration
# driver eigensolve at DataFrame-BUILD time (the bounded-collect
# class); both stages go through _util.memo (ADVICE r12: the lint
# sweep alone paid four full solves).
def _pca_full_rows(spark: SparkSession, sf_dir: str) -> list:
    return memo(
        spark,
        sf_dir,
        "pca_rows",
        lambda: similarity.embedding_moment_sums(
            spread(t(spark, sf_dir, "embeddings")),
            scale_bits=PCA_SCALE_BITS,
        ).collect(),
    )


def _pca_top_k(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """(moment rows, top-PCA_K deflation components) shared by the
    top-k, projection and per-group PCA queries."""
    rows = _pca_full_rows(spark, sf_dir)
    out = memo(
        spark,
        sf_dir,
        "pca_top_k",
        lambda: similarity.top_k_pcs_power_iteration(
            rows, k=PCA_K, iters=PCA_K_ITERS, scale_bits=PCA_SCALE_BITS
        ),
    )
    return rows, out


def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus — the SemDeDup
    paper's preprocessing step (PCA-reduce embeddings before cosine
    clustering) and the whitening/energy diagnostic every embedding
    pipeline wants. Two-stage split that scales:

    1. DISTRIBUTED exact pass (operators/similarity.
       embedding_moment_sums): one explode + partial-combining groupBy
       producing d(d+1)/2 + d + 1 INT64 moment sums — quantized
       floor(v·2^20) so the sums are exact integers, order-independent
       and engine-portable with no sorted-fold machinery. Nothing
       corpus-sized shuffles; the shuffle carries ~d²/2 rows per
       partition.
    2. BOUNDED driver eigensolve (top_pc_power_iteration): the
       documented codebook-collect class (2,145 rows by construction);
       128 power iterations as explicit ascending left folds, centered
       covariance, eigenvalue = ||Cv||, de-quantized by 2^40.

    Output: (dim, loading, eigval, explained_ratio), 64 rows, all
    rounded through the portable round_to(…, 6). The DuckDB oracle
    replays stage 1 as GROUP BY sums and stage 2 as a recursive CTE of
    list folds — bit-for-bit, which pins the IMPLEMENTATION; the MATH
    (does it find the eigenvector?) is pinned against numpy eigh in
    tests/test_pca.py (cos > 0.9999 at the measured ~1.07 eigen-gap).
    """
    rows = _pca_full_rows(spark, sf_dir)
    out = memo(
        spark,
        sf_dir,
        "pca_top_pc",
        lambda: similarity.top_pc_power_iteration(
            rows, iters=PCA_ITERS, scale_bits=PCA_SCALE_BITS
        ),
    )
    raw = spark.createDataFrame(
        out, "dim long, loading double, eigval double, explained_ratio double"
    )
    return raw.select(
        "dim",
        round_to(F.col("loading"), 6).alias("loading"),
        round_to(F.col("eigval"), 6).alias("eigval"),
        round_to(F.col("explained_ratio"), 6).alias("explained_ratio"),
    )


def embedding_top_pc_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INGEST path of embedding_top_pc: the moment store is built
    from the 90% slice (vec_id % 10 != 0), the remaining 10% arrives
    as a batch and folds in via operators/similarity.
    incremental_moment_sums, and the top PC is re-solved from the
    updated store — with NO corpus re-scan beyond the batch's own
    moment pass (the store is ~d² rows forever). Because the sums are
    exact integers, the incremental store equals the full recompute
    BIT-FOR-BIT, so this query shares embedding_top_pc's full-corpus
    oracle: the driver itself re-proves store ⊕ batch == full."""
    def _compute():
        emb = spread(t(spark, sf_dir, "embeddings"))
        base = emb.filter(F.col("vec_id") % 10 != 0)
        batch = emb.filter(F.col("vec_id") % 10 == 0)
        store = similarity.embedding_moment_sums(
            base, scale_bits=PCA_SCALE_BITS
        )
        return similarity.incremental_moment_sums(
            batch, store, scale_bits=PCA_SCALE_BITS
        ).collect()

    rows = memo(spark, sf_dir, "pca_rows_incr", _compute)
    out = memo(
        spark,
        sf_dir,
        "pca_top_pc_incr",
        lambda: similarity.top_pc_power_iteration(
            rows, iters=PCA_ITERS, scale_bits=PCA_SCALE_BITS
        ),
    )
    raw = spark.createDataFrame(
        out, "dim long, loading double, eigval double, explained_ratio double"
    )
    return raw.select(
        "dim",
        round_to(F.col("loading"), 6).alias("loading"),
        round_to(F.col("eigval"), 6).alias("eigval"),
        round_to(F.col("explained_ratio"), 6).alias("explained_ratio"),
    )


def _top_pc_sql() -> str:
    d, iters = PCA_DIM, PCA_ITERS
    scale = float(2**PCA_SCALE_BITS)
    dequant = float(2 ** (2 * PCA_SCALE_BITS))
    # matvec of the previous iterate: ascending-j left fold from 0.0
    # per output element — the exact op order of the Python solver
    # bare 0.0 / 0.125 literals type as DECIMAL in DuckDB and poison
    # the whole iteration's arithmetic — every float literal is an
    # explicit DOUBLE cast
    u_expr = (
        f"list_transform(range(0, {d}), ii -> list_reduce("
        f"[CAST(0.0 AS DOUBLE)] || list_transform(range(0, {d}), "
        f"jj -> C[ii + 1][jj + 1] * v[jj + 1]), (a, b) -> a + b))"
    )
    return f"""
WITH RECURSIVE q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM embeddings
),
idx AS (SELECT unnest(range(0, {d})) AS i),
nrows AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
firsts AS (
  SELECT i.i AS i, CAST(sum(qv[i.i + 1]) AS BIGINT) AS s
  FROM q, idx i GROUP BY i.i
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(qv[a.i + 1] * qv[b.i + 1]) AS BIGINT) AS s
  FROM q, idx a, idx b WHERE b.i >= a.i GROUP BY a.i, b.i
),
cent AS (
  SELECT p.i AS i, p.j AS j,
         CAST(p.s AS DOUBLE) / CAST(n.n AS DOUBLE)
           - (CAST(fi.s AS DOUBLE) / CAST(n.n AS DOUBLE))
             * (CAST(fj.s AS DOUBLE) / CAST(n.n AS DOUBLE)) AS c
  FROM pairs p, nrows n
  JOIN firsts fi ON fi.i = p.i
  JOIN firsts fj ON fj.i = p.j
),
sym AS (
  SELECT i, j, c FROM cent
  UNION ALL
  SELECT j AS i, i AS j, c FROM cent WHERE i <> j
),
cmat AS MATERIALIZED (
  SELECT list(rowl ORDER BY i) AS C FROM (
    SELECT i, list(c ORDER BY j) AS rowl FROM sym GROUP BY i
  )
),
pit AS (
  SELECT 0 AS step,
         list_transform(range(0, {d}),
                        x -> CAST({1.0 / PCA_DIM ** 0.5!r} AS DOUBLE)) AS v,
         CAST(0.0 AS DOUBLE) AS lam
  FROM cmat
  UNION ALL
  SELECT step + 1, list_transform(u, x -> x / nrm) AS v, nrm AS lam
  FROM (
    SELECT step, u,
           sqrt(list_reduce([CAST(0.0 AS DOUBLE)]
                            || list_transform(u, y -> y * y),
                            (a, b) -> a + b)) AS nrm
    FROM (
      SELECT step, {u_expr} AS u
      FROM pit, cmat WHERE step < {iters}
    )
  )
),
fin AS (
  SELECT CASE WHEN v[1] < 0 THEN list_transform(v, x -> -x) ELSE v END AS v,
         lam
  FROM pit WHERE step = {iters}
),
tracev AS (
  SELECT list_reduce([CAST(0.0 AS DOUBLE)]
                     || list_transform(range(0, {d}), i -> C[i + 1][i + 1]),
                     (a, b) -> a + b) AS tr
  FROM cmat
)
SELECT CAST(i.i AS BIGINT) AS dim,
       {sql_round("f.v[i.i + 1]", 6)} AS loading,
       {sql_round(f"f.lam / {dequant}", 6)} AS eigval,
       {sql_round("f.lam / t.tr", 6)} AS explained_ratio
FROM idx i, fin f, tracev t
"""


PCA_K = 3
PCA_K_ITERS = 256


def embedding_top_k_pcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PCA_K} principal components via power iteration with
    DEFLATION (operators/similarity.top_k_pcs_power_iteration) — the
    actual PCA-reduce step (SemDeDup §3 projects embeddings onto the
    top components before clustering). Same two-stage scale split as
    embedding_top_pc: one exact distributed int-moment pass, then the
    whole deflation loop on the ~d² collected rows. k stops at 3
    because convergence is eigen-gap-limited and the synthetic
    spectrum's 4th gap (~1.009) would need ~1024 iterations — the
    docstring math in the operator; a real corpus with genuine
    dominant directions supports larger k at fewer iterations.
    Output: (component, dim, loading, eigval, explained_ratio),
    {PCA_K}·64 rows, portable round_to(…, 6)."""
    rows, out = _pca_top_k(spark, sf_dir)
    raw = spark.createDataFrame(
        out,
        "component long, dim long, loading double, eigval double,"
        " explained_ratio double",
    )
    return raw.select(
        "component",
        "dim",
        round_to(F.col("loading"), 6).alias("loading"),
        round_to(F.col("eigval"), 6).alias("eigval"),
        round_to(F.col("explained_ratio"), 6).alias("explained_ratio"),
    )


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-REDUCE applied: every embedding projected onto the top-3
    deflation components — the per-row transform SemDeDup actually
    clusters on, turning the spectral report into a usable column.
    p_m(x) = Σ_i (x_i − μ_i)·v_m_i, folded ascending from 0.0.

    Scale shape — the part worth copying at 100 TB: the moment pass
    runs ONCE (distributed, exact ints), the eigensolve ONCE on the
    driver (~d² rows), and the projection is a pure MAP with the mean
    and loadings bound as numpy-array literals (the F.lit(ndarray)
    literal class CLAUDE.md documents — one true Literal node per
    array, no per-element py4j, no join, no broadcast variable, ZERO
    shuffles). The centered vector is staged as its own projected
    column so the three component folds share it instead of
    re-centering per component. Loadings enter at FULL precision (the
    rounded report columns never feed arithmetic); the oracle re-runs
    the identical CTE chain, so both engines project with bit-equal
    (μ, v)."""
    import numpy as np

    emb = spread(t(spark, sf_dir, "embeddings"))
    rows, out = _pca_top_k(spark, sf_dir)
    n = next(int(r[2]) for r in rows if int(r[0]) == -1)
    nf = float(n)
    scale = float(2**PCA_SCALE_BITS)
    S = {int(r[0]): int(r[2]) for r in rows if int(r[0]) >= 0 and int(r[1]) == -1}
    d = max(S) + 1
    mu = np.array([(float(S[i]) / nf) / scale for i in range(d)])
    vs = [
        np.array([t[2] for t in out if t[0] == comp])
        for comp in range(1, PCA_K + 1)
    ]
    centered = F.zip_with(
        F.col("embedding"),
        F.lit(mu),
        lambda x, m: x.cast("double") - m,
    )
    staged = emb.select("vec_id", centered.alias("__c"))

    def proj(v):
        return F.aggregate(
            F.zip_with(F.col("__c"), F.lit(v), lambda c, w: c * w),
            F.lit(0.0),
            lambda acc, term: acc + term,
        )

    return staged.select(
        "vec_id",
        *[
            round_to(proj(vs[m - 1]), 6).alias(f"pc{m}")
            for m in range(1, PCA_K + 1)
        ],
    )


GP_SCALE_BITS = 20


def embedding_group_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP PCA, honestly (VERDICT r12 #8): r12 prototyped
    per-source power iteration and correctly dropped it — the worst
    per-group eigen-gap on the near-isotropic synthetic embeddings is
    ~1.01, where 256 iterations leave the iterate unconverged. This is
    the prescribed alternative: project every embedding onto the
    GLOBAL top-2 PCs (the embedding_pca_project transform, bit-exact
    both engines), quantize the 2-d projections to exact int64
    (floor(p·2^{GP_SCALE_BITS}) — same overflow budget discipline as
    the global stage: n·2^(2k) < 2^63), fold per-label 2×2 moment
    sums DISTRIBUTED-side, and solve each group's spectrum with the
    CLOSED-FORM symmetric-2×2 eigendecomposition
    λ = (c11+c22)/2 ± sqrt(((c11−c22)/2)² + c12²) — no iteration, so
    NO gap dependence: exact at gap 1.000001. Every float op (+,−,×,
    ÷,sqrt) is IEEE correctly-rounded, so the DuckDB oracle replays
    the whole solve bit-for-bit — no trig (a 3×3 closed form needs
    acos/cos, which are NOT cross-engine bit-stable; 2×2 is the
    largest closed form that stays inside the portability contract).

    Scale shape: the global moment pass is memoized/shared; then ONE
    projection scan + ONE 6-sum aggregate keyed on label (map-side
    combined, |labels| rows) + a 10-row closed-form projection — zero
    driver loops, zero windows, nothing corpus-sized shuffles. Output
    per label: member count, both plane eigenvalues (de-quantized),
    the in-plane variance share of the group's own top direction, and
    its loading in the (pc1, pc2) basis (sign: first component
    ≥ 0)."""
    import numpy as np

    emb = spread(t(spark, sf_dir, "embeddings"))
    rows, out = _pca_top_k(spark, sf_dir)
    n = next(int(r[2]) for r in rows if int(r[0]) == -1)
    nf_g = float(n)
    scale = float(2**PCA_SCALE_BITS)
    S = {
        int(r[0]): int(r[2])
        for r in rows
        if int(r[0]) >= 0 and int(r[1]) == -1
    }
    d = max(S) + 1
    mu = np.array([(float(S[i]) / nf_g) / scale for i in range(d)])
    vs = [
        np.array([t[2] for t in out if t[0] == comp]) for comp in (1, 2)
    ]
    centered = F.zip_with(
        F.col("embedding"),
        F.lit(mu),
        lambda x, m: x.cast("double") - m,
    )
    staged = emb.select(
        F.col("label").cast("long").alias("label"), centered.alias("__c")
    )

    def proj(v):
        return F.aggregate(
            F.zip_with(F.col("__c"), F.lit(v), lambda c, w: c * w),
            F.lit(0.0),
            lambda acc, term: acc + term,
        )

    gscale = float(2**GP_SCALE_BITS)
    quant = staged.select(
        "label",
        F.floor(proj(vs[0]) * F.lit(gscale)).cast("long").alias("q1"),
        F.floor(proj(vs[1]) * F.lit(gscale)).cast("long").alias("q2"),
    )
    agg = quant.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q1").alias("s1"),
        F.sum("q2").alias("s2"),
        F.sum(F.col("q1") * F.col("q1")).alias("m11"),
        F.sum(F.col("q1") * F.col("q2")).alias("m12"),
        F.sum(F.col("q2") * F.col("q2")).alias("m22"),
    )
    nf = F.col("n").cast("double")

    def cterm(mcol, sa, sb):
        return F.col(mcol).cast("double") / nf - (
            F.col(sa).cast("double") / nf
        ) * (F.col(sb).cast("double") / nf)

    cov = agg.select(
        "label",
        "n",
        cterm("m11", "s1", "s1").alias("c11"),
        cterm("m12", "s1", "s2").alias("c12"),
        cterm("m22", "s2", "s2").alias("c22"),
    )
    two = F.lit(2.0)
    rad = F.sqrt(
        ((F.col("c11") - F.col("c22")) / two)
        * ((F.col("c11") - F.col("c22")) / two)
        + F.col("c12") * F.col("c12")
    )
    eig = cov.select(
        "label",
        "n",
        "c11",
        "c12",
        "c22",
        ((F.col("c11") + F.col("c22")) / two + rad).alias("lam1"),
        ((F.col("c11") + F.col("c22")) / two - rad).alias("lam2"),
    )
    zero = F.lit(0.0)
    ev = eig.select(
        "label",
        "n",
        "lam1",
        "lam2",
        F.when(F.col("c12") != zero, F.col("c12"))
        .when(F.col("c11") >= F.col("c22"), F.lit(1.0))
        .otherwise(zero)
        .alias("ex"),
        F.when(F.col("c12") != zero, F.col("lam1") - F.col("c11"))
        .when(F.col("c11") >= F.col("c22"), zero)
        .otherwise(F.lit(1.0))
        .alias("ey"),
    )
    evn = ev.withColumn(
        "nrm",
        F.sqrt(
            F.col("ex") * F.col("ex") + F.col("ey") * F.col("ey")
        ),
    )
    v11 = F.col("ex") / F.col("nrm")
    v12 = F.col("ey") / F.col("nrm")
    dequant = float(2 ** (2 * GP_SCALE_BITS))
    return evn.select(
        "label",
        F.col("n").alias("n_vecs"),
        round_to(F.col("lam1") / F.lit(dequant), 6).alias("lam1"),
        round_to(F.col("lam2") / F.lit(dequant), 6).alias("lam2"),
        round_to(
            F.col("lam1") / (F.col("lam1") + F.col("lam2")), 6
        ).alias("plane_share_1"),
        round_to(
            F.when(v11 < zero, -v11).otherwise(v11), 6
        ).alias("v1_p1"),
        round_to(
            F.when(v11 < zero, -v12).otherwise(v12), 6
        ).alias("v1_p2"),
    )


def _group_pca_sql() -> str:
    """Closed-form per-label oracle: the shared top-k chain re-derives
    (μ, v1, v2) at full precision, each row projects+quantizes, then
    the 2×2 eigensolve is plain scalar SQL — every op correctly-
    rounded IEEE, so the doubles match Spark's bit-for-bit."""
    d = PCA_DIM
    scale = float(2**PCA_SCALE_BITS)
    gscale = float(2**GP_SCALE_BITS)
    dequant = float(2 ** (2 * GP_SCALE_BITS))

    def proj(m: int) -> str:
        return (
            f"list_reduce([CAST(0.0 AS DOUBLE)] || "
            f"list_transform(range(0, {d}), i -> "
            f"(CAST(e.embedding[i + 1] AS DOUBLE) - mu.m[i + 1])"
            f" * f{m}.v[i + 1]), (a, b) -> a + b)"
        )

    return _top_k_chain_sql() + f""",
mulist AS MATERIALIZED (
  SELECT list((CAST(f.s AS DOUBLE) / CAST(n.n AS DOUBLE)) / {scale}
              ORDER BY f.i) AS m
  FROM firsts f, nrows n
),
gproj AS (
  SELECT e.label::BIGINT AS label,
         CAST(floor({proj(1)} * CAST({gscale!r} AS DOUBLE)) AS BIGINT) AS q1,
         CAST(floor({proj(2)} * CAST({gscale!r} AS DOUBLE)) AS BIGINT) AS q2
  FROM embeddings e, mulist mu, fin1 f1, fin2 f2
),
gagg AS (
  SELECT label, count(*)::BIGINT AS n,
         sum(q1)::BIGINT AS s1, sum(q2)::BIGINT AS s2,
         sum(q1 * q1)::BIGINT AS m11, sum(q1 * q2)::BIGINT AS m12,
         sum(q2 * q2)::BIGINT AS m22
  FROM gproj GROUP BY label
),
gcov AS (
  SELECT label, n,
    CAST(m11 AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS c11,
    CAST(m12 AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS c12,
    CAST(m22 AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS c22
  FROM gagg
),
geig AS (
  SELECT label, n, c11, c12, c22,
    (c11 + c22) / CAST(2.0 AS DOUBLE)
      + sqrt(((c11 - c22) / CAST(2.0 AS DOUBLE))
             * ((c11 - c22) / CAST(2.0 AS DOUBLE)) + c12 * c12) AS lam1,
    (c11 + c22) / CAST(2.0 AS DOUBLE)
      - sqrt(((c11 - c22) / CAST(2.0 AS DOUBLE))
             * ((c11 - c22) / CAST(2.0 AS DOUBLE)) + c12 * c12) AS lam2
  FROM gcov
),
gev AS (
  SELECT label, n, lam1, lam2,
    CASE WHEN c12 <> CAST(0.0 AS DOUBLE) THEN c12
         WHEN c11 >= c22 THEN CAST(1.0 AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS ex,
    CASE WHEN c12 <> CAST(0.0 AS DOUBLE) THEN lam1 - c11
         WHEN c11 >= c22 THEN CAST(0.0 AS DOUBLE)
         ELSE CAST(1.0 AS DOUBLE) END AS ey
  FROM geig
),
gevn AS (SELECT *, sqrt(ex * ex + ey * ey) AS nrm FROM gev)
SELECT label, n AS n_vecs,
  {sql_round(f"lam1 / CAST({dequant!r} AS DOUBLE)", 6)} AS lam1,
  {sql_round(f"lam2 / CAST({dequant!r} AS DOUBLE)", 6)} AS lam2,
  {sql_round("lam1 / (lam1 + lam2)", 6)} AS plane_share_1,
  {sql_round("CASE WHEN ex / nrm < CAST(0.0 AS DOUBLE) THEN -(ex / nrm) ELSE ex / nrm END", 6)} AS v1_p1,
  {sql_round("CASE WHEN ex / nrm < CAST(0.0 AS DOUBLE) THEN -(ey / nrm) ELSE ey / nrm END", 6)} AS v1_p2
FROM gevn
"""


def _top_k_chain_sql() -> str:
    """The WITH-RECURSIVE prefix shared by the top-k oracles: moment
    sums, centering, cmat1, trace, then one pit{m}/fin{m} recursion
    per component with cmat{m+1} = C − λ·v·vᵀ deflation in the Python
    solver's exact op order (left-associative ``C - lam * v_i * v_j``).
    Every chained CTE is MATERIALIZED: un-materialized, DuckDB inlines
    fin1 into every pit2 step and re-runs the whole first recursion
    quadratically (observed hang; 0.77 s materialized)."""
    d, iters, k = PCA_DIM, PCA_K_ITERS, PCA_K
    scale = float(2**PCA_SCALE_BITS)
    dequant = float(2 ** (2 * PCA_SCALE_BITS))
    v0 = repr(1.0 / PCA_DIM**0.5)
    u_expr = (
        f"list_transform(range(0, {d}), ii -> list_reduce("
        f"[CAST(0.0 AS DOUBLE)] || list_transform(range(0, {d}), "
        f"jj -> C[ii + 1][jj + 1] * v[jj + 1]), (a, b) -> a + b))"
    )
    blocks = []
    for m in range(1, k + 1):
        blocks.append(f"""pit{m} AS (
  SELECT 0 AS step,
         list_transform(range(0, {d}), x -> CAST({v0} AS DOUBLE)) AS v,
         CAST(0.0 AS DOUBLE) AS lam
  FROM cmat{m}
  UNION ALL
  SELECT step + 1, list_transform(u, x -> x / nrm) AS v, nrm AS lam
  FROM (
    SELECT step, u,
           sqrt(list_reduce([CAST(0.0 AS DOUBLE)]
                            || list_transform(u, y -> y * y),
                            (a, b) -> a + b)) AS nrm
    FROM (
      SELECT step, {u_expr} AS u
      FROM pit{m}, cmat{m} WHERE step < {iters}
    )
  )
),
fin{m} AS MATERIALIZED (
  SELECT CASE WHEN v[1] < 0 THEN list_transform(v, x -> -x) ELSE v END AS v,
         lam
  FROM pit{m} WHERE step = {iters}
)""")
        if m < k:
            blocks.append(f"""cmat{m + 1} AS MATERIALIZED (
  SELECT list_transform(range(0, {d}), ii -> list_transform(range(0, {d}),
           jj -> C[ii + 1][jj + 1] - lam * v[ii + 1] * v[jj + 1])) AS C
  FROM cmat{m}, fin{m}
)""")
    blocks_sql = ",\n".join(blocks)
    return f"""
WITH RECURSIVE q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM embeddings
),
idx AS (SELECT unnest(range(0, {d})) AS i),
nrows AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
firsts AS (
  SELECT i.i AS i, CAST(sum(qv[i.i + 1]) AS BIGINT) AS s
  FROM q, idx i GROUP BY i.i
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(qv[a.i + 1] * qv[b.i + 1]) AS BIGINT) AS s
  FROM q, idx a, idx b WHERE b.i >= a.i GROUP BY a.i, b.i
),
cent AS (
  SELECT p.i AS i, p.j AS j,
         CAST(p.s AS DOUBLE) / CAST(n.n AS DOUBLE)
           - (CAST(fi.s AS DOUBLE) / CAST(n.n AS DOUBLE))
             * (CAST(fj.s AS DOUBLE) / CAST(n.n AS DOUBLE)) AS c
  FROM pairs p, nrows n
  JOIN firsts fi ON fi.i = p.i
  JOIN firsts fj ON fj.i = p.j
),
sym AS (
  SELECT i, j, c FROM cent
  UNION ALL
  SELECT j AS i, i AS j, c FROM cent WHERE i <> j
),
cmat1 AS MATERIALIZED (
  SELECT list(rowl ORDER BY i) AS C FROM (
    SELECT i, list(c ORDER BY j) AS rowl FROM sym GROUP BY i
  )
),
tracev AS (
  SELECT list_reduce([CAST(0.0 AS DOUBLE)]
                     || list_transform(range(0, {d}), i -> C[i + 1][i + 1]),
                     (a, b) -> a + b) AS tr
  FROM cmat1
),
{blocks_sql}
"""


def _top_k_pcs_sql() -> str:
    k, dequant = PCA_K, float(2 ** (2 * PCA_SCALE_BITS))
    selects = [
        f"""SELECT CAST({m} AS BIGINT) AS component, CAST(i.i AS BIGINT) AS dim,
       {sql_round(f"f{m}.v[i.i + 1]", 6)} AS loading,
       {sql_round(f"f{m}.lam / {dequant}", 6)} AS eigval,
       {sql_round(f"f{m}.lam / t.tr", 6)} AS explained_ratio
FROM idx i, fin{m} f{m}, tracev t"""
        for m in range(1, k + 1)
    ]
    return _top_k_chain_sql() + "\nUNION ALL\n".join(selects)


def _pca_project_sql() -> str:
    """Projection oracle: the identical CTE chain re-derives (μ, v) at
    full precision, then each embedding row folds
    (CAST(x_i AS DOUBLE) − μ_i)·v_m_i ascending from 0.0 — the exact
    op order of the staged zip_with/aggregate columns."""
    d, k = PCA_DIM, PCA_K
    scale = float(2**PCA_SCALE_BITS)

    def proj(m: int) -> str:
        return (
            f"list_reduce([CAST(0.0 AS DOUBLE)] || "
            f"list_transform(range(0, {d}), i -> "
            f"(CAST(e.embedding[i + 1] AS DOUBLE) - mu.m[i + 1])"
            f" * f{m}.v[i + 1]), (a, b) -> a + b)"
        )

    froms = ", ".join(f"fin{m} f{m}" for m in range(1, k + 1))
    cols = ",\n       ".join(
        f"{sql_round(proj(m), 6)} AS pc{m}" for m in range(1, k + 1)
    )
    return _top_k_chain_sql() + f""",
mulist AS MATERIALIZED (
  SELECT list((CAST(f.s AS DOUBLE) / CAST(n.n AS DOUBLE)) / {scale}
              ORDER BY f.i) AS m
  FROM firsts f, nrows n
)
SELECT e.vec_id AS vec_id,
       {cols}
FROM embeddings e, mulist mu, {froms}
"""


QUERIES = {
    "events_arrow_scaled": events_arrow_scaled,
    "orders_zvalue": orders_zvalue,
    "orders_hilbert": orders_hilbert,
    "pq_codes": pq_codes,
    "pq_topk": pq_topk,
    "pq_rerank_topk": pq_rerank_topk,
    "pq_trained_topk": pq_trained_topk,
    "sessionize_events_native": sessionize_events_native,
    "docs_dup_spans": docs_dup_spans,
    "docs_max_dup_extents": docs_max_dup_extents,
    "docs_max_dup_extents_salted": docs_max_dup_extents_salted,
    "corpus_top_dup_extents": corpus_top_dup_extents,
    "docs_strip_dup_spans": docs_strip_dup_spans,
    "docs_weighted_sample": docs_weighted_sample,
    "user_streaks": user_streaks,
    "docs_char_entropy": docs_char_entropy,
    "docs_char_entropy_explode": docs_char_entropy_explode,
    "events_m4_downsample": events_m4_downsample,
    "docs_bm25": docs_bm25,
    "docs_phrase_search": docs_phrase_search,
    "docs_rrf_fusion": docs_rrf_fusion,
    "docs_hashed_features": docs_hashed_features,
    "sketch_merge_distinct": sketch_merge_distinct,
    "sketch_overlap_users": sketch_overlap_users,
    "corpus_manifest": corpus_manifest,
    "cms_heavy_hitters": cms_heavy_hitters,
    "cms_selfjoin_size": cms_selfjoin_size,
    "bloom_join_prune": bloom_join_prune,
    "histogram_quantile_sketch": histogram_quantile_sketch,
    "zone_map_pruning": zone_map_pruning,
    "zone_map_pruning_2d": zone_map_pruning_2d,
    "ivfpq_topk": ivfpq_topk,
    "ivfpq_residual_topk": ivfpq_residual_topk,
    "ivfpq_residual_rerank_topk": ivfpq_residual_rerank_topk,
    "ivfpq_rerank_recall_eval": ivfpq_rerank_recall_eval,
    "embedding_top_pc": embedding_top_pc,
    "embedding_top_pc_incremental": embedding_top_pc_incremental,
    "embedding_top_k_pcs": embedding_top_k_pcs,
    "embedding_pca_project": embedding_pca_project,
    "embedding_group_pca": embedding_group_pca,
    "ivfpq_ingest_postings": ivfpq_ingest_postings,
    "orders_pit_acctbal": orders_pit_acctbal,
    "events_funnel": events_funnel,
    "funnel_dropoff": funnel_dropoff,
}

ORACLES = {
    "docs_dup_spans": _DUP_SPANS_SQL,
    "docs_max_dup_extents": _max_dup_sql(),
    # the salted plan is output-equal by construction (twin test);
    # same oracle on purpose — the driver re-proves the equality
    "docs_max_dup_extents_salted": _max_dup_sql(),
    "embedding_top_pc": _top_pc_sql(),
    # the incremental store equals the full recompute bit-for-bit
    # (exact integer associativity) — shared full-corpus oracle is the
    # point: the driver re-proves store + batch == full
    "embedding_top_pc_incremental": _top_pc_sql(),
    "embedding_top_k_pcs": _top_k_pcs_sql(),
    "embedding_pca_project": _pca_project_sql(),
    "embedding_group_pca": _group_pca_sql(),
    "corpus_top_dup_extents": _top_extents_sql(),
    "docs_strip_dup_spans": _STRIP_SQL,
    "docs_weighted_sample": _WSWR_SQL,
    "user_streaks": _STREAKS_SQL,
    "docs_char_entropy": _ENTROPY_SQL,
    # same oracle as the HOF twin — fold order pinned identical
    "docs_char_entropy_explode": _ENTROPY_SQL,
    "events_m4_downsample": _M4_SQL,
    "docs_bm25": _bm25_sql(),
    "docs_phrase_search": _phrase_sql(),
    "docs_rrf_fusion": _rrf_sql(),
    "docs_hashed_features": _FH_SQL,
    "sketch_merge_distinct": _SKETCH_SQL,
    "sketch_overlap_users": _SKETCH_OVERLAP_SQL,
    "corpus_manifest": _manifest_sql(),
    "cms_heavy_hitters": _cms_sql(),
    "cms_selfjoin_size": _cms_join_sql(),
    "bloom_join_prune": _bloom_sql(),
    "histogram_quantile_sketch": _hq_sql(),
    "zone_map_pruning": _ZONE_MAP_SQL,
    "zone_map_pruning_2d": _zm2_sql(),
    "ivfpq_topk": _ivfpq_sql(),
    "ivfpq_residual_topk": _ivfpq_residual_sql(),
    "ivfpq_residual_rerank_topk": _ivfpq_rerank_sql(),
    "ivfpq_rerank_recall_eval": _ivfpq_rerank_eval_sql(),
    "ivfpq_ingest_postings": _ivfpq_ingest_sql(),
    "orders_pit_acctbal": _pit_sql(),
    "events_funnel": _FUNNEL_SQL,
    "funnel_dropoff": _funnel_dropoff_sql(),
    "events_arrow_scaled": _ARROW_SQL,
    "orders_zvalue": _ZVALUE_SQL,
    "orders_hilbert": _hilbert_sql(),
    "pq_codes": _PQ_CODES_SQL,
    "pq_topk": _PQ_TOPK_SQL,
    "pq_rerank_topk": _PQ_RERANK_SQL,
    "pq_trained_topk": _PQ_TRAINED_SQL,
    # shares the manual form's oracle — strategies proven identical
    "sessionize_events_native": relational.ORACLES["sessionize_events"],
}
