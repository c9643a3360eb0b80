"""Named queries over the driver test tables — one per implemented
operator family from SURVEY.md §2 plus the training-data-pipeline
additions (dedup / similarity / text analysis). Each has a matching
ANSI-SQL oracle in ORACLE_SQL consumed by __spark_entry__.py.

Conventions for oracle-hash stability:
  * every computed column is aliased identically in Spark and SQL;
  * cross-engine hashes via operators.hashing.h60 (md5-derived);
  * decimal-exact arithmetic for float-derived comparisons, cast to
    double only in the final projection;
  * aggregates cast to bigint/double explicitly on the DuckDB side
    (DuckDB sum(int) widens to int128 otherwise).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .core.textnorm import DBC_FROM, DBC_TO
from .operators import dedup as D
from .operators import similarity as SIM
from .operators import temporal as TEMP
from .operators import textstats as TS
from .operators.hashing import MINHASH_COEFFS, MINHASH_PRIME, h60, h60_sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: Dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


# =====================================================================
# relational core (SURVEY §2.2-2.7 operator families on TPC-H tables)
# =====================================================================

@query(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS sum_disc_price,
           CAST(avg(l_quantity) AS DOUBLE) AS avg_qty,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """Baseline shuffle agg with map-side combine (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum("l_extendedprice").cast("double").alias("sum_base_price"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        F.avg("l_quantity").alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "join_broadcast_dims",
    """
    SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o.o_totalprice) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def join_broadcast_dims(spark, sf_dir):
    """Fact-to-dims star join; dims broadcast (no shuffle of orders
    beyond the final agg)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("revenue"),
        )
    )


@query(
    "window_cumulative_offset",
    """
    SELECT o_custkey, o_orderkey,
           CAST(COALESCE(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           AS cum_before
    FROM orders
    """,
)
def window_cumulative_offset(spark, sf_dir):
    """W1/A1: the chunk-offset pattern — running sum over everything
    BEFORE the current row (rowsBetween(unboundedPreceding, -1))."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(F.sum("o_totalprice").over(w), F.lit(0)).cast("double").alias("cum_before"),
    )


@query(
    "vote_max_by",
    """
    WITH per_option AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(value) AS DOUBLE) AS sum_value
      FROM events GROUP BY user_id, event_type
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY cnt DESC, sum_value DESC, event_type DESC) AS rn
      FROM per_option
    )
    SELECT user_id, event_type AS winner, cnt, sum_value / cnt AS mean_value
    FROM ranked WHERE rn = 1
    """,
)
def vote_max_by(spark, sf_dir):
    """A2: classification-vote aggregation — winner by (count, sum),
    reported value is the mean; deterministic text tiebreak."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").cast("double").alias("sum_value")
    )
    pick = F.max_by(
        F.struct("event_type", "cnt", "sum_value"),
        F.struct(F.col("cnt"), F.col("sum_value"), F.col("event_type")),
    )
    return per.groupBy("user_id").agg(
        pick.getField("event_type").alias("winner"),
        pick.getField("cnt").alias("cnt"),
        (pick.getField("sum_value") / pick.getField("cnt")).alias("mean_value"),
    )


@query(
    "anti_join_negatives",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c ANTI JOIN
         (SELECT * FROM orders WHERE o_totalprice > 300000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def anti_join_negatives(spark, sf_dir):
    """T1/E4: the negative-sampling anti-join (labels/customers with
    no positives — here: no high-value orders; the positive set is
    filtered so the anti-join is non-empty at the driver's SF, where
    every customer has at least one order)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "semi_join_exists",
    """
    SELECT c.c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def semi_join_exists(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@query(
    "prompt_expansion_join",
    """
    SELECT p.p_partkey, r.r_name,
           p.p_type || '的' || r.r_name AS prompt
    FROM part p CROSS JOIN region r
    WHERE p.p_size > 40
    """,
)
def prompt_expansion_join(spark, sf_dir):
    """J2: the parent-span x child-node prompt-expansion join (the
    subject->predicate step) — broadcast cross join + concat."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    r = _t(spark, sf_dir, "region")
    return p.crossJoin(F.broadcast(r)).select(
        "p_partkey",
        "r_name",
        F.concat(F.col("p_type"), F.lit("的"), F.col("r_name")).alias("prompt"),
    )


@query(
    "double_dim_join",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(l.l_extendedprice) AS DOUBLE) AS volume
    FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    GROUP BY ns.n_name, nc.n_name
    """,
)
def double_dim_join(spark, sf_dir):
    """J4: two joins into the SAME dimension (entity-id -> entity on
    both from_id and to_id, like doccano relations) — TPC-H Q7 shape."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum("l_extendedprice").cast("double").alias("volume"),
        )
    )


@query(
    "span_metric_prf",
    """
    WITH pred AS (SELECT event_id FROM events WHERE value > 150),
         gold AS (SELECT event_id FROM events WHERE event_type = 'error'),
         correct AS (SELECT CAST(count(*) AS BIGINT) c
                     FROM pred JOIN gold USING (event_id))
    SELECT (SELECT c FROM correct) AS num_correct,
           (SELECT CAST(count(*) AS BIGINT) FROM pred) AS num_infer,
           (SELECT CAST(count(*) AS BIGINT) FROM gold) AS num_label,
           (SELECT c FROM correct) * 1.0 / (SELECT count(*) FROM pred) AS precision_,
           (SELECT c FROM correct) * 1.0 / (SELECT count(*) FROM gold) AS recall_
    """,
)
def span_metric_prf(spark, sf_dir):
    """A4: SpanEvaluator as joins — |pred ∩ gold| via inner join, P/R
    in a final select (utils.py:154-237 re-expressed relationally)."""
    e = _t(spark, sf_dir, "events")
    pred = e.filter(F.col("value") > 150).select("event_id")
    gold = e.filter(F.col("event_type") == "error").select("event_id")
    correct = pred.join(gold, "event_id").count()
    n_pred = pred.count()
    n_gold = gold.count()
    return spark.createDataFrame(
        [(correct, n_pred, n_gold, correct / n_pred, correct / n_gold)],
        "num_correct: long, num_infer: long, num_label: long, "
        "precision_: double, recall_: double",
    )


@query(
    "cross_join_negatives",
    """
    WITH subjects AS (SELECT DISTINCT p_brand FROM part),
         predicates AS (SELECT DISTINCT p_size FROM part),
         positives AS (SELECT DISTINCT p_brand, p_size FROM part)
    SELECT s.p_brand, p.p_size
    FROM subjects s CROSS JOIN predicates p
    ANTI JOIN positives pos
      ON s.p_brand = pos.p_brand AND p.p_size = pos.p_size
    """,
)
def cross_join_negatives(spark, sf_dir):
    """E6: full negatives = subjects x predicates minus positives."""
    part = _t(spark, sf_dir, "part")
    subjects = part.select("p_brand").distinct()
    predicates = part.select("p_size").distinct()
    positives = part.select("p_brand", "p_size").distinct()
    return subjects.crossJoin(predicates).join(
        positives, ["p_brand", "p_size"], "left_anti"
    )


@query(
    "topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 3)


@query(
    "distinct_labels",
    "SELECT DISTINCT event_type AS label FROM events",
)
def distinct_labels(spark, sf_dir):
    """A5: distinct label universe (broadcast dim for negatives)."""
    return _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("label")
    ).distinct()


# =====================================================================
# extraction-pipeline relational stages (chunking, normalize, prompts)
# =====================================================================

@query(
    "chunk_explode_offsets",
    """
    SELECT d.doc_id, CAST(gs.i AS BIGINT) AS chunk_idx,
           substr(d.text, gs.i * 100 + 1, 100) AS chunk_text,
           CAST(gs.i * 100 AS BIGINT) AS chunk_off
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(0,
                    CAST(CASE WHEN length(d.text) <= 100 THEN 0
                         ELSE ceil(length(d.text)/100.0) - 1 END AS BIGINT))) AS i) gs
    """,
)
def chunk_explode_offsets(spark, sf_dir):
    """A3: the native fixed-window chunk explode with char offsets
    (uie_predictor.py:364-409 re-expressed; window=100)."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.length("text") <= 100, F.lit(1)).otherwise(
        F.ceil(F.length("text") / 100.0)
    )
    return d.select(
        "doc_id",
        "text",
        F.posexplode(F.sequence(F.lit(0), (n - 1).cast("long"))).alias(
            "pos", "_i"
        ),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_idx"),
        F.substring(F.col("text"), F.col("pos") * 100 + 1, 100).alias("chunk_text"),
        (F.col("pos").cast("long") * 100).alias("chunk_off"),
    )


@query(
    "dbc2sbc_normalize",
    f"""
    SELECT doc_id,
           translate(substr(text, 1, 40) || '：ＡＢ！１２３',
                     '{DBC_FROM.replace("'", "''")}',
                     '{DBC_TO.replace("'", "''")}')
             AS normalized
    FROM documents
    """,
)
def dbc2sbc_normalize(spark, sf_dir):
    """P2/F2: full-width -> half-width prompt normalization as a
    native translate (same table as core.textnorm.dbc2sbc)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.translate(
            F.concat(F.substring("text", 1, 40), F.lit("：ＡＢ！１２３")),
            DBC_FROM,
            DBC_TO,
        ).alias("normalized"),
    )


@query(
    "sentence_stats",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[.!?。！？]')) AS BIGINT) AS n_sent_marks,
           CAST(len(regexp_extract_all(text, '[\\S]+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def sentence_stats(spark, sf_dir):
    """F1-adjacent: sentence-boundary and token counts (native regex)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?。！？]"), 0))
        .cast("long")
        .alias("n_sent_marks"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[\S]+"), 0))
        .cast("long")
        .alias("n_tokens"),
    )


@query(
    "unify_prompt_name",
    """
    SELECT p_partkey,
           p_brand || '[' ||
           array_to_string(list_sort(list_distinct(
               string_split(p_type || ',' || p_brand, ','))), ',')
           || ']' AS unified
    FROM part
    """,
)
def unify_prompt_name(spark, sf_dir):
    """F4: canonicalize '...[b,a,a]' option lists by sort+dedupe
    (utils.py:425-435) on a synthesized prompt column."""
    p = _t(spark, sf_dir, "part")
    opts = F.split(F.concat_ws(",", F.col("p_type"), F.col("p_brand")), ",")
    return p.select(
        "p_partkey",
        F.concat(
            F.col("p_brand"),
            F.lit("["),
            F.array_join(F.array_sort(F.array_distinct(opts)), ","),
            F.lit("]"),
        ).alias("unified"),
    )


# =====================================================================
# dedup suite (documents)
# =====================================================================

@query(
    "dedup_exact",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT md5(text) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_dups,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
    FROM corpus GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup over a corpus with deterministic mirror copies
    (the driver fixture has no exact duplicates, which made this a
    0-row oracle check): every 25th doc is re-crawled under a shifted
    id, so the hash-groupBy must surface those groups with the
    ORIGINAL id as canonical."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return D.exact_dup_groups(corpus)


_MINHASH_PERMS_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_COEFFS[:12])
)

# sub-CTE set shared by the minhash/LSH/near-dup oracles: one md5 per
# distinct (doc, shingle), low 32 bits, k affine permutations — the
# same formulation as operators.dedup.minhash_sig_array
_MINHASH_SQL = f"""
    WITH msh AS (
      SELECT DISTINCT d.doc_id, substr(d.text, gs.i, 5) AS shingle
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(1,
                      greatest(length(d.text) - 4, 1))) AS i) gs
    ), mh32 AS (
      SELECT doc_id, ({h60_sql("shingle")} & 4294967295) AS h32 FROM msh
    ), mperm(perm, a, b) AS (
      VALUES {_MINHASH_PERMS_VALUES}
    )
    SELECT doc_id, CAST(p.perm AS INT) AS perm,
           CAST(min((p.a * h32 + p.b) % {MINHASH_PRIME}) AS BIGINT) AS minhash
    FROM mh32, mperm p GROUP BY doc_id, p.perm
"""


@query("minhash_signature", _MINHASH_SQL)
def minhash_signature(spark, sf_dir):
    return D.minhash_signature(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("perm").cast("int").alias("perm"), "minhash"
    )


@query(
    "lsh_candidate_pairs",
    f"""
    WITH sig AS ({_MINHASH_SQL}),
    banded AS (
      SELECT doc_id, CAST(perm // 3 AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS band_hash
      FROM sig GROUP BY doc_id, CAST(perm // 3 AS INT)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs(spark, sf_dir):
    sig = D.minhash_sig_array(_t(spark, sf_dir, "documents"))
    return D.lsh_candidate_pairs(sig)


@query(
    "ngram_jaccard_pairs",
    """
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 120
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' mirrored with tail'
      FROM documents WHERE doc_id < 40
    ),
    sh AS (
      SELECT DISTINCT d.doc_id, substr(d.text, gs.i, 5) AS shingle
      FROM docs d,
           LATERAL (SELECT unnest(generate_series(1,
                      greatest(length(d.text) - 4, 1))) AS i) gs
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
               JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """All-pairs Jaccard over a slice plus deterministic NEAR-dup rows
    (original text + a short tail: ~0.9 Jaccard) so the >= 0.5 filter
    is exercised on non-empty output at the driver's SF."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") < 120).unionByName(
        d.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" mirrored with tail")).alias("text"),
        )
    )
    return D.jaccard_pairs(docs, threshold=0.5)


def _near_dup_sql(docs_cte: str, cap: int) -> str:
    """DuckDB oracle for operators.dedup.near_dup_canonical over the
    given docs CTE, modeling the FULL shipped pipeline — including the
    exact pre-collapse to content reps (null-text docs keyed to
    themselves) and the band-bucket size cap (buckets with more than
    ``cap`` reps are dropped from candidate generation), so the gate
    covers the production default, not an uncapped variant of it."""
    return f"""
    WITH RECURSIVE docs AS ({docs_cte}),
    ckey AS (
      SELECT doc_id, text,
             coalesce(md5(text), 'null-' || CAST(doc_id AS VARCHAR))
               AS content_hash
      FROM docs
    ),
    groups AS (
      SELECT content_hash, min(doc_id) AS rep_id
      FROM ckey GROUP BY content_hash
    ),
    reps AS (
      SELECT g.rep_id AS doc_id, c.text
      FROM groups g JOIN ckey c ON c.doc_id = g.rep_id
    ),
    msh AS (
      SELECT DISTINCT d.doc_id, substr(d.text, gs.i, 5) AS shingle
      FROM reps d,
           LATERAL (SELECT unnest(generate_series(1,
                      greatest(length(d.text) - 4, 1))) AS i) gs
    ),
    mh32 AS (
      SELECT doc_id, ({h60_sql("shingle")} & 4294967295) AS h32 FROM msh
    ),
    mperm(perm, a, b) AS (VALUES {_MINHASH_PERMS_VALUES}),
    sig AS (
      SELECT doc_id, CAST(p.perm AS INT) AS perm,
             CAST(min((p.a * h32 + p.b) % {MINHASH_PRIME}) AS BIGINT)
               AS minhash
      FROM mh32, mperm p GROUP BY doc_id, p.perm
    ),
    banded AS (
      SELECT doc_id, CAST(perm // 3 AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS band_hash
      FROM sig GROUP BY doc_id, CAST(perm // 3 AS INT)
    ),
    ok_buckets AS (
      SELECT band, band_hash FROM banded
      GROUP BY band, band_hash HAVING count(*) <= {cap}
    ),
    banded_ok AS (
      SELECT b.doc_id, b.band, b.band_hash
      FROM banded b JOIN ok_buckets o
        ON b.band = o.band AND b.band_hash = o.band_hash
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded_ok a JOIN banded_ok b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM msh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS inter
      FROM cand c
      JOIN msh a ON a.doc_id = c.doc_a
      JOIN msh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst
      FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
                 JOIN sizes sb ON inter.doc_b = sb.doc_id
      WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    ),
    sym AS (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst AS src, src AS dst FROM edges
    ),
    cc(id, comp) AS (
      SELECT rep_id, rep_id FROM groups
      UNION
      SELECT sym.dst, cc.comp FROM cc JOIN sym ON cc.id = sym.src
    ),
    rep_canon AS (
      SELECT id AS rep_id, min(comp) AS canonical FROM cc GROUP BY id
    )
    SELECT k.doc_id, CAST(r.canonical AS BIGINT) AS canonical_doc_id
    FROM ckey k
    JOIN groups g ON k.content_hash = g.content_hash
    JOIN rep_canon r ON g.rep_id = r.rep_id
    """


@query(
    "dedup_near_canonical",
    _near_dup_sql("SELECT doc_id, text FROM documents", D.DEFAULT_MAX_BUCKET_SIZE),
)
def dedup_near_canonical(spark, sf_dir):
    """End-to-end near-dup canonicalization: exact pre-collapse ->
    MinHash -> LSH (capped buckets, the shipped default) -> Jaccard
    verify (candidates only) -> connected components -> canonical doc
    id. The DuckDB oracle recomputes the SAME pipeline — including the
    default band-bucket cap and the rep-level pre-collapse — with the
    CC as a recursive label-propagation CTE; the transitive closure is
    live-SQL-checked, not frozen."""
    return D.near_dup_canonical(
        _t(spark, sf_dir, "documents"), threshold=0.5
    ).select("doc_id", "canonical_doc_id")


# a 13-member near-identical (but not exact) family: the fixture's
# doc 0 plus 12 tail-perturbed variants — big enough to overflow the
# small explicit cap below, so the capped code path (bucket drop ->
# lost candidates -> self-mapping) is exercised by the gate instead of
# sitting untriggered under the 512 default on a 500-doc fixture.
_CAPPED_DOCS_SQL = """
    SELECT doc_id, text FROM documents WHERE doc_id < 60
    UNION ALL
    SELECT CAST(100000 + gs.i AS BIGINT) AS doc_id,
           d.text || ' variant ' || CAST(gs.i AS VARCHAR) AS text
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(1, 12)) AS i) gs
    WHERE d.doc_id = 0
"""


@query("dedup_near_canonical_capped", _near_dup_sql(_CAPPED_DOCS_SQL, 8))
def dedup_near_canonical_capped(spark, sf_dir):
    """near_dup_canonical with a DELIBERATELY small bucket cap (8) on
    a corpus built to overflow it: a 13-strong near-identical family
    lands whole in shared band buckets, the cap drops those buckets,
    and the family's pairwise linkage is (by design) lost — the
    production backstop for boilerplate families, verified end-to-end
    against an oracle that models the cap identically."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 60)
    variants = (
        d.filter(F.col("doc_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(12))).alias("i"), "text"
        )
        .select(
            (F.col("i") + 100000).cast("long").alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" variant "), F.col("i").cast("string")
            ).alias("text"),
        )
    )
    return D.near_dup_canonical(
        base.unionByName(variants), threshold=0.5, max_bucket_size=8
    ).select("doc_id", "canonical_doc_id")


@query(
    "simhash_fingerprint",
    f"""
    WITH docs AS (SELECT * FROM documents WHERE doc_id < 120),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[\\S]+')) AS tok
            FROM docs)
      GROUP BY doc_id, tok
    ),
    bits AS (
      SELECT doc_id, b.bit,
             sum(tf * (CASE WHEN (({h60_sql("tok")} >> b.bit) & 1) = 1
                       THEN 1 ELSE -1 END)) AS s
      FROM tf, LATERAL (SELECT unnest(generate_series(0, 59)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def simhash_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.simhash(docs)


# =====================================================================
# text analysis (documents)
# =====================================================================

@query(
    "lang_id_heuristic",
    """
    SELECT doc_id,
           (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
             * 1.0 / greatest(length(text), 1) AS cjk_ratio,
           (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
             * 1.0 / greatest(length(text), 1) AS latin_ratio,
           CASE WHEN length(text) = 0 THEN 'other'
                WHEN (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
                     * 1.0 / length(text) > 0.3 THEN 'zh'
                WHEN (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                     * 1.0 / length(text) > 0.3 THEN 'en'
                ELSE 'other' END AS pred_lang
    FROM documents
    """,
)
def lang_id_heuristic(spark, sf_dir):
    return TS.lang_id(_t(spark, sf_dir, "documents"))


@query(
    "token_counts",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[\\S]+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                ' ?[A-Za-z]+| ?[0-9]+|[一-鿿]| ?[^\\sA-Za-z0-9一-鿿]+'))
                AS INT) AS bpe_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS subword_est,
           CAST(length(text) AS INT) AS n_chars_computed
    FROM documents
    """,
)
def token_counts(spark, sf_dir):
    return TS.token_count(_t(spark, sf_dir, "documents"))


@query(
    "corpus_filter_pipeline",
    """
    WITH feats AS (
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 'other'
                  WHEN (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
                       * 1.0 / length(text) > 0.3 THEN 'zh'
                  WHEN (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                       * 1.0 / length(text) > 0.3 THEN 'en'
                  ELSE 'other' END AS pred_lang,
             CAST(len(regexp_extract_all(text, '[\\S]+')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(text,
                  ' ?[A-Za-z]+| ?[0-9]+|[一-鿿]| ?[^\\sA-Za-z0-9一-鿿]+'))
                  AS INT) AS bpe_tokens,
             (length(text) - length(regexp_replace(text, '[\\.,;:!\\?。！？，；：]', '', 'g')))
               * 1.0 / greatest(length(text), 1) AS punct_ratio,
             md5(text) AS content_hash
      FROM documents
    ),
    canon AS (
      SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id
      FROM documents GROUP BY md5(text) HAVING count(*) > 1
    )
    SELECT f.doc_id, f.pred_lang, f.ws_tokens, f.bpe_tokens, f.punct_ratio,
           (c.canonical_doc_id IS NOT NULL
            AND f.doc_id <> c.canonical_doc_id) AS is_dup,
           (f.pred_lang IN ('zh', 'en') AND f.ws_tokens >= 2
            AND f.bpe_tokens >= 4
            AND f.punct_ratio < 0.2
            AND NOT (c.canonical_doc_id IS NOT NULL
                     AND f.doc_id <> c.canonical_doc_id)) AS keep
    FROM feats f LEFT JOIN canon c ON f.content_hash = c.content_hash
    """,
)
def corpus_filter_pipeline(spark, sf_dir):
    """Composite pre-training corpus gate: language known + enough
    tokens + sane punctuation density + not a non-canonical exact
    duplicate — the standard keep/drop decision before extraction."""
    return TS.corpus_filter(_t(spark, sf_dir, "documents"))


# url corpus synthesized deterministically from (doc_id, source) on
# BOTH sides — the documents fixture has no url column; the operator
# under test is canonical_url's regexp algebra, which DuckDB replays.
_URL_SYNTH_SQL = """
      SELECT doc_id,
             'HTTPS://WWW.' || source || '.Example.COM/Path/'
               || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN '/?utm_source=feed&utm_campaign=x&id='
                       ELSE '?id=' END
               || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END
               AS url
      FROM documents
"""


@query(
    "url_canonicalize",
    f"""
    WITH raw AS ({_URL_SYNTH_SQL}),
    s1 AS (
      SELECT doc_id, url, regexp_replace(url, '#.*$', '', 'g') AS u
      FROM raw
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(
               lower(regexp_extract(
                 u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
               '^www\\.', '', 'g') AS host,
             regexp_extract(
               u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
      FROM s1
    )
    SELECT doc_id, url,
           scheme || '://' || host ||
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   rest, '(utm_[A-Za-z]+|fbclid|gclid|ref)=[^&]*&?', '', 'g'),
                 '[?&]+$', '', 'g'),
               '/+\\?', '?', 'g'),
             '/+$', '', 'g') AS canonical_url
    FROM parts
    """,
)
def url_canonicalize(spark, sf_dir):
    """URL canonicalization (web-corpus dedup hygiene): lowercase
    scheme/host, strip www./fragments/tracking params/trailing
    slashes — urls differing only in tracking noise canonicalize
    equal, making url-level dedup meaningful before content hashing.
    Urls are synthesized deterministically from (doc_id, source) on
    both engine and oracle sides."""
    from .sources.web_pages import canonical_url

    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.col("source"),
            F.lit(".Example.COM/Path/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("/?utm_source=feed&utm_campaign=x&id="),
            ).otherwise(F.lit("?id=")),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    return raw.select(
        "doc_id", "url", canonical_url(F.col("url")).alias("canonical_url")
    )


@query(
    "pii_redaction",
    """
    WITH seeded AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || CAST(doc_id % 100 AS VARCHAR)
                            || '@mail.example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' call +1 555 01' || CAST(doc_id % 90 + 10 AS VARCHAR)
                       ELSE '' END
               AS text
      FROM documents
    ),
    no_email AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(
               text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS INT) AS n_emails,
             regexp_replace(
               text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t
      FROM seeded
    )
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t, '\\+?[0-9][0-9 -]{6,}[0-9]'))
             AS INT) AS n_phones,
           regexp_replace(t, '\\+?[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g')
             AS text_redacted
    FROM no_email
    """,
)
def pii_redaction(spark, sf_dir):
    """PII scrub (training-data hygiene): emails then phone-like
    digit runs replaced by typed placeholders, with per-doc counts.
    PII is seeded deterministically into the fixture text on both
    engine and oracle sides (the corpus itself is a clean word
    salad)."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    (F.col("doc_id") % 100).cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call +1 555 01"),
                    (F.col("doc_id") % 90 + 10).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return TS.redact_pii(seeded)


@query(
    "repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM tf GROUP BY doc_id
    ),
    top AS (
      SELECT doc_id, tok AS top_token, tf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, tok) AS rn
      FROM tf
    )
    SELECT a.doc_id, a.n_tokens, a.n_distinct,
           1.0 - a.n_distinct * 1.0 / a.n_tokens AS dup_token_ratio,
           t.top_token, t.tf * 1.0 / a.n_tokens AS top_token_frac
    FROM agg a JOIN top t ON a.doc_id = t.doc_id AND t.rn = 1
    """,
)
def repetition_stats(spark, sf_dir):
    """Within-document repetition features (Gopher/C4-style
    repetitious-text filter signal): duplicate-token ratio + top-token
    frequency share per doc — one explode, one combinable (doc, token)
    groupBy, one per-doc window."""
    return TS.repetition_stats(_t(spark, sf_dir, "documents"))


@query(
    "unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT sum(tf) AS n FROM freq)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           avg(ln(f.tf)) - ln((SELECT n FROM tot)) AS avg_logprob
    FROM toks t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id
    """,
)
def unigram_logprob(spark, sf_dir):
    """Corpus-trained unigram log-probability per doc — the cheap
    perplexity proxy (CCNet-style) for quality ranking; the corpus
    total enters as a broadcast scalar (avg(ln tf) - ln N), never a
    join key."""
    return TS.unigram_logprob(_t(spark, sf_dir, "documents"))


# CDC boundary rule, DuckDB rendering: position i starts a segment
# when the 60-bit hash of the width-5 window at i hits % 64 == 0
_CDC_SEG_SQL = f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM {{src}} WHERE length(text) > 0
    ),
    pos AS (
      SELECT doc_id, text, n,
             unnest(generate_series(1, greatest(n - 4, 1))) AS i
      FROM d
    ),
    bnd AS (
      SELECT doc_id, text, n, i FROM pos
      WHERE i = 1 OR {h60_sql("substr(text, i, 5)")} % 64 = 0
    ),
    seg AS (
      SELECT doc_id,
             CAST(row_number() OVER w AS INT) AS seg_idx,
             CAST(i AS INT) AS seg_start,
             CAST(coalesce(lead(i) OVER w, n + 1) - i AS INT) AS seg_len,
             text
      FROM bnd
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    )
    SELECT doc_id, seg_idx, seg_start, seg_len,
           md5(substr(text, seg_start, seg_len)) AS seg_hash
    FROM seg
"""


@query("cdc_segments", _CDC_SEG_SQL.format(src="documents"))
def cdc_segments(spark, sf_dir):
    """Content-defined chunking segmentation (operators/dedup.py):
    boundaries picked by content hash, so shared text regions yield
    identical segments at ANY offset. Pure per-row array algebra —
    zero shuffles, text never replicated into an exchange."""
    return D.cdc_segments(_t(spark, sf_dir, "documents"))


_CDC_FOOTER = (
    "boilerplate footer subscribe to our newsletter for updates "
    "terms of service privacy policy all rights reserved contact "
    "us at the address below follow us on social media thank you "
    "for reading this page"
)


@query(
    "cdc_shared_boilerplate",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0
                          THEN ' {_CDC_FOOTER}' ELSE '' END AS text
      FROM documents
    ),
    segs AS ({_CDC_SEG_SQL.format(src="seeded")})
    SELECT seg_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(seg_len) AS INT) AS seg_len
    FROM segs WHERE seg_len >= 20
    GROUP BY seg_hash HAVING count(DISTINCT doc_id) > 1
    """,
)
def cdc_shared_boilerplate(spark, sf_dir):
    """Cross-document boilerplate report: CDC segments >= 20 chars
    shared by >1 document — the paragraph-level dedup signal. A
    fixed footer is appended to every 4th doc on BOTH sides; because
    CDC boundaries are content-defined, the footer's interior
    segments hash identically at every offset it lands on (the
    shift-invariance fixed-width chunking lacks)."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" " + _CDC_FOOTER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return D.cdc_shared_segments(seeded, min_len=20)


@query(
    "asof_join_events",
    """
    WITH r AS (
      SELECT user_id, ts, max(value) AS state
      FROM events WHERE event_id % 10 = 0
      GROUP BY user_id, ts
    ),
    l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0
    )
    SELECT l.event_id, l.user_id,
           CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_sec,
           CAST(floor(epoch(r.ts)) AS BIGINT) AS state_ts_sec,
           r.state
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of join (operators/temporal.py): every event picks up the
    user's LATEST sampled state at-or-before its timestamp — the
    event-to-state attachment pattern (prices, profiles, configs).
    One union + one shuffle+sort + a running last(ignorenulls)
    window; DuckDB's native ASOF LEFT JOIN is the oracle."""
    ev = _t(spark, sf_dir, "events")
    right = (
        ev.filter(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state"))
    )
    left = ev.filter(F.col("event_id") % 10 != 0).select(
        "event_id", "user_id", "ts"
    )
    out = TEMP.asof_join(left, right, on="ts", by="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        F.unix_timestamp("ts_right").alias("state_ts_sec"),
        "state",
    )


@query(
    "sessionize_events",
    """
    WITH lagd AS (
      SELECT event_id, user_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(CASE WHEN lag(epoch(ts)) OVER w IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                       THEN 1 ELSE 0 END AS INT) AS session_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts_sec, session_start,
           CAST(sum(session_start)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM lagd
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (operators/temporal.py): per-user
    dense session ids from a 30-min inactivity gap — lag + running
    sum, one shuffle+sort; deterministic because lag/cumsum is plain
    ANSI SQL."""
    ev = _t(spark, sf_dir, "events")
    out = TEMP.sessionize(
        ev, on="ts", by="user_id", gap=1800, order_tiebreak="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        "session_start",
        "session_id",
    )


@query(
    "doc_fingerprint",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_extract_all(text, '[\\S]+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(bit_xor({h60_sql("tok")}) AS BIGINT) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens
    FROM toks GROUP BY doc_id
    """,
)
def doc_fingerprint(spark, sf_dir):
    return TS.fingerprint(_t(spark, sf_dir, "documents"))


# =====================================================================
# lexical retrieval (operators/search.py): TF-IDF keywords, BM25,
# positional inverted-index phrase match
# =====================================================================

# shared token CTE (same rule as unigram_logprob: lowercased alnum runs)
_SEARCH_TOKS = """
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
"""


@query(
    "tf_idf_top_terms",
    f"""
    WITH toks AS ({_SEARCH_TOKS}),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY tok),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
    scored AS (
      SELECT t.doc_id, t.tok, t.tf, d.df,
             t.tf * (ln(CAST((SELECT n_corpus FROM n) + 1 AS DOUBLE)
                        / CAST(d.df + 1 AS DOUBLE)) + 1.0) AS tf_idf
      FROM tf t JOIN df d ON t.tok = d.tok
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, tok AS term, tf, df,
           CAST(tf_idf AS DOUBLE) AS tf_idf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tf_idf DESC, tok) AS rank
          FROM scored) s
    WHERE rank <= 5
    """,
)
def tf_idf_top_terms(spark, sf_dir):
    """Per-doc top-5 keywords by smoothed TF-IDF
    (operators/search.py): corpus N enters as a broadcast scalar,
    df aggregates the (doc, term) table — two combinable groupBys
    plus one per-doc window."""
    from .operators.search import tf_idf_top_terms as op

    return op(_t(spark, sf_dir, "documents"), k=5)


_BM25_TERMS = ("table", "hash", "vector", "stream")


@query(
    "bm25_topk",
    f"""
    WITH toks AS ({_SEARCH_TOKS}),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
                     CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE tok IN {_BM25_TERMS!r}
           GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY tok),
    idf AS (
      SELECT tok,
             ln(1.0 + (CAST((SELECT n_corpus FROM stats) AS DOUBLE)
                       - CAST(df AS DOUBLE) + 0.5)
                      / (CAST(df AS DOUBLE) + 0.5)) AS idf
      FROM df
    ),
    per AS (
      SELECT t.doc_id,
             i.idf * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * ((1.0 - 0.75)
                         + 0.75 * CAST(d.dl AS DOUBLE)
                           / (SELECT avgdl FROM stats))) AS s
      FROM tf t JOIN idf i ON t.tok = i.tok
                JOIN dl d ON t.doc_id = d.doc_id
    ),
    scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
                      sum(s) AS score
               FROM per GROUP BY doc_id)
    SELECT CAST(rank AS INT) AS rank, doc_id, n_terms_hit,
           CAST(score AS DOUBLE) AS score
    FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
                    AS rank
          FROM scored) s
    WHERE rank <= 10
    """,
)
def bm25_topk(spark, sf_dir):
    """BM25 top-10 for a fixed bag-of-terms query
    (operators/search.py): token stream filtered to the query's
    terms BEFORE the tf agg (postings-proportional), N/avgdl as a
    broadcast one-row join."""
    from .operators.search import bm25_topk as op

    return op(_t(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10)


@query(
    "phrase_match_positions",
    """
    WITH pos AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
             generate_subscripts(
               regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
      FROM documents
    )
    SELECT a.doc_id, CAST(a.pos AS INT) AS start_pos
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'table' AND b.tok = 'hash'
    """,
)
def phrase_match_positions(spark, sf_dir):
    """Exact phrase occurrences ('table hash') via the positional
    inverted index (operators/search.py): per-term postings
    equi-joined on (doc_id, pos+gap) — a hash join per phrase gap,
    no window, no theta-join."""
    from .operators.search import phrase_match

    return phrase_match(_t(spark, sf_dir, "documents"), "table hash")


# =====================================================================
# similarity / ANN (embeddings)
# =====================================================================

_EMB_FLAT = """
      SELECT vec_id, gs.i - 1 AS i,
             CAST(embedding[gs.i] AS DECIMAL(9,6)) AS xd
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) gs
"""


@query(
    "embedding_near_dup",
    f"""
    WITH emb_dup AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 10
    ),
    flat AS (
      SELECT vec_id, gs.i - 1 AS i,
             CAST(embedding[gs.i] AS DECIMAL(9,6)) AS xd
      FROM emb_dup,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) gs
    ),
    norms AS (SELECT vec_id, CAST(sum(xd * xd) AS DOUBLE) AS norm2
              FROM flat GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.xd * b.xd) AS DOUBLE) AS dot
      FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_a, vec_b
    FROM dots JOIN norms na ON dots.vec_a = na.vec_id
              JOIN norms nb ON dots.vec_b = nb.vec_id
    WHERE dot / sqrt(na.norm2 * nb.norm2) >= 0.9
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup in exact decimal arithmetic, over the
    corpus plus deterministic re-embedded copies (vec_id < 10 shifted)
    — the driver fixture's random vectors have no cosine >= 0.9 pairs,
    which made this a 0-row oracle check."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = e.unionByName(
        e.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    return SIM.cosine_near_dup(emb, tau=0.9)


@query(
    "ann_topk_dot",
    f"""
    WITH flat AS ({_EMB_FLAT}),
    q AS (SELECT vec_id AS query_id, i, xd AS qx FROM flat WHERE vec_id < 5),
    dots AS (
      SELECT q.query_id, f.vec_id AS neighbor_id, CAST(sum(q.qx * f.xd) AS DOUBLE) AS dot
      FROM q JOIN flat f ON q.i = f.i
      WHERE f.vec_id <> q.query_id
      GROUP BY q.query_id, f.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank
    FROM (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, neighbor_id) AS rnk
          FROM dots)
    WHERE rnk <= 3
    """,
)
def ann_topk_dot(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.select("vec_id").filter(F.col("vec_id") < 5)
    return SIM.topk_by_dot(emb, queries, k=3).withColumn(
        "rank", F.col("rank").cast("int")
    )


_SRP_SEED = 11
_SRP_PLANES = 4
_SRP_SIGN = (
    "CASE WHEN "
    + h60_sql(
        f"CAST({_SRP_SEED} AS VARCHAR) || '#' || CAST(plane AS VARCHAR)"
        " || '#' || CAST(i AS VARCHAR)"
    )
    + " % 2 = 0 THEN 1 ELSE -1 END"
)


_EMB_MICRO = """
      SELECT vec_id, gs.i - 1 AS i,
             CAST(round(CAST(embedding[gs.i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) gs
"""


@query(
    "ann_srp_topk",
    f"""
    WITH flat AS ({_EMB_MICRO}),
    signs AS (
      SELECT plane, i, {_SRP_SIGN} AS sign
      FROM (SELECT unnest(generate_series(0, {_SRP_PLANES - 1})) AS plane),
           (SELECT unnest(generate_series(0, 63)) AS i)
    ),
    proj AS (
      SELECT f.vec_id, s.plane, sum(f.xi * s.sign) AS proj
      FROM flat f JOIN signs s ON f.i = s.i
      GROUP BY f.vec_id, s.plane
    ),
    buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN proj > 0
                           THEN (CAST(1 AS BIGINT) << plane)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q
      JOIN buckets c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ),
    dots AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(sum(qf.xi * cf.xi) AS DOUBLE) / 1e12 AS dot
      FROM cand
      JOIN flat qf ON qf.vec_id = cand.query_id
      JOIN flat cf ON cf.vec_id = cand.neighbor_id AND cf.i = qf.i
      GROUP BY cand.query_id, cand.neighbor_id
    )
    SELECT query_id, neighbor_id, dot, CAST(rnk AS INT) AS rank
    FROM (SELECT query_id, neighbor_id, dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, neighbor_id) AS rnk
          FROM dots)
    WHERE rnk <= 3
    """,
)
def ann_srp_topk(spark, sf_dir):
    """SRP-LSH bucketed ANN: bucket equi-join + exact in-bucket rerank
    (the 100 TB scale path — never a cross join)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.select("vec_id").filter(F.col("vec_id") < 5)
    return SIM.srp_topk(
        emb, queries, k=3, planes=_SRP_PLANES, seed=_SRP_SEED, dim=64
    )


_IVF_C = 16   # coarse-quantizer size (deterministic: first C vectors)
_IVF_PROBE = 4


@query(
    "ann_ivf_topk",
    f"""
    WITH flat AS ({_EMB_MICRO}),
    cflat AS (
      SELECT vec_id AS cent_id, i, xi AS ci FROM flat WHERE vec_id < {_IVF_C}
    ),
    cdots AS (
      SELECT f.vec_id, c.cent_id, sum(f.xi * c.ci) AS cdot
      FROM flat f JOIN cflat c ON f.i = c.i
      GROUP BY f.vec_id, c.cent_id
    ),
    ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cdot DESC, cent_id) AS crank
      FROM cdots
    ),
    assign AS (SELECT vec_id, cent_id FROM ranked WHERE crank = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id
      FROM ranked WHERE crank <= {_IVF_PROBE} AND vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON p.cent_id = a.cent_id
      WHERE a.vec_id <> p.query_id
    ),
    dots AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(sum(qf.xi * nf.xi) AS DOUBLE) / 1e12 AS dot
      FROM cand
      JOIN flat qf ON qf.vec_id = cand.query_id
      JOIN flat nf ON nf.vec_id = cand.neighbor_id AND nf.i = qf.i
      GROUP BY cand.query_id, cand.neighbor_id
    )
    SELECT query_id, neighbor_id, dot, CAST(rnk AS INT) AS rank
    FROM (SELECT query_id, neighbor_id, dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, neighbor_id) AS rnk
          FROM dots)
    WHERE rnk <= 3
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN: broadcast coarse quantizer -> inverted-list
    assignment -> probe the n nearest lists per query -> exact
    in-list rerank (the faiss-IVF layout; quantizer pluggable with
    pyspark.ml KMeans, here dataset-seeded so DuckDB can replay it)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.select("vec_id").filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(
        emb, queries, k=3, n_centroids=_IVF_C, n_probe=_IVF_PROBE
    )


@query(
    "ann_ivf_l2_topk",
    f"""
    WITH flat AS ({_EMB_MICRO}),
    cflat AS (
      SELECT vec_id AS cent_id, i, xi AS ci FROM flat WHERE vec_id < {_IVF_C}
    ),
    cdots AS (
      SELECT f.vec_id, c.cent_id, sum(f.xi * c.ci) AS cdot,
             sum(c.ci * c.ci) AS cnorm2
      FROM flat f JOIN cflat c ON f.i = c.i
      GROUP BY f.vec_id, c.cent_id
    ),
    ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY 2 * cdot - cnorm2 DESC, cent_id)
               AS crank
      FROM cdots
    ),
    assign AS (SELECT vec_id, cent_id FROM ranked WHERE crank = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id
      FROM ranked WHERE crank <= {_IVF_PROBE} AND vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON p.cent_id = a.cent_id
      WHERE a.vec_id <> p.query_id
    ),
    dots AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(sum(qf.xi * nf.xi) AS DOUBLE) / 1e12 AS dot
      FROM cand
      JOIN flat qf ON qf.vec_id = cand.query_id
      JOIN flat nf ON nf.vec_id = cand.neighbor_id AND nf.i = qf.i
      GROUP BY cand.query_id, cand.neighbor_id
    )
    SELECT query_id, neighbor_id, dot, CAST(rnk AS INT) AS rank
    FROM (SELECT query_id, neighbor_id, dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, neighbor_id) AS rnk
          FROM dots)
    WHERE rnk <= 3
    """,
)
def ann_ivf_l2_topk(spark, sf_dir):
    """IVF-Flat with L2-consistent list assignment — the correct
    pairing for KMeans-trained coarse quantizers (pyspark.ml trains
    in L2): lists are picked by argmin ||x-c||^2, computed exactly as
    argmax(2*x.c - ||c||^2) in integer micro-units so DuckDB replays
    it bit-for-bit; the in-list rerank stays the exact dot. Measured
    recall with real KMeans centers: 0.59 (dot assign) -> 0.71 (l2),
    same probe budget (tests/test_operators.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.select("vec_id").filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(
        emb, queries, k=3, n_centroids=_IVF_C, n_probe=_IVF_PROBE,
        assign_metric="l2",
    )


@query(
    "relation_class_report",
    """
    WITH tri AS (
      SELECT translate(p_type, ' ', '的') || '的' || r_name AS pred,
             p_name AS subj_text,
             (p_partkey % 97) / 97.0 AS obj_prob
      FROM part, region WHERE p_size > 45
      UNION ALL
      SELECT p_brand AS pred, p_name AS subj_text,
             (p_partkey % 89) / 89.0 AS obj_prob
      FROM part WHERE p_size > 45
    )
    SELECT coalesce(nullif(regexp_extract(pred, '的([^的]+)$', 1), ''), pred)
             AS relation_class,
           CAST(count(*) AS BIGINT) AS n_triples,
           CAST(count(DISTINCT subj_text) AS BIGINT) AS n_subjects,
           CAST(avg(obj_prob) AS DOUBLE) AS mean_obj_prob
    FROM tri GROUP BY 1
    """,
)
def relation_class_report(spark, sf_dir):
    """F7 (reference utils.py:642-681): group relation predicates by
    the text after the LAST '的' with whole-name fallback — run through
    the REAL export.relation_class_report operator over a deterministic
    triple table derived from the fixture: multi-'的' predicates
    (p_type with spaces folded to '的' + region suffix) plus no-'的'
    predicates (p_brand) exercising the fallback branch."""
    from .export import relation_class_report as rcr

    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 45)
    r = _t(spark, sf_dir, "region")
    multi = p.crossJoin(F.broadcast(r)).select(
        F.concat(
            F.translate(F.col("p_type"), " ", "的"), F.lit("的"), F.col("r_name")
        ).alias("pred"),
        F.col("p_name").alias("subj_text"),
        ((F.col("p_partkey") % 97) / F.lit(97.0)).alias("obj_prob"),
    )
    plain = p.select(
        F.col("p_brand").alias("pred"),
        F.col("p_name").alias("subj_text"),
        ((F.col("p_partkey") % 89) / F.lit(89.0)).alias("obj_prob"),
    )
    return rcr(multi.unionByName(plain))


@query(
    "kg_entity_edges",
    """
    WITH tri AS (
      SELECT p_name AS subj_text, 'made-in' AS pred, r_name AS obj_text,
             (p_partkey % 83) / 83.0 AS obj_prob,
             CAST(p_partkey % 50 AS BIGINT) AS doc_id
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
      UNION ALL
      SELECT upper(p_name), 'made-in', lower(r_name),
             (p_partkey % 83) / 83.0,
             CAST(p_partkey % 37 AS BIGINT)
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
    ),
    surf AS (
      SELECT subj_text AS surface FROM tri
      UNION SELECT obj_text FROM tri
    ),
    canon AS (SELECT surface, lower(trim(surface)) AS canonical_id FROM surf)
    SELECT s.canonical_id AS subj_id, t.pred, o.canonical_id AS obj_id,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
           CAST(avg(t.obj_prob) AS DOUBLE) AS mean_obj_prob
    FROM tri t JOIN canon s ON t.subj_text = s.surface
               JOIN canon o ON t.obj_text = o.surface
    GROUP BY s.canonical_id, t.pred, o.canonical_id
    """,
)
def kg_entity_edges(spark, sf_dir):
    """Graph materialization (north rule 'entity/edge tables'): the
    REAL kg.graph.entity_edges operator over a deterministic
    fixture-derived triple table containing case-variant surfaces of
    the same mentions — the exact-tier canonical map must merge them
    into one edge with aggregated weight/doc-frequency/probability."""
    from .kg.graph import entity_edges

    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    r = _t(spark, sf_dir, "region")
    base = p.join(r, r["r_regionkey"] == p["p_partkey"] % 5)
    t1 = base.select(
        F.col("p_name").alias("subj_text"),
        F.lit("made-in").alias("pred"),
        F.col("r_name").alias("obj_text"),
        ((F.col("p_partkey") % 83) / F.lit(83.0)).alias("obj_prob"),
        (F.col("p_partkey") % 50).cast("long").alias("doc_id"),
    )
    t2 = base.select(
        F.upper("p_name").alias("subj_text"),
        F.lit("made-in").alias("pred"),
        F.lower("r_name").alias("obj_text"),
        ((F.col("p_partkey") % 83) / F.lit(83.0)).alias("obj_prob"),
        (F.col("p_partkey") % 37).cast("long").alias("doc_id"),
    )
    tri = t1.unionByName(t2)
    surf = (
        tri.select(F.col("subj_text").alias("surface"))
        .unionByName(tri.select(F.col("obj_text").alias("surface")))
        .distinct()
    )
    canon = surf.select(
        "surface", F.lower(F.trim(F.col("surface"))).alias("canonical_id")
    )
    return entity_edges(tri, canon)


# =====================================================================
# KG canonicalization (surface-form normalize + canonical id)
# =====================================================================

@query(
    "canonicalize_surface_forms",
    """
    WITH toks AS (
      SELECT doc_id,
             regexp_replace(lower(trim(unnest(
                 regexp_extract_all(text, '[\\S]+')))), '[^a-z0-9一-鿿]', '', 'g')
               AS surface
      FROM documents
    )
    SELECT surface, CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_mentions
    FROM toks WHERE surface <> '' GROUP BY surface
    """,
)
def canonicalize_surface_forms(spark, sf_dir):
    """∅J6-lite: normalize surface forms (lower/trim/strip punct) and
    assign the min doc_id as canonical entity id — the exact-match
    tier of entity canonicalization (MinHash tier: lsh_candidate_pairs;
    CC tier: operators/dedup.connected_components, oracle-free).
    ``spread`` (round 6) floors the scan parallelism for the per-token
    regex work."""
    from .operators.util import spread

    d = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(r"[\S]+"), 0)).alias("tok"),
    ).select(
        "doc_id",
        F.regexp_replace(
            F.lower(F.trim(F.col("tok"))), r"[^a-z0-9一-鿿]", ""
        ).alias("surface"),
    )
    return (
        toks.filter(F.col("surface") != "")
        .groupBy("surface")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )


# =====================================================================
# round-1 widening: rollup, lag/lead, time buckets, merge roundtrip,
# seeded sampling
# =====================================================================

@query(
    "rollup_order_stats",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_totalprice) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark, sf_dir):
    """∅A7: rollup aggregation (metrics layer)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "revenue",
        )
    )


@query(
    "event_lag_gaps",
    """
    WITH e AS (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
    SELECT user_id, event_id,
           ts_sec - lag(ts_sec) OVER w AS gap_sec,
           CASE WHEN lag(ts_sec) OVER w IS NULL
                  OR ts_sec - lag(ts_sec) OVER w > 1800
                THEN 1 ELSE 0 END AS session_start
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def event_lag_gaps(spark, sf_dir):
    """∅W4: lag + sessionization boundary detection (30-min gap)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(prev)).cast("long")
    return e.select(
        "user_id",
        "event_id",
        gap.alias("gap_sec"),
        F.when(prev.isNull() | (gap > 1800), 1).otherwise(0).alias("session_start"),
    )


@query(
    "hourly_event_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(value) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark, sf_dir):
    """Hypertable-style time-bucket rollup."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").cast("double").alias("total_value"),
    )


@query(
    "chunk_merge_roundtrip",
    """
    WITH chunks AS (
      SELECT d.doc_id, gs.i AS idx, substr(d.text, gs.i * 120 + 1, 120) AS chunk
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(0,
                      CAST(CASE WHEN length(d.text) <= 120 THEN 0
                           ELSE ceil(length(d.text)/120.0) - 1 END AS BIGINT))) AS i) gs
    )
    SELECT c.doc_id,
           (string_agg(c.chunk, '' ORDER BY c.idx) = min(d.text)) AS roundtrip_ok,
           CAST(count(*) AS BIGINT) AS n_chunks
    FROM chunks c JOIN documents d ON c.doc_id = d.doc_id
    GROUP BY c.doc_id
    """,
)
def chunk_merge_roundtrip(spark, sf_dir):
    """A1/J1 invariant as a query: chunk -> ordered re-concat must
    reproduce the document byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.length("text") <= 120, F.lit(1)).otherwise(
        F.ceil(F.length("text") / 120.0)
    )
    chunks = d.select(
        "doc_id",
        "text",
        F.posexplode(F.sequence(F.lit(0), (n - 1).cast("long"))).alias("idx", "_i"),
    ).select(
        "doc_id",
        "text",
        "idx",
        F.substring(F.col("text"), F.col("idx") * 120 + 1, 120).alias("chunk"),
    )
    merged = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            "",
        ).alias("merged"),
        F.first("text").alias("orig"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    return merged.select(
        "doc_id",
        (F.col("merged") == F.col("orig")).alias("roundtrip_ok"),
        "n_chunks",
    )


@query(
    "seeded_negative_sample",
    f"""
    WITH universe AS (
      SELECT c.c_custkey, p.o_orderpriority
      FROM customer c CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    ), positives AS (
      SELECT DISTINCT o_custkey AS c_custkey, o_orderpriority FROM orders
    ), negs AS (
      SELECT u.c_custkey, u.o_orderpriority,
             row_number() OVER (
               PARTITION BY u.c_custkey
               ORDER BY {h60_sql("CAST(u.c_custkey AS VARCHAR) || '|' || u.o_orderpriority")}
             ) AS rn
      FROM universe u ANTI JOIN positives p
        ON u.c_custkey = p.c_custkey AND u.o_orderpriority = p.o_orderpriority
    )
    SELECT c_custkey, o_orderpriority FROM negs WHERE rn <= 2
    """,
)
def seeded_negative_sample(spark, sf_dir):
    """E4 as an oracle query: absent labels per entity, deterministic
    seeded sample of 2 via hash-ordered row_number (O3 reproducible-
    order semantics, cross-engine via h60)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    labels = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    pos = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderpriority")
        .distinct()
    )
    universe = c.crossJoin(F.broadcast(labels))
    negs = universe.join(pos, ["c_custkey", "o_orderpriority"], "left_anti")
    w = Window.partitionBy("c_custkey").orderBy(
        h60(
            F.concat(
                F.col("c_custkey").cast("string"),
                F.lit("|"),
                F.col("o_orderpriority"),
            )
        )
    )
    return (
        negs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("c_custkey", "o_orderpriority")
    )


@query(
    "quality_features",
    """
    SELECT doc_id,
           (length(text) - length(regexp_replace(text, '[\\.,;:!\\?。！？，；：]', '', 'g')))
             * 1.0 / greatest(length(text), 1) AS punct_ratio,
           CAST(CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 0.4 ELSE 0.0 END
           + CASE WHEN (length(text) - length(regexp_replace(text, '[\\.,;:!\\?。！？，；：]', '', 'g')))
                       * 1.0 / greatest(length(text), 1) > 0.005
                   AND (length(text) - length(regexp_replace(text, '[\\.,;:!\\?。！？，；：]', '', 'g')))
                       * 1.0 / greatest(length(text), 1) < 0.2
                  THEN 0.3 ELSE 0.0 END AS DOUBLE) AS partial_quality
    FROM documents
    """,
)
def quality_features(spark, sf_dir):
    """Quality-score features (punctuation ratio + length band)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n = F.length(t)
    punct = n - F.length(F.regexp_replace(t, r"[\.,;:!\?。！？，；：]", ""))
    punct_ratio = punct.cast("double") / F.greatest(n, F.lit(1))
    return d.select(
        "doc_id",
        punct_ratio.alias("punct_ratio"),
        (
            F.when((n >= 50) & (n <= 2000), 0.4).otherwise(0.0)
            + F.when((punct_ratio > 0.005) & (punct_ratio < 0.2), 0.3).otherwise(0.0)
        ).alias("partial_quality"),
    )


# =====================================================================
# corpus profiling / sharding / range join (round 5)
# =====================================================================

@query(
    "range_join_events",
    """
    WITH wins AS (
      SELECT event_id AS win_id, user_id, ts AS w_start,
             ts + INTERVAL 30 MINUTE AS w_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT w.win_id, w.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(e.value) AS DOUBLE) AS sum_value
    FROM wins w JOIN events e
      ON e.user_id = w.user_id
     AND e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.win_id, w.user_id
    """,
)
def range_join_events(spark, sf_dir):
    """Interval containment join at scale: every event lands in the
    30-minute window opened by each same-user purchase. The Spark
    plan is operators.temporal.range_join_bucketed — time-bin
    explode + ONE equi-join shuffle + exact refine — never the
    BroadcastNestedLoop a naive ts-between-start-and-end join plans
    (the oracle replays the naive inequality join in DuckDB)."""
    e = _t(spark, sf_dir, "events")
    points = e.select("event_id", "user_id", "ts", "value")
    wins = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    j = TEMP.range_join_bucketed(
        points, wins, point_ts="ts", start="w_start", end="w_end",
        by="user_id", bucket=1800,
    )
    return j.groupBy("win_id", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").cast("double").alias("sum_value"),
    )


@query(
    "kg_entity_degrees",
    """
    WITH tri AS (
      SELECT p_name AS subj_text, 'made-in' AS pred, r_name AS obj_text,
             (p_partkey % 83) / 83.0 AS obj_prob,
             CAST(p_partkey % 50 AS BIGINT) AS doc_id
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
      UNION ALL
      SELECT upper(p_name), 'made-in', lower(r_name),
             (p_partkey % 83) / 83.0,
             CAST(p_partkey % 37 AS BIGINT)
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
    ),
    surf AS (
      SELECT subj_text AS surface FROM tri
      UNION SELECT obj_text FROM tri
    ),
    canon AS (SELECT surface, lower(trim(surface)) AS canonical_id FROM surf),
    edges AS (
      SELECT s.canonical_id AS subj_id, t.pred, o.canonical_id AS obj_id,
             count(*) AS n_mentions
      FROM tri t JOIN canon s ON t.subj_text = s.surface
                 JOIN canon o ON t.obj_text = o.surface
      GROUP BY s.canonical_id, t.pred, o.canonical_id
    ),
    dirs AS (
      SELECT subj_id AS entity_id, obj_id AS nbr, pred, n_mentions,
             'out' AS dir
      FROM edges
      UNION ALL
      SELECT obj_id, subj_id, pred, n_mentions, 'in' FROM edges
    )
    SELECT entity_id,
           CAST(count(DISTINCT CASE WHEN dir = 'out' THEN nbr END)
             AS BIGINT) AS out_degree,
           CAST(count(DISTINCT CASE WHEN dir = 'in' THEN nbr END)
             AS BIGINT) AS in_degree,
           CAST(count(DISTINCT pred) AS BIGINT) AS n_preds,
           CAST(sum(n_mentions) AS BIGINT) AS strength
    FROM dirs GROUP BY entity_id
    """,
)
def kg_entity_degrees(spark, sf_dir):
    """Node-degree/strength profile of the KG (kg.graph.entity_degrees)
    over the same case-variant fixture edges as kg_entity_edges — the
    hub report that drives downstream salting/capping decisions."""
    from .kg.graph import entity_degrees, entity_edges

    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    r = _t(spark, sf_dir, "region")
    base = p.join(r, r["r_regionkey"] == p["p_partkey"] % 5)
    t1 = base.select(
        F.col("p_name").alias("subj_text"),
        F.lit("made-in").alias("pred"),
        F.col("r_name").alias("obj_text"),
        ((F.col("p_partkey") % 83) / F.lit(83.0)).alias("obj_prob"),
        (F.col("p_partkey") % 50).cast("long").alias("doc_id"),
    )
    t2 = base.select(
        F.upper("p_name").alias("subj_text"),
        F.lit("made-in").alias("pred"),
        F.lower("r_name").alias("obj_text"),
        ((F.col("p_partkey") % 83) / F.lit(83.0)).alias("obj_prob"),
        (F.col("p_partkey") % 37).cast("long").alias("doc_id"),
    )
    tri = t1.unionByName(t2)
    surf = (
        tri.select(F.col("subj_text").alias("surface"))
        .unionByName(tri.select(F.col("obj_text").alias("surface")))
        .distinct()
    )
    canon = surf.select(
        "surface", F.lower(F.trim(F.col("surface"))).alias("canonical_id")
    )
    return entity_degrees(entity_edges(tri, canon))


@query(
    "domain_skew_report",
    """
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    ),
    tot AS (SELECT count(*) AS t FROM documents)
    SELECT source, n_docs, total_chars,
           total_chars * 1.0 / n_docs AS avg_chars,
           n_docs * 1.0 / (SELECT t FROM tot) AS corpus_share
    FROM per
    """,
)
def domain_skew_report(spark, sf_dir):
    """Per-source corpus profile via the SALTED two-phase aggregation
    (operators.textstats.salted_group_stats) — algebraically identical
    to the plain GROUP BY the oracle runs, but a Zipfian hot domain
    splits across 8 combiners instead of one reduce task."""
    return TS.salted_group_stats(_t(spark, sf_dir, "documents"))


@query(
    "length_quantiles",
    """
    SELECT source,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           quantile_cont(n_chars, 0.99) AS p99_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
    """,
)
def length_quantiles(spark, sf_dir):
    """Per-source exact length quantiles (Spark `percentile` and
    DuckDB `quantile_cont` share linear-interpolation semantics) —
    the distribution report behind chunking / partition sizing."""
    return TS.length_quantiles(_t(spark, sf_dir, "documents"))


@query(
    "hash_split_report",
    f"""
    WITH s AS (
      SELECT source,
             {h60_sql("CAST(doc_id AS VARCHAR) || '|' || 'split-v1'")} % 100
               AS b
      FROM documents
    )
    SELECT source,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2
    """,
)
def hash_split_report(spark, sf_dir):
    """Deterministic leakage-safe train/val/test sharding
    (textstats.hash_split: h60(id|seed) % 100 buckets, a pure
    projection) summarized per (source, split)."""
    d = TS.hash_split(_t(spark, sf_dir, "documents"))
    return d.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@query(
    "benchmark_decontaminate",
    r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    di AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
      FROM tok
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 4), ' ') AS ngram
      FROM di
    ),
    eg AS (SELECT DISTINCT ngram FROM dg WHERE doc_id % 97 = 0)
    SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_ngrams
    FROM dg JOIN eg ON dg.ngram = eg.ngram
    GROUP BY dg.doc_id
    """,
)
def benchmark_decontaminate(spark, sf_dir):
    """Benchmark decontamination (textstats.decontaminate): training
    docs sharing a token 5-gram with the held-out eval subset
    (doc_id % 97) — the GPT-3/PaLM-style n-gram overlap hygiene pass.
    Eval n-grams distinct-collapse and broadcast; the corpus side is a
    pure-projection n-gram explode into a broadcast join + one
    combinable per-doc count (the corpus never shuffles on n-gram
    text). The fixture includes one genuine cross-document hit beyond
    the eval docs' self-matches."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    return TS.decontaminate(docs, ev, n=5)


_MIX_RATES = {"zh": 1.0, "en": 0.4, "fr": 0.75}
_MIX_DEFAULT = 0.1


@query(
    "corpus_mix_sample",
    f"""
    WITH rates(lang, thresh) AS (
      VALUES ('en', 400000), ('fr', 750000), ('zh', 1000000)
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN rates r ON d.lang = r.lang
    WHERE {h60_sql("CAST(d.doc_id AS VARCHAR) || '|' || 'mix-v1'")}
            % 1000000
          < coalesce(r.thresh, 100000)
    """,
)
def corpus_mix_sample(spark, sf_dir):
    """Corpus mixing (textstats.corpus_mix_sample): deterministic
    hash-thresholded stratified downsampling to per-language target
    rates (zh 100%, fr 75%, en 40%, default 10%) — a broadcast join
    against the rate dim + a pure-projection filter, zero shuffles of
    the corpus; row-level output so the oracle checks MEMBERSHIP, not
    just counts."""
    return TS.corpus_mix_sample(
        _t(spark, sf_dir, "documents"),
        rates=_MIX_RATES,
        default_rate=_MIX_DEFAULT,
    ).select("doc_id", "lang", "source")


# =====================================================================
# KG graph algorithms (fusion / PageRank / k-hop) over a deterministic
# fixture graph.  The SQL below is deliberately DIALECT-NEUTRAL (every
# numeric literal CAST, only ln/exp/least/round/coalesce — identical
# in DuckDB and Spark SQL), so one string serves as both the DuckDB
# oracle and the Spark-SQL front-door text (sql.py reuses it).
# =====================================================================

# Fixture graph: part --made-in--> region (weight = sum of p_size),
# nation --in-region--> region (w 2), customer --based-in--> nation
# (w 1), region --borders--> next region (a 5-cycle, w 3).  ~1.6k
# nodes at sf0.01 with hubs (regions), fan-in tiers, and a cycle so
# rank iteration and multi-hop reachability are both non-trivial.
_KG_GRAPH_EDGES = """
      SELECT lower(p_name) AS src, lower(r_name) AS dst,
             CAST(sum(p_size) AS DOUBLE) AS w
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
      GROUP BY lower(p_name), lower(r_name)
      UNION ALL
      SELECT lower(n_name) AS src, lower(r_name) AS dst,
             CAST(2 AS DOUBLE) AS w
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION ALL
      SELECT lower(c_name) AS src, lower(n_name) AS dst,
             CAST(1 AS DOUBLE) AS w
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT lower(a.r_name) AS src, lower(b.r_name) AS dst,
             CAST(3 AS DOUBLE) AS w
      FROM region a JOIN region b ON b.r_regionkey = (a.r_regionkey + 1) % 5
"""


def _kg_graph_edges(spark, sf_dir):
    """DataFrame twin of _KG_GRAPH_EDGES."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    pr = (
        p.join(r, r["r_regionkey"] == p["p_partkey"] % 5)
        .groupBy(F.lower("p_name").alias("src"), F.lower("r_name").alias("dst"))
        .agg(F.sum("p_size").cast("double").alias("w"))
    )
    nr = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        F.lower("n_name").alias("src"),
        F.lower("r_name").alias("dst"),
        F.lit(2.0).alias("w"),
    )
    cn = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        F.lower("c_name").alias("src"),
        F.lower("n_name").alias("dst"),
        F.lit(1.0).alias("w"),
    )
    rr = (
        r.alias("a")
        .join(
            r.alias("b"),
            F.col("b.r_regionkey") == (F.col("a.r_regionkey") + 1) % 5,
        )
        .select(
            F.lower("a.r_name").alias("src"),
            F.lower("b.r_name").alias("dst"),
            F.lit(3.0).alias("w"),
        )
    )
    return pr.unionByName(nr).unionByName(cn).unionByName(rr)


def _pagerank_ctes(iters: int) -> str:
    """The CTE chain of the unrolled fixed-iteration weighted PageRank
    (two CTEs per round: gather contributions, apply damping) — the
    SQL rendering of kg.graph.pagerank's join+groupBy algebra. The
    final rank relation is ``r{iters}(entity_id, pr)``; callers append
    their own SELECT (and any further CTEs)."""
    out = [
        f"WITH e AS ({_KG_GRAPH_EDGES}),",
        """
    nodes AS (SELECT src AS entity_id FROM e UNION SELECT dst FROM e),
    ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
    sh AS (SELECT e.src, e.dst, e.w / ow.outw AS share
           FROM e JOIN ow ON e.src = ow.src),
    r0 AS (SELECT entity_id, CAST(1 AS DOUBLE) AS pr FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        out.append(f""",
    c{i} AS (SELECT sh.dst AS entity_id, sum(r{i - 1}.pr * sh.share) AS c
             FROM r{i - 1} JOIN sh ON sh.src = r{i - 1}.entity_id
             GROUP BY sh.dst),
    r{i} AS (SELECT n.entity_id,
                    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
                      * coalesce(c{i}.c, CAST(0 AS DOUBLE)) AS pr
             FROM nodes n LEFT JOIN c{i} ON n.entity_id = c{i}.entity_id)""")
    return "".join(out)


def _pagerank_sql(iters: int) -> str:
    """Unrolled PageRank as a standalone oracle query (ranks in exact
    integer micro-units)."""
    return (
        _pagerank_ctes(iters)
        + f"""
    SELECT entity_id, CAST(round(pr * 1000000) AS BIGINT) AS rank_micro
    FROM r{iters}"""
    )


def _hits_ctes(iters: int) -> str:
    """The CTE chain of the unrolled fixed-iteration HITS
    (kg.graph.hits): per round, a RAW authority gather (sum of
    incoming hub scores) then a RAW hub gather (sum of outgoing
    authority scores); normalization is deferred to one final L1 pass
    per vector (per-round normalizers are scalars that factor through
    the linear gathers — identical end vectors, linear CTE growth
    instead of the doubled-reference blowup a per-round scalar join
    causes in both engines). The final relations are
    ``hfin(entity_id, hub)`` and ``afin(entity_id, auth)``; callers
    append their SELECT."""
    out = [
        f"WITH e AS ({_KG_GRAPH_EDGES}),",
        """
    ed AS (SELECT DISTINCT src, dst FROM e
           WHERE src IS NOT NULL AND dst IS NOT NULL),
    nodes AS (SELECT src AS entity_id FROM ed UNION SELECT dst FROM ed),
    h0 AS (SELECT entity_id, CAST(1 AS DOUBLE) AS hub FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        out.append(f""",
    a{i} AS (SELECT ed.dst AS entity_id, sum(h{i - 1}.hub) AS auth
             FROM ed JOIN h{i - 1} ON ed.src = h{i - 1}.entity_id
             GROUP BY ed.dst),
    h{i} AS (SELECT ed.src AS entity_id, sum(a{i}.auth) AS hub
             FROM ed JOIN a{i} ON ed.dst = a{i}.entity_id
             GROUP BY ed.src)""")
    out.append(f""",
    an AS (SELECT n.entity_id,
                  coalesce(a{iters}.auth, CAST(0 AS DOUBLE)) AS auth
           FROM nodes n LEFT JOIN a{iters} ON n.entity_id = a{iters}.entity_id),
    hn AS (SELECT n.entity_id,
                  coalesce(h{iters}.hub, CAST(0 AS DOUBLE)) AS hub
           FROM nodes n LEFT JOIN h{iters} ON n.entity_id = h{iters}.entity_id),
    afin AS (SELECT entity_id, auth / t.tot AS auth FROM an
             CROSS JOIN (SELECT sum(auth) AS tot FROM an) t),
    hfin AS (SELECT entity_id, hub / t.tot AS hub FROM hn
             CROSS JOIN (SELECT sum(hub) AS tot FROM hn) t)""")
    return "".join(out)


def _khop_sql(k: int) -> str:
    """Unrolled reverse-direction BFS from the region seed set: each
    frontier CTE joins the previous frontier and NOT-INs out every
    earlier layer — kg.graph.k_hop's frontier/anti-join shape."""
    out = [
        f"WITH e0 AS ({_KG_GRAPH_EDGES}),",
        """
    e AS (SELECT DISTINCT dst AS src, src AS dst FROM e0),
    d0 AS (SELECT DISTINCT lower(r_name) AS entity_id FROM region)""",
    ]
    for i in range(1, k + 1):
        prev = "d0" if i == 1 else f"f{i - 1}"
        excl = " AND ".join(
            f"entity_id NOT IN (SELECT entity_id FROM {l})"
            for l in ["d0"] + [f"f{j}" for j in range(1, i)]
        )
        out.append(f""",
    f{i} AS (SELECT entity_id FROM (
               SELECT DISTINCT e.dst AS entity_id
               FROM {prev} JOIN e ON {prev}.entity_id = e.src) x{i}
             WHERE {excl})""")
    sel = ["\n    SELECT entity_id, CAST(0 AS INT) AS dist FROM d0"]
    for i in range(1, k + 1):
        sel.append(f"    SELECT entity_id, CAST({i} AS INT) AS dist FROM f{i}")
    out.append("\n    UNION ALL\n".join(sel))
    return "".join(out)


@query(
    "kg_triple_fusion",
    """
    WITH tri AS (
      SELECT p_name AS subj_text, 'made-in' AS pred, r_name AS obj_text,
             CAST(p_partkey % 83 AS DOUBLE) / CAST(83 AS DOUBLE) AS obj_prob,
             CAST(p_partkey % 50 AS BIGINT) AS doc_id
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
      UNION ALL
      SELECT upper(p_name), 'made-in', lower(r_name),
             CAST(p_partkey % 83 AS DOUBLE) / CAST(83 AS DOUBLE),
             CAST(p_partkey % 37 AS BIGINT)
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
    ),
    canon AS (
      SELECT lower(trim(subj_text)) AS subj_id, pred,
             lower(trim(obj_text)) AS obj_id, obj_prob, doc_id
      FROM tri
    )
    SELECT subj_id, pred, obj_id,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(obj_prob) AS DOUBLE) AS max_prob,
           CAST(1 - exp(sum(ln(1 - least(obj_prob,
                CAST(0.999999999 AS DOUBLE))))) AS DOUBLE) AS conf_noisy_or
    FROM canon GROUP BY subj_id, pred, obj_id
    """,
)
def kg_triple_fusion(spark, sf_dir):
    """Knowledge fusion (kg.graph.fuse_triples): the case-variant
    mention-level triple fixture collapsed onto exact-tier canonical
    ids, each fact fused with noisy-or confidence over its independent
    mentions — the step between raw extraction and the edge table that
    keeps a 10^9-mention boilerplate fact one combinable groupBy."""
    from .kg.graph import fuse_triples

    return fuse_triples(_kg_fusion_mentions(spark, sf_dir))


def _kg_fusion_mentions(spark, sf_dir):
    """Canonical-id mention-level triples shared by the fusion and
    delta-merge queries — DataFrame twin of _KG_FUSION_CANON."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    r = _t(spark, sf_dir, "region")
    base = p.join(r, r["r_regionkey"] == p["p_partkey"] % 5)
    prob = (F.col("p_partkey") % 83).cast("double") / F.lit(83.0)
    t1 = base.select(
        F.col("p_name").alias("subj_text"),
        F.lit("made-in").alias("pred"),
        F.col("r_name").alias("obj_text"),
        prob.alias("obj_prob"),
        (F.col("p_partkey") % 50).cast("long").alias("doc_id"),
    )
    t2 = base.select(
        F.upper("p_name").alias("subj_text"),
        F.lit("made-in").alias("pred"),
        F.lower("r_name").alias("obj_text"),
        prob.alias("obj_prob"),
        (F.col("p_partkey") % 37).cast("long").alias("doc_id"),
    )
    return t1.unionByName(t2).select(
        F.lower(F.trim("subj_text")).alias("subj_id"),
        "pred",
        F.lower(F.trim("obj_text")).alias("obj_id"),
        "obj_prob",
        "doc_id",
    )


@query("kg_pagerank", _pagerank_sql(5))
def kg_pagerank(spark, sf_dir):
    """Entity salience via 5-iteration weighted PageRank
    (kg.graph.pagerank) over the fixture KG — ranks reported in exact
    integer micro-units so the cross-engine hash compares bit-stable
    integers, not accumulated-float tails."""
    from .kg.graph import pagerank

    ranks = pagerank(
        _kg_graph_edges(spark, sf_dir),
        iters=5,
        damping=0.85,
        src="src",
        dst="dst",
        weight="w",
    )
    return ranks.select(
        "entity_id",
        F.round(F.col("rank") * 1000000).cast("long").alias("rank_micro"),
    )


@query("kg_khop_reach", _khop_sql(3))
def kg_khop_reach(spark, sf_dir):
    """Reverse 3-hop reachability (kg.graph.k_hop with src/dst
    swapped): every entity that can reach a region within 3 directed
    hops, with its BFS distance — customers land at hop 2 through
    their nation; the empty hop-3 frontier exercises BFS termination."""
    from .kg.graph import k_hop

    seeds = _t(spark, sf_dir, "region").select(
        F.lower("r_name").alias("entity_id")
    )
    return k_hop(
        _kg_graph_edges(spark, sf_dir), seeds, k=3, src="dst", dst="src"
    )


def _shortest_paths_sql(k: int) -> str:
    """Unrolled bounded-hop min-plus relaxation (kg.graph.shortest_paths)
    on the REVERSED fixture graph from the region seed set: per round
    one gather (min of frontier dist + edge weight), one final min over
    the unioned layers."""
    out = [
        f"WITH e0 AS ({_KG_GRAPH_EDGES}),",
        """
    e AS (SELECT e0.dst AS src, e0.src AS dst, min(w) AS w
          FROM e0 GROUP BY e0.dst, e0.src),
    f0 AS (SELECT DISTINCT lower(r_name) AS entity_id,
                  CAST(0 AS DOUBLE) AS dist
           FROM region)""",
    ]
    for i in range(1, k + 1):
        out.append(f""",
    f{i} AS (SELECT e.dst AS entity_id, min(f{i - 1}.dist + e.w) AS dist
             FROM e JOIN f{i - 1} ON e.src = f{i - 1}.entity_id
             GROUP BY e.dst)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM f{i}" for i in range(k + 1)
    )
    out.append(f""",
    u AS ({union})
    SELECT entity_id, CAST(min(dist) AS DOUBLE) AS dist
    FROM u GROUP BY entity_id""")
    return "".join(out)


@query("kg_shortest_paths", _shortest_paths_sql(3))
def kg_shortest_paths(spark, sf_dir):
    """Bounded-hop weighted shortest paths (kg.graph.shortest_paths,
    3 rounds of min-plus relaxation) on the reversed fixture graph
    from the region seeds — nations land at weight 2, customers at 3
    through their nation, parts at their made-in edge weight; the
    border 5-cycle exercises cycle safety (per-round min collapse
    keeps the frontier one row per entity)."""
    from .kg.graph import shortest_paths

    seeds = _t(spark, sf_dir, "region").select(
        F.lower("r_name").alias("entity_id")
    )
    return shortest_paths(
        _kg_graph_edges(spark, sf_dir), seeds, k=3,
        src="dst", dst="src", weight="w",
    )


def _walks_sql(
    length: int,
    seed: str = "walk-v1",
    *,
    listagg: str = "list(dst ORDER BY dst)",
    idx_fmt: str = "nb.nbrs[{0}]",
    len_fn: str = "len",
    h60_fn=h60_sql,
) -> str:
    """Unrolled deterministic random walks (kg.graph.random_walks)
    over the fixture graph: per step one frontier join against the
    sorted neighbor-list table + a pure hash pick. Defaults render
    DuckDB (the oracle); sql.py passes the Spark renderings
    (sort_array(collect_list)/element_at/size and its h60 macro) to
    produce the front-door twin from the same skeleton."""
    out = [
        f"WITH e0 AS ({_KG_GRAPH_EDGES}),",
        f"""
    ed AS (SELECT DISTINCT src, dst FROM e0
           WHERE src IS NOT NULL AND dst IS NOT NULL),
    nb AS (SELECT src, {listagg} AS nbrs
           FROM ed GROUP BY src),
    nodes AS (SELECT src AS entity_id FROM ed UNION SELECT dst FROM ed),
    w0 AS (SELECT entity_id AS walk_id, entity_id AS cur FROM nodes)""",
    ]
    for t in range(1, length + 1):
        pick = h60_fn(f"w.walk_id || '|' || '{seed}' || '|' || '{t}'")
        idx = idx_fmt.format(
            f"CAST({pick} % {len_fn}(nb.nbrs) AS BIGINT) + 1"
        )
        out.append(f""",
    w{t} AS (SELECT w.walk_id, {idx} AS cur
             FROM w{t - 1} w JOIN nb ON nb.src = w.cur)""")
    unions = "\n    UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS INT) AS step, cur AS node FROM w{t}"
        for t in range(length + 1)
    )
    out.append(f"\n    {unions}")
    return "".join(out)


@query("kg_random_walks", _walks_sql(3))
def kg_random_walks(spark, sf_dir):
    """Deterministic seeded random walks (kg.graph.random_walks, 3
    steps, one walk per node) over the fixture graph — the node2vec/
    DeepWalk corpus prep that turns the constructed KG into
    embedding-training sequences; the hash draw makes the corpus a
    pure function of (edge set, seed), stable at any parallelism."""
    from .kg.graph import random_walks

    return random_walks(
        _kg_graph_edges(spark, sf_dir), length=3, src="src", dst="dst"
    )


# (document, entity) incidence rows for the co-occurrence tier: which
# part names appear together in one order — 64 distinct items across
# 15k docs at sf0.01, a dense-but-weighted co-occurrence structure.
_KG_COOC_INCIDENCE = """
      SELECT DISTINCT l_orderkey AS doc, p_name AS item
      FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def _kg_cooc_incidence(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        F.col("l_orderkey").alias("doc_id"), F.col("p_name").alias("item")
    )


@query(
    "kg_cooccurrence_pmi",
    f"""
    WITH d AS ({_KG_COOC_INCIDENCE}),
    tot AS (SELECT CAST(count(DISTINCT doc) AS BIGINT) AS n_docs FROM d),
    cnt AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY item),
    pair AS (SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS n_ab
             FROM d x JOIN d y ON x.doc = y.doc AND x.item < y.item
             GROUP BY x.item, y.item
             HAVING count(*) >= 50)
    SELECT pair.a, pair.b, pair.n_ab,
           CAST(ln(CAST(n_ab * n_docs AS DOUBLE)
                   / CAST(ca.n * cb.n AS DOUBLE)) AS DOUBLE) AS pmi
    FROM pair CROSS JOIN tot
    JOIN cnt ca ON ca.item = pair.a
    JOIN cnt cb ON cb.item = pair.b
    """,
)
def kg_cooccurrence_pmi(spark, sf_dir):
    """Entity-relatedness graph (kg.graph.cooccurrence_pmi): PMI-
    weighted co-occurrence edges over the order/part incidence — the
    integer-exact ratio keeps the ln argument bit-identical across
    engines."""
    from .kg.graph import cooccurrence_pmi

    return cooccurrence_pmi(
        _kg_cooc_incidence(spark, sf_dir), "doc_id", "item", min_pairs=50
    )


@query(
    "kg_triangle_counts",
    f"""
    WITH d AS ({_KG_COOC_INCIDENCE}),
    pair AS (SELECT x.item AS a, y.item AS b
             FROM d x JOIN d y ON x.doc = y.doc AND x.item < y.item
             GROUP BY x.item, y.item
             HAVING count(*) >= 70),
    t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM pair e1 JOIN pair e2 ON e2.a = e1.b
               JOIN pair e3 ON e3.a = e1.a AND e3.b = e2.b),
    n AS (SELECT x AS entity_id FROM t
          UNION ALL SELECT y FROM t
          UNION ALL SELECT z FROM t)
    SELECT entity_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM n GROUP BY entity_id
    """,
)
def kg_triangle_counts(spark, sf_dir):
    """Per-node triangle participation (kg.graph.triangle_counts) on
    the strong co-occurrence edges (pair support >= 70): 944 triangles
    over 64 nodes at sf0.01 — local clustering that distinguishes
    interlinked communities from hub-star noise."""
    from .kg.graph import cooccurrence_pmi, triangle_counts

    edges = cooccurrence_pmi(
        _kg_cooc_incidence(spark, sf_dir), "doc_id", "item", min_pairs=70
    ).select("a", "b")
    return triangle_counts(edges)


# Mention-level canonical triples shared by the fusion / delta-merge
# oracles — the SQL rendering of _kg_fusion_mentions.
_KG_FUSION_CANON = """
      SELECT lower(trim(subj_text)) AS subj_id, pred,
             lower(trim(obj_text)) AS obj_id, obj_prob, doc_id
      FROM (
        SELECT p_name AS subj_text, 'made-in' AS pred, r_name AS obj_text,
               CAST(p_partkey % 83 AS DOUBLE) / CAST(83 AS DOUBLE) AS obj_prob,
               CAST(p_partkey % 50 AS BIGINT) AS doc_id
        FROM part JOIN region ON r_regionkey = p_partkey % 5
        WHERE p_size > 47
        UNION ALL
        SELECT upper(p_name), 'made-in', lower(r_name),
               CAST(p_partkey % 83 AS DOUBLE) / CAST(83 AS DOUBLE),
               CAST(p_partkey % 37 AS BIGINT)
        FROM part JOIN region ON r_regionkey = p_partkey % 5
        WHERE p_size > 47
      ) tri
"""


def _kg_fused_batch_sql(where: str) -> str:
    """One fused batch (kg.graph.fuse_triples shape) over the shared
    canon CTE, restricted by ``where`` — used twice by the delta-merge
    oracle to fuse the even / odd crawl batches independently."""
    return f"""SELECT subj_id, pred, obj_id,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(obj_prob) AS DOUBLE) AS max_prob,
           CAST(1 - exp(sum(ln(1 - least(obj_prob,
                CAST(0.999999999 AS DOUBLE))))) AS DOUBLE) AS conf_noisy_or
    FROM canon {where} GROUP BY subj_id, pred, obj_id"""


@query(
    "kg_merge_delta",
    f"""
    WITH canon AS ({_KG_FUSION_CANON}),
    b AS ({_kg_fused_batch_sql("WHERE doc_id % 2 = 0")}),
    d AS ({_kg_fused_batch_sql("WHERE doc_id % 2 = 1")}),
    u AS (SELECT * FROM b UNION ALL SELECT * FROM d)
    SELECT subj_id, pred, obj_id,
           CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(max(max_prob) AS DOUBLE) AS max_prob,
           CAST(round((1 - exp(sum(ln(1 - least(conf_noisy_or,
                CAST(0.999999999 AS DOUBLE)))))) * 1000000) AS BIGINT)
             AS conf_micro
    FROM u GROUP BY subj_id, pred, obj_id
    """,
)
def kg_merge_delta(spark, sf_dir):
    """Incremental KG maintenance (kg.maintain.merge_edges): the
    mention fixture split into two crawl batches by doc parity, each
    fused independently, then the delta folded into the base — the
    merged noisy-or reported in integer micro-units so the doubly
    nested exp/ln compares bit-stable across engines."""
    from .kg.graph import fuse_triples
    from .kg.maintain import merge_edges

    m = _kg_fusion_mentions(spark, sf_dir)
    base = fuse_triples(m.filter(F.col("doc_id") % 2 == 0))
    delta = fuse_triples(m.filter(F.col("doc_id") % 2 == 1))
    merged = merge_edges(base, delta)
    return merged.select(
        "subj_id",
        "pred",
        "obj_id",
        "n_mentions",
        "n_docs",
        "max_prob",
        F.round(F.col("conf_noisy_or") * 1000000)
        .cast("long")
        .alias("conf_micro"),
    )


_NT_ESC = "regexp_replace({0}, '[^0-9A-Za-z_.~-]', '_', 'g')"


@query(
    "kg_ntriples_export",
    f"""
    WITH canon AS ({_KG_FUSION_CANON}),
    fused AS ({_kg_fused_batch_sql("")}),
    f2 AS (
      SELECT subj_id, pred, obj_id, conf_noisy_or,
             CAST(round(conf_noisy_or * 1000000) AS BIGINT) AS micro
      FROM fused
    )
    SELECT subj_id, pred, obj_id,
           concat_ws(' ',
             '<http://kg.example/e/' || {_NT_ESC.format("subj_id")} || '>',
             '<http://kg.example/p/' || {_NT_ESC.format("pred")} || '>',
             '<http://kg.example/e/' || {_NT_ESC.format("obj_id")} || '>',
             '.') AS ntriple,
           CASE WHEN conf_noisy_or IS NOT NULL THEN concat_ws(' ',
             '<http://kg.example/stmt/'
               || md5(subj_id || chr(31) || pred || chr(31) || obj_id)
               || '>',
             '<http://kg.example/p/confidence>',
             '"' || CAST(CAST(floor(micro / 1000000.0) AS BIGINT) AS STRING)
                 || '.' || lpad(CAST(micro % 1000000 AS STRING), 6, '0')
                 || '"^^<http://www.w3.org/2001/XMLSchema#double>',
             '.') END AS conf_ntriple
    FROM f2
    """,
)
def kg_ntriples_export(spark, sf_dir):
    """RDF interchange (export.ntriples_lines): the fused edge table
    serialized line-per-statement as N-Triples, plus a reified
    per-edge confidence statement — a pure projection over the fusion
    output, so the text materialization is partition-parallel at any
    scale (df.write.text, no custom sink)."""
    from .export import ntriples_lines
    from .kg.graph import fuse_triples

    fused = fuse_triples(_kg_fusion_mentions(spark, sf_dir))
    return ntriples_lines(fused, conf="conf_noisy_or")


@query(
    "kg_snapshot_latest",
    """
    WITH t AS (
      SELECT CAST(o_custkey AS BIGINT) AS subj_id,
             'latest_status' AS pred,
             o_orderstatus AS obj_id,
             o_orderdate AS ts
      FROM orders
    ),
    r AS (
      SELECT subj_id, pred, obj_id, ts,
             row_number() OVER (PARTITION BY subj_id, pred
                                ORDER BY ts DESC, obj_id DESC) AS rn
      FROM t
    )
    SELECT subj_id, pred, obj_id, ts FROM r WHERE rn = 1
    """,
)
def kg_snapshot_latest(spark, sf_dir):
    """Temporal snapshot (kg.maintain.snapshot_latest): the latest
    asserted object per (subject, predicate) over a timestamped triple
    view of orders — recrawl supersession with a deterministic
    object-descending tie-break."""
    from .kg.maintain import snapshot_latest

    t = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("subj_id"),
        F.lit("latest_status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
        F.col("o_orderdate").alias("ts"),
    )
    return snapshot_latest(t)


@query(
    "kg_snapshot_diff",
    """
    WITH t AS (
      SELECT CAST(o_custkey AS BIGINT) AS subj_id,
             'latest_status' AS pred,
             o_orderstatus AS obj_id,
             o_orderdate AS ts
      FROM orders
    ),
    olds AS (
      SELECT subj_id, pred, obj_id FROM (
        SELECT subj_id, pred, obj_id,
               row_number() OVER (PARTITION BY subj_id, pred
                                  ORDER BY ts DESC, obj_id DESC) AS rn
        FROM t WHERE ts < TIMESTAMP '1998-01-01') r
      WHERE rn = 1
    ),
    news AS (
      SELECT subj_id, pred, obj_id FROM (
        SELECT subj_id, pred, obj_id,
               row_number() OVER (PARTITION BY subj_id, pred
                                  ORDER BY ts DESC, obj_id DESC) AS rn
        FROM t WHERE ts >= TIMESTAMP '1997-01-01') r
      WHERE rn = 1
    ),
    u AS (
      SELECT subj_id, pred, obj_id, 'o' AS side FROM olds
      UNION ALL
      SELECT subj_id, pred, obj_id, 'n' AS side FROM news
    ),
    agg AS (
      SELECT subj_id, pred,
             max(CASE WHEN side = 'o' THEN obj_id END) AS old_obj,
             max(CASE WHEN side = 'n' THEN obj_id END) AS new_obj
      FROM u GROUP BY subj_id, pred
    )
    SELECT subj_id, pred,
           CASE WHEN old_obj IS NULL THEN 'added'
                WHEN new_obj IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           old_obj, new_obj
    FROM agg
    WHERE old_obj IS NULL OR new_obj IS NULL OR old_obj <> new_obj
    """,
)
def kg_snapshot_diff(spark, sf_dir):
    """Snapshot change-data-capture (kg.maintain.snapshot_diff):
    added / removed / changed facts between the graph's belief state
    at two recrawl cutoffs — two keyed snapshot windows diffed by one
    tag+union+combinable groupBy, never a full-outer join; output
    bounded by the churn."""
    from .kg.maintain import snapshot_diff, snapshot_latest

    t = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("subj_id"),
        F.lit("latest_status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
        F.col("o_orderdate").alias("ts"),
    )
    olds = snapshot_latest(
        t.filter(F.col("ts") < F.lit("1998-01-01").cast("timestamp"))
    ).drop("ts")
    news = snapshot_latest(
        t.filter(F.col("ts") >= F.lit("1997-01-01").cast("timestamp"))
    ).drop("ts")
    return snapshot_diff(olds, news)


# SCD2 interval CTE chain over the order-status observation log — the
# final relation is ``iv2(subj_id, pred, obj_id, valid_from, valid_to,
# is_current)``; kg_fact_intervals and kg_belief_asof both compose it
# (a shared constant, not string surgery, so a formatting edit cannot
# silently break one of them).
_FACT_IV_CTES = """
    WITH t AS (
      SELECT CAST(o_custkey AS BIGINT) AS subj_id,
             'latest_status' AS pred,
             o_orderstatus AS obj_id,
             o_orderdate AS ts
      FROM orders
    ),
    pt AS (
      SELECT subj_id, pred, ts, max(obj_id) AS obj_id
      FROM t GROUP BY subj_id, pred, ts
    ),
    chg AS (
      SELECT subj_id, pred, obj_id, ts,
             CASE WHEN lag(obj_id) OVER w IS NULL
                    OR lag(obj_id) OVER w <> obj_id
                  THEN 1 ELSE 0 END AS c
      FROM pt
      WINDOW w AS (PARTITION BY subj_id, pred ORDER BY ts)
    ),
    runs AS (
      SELECT subj_id, pred, obj_id, ts,
             sum(c) OVER (PARTITION BY subj_id, pred ORDER BY ts) AS run
      FROM chg
    ),
    iv AS (
      SELECT subj_id, pred, obj_id, min(ts) AS valid_from
      FROM runs GROUP BY subj_id, pred, run, obj_id
    ),
    iv2 AS (
      SELECT subj_id, pred, obj_id, valid_from,
             lead(valid_from) OVER w2 AS valid_to,
             lead(valid_from) OVER w2 IS NULL AS is_current
      FROM iv
      WINDOW w2 AS (PARTITION BY subj_id, pred ORDER BY valid_from)
    )"""


@query(
    "kg_fact_intervals",
    _FACT_IV_CTES
    + """
    SELECT subj_id, pred, obj_id, valid_from, valid_to, is_current
    FROM iv2
    """,
)
def kg_fact_intervals(spark, sf_dir):
    """SCD2 fact versioning (kg.maintain.fact_intervals): the
    timestamped order-status observation log collapsed to validity
    intervals per (customer, predicate) — runs of the same asserted
    object become one [valid_from, valid_to) row, open runs flagged
    is_current. All five passes are co-partitioned on the fact key;
    output is bounded by object CHANGES, not observations."""
    from .kg.maintain import fact_intervals

    t = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("subj_id"),
        F.lit("latest_status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
        F.col("o_orderdate").alias("ts"),
    )
    return fact_intervals(t)


@query(
    "kg_belief_asof",
    _FACT_IV_CTES
    + """
    SELECT subj_id, pred, obj_id, valid_from, valid_to
    FROM iv2
    WHERE valid_from <= TIMESTAMP '1997-06-01'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-06-01')
    """,
)
def kg_belief_asof(spark, sf_dir):
    """Point-in-time KG query over the SCD2 interval table: what did
    the graph believe about each (customer, latest_status) fact on
    1997-06-01 — ONE range predicate per fact against the
    materialized intervals (the reason fact_intervals exists: no scan
    of the raw observation log, no per-query window re-sort; at scale
    the interval table is written partitioned by valid_from range so
    the predicate prunes partitions)."""
    from .kg.maintain import fact_intervals

    t = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("subj_id"),
        F.lit("latest_status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
        F.col("o_orderdate").alias("ts"),
    )
    at = F.lit("1997-06-01").cast("timestamp")
    iv = fact_intervals(t)
    return iv.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    ).select("subj_id", "pred", "obj_id", "valid_from", "valid_to")


# Pred-labeled KG edges for the composition / typing tier: the fixture
# graph of _KG_GRAPH_EDGES with its predicates kept.
@query(
    "kg_reciprocity_report",
    """
    WITH base AS (
      SELECT DISTINCT lower(a.r_name) AS subj_id, 'next-to' AS pred,
             lower(b.r_name) AS obj_id
      FROM region a JOIN region b ON b.r_regionkey = (a.r_regionkey + 1) % 5
      UNION ALL
      SELECT DISTINCT lower(b.r_name), 'next-to', lower(a.r_name)
      FROM region a JOIN region b ON b.r_regionkey = (a.r_regionkey + 1) % 5
      UNION ALL
      SELECT lower(n_name), 'in-region', lower(r_name)
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION ALL
      SELECT lower(r_name), 'in-region', lower(n_name)
      FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT DISTINCT lower(p_name), 'made-in', lower(r_name)
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
    ),
    e AS (
      SELECT DISTINCT subj_id, pred, obj_id FROM base
      WHERE subj_id <> obj_id
    ),
    rec AS (
      SELECT e.pred FROM e
      WHERE EXISTS (SELECT 1 FROM e r
                    WHERE r.pred = e.pred AND r.subj_id = e.obj_id
                      AND r.obj_id = e.subj_id)
    ),
    tot AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_edges
            FROM e GROUP BY pred),
    rc AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_reciprocal
           FROM rec GROUP BY pred)
    SELECT tot.pred, tot.n_edges,
           CAST(coalesce(rc.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
           CAST(coalesce(rc.n_reciprocal, 0) AS DOUBLE)
             / CAST(tot.n_edges AS DOUBLE) AS reciprocity
    FROM tot LEFT JOIN rc ON tot.pred = rc.pred
    """,
)
def kg_reciprocity_report(spark, sf_dir):
    """Ontology QC (kg.maintain.reciprocity_report): per-predicate
    reciprocity over a fixture where 'next-to' is fully symmetric
    (both border directions asserted), 'in-region' is PARTIALLY
    reciprocal (the reverse asserted only for even nation keys — the
    extraction-asymmetry signal this report exists to surface), and
    'made-in' is one-way."""
    from .kg.maintain import reciprocity_report

    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    ra, rb = r.alias("ra"), r.alias("rb")
    borders = ra.join(
        rb, F.col("rb.r_regionkey") == (F.col("ra.r_regionkey") + 1) % 5
    )
    nxt = borders.select(
        F.lower("ra.r_name").alias("subj_id"),
        F.lit("next-to").alias("pred"),
        F.lower("rb.r_name").alias("obj_id"),
    ).unionByName(
        borders.select(
            F.lower("rb.r_name").alias("subj_id"),
            F.lit("next-to").alias("pred"),
            F.lower("ra.r_name").alias("obj_id"),
        )
    )
    nr = n.join(r, n["n_regionkey"] == r["r_regionkey"])
    inr = nr.select(
        F.lower("n_name").alias("subj_id"),
        F.lit("in-region").alias("pred"),
        F.lower("r_name").alias("obj_id"),
    ).unionByName(
        nr.filter(F.col("n_nationkey") % 2 == 0).select(
            F.lower("r_name").alias("subj_id"),
            F.lit("in-region").alias("pred"),
            F.lower("n_name").alias("obj_id"),
        )
    )
    made = p.join(r, r["r_regionkey"] == p["p_partkey"] % 5).select(
        F.lower("p_name").alias("subj_id"),
        F.lit("made-in").alias("pred"),
        F.lower("r_name").alias("obj_id"),
    )
    return reciprocity_report(nxt.unionByName(inr).unionByName(made))


_KG_PRED_EDGES = """
      SELECT DISTINCT lower(p_name) AS subj_id, 'made-in' AS pred,
             lower(r_name) AS obj_id
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
      UNION ALL
      SELECT lower(c_name), 'in-nation', lower(n_name)
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT lower(n_name), 'in-region', lower(r_name)
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION ALL
      SELECT lower(a.r_name), 'next-to', lower(b.r_name)
      FROM region a JOIN region b ON b.r_regionkey = (a.r_regionkey + 1) % 5
"""


def _kg_pred_edges(spark, sf_dir):
    """DataFrame twin of _KG_PRED_EDGES."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    made = (
        p.join(r, r["r_regionkey"] == p["p_partkey"] % 5)
        .select(
            F.lower("p_name").alias("subj_id"),
            F.lit("made-in").alias("pred"),
            F.lower("r_name").alias("obj_id"),
        )
        .distinct()
    )
    in_nation = c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    ).select(
        F.lower("c_name").alias("subj_id"),
        F.lit("in-nation").alias("pred"),
        F.lower("n_name").alias("obj_id"),
    )
    in_region = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(
        F.lower("n_name").alias("subj_id"),
        F.lit("in-region").alias("pred"),
        F.lower("r_name").alias("obj_id"),
    )
    ra, rb = r.alias("a"), r.alias("b")
    ring = ra.join(
        rb, F.col("b.r_regionkey") == (F.col("a.r_regionkey") + 1) % 5
    ).select(
        F.lower("a.r_name").alias("subj_id"),
        F.lit("next-to").alias("pred"),
        F.lower("b.r_name").alias("obj_id"),
    )
    return made.unionByName(in_nation).unionByName(in_region).unionByName(
        ring
    )


@query(
    "kg_relation_compose",
    f"""
    WITH t AS ({_KG_PRED_EDGES}),
    ab AS (SELECT subj_id AS a, obj_id AS b FROM t WHERE pred = 'made-in'),
    bc AS (SELECT obj_id AS b, subj_id AS c FROM t WHERE pred = 'made-in')
    SELECT ab.a AS subj_id, 'co-located' AS pred, bc.c AS obj_id,
           CAST(count(*) AS BIGINT) AS n_paths,
           CAST(count(*) AS DOUBLE) AS weight
    FROM ab JOIN bc ON ab.b = bc.b
    GROUP BY ab.a, bc.c
    """,
)
def kg_relation_compose(spark, sf_dir):
    """Relation composition (kg.maintain.relation_compose): 'made-in'
    composed with its own reverse yields 'co-located' — parts that
    share a production region, with the shared-region path count. The
    reversed leg is fed as a derived 'hosts' predicate so the operator
    exercises its two-predicate Datalog shape."""
    from .kg.maintain import relation_compose

    t = _kg_pred_edges(spark, sf_dir)
    made = t.filter(F.col("pred") == "made-in")
    hosts = made.select(
        F.col("obj_id").alias("subj_id"),
        F.lit("hosts").alias("pred"),
        F.col("subj_id").alias("obj_id"),
    )
    return relation_compose(
        made.unionByName(hosts), "made-in", "hosts", "co-located"
    )


@query(
    "kg_entity_types",
    f"""
    WITH sig(pred, subj_type, obj_type) AS (
      VALUES ('in-nation', 'customer', 'nation'),
             ('in-region', 'nation', 'region'),
             ('made-in', 'product', 'region'),
             ('next-to', 'region', 'region')
    ),
    t AS ({_KG_PRED_EDGES}),
    j AS (SELECT t.subj_id, t.obj_id, s.subj_type, s.obj_type
          FROM t JOIN sig s ON s.pred = t.pred),
    v AS (SELECT subj_id AS entity_id, subj_type AS entity_type FROM j
          UNION ALL
          SELECT obj_id, obj_type FROM j),
    c AS (SELECT entity_id, entity_type, CAST(count(*) AS BIGINT) AS n_votes
          FROM v GROUP BY entity_id, entity_type),
    r AS (SELECT entity_id, entity_type, n_votes,
                 row_number() OVER (PARTITION BY entity_id
                                    ORDER BY n_votes DESC,
                                             entity_type ASC) AS rn
          FROM c)
    SELECT entity_id, entity_type, n_votes FROM r WHERE rn = 1
    """,
)
def kg_entity_types(spark, sf_dir):
    """Ontology typing (kg.maintain.entity_types): every mention votes
    its predicate's (subj_type, obj_type) signature onto both
    endpoints; majority wins, ties break to the smallest type name —
    regions accumulate votes from three different predicates."""
    from .kg.maintain import entity_types

    sig = spark.createDataFrame(
        [
            ("in-nation", "customer", "nation"),
            ("in-region", "nation", "region"),
            ("made-in", "product", "region"),
            ("next-to", "region", "region"),
        ],
        "pred: string, subj_type: string, obj_type: string",
    )
    return entity_types(_kg_pred_edges(spark, sf_dir), sig)


@query(
    "kg_degree_histogram",
    f"""
    WITH e AS ({_KG_GRAPH_EDGES}),
    nbr AS (SELECT DISTINCT entity_id, nbr FROM (
              SELECT src AS entity_id, dst AS nbr FROM e
              UNION ALL
              SELECT dst, src FROM e) u
            WHERE entity_id <> nbr),
    deg AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS degree
            FROM nbr GROUP BY entity_id)
    SELECT CAST(length(bin(degree)) - 1 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_entities,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY length(bin(degree)) - 1
    """,
)
def kg_degree_histogram(spark, sf_dir):
    """Skew report (kg.graph.degree_histogram): log2-bucketed
    distinct-neighbor degree distribution of the fixture KG — the
    bucket is the integer bit length, so no float log2 can disagree at
    exact powers of two."""
    from .kg.graph import degree_histogram

    return degree_histogram(_kg_graph_edges(spark, sf_dir))


@query(
    "kg_constraint_violations",
    """
    WITH t AS (
      SELECT CAST(o_custkey AS BIGINT) AS subj_id,
             'has-status' AS pred,
             o_orderstatus AS obj_id
      FROM orders
      UNION ALL
      SELECT CAST(o_custkey AS BIGINT), 'placed-order',
             CAST(o_orderkey AS STRING)
      FROM orders
    )
    SELECT subj_id, pred,
           CAST(count(DISTINCT obj_id) AS BIGINT) AS n_objects,
           min(obj_id) AS obj_min, max(obj_id) AS obj_max
    FROM t WHERE pred IN ('has-status')
    GROUP BY subj_id, pred
    HAVING count(DISTINCT obj_id) > 1
    """,
)
def kg_constraint_violations(spark, sf_dir):
    """Ontology integrity (kg.maintain.constraint_violations): treat
    'has-status' as a FUNCTIONAL predicate over a triple view of
    orders — customers asserting more than one distinct status are
    contradictions routed to review. The non-functional
    'placed-order' edges in the same table prove the predicate filter
    prunes before the aggregate."""
    from .kg.maintain import constraint_violations

    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_custkey").cast("long").alias("subj_id"),
        F.lit("has-status").alias("pred"),
        F.col("o_orderstatus").alias("obj_id"),
    ).unionByName(
        o.select(
            F.col("o_custkey").cast("long").alias("subj_id"),
            F.lit("placed-order").alias("pred"),
            F.col("o_orderkey").cast("string").alias("obj_id"),
        )
    )
    return constraint_violations(t, ["has-status"])


def _lpa_ctes(iters: int) -> str:
    """CTE fragment of the unrolled deterministic label propagation:
    per round, count neighbor labels and adopt the most frequent
    (ties -> MIN label) — kg.graph.label_propagation's exact shape.
    Expects a relation ``e0(src, dst)`` in scope; the final label
    relation is ``l{iters}(entity_id, label)``. Count CTEs are named
    ``lc{i}`` so the fragment composes with _pagerank_ctes (which
    owns ``c{i}``)."""
    out = [
        """
    nbr AS (SELECT DISTINCT v, nbr FROM (
              SELECT src AS v, dst AS nbr FROM e0
              UNION ALL
              SELECT dst AS v, src AS nbr FROM e0) u
            WHERE v <> nbr),
    l0 AS (SELECT DISTINCT v AS entity_id, v AS label FROM nbr)""",
    ]
    for i in range(1, iters + 1):
        out.append(f""",
    lc{i} AS (SELECT n.v, l.label, count(*) AS cnt
              FROM nbr n JOIN l{i - 1} l ON n.nbr = l.entity_id
              GROUP BY n.v, l.label),
    l{i} AS (SELECT v AS entity_id, label FROM (
               SELECT v, label,
                      row_number() OVER (PARTITION BY v
                                         ORDER BY cnt DESC, label) AS rn
               FROM lc{i}) r WHERE rn = 1)""")
    return "".join(out)


def _lpa_sql(iters: int) -> str:
    """Standalone oracle query for label propagation over the fixture
    KG."""
    return (
        f"WITH e0 AS ({_KG_GRAPH_EDGES})," + _lpa_ctes(iters) + f"""
    SELECT entity_id, label AS community FROM l{iters}"""
    )


@query("kg_community_labels", _lpa_sql(2))
def kg_community_labels(spark, sf_dir):
    """Community detection over the fixture KG via 2-round
    deterministic synchronous label propagation
    (kg.graph.label_propagation): most-frequent neighbor label,
    ties to MIN — topic blocks for partition routing and linking
    candidate pools. Per round: one keyed join + one combinable
    (node, label) count + one per-node window."""
    from .kg.graph import label_propagation

    return label_propagation(
        _kg_graph_edges(spark, sf_dir), iters=2, src="src", dst="dst"
    )


# reduced graph for the similarity tier (customer tier dropped: 1,500
# same-nation customers would emit ~45k near-zero-signal pairs)
_KG_SIM_EDGES = """
      SELECT lower(p_name) AS src, lower(r_name) AS dst
      FROM part JOIN region ON r_regionkey = p_partkey % 5
      WHERE p_size > 47
      UNION ALL
      SELECT lower(n_name), lower(r_name)
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION ALL
      SELECT lower(a.r_name), lower(b.r_name)
      FROM region a JOIN region b ON b.r_regionkey = (a.r_regionkey + 1) % 5
"""


@query(
    "kg_node_similarity",
    f"""
    WITH e0 AS ({_KG_SIM_EDGES}),
    nbr AS (SELECT DISTINCT v, n FROM (
              SELECT src AS v, dst AS n FROM e0
              UNION ALL
              SELECT dst AS v, src AS n FROM e0) u
            WHERE v <> n),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree
            FROM nbr GROUP BY v),
    inter AS (SELECT w1.v AS a, w2.v AS b,
                     CAST(count(*) AS BIGINT) AS n_common
              FROM nbr w1 JOIN nbr w2 ON w1.n = w2.n AND w1.v < w2.v
              GROUP BY w1.v, w2.v)
    SELECT i.a AS entity_a, i.b AS entity_b, i.n_common,
           da.degree AS degree_a, db.degree AS degree_b,
           CAST(i.n_common AS DOUBLE)
             / CAST(da.degree + db.degree - i.n_common AS DOUBLE)
             AS jaccard
    FROM inter i JOIN deg da ON i.a = da.v JOIN deg db ON i.b = db.v
    WHERE i.n_common >= 1
    """,
)
def kg_node_similarity(spark, sf_dir):
    """Link-prediction candidate scoring (kg.graph.node_similarity):
    common-neighbor Jaccard over the reduced fixture KG — pairs meet
    through a shared-neighbor wedge equi-join (never all-pairs),
    intersections from one combinable groupBy, union size as
    d_a + d_b - intersection (no second join)."""
    from .kg.graph import node_similarity

    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    pr = p.join(r, r["r_regionkey"] == p["p_partkey"] % 5).select(
        F.lower("p_name").alias("src"), F.lower("r_name").alias("dst")
    )
    nr = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        F.lower("n_name").alias("src"), F.lower("r_name").alias("dst")
    )
    ra, rb = r.alias("ra"), r.alias("rb")
    rr = ra.join(
        rb, F.col("rb.r_regionkey") == (F.col("ra.r_regionkey") + 1) % 5
    ).select(
        F.lower("ra.r_name").alias("src"), F.lower("rb.r_name").alias("dst")
    )
    edges = pr.unionByName(nr).unionByName(rr)
    return node_similarity(edges, min_common=1, src="src", dst="dst")


@query(
    "kg_entity_profile",
    _pagerank_ctes(5)
    + ",\n    e0 AS (SELECT src, dst FROM e),"
    + _lpa_ctes(2)
    + """,
    deg AS (SELECT v AS entity_id, CAST(count(*) AS BIGINT) AS degree
            FROM nbr GROUP BY v)
    SELECT r5.entity_id,
           CAST(round(r5.pr * 1000000) AS BIGINT) AS rank_micro,
           l2.label AS community,
           deg.degree
    FROM r5 JOIN l2 ON r5.entity_id = l2.entity_id
            JOIN deg ON r5.entity_id = deg.entity_id
    """,
)
def kg_entity_profile(spark, sf_dir):
    """The materialized per-entity vertices table a property-graph
    export ships: PageRank salience (integer micro-units) + label-
    propagation community + distinct-neighbor degree, one row per
    entity — three reusable graph operators composed by two keyed
    equi-joins on entity_id (the rank vector, label vector, and
    degree table are all (entity_id, value) narrow, so AQE broadcasts
    the small sides at fixture scale and the joins stay keyed at any
    scale)."""
    from .kg.graph import label_propagation, pagerank

    edges = _kg_graph_edges(spark, sf_dir)
    pr = pagerank(edges, iters=5, damping=0.85, src="src", dst="dst",
                  weight="w")
    com = label_propagation(edges, iters=2, src="src", dst="dst")
    nbr = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select(F.col("dst").alias("v"), F.col("src").alias("nbr"))
        )
        .filter(F.col("v") != F.col("nbr"))
        .distinct()
    )
    deg = nbr.groupBy(F.col("v").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return (
        pr.join(com, "entity_id")
        .join(deg, "entity_id")
        .select(
            "entity_id",
            F.round(F.col("rank") * 1000000).cast("long").alias("rank_micro"),
            "community",
            "degree",
        )
    )


@query(
    "kg_hits",
    _hits_ctes(3)
    + """
    SELECT hfin.entity_id,
           CAST(round(hfin.hub * 1000000) AS BIGINT) AS hub_micro,
           CAST(round(afin.auth * 1000000) AS BIGINT) AS auth_micro
    FROM hfin JOIN afin ON hfin.entity_id = afin.entity_id
    """,
)
def kg_hits(spark, sf_dir):
    """Hubs & authorities (kg.graph.hits, 3 L1-normalized rounds) over
    the fixture KG — regions (everything points at them) surface as
    authorities, customers (pure sources) as hubs; scores in integer
    micro-units for cross-engine hash stability."""
    from .kg.graph import hits

    edges = _kg_graph_edges(spark, sf_dir)
    h = hits(edges, iters=3, src="src", dst="dst")
    return h.select(
        "entity_id",
        F.round(F.col("hub") * 1000000).cast("long").alias("hub_micro"),
        F.round(F.col("auth") * 1000000).cast("long").alias("auth_micro"),
    )


@query(
    "kg_link_mentions",
    _pagerank_ctes(5)
    + """,
    pm AS (SELECT entity_id,
                  CAST(round(pr * 1000000) AS BIGINT) AS rank_micro
           FROM r5),
    toks AS (SELECT DISTINCT pm.entity_id, pm.rank_micro, t.tok
             FROM pm, unnest(string_split(pm.entity_id, ' ')) AS t(tok)),
    cand AS (SELECT m.mention, toks.entity_id, toks.rank_micro
             FROM (SELECT DISTINCT tok AS mention FROM toks) m
             JOIN toks ON toks.tok = m.mention),
    r AS (SELECT mention, entity_id, rank_micro,
                 row_number() OVER (PARTITION BY mention
                                    ORDER BY rank_micro DESC,
                                             entity_id ASC) AS rn,
                 CAST(count(*) OVER (PARTITION BY mention) AS BIGINT)
                   AS n_candidates
          FROM cand)
    SELECT mention, entity_id, rank_micro, n_candidates
    FROM r WHERE rn = 1
    """,
)
def kg_link_mentions(spark, sf_dir):
    """Salience-prior entity linking (kg.graph.link_mentions): every
    distinct surface token of the fixture KG's entities, bound to the
    highest-PageRank entity containing it — ranks enter the argmax in
    exact integer micro-units, so the cross-engine ordering can never
    hinge on a float ulp."""
    from .kg.graph import link_mentions, pagerank

    ranks = pagerank(
        _kg_graph_edges(spark, sf_dir),
        iters=5,
        damping=0.85,
        src="src",
        dst="dst",
        weight="w",
    )
    pm = ranks.select(
        "entity_id",
        F.round(F.col("rank") * 1000000).cast("long").alias("rank"),
    )
    mentions = pm.select(
        F.explode(F.split("entity_id", " ")).alias("mention")
    )
    return link_mentions(mentions, pm).select(
        "mention",
        "entity_id",
        F.col("rank").alias("rank_micro"),
        "n_candidates",
    )


# =====================================================================
# rows-only pipeline queries (model-backed; no SQL oracle — the exact
# correctness gate for these is tests/test_engine_parity.py)
# =====================================================================

def _uie_engine(spark, sf_dir, schema, lang="en"):
    from .engine import UIEConfig, UIEEngine

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eng = UIEEngine(spark, schema, UIEConfig(lang=lang))
    return eng, UIEEngine, eng.extract(docs)


def uie_entities(spark, sf_dir):
    """Root-level entity mentions from the model pipeline."""
    _, E, spans = _uie_engine(spark, sf_dir, ["subject entity"])
    return E.entities(spans).orderBy("doc_id", "start", "text")


QUERIES["uie_entities"] = uie_entities


def kg_canonical_entities(spark, sf_dir):
    """End-to-end KG tier: extract mentions -> normalize -> MinHash
    LSH -> connected components -> canonical surface ids."""
    from pyspark.sql import functions as F

    from .kg.canonicalize import canonicalize_mentions

    _, E, spans = _uie_engine(spark, sf_dir, ["subject entity"])
    # Bound the O(pairs) LSH verify to the first 40% of the corpus —
    # derived from the fixture's own row count (doc_ids are dense from
    # 0), not a literal, so the bound tracks the SF dir it runs on.
    # At the driver's correctness SF (0.01, 500 docs) this is 200,
    # matching the frozen oracle. Parquet count() is metadata-only.
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    bound = max(1, (2 * n_docs) // 5)
    mentions = (
        E.entities(spans)
        .filter(F.col("doc_id") < bound)
        .select(F.col("text").alias("surface"))
        .distinct()
        .withColumn("mention_id", F.xxhash64("surface"))
    )
    return canonicalize_mentions(mentions).select(
        "surface", "surface_norm", "canonical_surface_id"
    ).orderBy("surface")


QUERIES["kg_canonical_entities"] = kg_canonical_entities


def uie_nested_export(spark, sf_dir):
    """Reference-shaped nested JSON per document (A6 export)."""
    from .export import nested_results

    _, _, spans = _uie_engine(
        spark, sf_dir, {"subject entity": ["related fact"]}
    )
    return nested_results(spans, max_depth=2).orderBy("doc_id")


QUERIES["uie_nested_export"] = uie_nested_export


# Frozen EAGER-ORACLE goldens for the model-backed queries (generated
# by scripts/freeze_query_oracles.py from tests/oracle_uie.OracleUIE +
# tests/eager_kg — independent eager dataflows, NOT the Spark engine).
# Valid for the driver's correctness SF (sf0.01); the kernel is
# bitwise-deterministic (batch-invariant model, BLAS pinned to one
# thread on package import), so value hashes match exactly.
import os as _os

_FROZEN = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "tests",
    "frozen",
)
ORACLE_SQL["uie_entities"] = (
    f"SELECT * FROM read_parquet('{_FROZEN}/uie_entities.parquet')"
)
ORACLE_SQL["kg_canonical_entities"] = (
    f"SELECT * FROM read_parquet('{_FROZEN}/kg_canonical_entities.parquet')"
)
ORACLE_SQL["uie_nested_export"] = (
    f"SELECT * FROM read_parquet('{_FROZEN}/uie_nested_export.parquet')"
)
FLAGSHIP_ORACLE_SQL = (
    f"SELECT * FROM read_parquet('{_FROZEN}/uie_flagship_triples.parquet')"
)
