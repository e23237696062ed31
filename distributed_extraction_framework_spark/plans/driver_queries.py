"""Driver-contract queries + DuckDB oracles (__spark_entry__ backend).

Each entry pairs a Spark implementation (running the REAL engine operators)
with an independent ANSI-SQL oracle DuckDB can run on the driver's
pre-registered views (documents / embeddings / events / lineitem / ...).

For the extraction family, both sides first build the SAME deterministic
wiki-markup pages table from ``documents`` via a shared portable-SQL
construction (``PAGES_CTE`` — identical text executed by Spark SQL and
DuckDB), then extract: Spark through operators/extractors.py, the oracle
through RE2 regexp SQL mirroring the published DBpedia semantics.

Numeric discipline for cross-engine hash equality:
* double sums go through DECIMAL(18,6) (exact, order-independent);
* similarity scores are computed in double and ROUNDED; ranking orders by
  the rounded score so ties break identically;
* timestamps render as 'yyyy-MM-dd HH:mm:ss' strings (session TZ pinned
  UTC in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..functions import text as T
from ..operators import dedup as D
from ..operators import similarity as SIM
from ..operators.extractors import extractor_df
from ..operators.linking import (detect_mentions_distributed, link_entities,
                                 score_candidates, surface_forms_from_labels)
from ..operators.redirects import harvest_redirects, transitive_closure
from ..streaming import events as STR

# --------------------------------------------------------------------------
# shared construction: documents → wiki-markup pages (portable SQL)
# --------------------------------------------------------------------------
# plain string (NOT an f-string: the wiki braces {{ }} must survive intact)
PAGES_CTE = """
SELECT
  doc_id,
  CASE WHEN doc_id % 17 = 3 THEN 'Category:Topic_' || (doc_id % 50)
       ELSE 'Doc_' || doc_id END AS title,
  'https://en.pages.example.org/wiki/' ||
    (CASE WHEN doc_id % 17 = 3 THEN 'Category:Topic_' || (doc_id % 50)
          ELSE 'Doc_' || doc_id END) AS url,
  TIMESTAMP '2024-01-01 00:00:00' AS warc_ts,
  CASE
    WHEN doc_id % 17 = 3 THEN
      chr(39) || chr(39) || chr(39) || 'Topic ' || (doc_id % 50) ||
      chr(39) || chr(39) || chr(39) ||
      ' category page. [[Category:Parent_' || (doc_id % 5) || ']]'
    WHEN doc_id % 10 <= 1 THEN '#REDIRECT [[Doc_' || (doc_id + 1) || ']]'
    WHEN doc_id % 29 = 7 THEN
      chr(39) || chr(39) || chr(39) || 'Doc ' || doc_id ||
      chr(39) || chr(39) || chr(39) ||
      ' may refer to: [[Doc_' || ((doc_id * 11) % 100) || ']] or [[Doc_' ||
      ((doc_id * 13) % 100) || ']]. {{Disambiguation}}'
    ELSE
      chr(39) || chr(39) || chr(39) || 'Doc ' || doc_id ||
      chr(39) || chr(39) || chr(39) || ' is about ' || split_part(text, ' ', 1) ||
      '. See [[Doc_' || ((doc_id * 7) % 100) || ']] and [[' ||
      split_part(text, ' ', 1) || ' ' || split_part(text, ' ', 2) || '|anchor]].' ||
      ' [[Category:Cat_' || (doc_id % 7) || ']]' ||
      ' [http://ext.example.org/' || split_part(text, ' ', 1) || ' site] and' ||
      ' http://bare.example.org/' || split_part(text, ' ', 2) ||
      ' {{Tmpl_' || (doc_id % 5) || '|' || split_part(text, ' ', 1) || '}}' ||
      (CASE WHEN doc_id % 3 = 0 THEN
        ' {{Infobox thing | name = ' || split_part(text, ' ', 1) ||
        ' | population = ' || (doc_id * 37) ||
        ' | area = ' || (doc_id % 100) || '.25' ||
        ' | site = http://www.' || split_part(text, ' ', 2) || '.org' ||
        ' | located_in = [[Doc_' || ((doc_id * 3) % 100) || ']]}}'
       ELSE '' END) ||
      (CASE WHEN doc_id % 4 = 1 THEN
        ' {{Coord|' || (doc_id % 90) || '.5|' || (doc_id % 180) || '.25}}'
       ELSE '' END) ||
      (CASE WHEN doc_id % 6 = 2 THEN ' [[de:Doc_' || doc_id || ']]' ELSE '' END)
  END AS text,
  'en' AS lang
FROM {tbl}
"""

RES = "http://kg.example.org/resource/"
RES_DE = "http://de.kg.example.org/resource/"
LS = S.RDF_LANGSTRING

_DEC_SUM = "round(cast(sum(cast({x} as decimal(18,6))) as double), 4)"


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__defs_docs")
    return spark.sql(PAGES_CTE.replace("{tbl}", "__defs_docs"))


def _dec_sum_spark(col: str):
    return F.round(
        F.sum(F.col(col).cast("decimal(18,6)")).cast("double"), 4
    )


# --------------------------------------------------------------------------
# relational suite (TPC-H-ish — the operators the pipeline relies on)
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum_spark("l_quantity").alias("sum_qty"),
            _dec_sum_spark("l_extendedprice").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       {_DEC_SUM.format(x='l_quantity')} AS sum_qty,
       {_DEC_SUM.format(x='l_extendedprice')} AS sum_base_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_top_customer_revenue(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_mktsegment")
        .agg(_dec_sum_spark("l_extendedprice").alias("revenue"),
             F.count("*").alias("n_items"))
    )
    return rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


ORACLE_TOP_CUSTOMER = f"""
SELECT c_custkey, c_mktsegment,
       {_DEC_SUM.format(x='l_extendedprice')} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


def q_part_type_stats(spark, sf_dir):
    """Broadcast dimension join: lineitem ⨝ part (small side broadcast)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"),
             _dec_sum_spark("l_quantity").alias("sum_qty"))
        .orderBy("p_brand")
    )


ORACLE_PART_TYPE = f"""
SELECT p_brand, count(*) AS n_items, {_DEC_SUM.format(x='l_quantity')} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def q_topk_orders_per_priority(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey",
                F.round(F.col("o_totalprice").cast("decimal(18,6)").cast("double"), 4).alias("price"))
    )


ORACLE_TOPK_ORDERS = """
SELECT o_orderpriority, rank, o_orderkey, price FROM (
  SELECT o_orderpriority, o_orderkey,
         round(cast(cast(o_totalprice as decimal(18,6)) as double), 4) AS price,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
"""


def q_distinct_event_users(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.select("event_type", "user_id").distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type, count(*) AS n_users
FROM (SELECT DISTINCT event_type, user_id FROM events)
GROUP BY event_type ORDER BY event_type
"""


def q_events_window_hourly(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = STR.windowed_event_counts(e, window="1 hour", watermark="1 hour")
    return agg.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "n_events",
        F.round(F.col("sum_value").cast("decimal(18,6)").cast("double"), 4).alias("sum_value"),
    )


ORACLE_WINDOW_HOURLY = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n_events,
       round(cast(cast(round(sum(cast(value as decimal(18,6))), 6) as decimal(18,6)) as double), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = STR.sessionize(e, gap="30 minutes")
    return s.select(
        "user_id",
        F.date_format("sess_start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
        "n_events",
        F.round(F.col("sum_value").cast("decimal(18,6)").cast("double"), 4).alias("sum_value"),
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), grouped AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       count(*) AS n_events,
       round(cast(cast(round(sum(cast(value as decimal(18,6))), 6) as decimal(18,6)) as double), 4) AS sum_value
FROM grouped GROUP BY user_id, sid
"""


# --------------------------------------------------------------------------
# text / training-data suite over documents
# --------------------------------------------------------------------------

def q_token_counts(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        T.token_count_ws(F.col("text")).cast("long").alias("n_ws"),
        T.token_count_bpe(F.col("text")).cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )


ORACLE_TOKEN_COUNTS = r"""
SELECT doc_id,
  CASE WHEN trim(coalesce(text,'')) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) END AS n_ws,
  len(regexp_extract_all(coalesce(text,''), '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS n_bpe,
  length(text) AS n_chars
FROM documents
"""


def q_lang_id(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.lang_id(F.col("text")).alias("lang_guess"))


def _marker_sql(words):
    return (
        r"len(regexp_extract_all(coalesce(text,''), '(?i)\b("
        + "|".join(words)
        + r")\b', 1))"
    )


ORACLE_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id,
    {_marker_sql(T.LANG_MARKERS['en'])} AS s_en,
    {_marker_sql(T.LANG_MARKERS['de'])} AS s_de,
    {_marker_sql(T.LANG_MARKERS['fr'])} AS s_fr,
    {_marker_sql(T.LANG_MARKERS['es'])} AS s_es
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_guess
FROM scored
"""


def q_exact_dedup_docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.exact_dedup(d).select("doc_id")


ORACLE_EXACT_DEDUP = """
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (
      PARTITION BY md5(coalesce(text,'')) ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
"""


def q_ngram_jaccard(spark, sf_dir):
    # max_df=50: the scale path (posting lists capped BEFORE the self-join);
    # the oracle mirrors the cap, so this gates the production plan shape
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = D.ngram_jaccard_pairs(d, n=3, threshold=0.5, max_df=50)
    return p.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


ORACLE_NGRAM_JACCARD = """
WITH d AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(coalesce(text,'')), '\\s+') AS w
  FROM documents WHERE trim(coalesce(text,'')) <> ''
), g AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 0) + 2),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS grams
  FROM d
), gf AS (
  SELECT id, grams FROM g WHERE len(grams) > 0
), inv AS (
  SELECT id, unnest(grams) AS gram FROM gf
), iv0 AS (SELECT id, gram FROM inv WHERE gram <> ''),
dfreq AS (SELECT gram FROM iv0 GROUP BY gram HAVING count(*) <= 50),
iv AS (SELECT id, gram FROM iv0 JOIN dfreq USING (gram)),
sizes AS (SELECT id, count(*) AS n FROM iv GROUP BY id),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
  FROM iv a JOIN iv b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(common / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE common / (sa.n + sb.n - common) >= 0.5
"""


def q_minhash_near_dups(spark, sf_dir):
    """MinHash+LSH near-dups, hash-exact vs a DuckDB oracle that recomputes
    the Carter-Wegman signatures from the same md5-derived shingle values
    (the permutation coefficients are inlined as SQL constants)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.minhash_lsh_pairs(d, threshold=0.7).select(
        "id_a", "id_b", F.round("jaccard_est", 6).alias("jaccard_est")
    )


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dups, hash-exact: the oracle rebuilds the 64-bit
    fingerprints from md5 token hashes (two 32-bit hex halves) and mirrors
    the radius-derived pigeonhole banding (9 bands for Hamming ≤ 8 —
    guaranteed recall 1.0 at the requested radius) + Hamming verify."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.simhash_near_duplicates(d, max_hamming=8)


def q_winnowing(spark, sf_dir):
    """Winnowing fingerprint counts, hash-exact: polynomial rolling hash
    mod 2^31-1 is recomputed positionally by the oracle (unicode(substr))
    with SQL window minima."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = T.make_winnowing_udf()
    return d.select(
        "doc_id", F.size(w(F.col("text"))).cast("long").alias("n_fingerprints")
    )


# --------------------------------------------------------------------------
# similarity suite over embeddings
# --------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    """Exact cosine top-k. The declarative window form IS the scale plan
    on this Spark: Catalyst's window-group-limit pushdown inserts a
    PARTIAL WindowGroupLimit below the exchange, so the merge shuffle
    carries per-partition top-k only (asserted in tests/test_plans.py)."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = e.filter(F.col("vec_id") < 20)
    res = SIM.cosine_topk_bruteforce(q, e, k=5)
    # re-rank on the ROUNDED score so ties break identically cross-engine
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("neighbor_id")
    )
    return (
        res.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
                F.col("r").cast("long").alias("rank"))
    )


ORACLE_COSINE_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(qv, v), 6) AS cos
  FROM q JOIN e ON e.vec_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
"""


def q_embedding_neardup(spark, sf_dir):
    """LSH-bucketed near-dup pairs (the 100-TB plan: only bucket-colliding
    pairs are scored, ~2% of the pair space at 8 planes × 6 tables) gated
    against the EXACT all-pairs oracle — so the gate passes only if LSH
    recall is 100% on this corpus (verified: the one ≥0.5 pair collides in
    table 0; at the production threshold ≥0.9 the analytic recall is ≥99%)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = SIM.near_duplicates_by_embedding(
        e, dim=64, threshold=0.5, n_planes=8, n_tables=6
    )
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


ORACLE_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.5
"""


def q_lsh_ann(spark, sf_dir):
    """Sign-sketch LSH top-k with PORTABLE (md5-derived) hyperplanes: the
    oracle recomputes the identical plane weights, bucket bits, candidate
    set, and ranking — so the approximate index itself is hash-verified,
    not just its row count."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    res = SIM.lsh_topk(
        e.filter(F.col("vec_id") < 10), e, dim=64, k=5, portable=True,
        rank_rounded=True,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("neighbor_id")
    )
    return (
        res.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
                F.col("r").cast("long").alias("rank"))
    )


def q_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer search gated in EXACT mode: with
    n_probe == n_cells every (query, corpus) pair is scored exactly once,
    so the centroid-assign + cell-join machinery must reproduce the
    brute-force oracle bit-for-bit. The approximate mode (n_probe < cells)
    is recall-tested in tests/test_dedup_similarity.py. train_iterations=2
    also drives the spherical-k-means refinement + zero-shuffle cell
    assignment through the hard gate."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = e.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
    res = SIM.ivf_topk(q, e, k=8, n_cells=8, n_probe=8, train_iterations=2,
                       rank_rounded=True)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("neighbor_id")
    )
    return (
        res.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
                F.col("r").cast("long").alias("rank"))
    )


ORACLE_IVF_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id >= 20 AND vec_id < 36),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(qv, v), 6) AS cos
  FROM q JOIN e ON e.vec_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
"""


def q_entity_links(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    quads = extractor_df(pages, "labels")
    sf = surface_forms_from_labels(quads)
    return link_entities(pages, sf).select("subj", "surface", "obj", "n_mentions")


def q_entity_links_unbounded(spark, sf_dir):
    """Same links, UNBOUNDED-dictionary plan (VERDICT r4 #1): the tier
    ``link_entities`` takes past ``MAX_BROADCAST_SHARDS`` shards, run
    directly — detect_mentions_distributed (one corpus pass, salted
    gram-block equi-join against the distributed dictionary index,
    window-local verify), then the salted score_candidates join.
    Hash-compared to the SAME oracle as entity_links."""
    pages = _pages(spark, sf_dir)
    quads = extractor_df(pages, "labels")
    sf = surface_forms_from_labels(quads)
    best = score_candidates(detect_mentions_distributed(pages, sf), sf)
    return best.select(F.col("page").alias("subj"), "surface",
                       F.col("entity").alias("obj"), "n_mentions")


def q_stateful_running_counts(spark, sf_dir):
    """Streaming applyInPandasWithState driven to completion; the final
    per-type totals equal a batch groupBy — that's the oracle."""
    import shutil
    import tempfile
    import os

    import uuid

    d = tempfile.mkdtemp(prefix="defs_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-0.parquet"))
    stream = STR.read_event_stream(spark, d)
    rc = STR.running_counts_stateful(stream)
    name = f"defs_running_{uuid.uuid4().hex[:8]}"  # unique: rerun-safe
    STR.run_to_memory(rc, name, output_mode="update")
    return spark.sql(
        f"select event_type, max(n_total) as n_total from {name} group by event_type"
    )


ORACLE_STATEFUL_RUNNING = """
SELECT event_type, count(*) AS n_total FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# extraction family over the constructed pages (shared CTE both engines)
# --------------------------------------------------------------------------
def _oracle_pages() -> str:
    return "WITH RECURSIVE pages AS (" + PAGES_CTE.replace("{tbl}", "documents") + ")"


# portable-SQL fragments for the oracle side
_UFN = "upper(substr(replace(trim({x}), ' ', '_'), 1, 1)) || substr(replace(trim({x}), ' ', '_'), 2)"
_MAIN = "doc_id % 17 <> 3"
_NONREDIR = "doc_id % 17 <> 3 AND doc_id % 10 > 1"
_ISREDIR = "doc_id % 17 <> 3 AND doc_id % 10 <= 1"
# 'regular' articles: non-category, non-redirect, non-disambiguation — the
# pages whose body follows the ELSE branch formulas of PAGES_CTE
_REGULAR = _NONREDIR + " AND doc_id % 29 <> 7"
# first 8 md5 hex chars as a bigint (mirrors prepare_pages' _hex_id; Spark
# uses conv(,16,10), DuckDB parses the 0x literal form)
_HEX_ID = "cast('0x' || substr(md5({x}), 1, 8) as bigint)"


def _x(spark, sf_dir, name, cols=("subj", "pred", "obj")):
    return extractor_df(_pages(spark, sf_dir), name).select(*cols)


def q_x_labels(spark, sf_dir):
    return _x(spark, sf_dir, "labels", ("subj", "pred", "obj", "lang"))


ORACLE_X_LABELS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.RDFS_LABEL}' AS pred,
       replace(title, '_', ' ') AS obj, lang
FROM pages WHERE {_MAIN}
"""


def q_x_page_links(spark, sf_dir):
    return _x(spark, sf_dir, "page_links")


ORACLE_X_PAGE_LINKS = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
)
SELECT DISTINCT '{RES}' || title AS subj, '{S.DBO_WIKI_LINK}' AS pred,
       '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS obj
FROM t
WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
  AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
"""


def q_x_article_categories(spark, sf_dir):
    return _x(spark, sf_dir, "article_categories")


ORACLE_X_CATEGORIES = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
)
SELECT DISTINCT '{RES}' || title AS subj, '{S.DCT_SUBJECT}' AS pred,
       '{RES}' || tgt AS obj
FROM t WHERE tgt LIKE 'Category:%'
"""


def q_x_redirects(spark, sf_dir):
    return _x(spark, sf_dir, "redirects")


ORACLE_X_REDIRECTS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.DBO_WIKI_REDIRECTS}' AS pred,
       '{RES}Doc_' || (doc_id + 1) AS obj
FROM pages WHERE {_ISREDIR}
"""


def q_x_article_templates(spark, sf_dir):
    return _x(spark, sf_dir, "article_templates")


ORACLE_X_TEMPLATES = f"""
{_oracle_pages()},
names AS (
  SELECT title,
         unnest(regexp_extract_all(text, '\\{{\\{{ *([^{{}}|]+?) *[|}}]', 1)) AS nm
  FROM pages WHERE {_NONREDIR}
), t AS (SELECT title, {_UFN.format(x='nm')} AS tmpl FROM names)
SELECT DISTINCT '{RES}' || title AS subj, '{S.DBO_WIKI_USES_TEMPLATE}' AS pred,
       '{RES}Template:' || tmpl AS obj
FROM t
"""


def q_x_external_links(spark, sf_dir):
    return _x(spark, sf_dir, "external_links")


ORACLE_X_EXTERNAL = f"""
{_oracle_pages()},
u AS (
  SELECT title, unnest(
    regexp_extract_all(text, '\\[(https?://[^ \\]]+)', 1) ||
    regexp_extract_all(text, '(?:^|[^\\[=/])(https?://[^ \\]\\[<>"{{}}|]+)', 1)
  ) AS url
  FROM pages WHERE {_NONREDIR}
)
SELECT DISTINCT '{RES}' || title AS subj, '{S.DBO_WIKI_EXTERNAL_LINK}' AS pred,
       url AS obj
FROM u
"""


def q_x_infobox(spark, sf_dir):
    return _x(spark, sf_dir, "infobox_properties",
              ("subj", "pred", "obj", "lang", "datatype"))


_IB_LINK = "regexp_extract(v, '^\\[\\[([^\\[\\]|]+)\\]\\]$', 1)"
_IB_LINK_UFN = _UFN.format(x=_IB_LINK)

ORACLE_X_INFOBOX = f"""
{_oracle_pages()},
boxes AS (
  SELECT title, regexp_extract(text, '\\{{\\{{Infobox ([^{{}}]*)\\}}\\}}', 1) AS body
  FROM pages WHERE {_NONREDIR} AND doc_id % 3 = 0
), kv AS (
  SELECT title,
         trim(split_part(part, '=', 1)) AS k,
         trim(split_part(part, '=', 2)) AS v
  FROM (SELECT title, unnest(string_split(body, '|')) AS part FROM boxes)
  WHERE part LIKE '%=%'
)
SELECT '{RES}' || title AS subj,
       '{S.PROPERTY}' || replace(k, ' ', '_') AS pred,
       CASE
         WHEN regexp_matches(v, '^-?[0-9][0-9,]*$') THEN replace(v, ',', '')
         WHEN regexp_matches(v, '^-?[0-9][0-9,]*\\.[0-9]+$') THEN replace(v, ',', '')
         WHEN regexp_matches(v, '^\\[\\[[^\\[\\]|]+\\]\\]$')
           THEN '{RES}' || ({_IB_LINK_UFN})
         ELSE v END AS obj,
       CASE WHEN regexp_matches(v, '^-?[0-9][0-9,]*$') THEN NULL
            WHEN regexp_matches(v, '^-?[0-9][0-9,]*\\.[0-9]+$') THEN NULL
            WHEN regexp_matches(v, '^\\[\\[[^\\[\\]|]+\\]\\]$') THEN NULL
            WHEN regexp_matches(v, '^https?://[^ ]+$') THEN NULL
            ELSE 'en' END AS lang,
       CASE WHEN regexp_matches(v, '^-?[0-9][0-9,]*$') THEN '{S.XSD_INTEGER}'
            WHEN regexp_matches(v, '^-?[0-9][0-9,]*\\.[0-9]+$') THEN '{S.XSD_DOUBLE}'
            WHEN regexp_matches(v, '^\\[\\[[^\\[\\]|]+\\]\\]$') THEN NULL
            WHEN regexp_matches(v, '^https?://[^ ]+$') THEN NULL
            ELSE '{LS}' END AS datatype
FROM kv
"""


def q_x_geo(spark, sf_dir):
    return _x(spark, sf_dir, "geo_coordinates")


ORACLE_X_GEO = f"""
{_oracle_pages()},
g AS (
  SELECT title,
         printf('%.6f', (doc_id % 90) + 0.5) AS lat,
         printf('%.6f', (doc_id % 180) + 0.25) AS lon
  FROM pages WHERE {_REGULAR} AND doc_id % 4 = 1
)
SELECT '{RES}' || title AS subj, '{S.GEO_LAT}' AS pred, lat AS obj FROM g
UNION ALL
SELECT '{RES}' || title, '{S.GEO_LONG}', lon FROM g
UNION ALL
SELECT '{RES}' || title, '{S.GEORSS_POINT}', lat || ' ' || lon FROM g
"""


def q_x_skos(spark, sf_dir):
    return _x(spark, sf_dir, "skos_categories")


ORACLE_X_SKOS = f"""
{_oracle_pages()},
cats AS (SELECT doc_id, title FROM pages WHERE doc_id % 17 = 3)
SELECT '{RES}' || title AS subj, '{S.RDF_TYPE}' AS pred, '{S.SKOS_CONCEPT}' AS obj FROM cats
UNION ALL
SELECT '{RES}' || title, '{S.SKOS_PREFLABEL}', 'Topic ' || (doc_id % 50) FROM cats
UNION ALL
SELECT '{RES}' || title, '{S.SKOS_BROADER}', '{RES}Category:Parent_' || (doc_id % 5) FROM cats
"""


def q_x_interlanguage(spark, sf_dir):
    return _x(spark, sf_dir, "interlanguage_links")


ORACLE_X_INTERLANGUAGE = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.OWL_SAMEAS}' AS pred,
       '{RES_DE}Doc_' || doc_id AS obj
FROM pages WHERE {_REGULAR} AND doc_id % 6 = 2
"""


def q_x_abstracts(spark, sf_dir):
    return _x(spark, sf_dir, "abstracts", ("subj", "obj", "lang"))


ORACLE_X_ABSTRACTS = f"""
{_oracle_pages()},
s1 AS (SELECT title, regexp_replace(text, '\\{{\\{{[^{{}}]*\\}}\\}}', '', 'g') AS t
       FROM pages WHERE {_NONREDIR}),
s2 AS (SELECT title, regexp_replace(t, '\\{{\\{{[^{{}}]*\\}}\\}}', '', 'g') AS t FROM s1),
s3 AS (SELECT title, regexp_replace(t, '\\[\\[Category:[^\\[\\]]*\\]\\]', '', 'g') AS t FROM s2),
s4 AS (SELECT title, regexp_replace(t, '\\[\\[[^\\[\\]|]*\\|([^\\[\\]]*)\\]\\]', '\\1', 'g') AS t FROM s3),
s5 AS (SELECT title, regexp_replace(t, '\\[\\[([^\\[\\]]*)\\]\\]', '\\1', 'g') AS t FROM s4),
s6 AS (SELECT title, replace(t, chr(39) || chr(39) || chr(39), '') AS t FROM s5),
s7 AS (SELECT title,
              regexp_replace(regexp_replace(
                  split_part(t, chr(10) || chr(10), 1),
                  '^\\s+', ''), '\\s+$', '') AS abstract FROM s6)
SELECT '{RES}' || title AS subj, abstract AS obj, 'en' AS lang
FROM s7 WHERE length(abstract) > 0
"""


def q_redirect_closure(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    return transitive_closure(harvest_redirects(pages, namespaces=None)).select(
        "src", "dst"
    )


ORACLE_REDIRECT_CLOSURE = f"""
{_oracle_pages()},
r AS (
  SELECT '{RES}Doc_' || doc_id AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
),
walk AS (
  SELECT src, dst FROM r
  UNION ALL
  SELECT walk.src, r.dst FROM walk JOIN r ON walk.dst = r.src
)
SELECT src, dst FROM walk WHERE dst NOT IN (SELECT src FROM r)
"""


# Oracle for the Aho-Corasick scan: on this corpus every label surface has
# the shape 'doc N', so each AC hit lies inside a maximal regex match
# 'doc <digits>' (matches can't overlap: a match body after 'doc ' is all
# digits, so no 'doc ' can start inside one), and the surfaces matched at a
# position are exactly the dictionary prefixes of that maximal match.
# Surfaces have no self-border, so the non-overlapping regex count is the
# exact AC occurrence count.
ORACLE_ENTITY_LINKS = f"""
{_oracle_pages()},
surfp AS (
  SELECT surface, entity, 1.0 / (count(*) OVER (PARTITION BY surface)) AS prior
  FROM (
    SELECT DISTINCT lower(replace(title, '_', ' ')) AS surface,
           '{RES}' || title AS entity
    FROM pages WHERE {_MAIN}
  ) WHERE length(surface) >= 3
), m0 AS (
  SELECT url AS page, unnest(regexp_extract_all(lower(text), 'doc [0-9]+')) AS m
  FROM pages
), mpref AS (
  SELECT page, substr(m, 1, cast(i as int)) AS cand
  FROM (SELECT page, m, unnest(range(1, length(m) + 1)) AS i FROM m0)
), mc AS (
  SELECT page, cand AS surface, cast(count(*) as bigint) AS n_mentions
  FROM mpref JOIN (SELECT DISTINCT surface FROM surfp) s ON mpref.cand = s.surface
  GROUP BY page, cand
), ranked AS (
  SELECT mc.page, mc.surface, sp.entity, mc.n_mentions,
         row_number() OVER (
           PARTITION BY mc.page, mc.surface
           ORDER BY sp.prior * ln(1 + mc.n_mentions) DESC, sp.entity ASC) AS rn
  FROM mc JOIN surfp sp ON mc.surface = sp.surface
)
SELECT page AS subj, surface, entity AS obj, n_mentions
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------
QUERIES = {
    # relational / OLAP
    "pricing_summary": q_pricing_summary,
    "top_customer_revenue": q_top_customer_revenue,
    "part_type_stats": q_part_type_stats,
    "topk_orders_per_priority": q_topk_orders_per_priority,
    "distinct_event_users": q_distinct_event_users,
    "events_window_hourly": q_events_window_hourly,
    "sessionize_events": q_sessionize,
    # text / training-data
    "token_counts": q_token_counts,
    "lang_id": q_lang_id,
    "exact_dedup_docs": q_exact_dedup_docs,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_near_dups": q_minhash_near_dups,
    "simhash_near_dups": q_simhash_near_dups,
    "winnowing_fingerprints": q_winnowing,
    # similarity
    "cosine_topk": q_cosine_topk,
    "embedding_neardup": q_embedding_neardup,
    "lsh_ann": q_lsh_ann,
    "ivf_topk": q_ivf_topk,
    # KG extraction (constructed pages)
    "x_labels": q_x_labels,
    "x_page_links": q_x_page_links,
    "x_article_categories": q_x_article_categories,
    "x_redirects": q_x_redirects,
    "x_article_templates": q_x_article_templates,
    "x_external_links": q_x_external_links,
    "x_infobox_properties": q_x_infobox,
    "x_geo_coordinates": q_x_geo,
    "x_skos_categories": q_x_skos,
    "x_interlanguage_links": q_x_interlanguage,
    "x_abstracts": q_x_abstracts,
    "redirect_closure": q_redirect_closure,
    # linking + streaming
    "entity_links": q_entity_links,
    "entity_links_unbounded": q_entity_links_unbounded,
    "stateful_running_counts": q_stateful_running_counts,
}

ORACLES = {
    "pricing_summary": ORACLE_PRICING,
    "top_customer_revenue": ORACLE_TOP_CUSTOMER,
    "part_type_stats": ORACLE_PART_TYPE,
    "topk_orders_per_priority": ORACLE_TOPK_ORDERS,
    "distinct_event_users": ORACLE_DISTINCT_USERS,
    "events_window_hourly": ORACLE_WINDOW_HOURLY,
    "sessionize_events": ORACLE_SESSIONIZE,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "lang_id": ORACLE_LANG_ID,
    "exact_dedup_docs": ORACLE_EXACT_DEDUP,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "cosine_topk": ORACLE_COSINE_TOPK,
    "embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
    "ivf_topk": ORACLE_IVF_TOPK,
    "x_labels": ORACLE_X_LABELS,
    "x_page_links": ORACLE_X_PAGE_LINKS,
    "x_article_categories": ORACLE_X_CATEGORIES,
    "x_redirects": ORACLE_X_REDIRECTS,
    "x_article_templates": ORACLE_X_TEMPLATES,
    "x_external_links": ORACLE_X_EXTERNAL,
    "x_infobox_properties": ORACLE_X_INFOBOX,
    "x_geo_coordinates": ORACLE_X_GEO,
    "x_skos_categories": ORACLE_X_SKOS,
    "x_interlanguage_links": ORACLE_X_INTERLANGUAGE,
    "x_abstracts": ORACLE_X_ABSTRACTS,
    "redirect_closure": ORACLE_REDIRECT_CLOSURE,
    "stateful_running_counts": ORACLE_STATEFUL_RUNNING,
    "entity_links": ORACLE_ENTITY_LINKS,
    # the unbounded-dictionary plan must emit byte-identical links
    "entity_links_unbounded": ORACLE_ENTITY_LINKS,
    # minhash_near_dups / simhash_near_dups / winnowing_fingerprints /
    # lsh_ann gained hash-exact oracles in the fourth wave below (portable
    # md5-derived hashing recomputed in SQL)
}


# --------------------------------------------------------------------------
# second wave: graph degrees, grouping sets, category labels, quality
# --------------------------------------------------------------------------

def q_x_category_labels(spark, sf_dir):
    return _x(spark, sf_dir, "category_labels", ("subj", "pred", "obj", "lang"))


ORACLE_X_CATEGORY_LABELS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.RDFS_LABEL}' AS pred,
       'Topic ' || (doc_id % 50) AS obj, lang
FROM pages WHERE doc_id % 17 = 3
"""


def q_nodes_degree(spark, sf_dir):
    """Degree stats of the page_links graph extracted from the constructed
    corpus — exercises edges_table + the degree aggregation."""
    from ..operators.graph import degrees

    links = _x(spark, sf_dir, "page_links")
    edges = links.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return degrees(edges.distinct()).select("uri", "out_deg", "in_deg")


ORACLE_NODES_DEGREE = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
), e AS (
  SELECT DISTINCT '{RES}' || title AS src,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS dst
  FROM t WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
), d AS (
  SELECT src AS uri, 1 AS o, 0 AS i FROM e
  UNION ALL SELECT dst AS uri, 0 AS o, 1 AS i FROM e
)
SELECT uri, cast(sum(o) as bigint) AS out_deg, cast(sum(i) as bigint) AS in_deg
FROM d GROUP BY uri
"""


def q_rollup_order_stats(spark, sf_dir):
    """Grouping sets: rollup over (priority, status) — the cube/rollup
    operator family."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"),
             _dec_sum_spark("o_totalprice").alias("sum_price"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n", "sum_price",
        )
    )


ORACLE_ROLLUP_ORDERS = f"""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       {_DEC_SUM.format(x='o_totalprice')} AS sum_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_quality_profile(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


_Q_STOP = r"len(regexp_extract_all(coalesce(text,''), '(?i)\b(the|and|of|is|was)\b', 1))"
ORACLE_QUALITY_PROFILE = f"""
WITH m AS (
  SELECT doc_id,
    length(coalesce(text,'')) AS n_chars,
    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\\s+')) END AS n_tokens,
    len(regexp_extract_all(coalesce(text,''), '([.,;:!?])', 1)) AS n_punct,
    {_Q_STOP} AS n_stop
  FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN n_chars >= 50 AND n_chars <= 100000 THEN 1.0 ELSE 0.25 END AS len_ok,
    CASE WHEN n_tokens > 0 AND (CAST(n_punct AS DOUBLE) / n_tokens) <= 0.5
         THEN 1.0
         WHEN n_tokens > 0 THEN 0.5
         WHEN n_chars > 0 THEN 0.5 ELSE 1.0 END AS punct_ok,
    CASE WHEN n_stop > 0 THEN 1.0 ELSE 0.5 END AS stop_ok,
    CASE WHEN n_tokens > 0
          AND (CAST(n_chars AS DOUBLE) / n_tokens) >= 3.0
          AND (CAST(n_chars AS DOUBLE) / n_tokens) <= 12.0
         THEN 1.0 ELSE 0.5 END AS wl_ok
  FROM m
)
SELECT doc_id,
       round(cast(len_ok * 0.3 + punct_ok * 0.2 + stop_ok * 0.25 + wl_ok * 0.25 as double), 4)
         AS quality
FROM s
"""

QUERIES.update(
    {
        "x_category_labels": q_x_category_labels,
        "nodes_degree": q_nodes_degree,
        "rollup_order_stats": q_rollup_order_stats,
        "quality_profile": q_quality_profile,
    }
)
ORACLES.update(
    {
        "x_category_labels": ORACLE_X_CATEGORY_LABELS,
        "nodes_degree": ORACLE_NODES_DEGREE,
        "rollup_order_stats": ORACLE_ROLLUP_ORDERS,
        "quality_profile": ORACLE_QUALITY_PROFILE,
    }
)


# --------------------------------------------------------------------------
# temporal operators: as-of join, range join, hypertable rollup
# --------------------------------------------------------------------------

def q_asof_click_purchase(spark, sf_dir):
    from ..operators import temporal as TP

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    return TP.asof_join(clicks, purch, key="user_id").select(
        "event_id", "purchase_id"
    )


ORACLE_ASOF = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type='click'),
     p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
           WHERE event_type='purchase')
SELECT c.event_id, p.purchase_id
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_range_join_price_bands(spark, sf_dir):
    from ..operators import temporal as TP

    # remap event values into the part price range so the join is non-trivial
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_id") % 100 == 0)
        .select("event_id", (F.lit(900.0) + F.col("value") % 100).alias("point"))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey",
        F.col("p_retailprice").alias("start"),
        (F.col("p_retailprice") + F.col("p_size")).alias("end"),
    )
    return TP.range_join(ev, part, point_col="point").select(
        "event_id", "p_partkey"
    )


ORACLE_RANGE_JOIN = """
WITH pts AS (
  SELECT event_id, 900.0 + (value % 100) AS point FROM events
  WHERE event_id % 100 = 0
)
SELECT event_id, p_partkey FROM pts
JOIN part ON point >= p_retailprice AND point < p_retailprice + p_size
"""


def q_hypertable_rollup_daily(spark, sf_dir):
    from ..operators import temporal as TP

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tiers = TP.hypertable_rollup(ev, tiers=("5 minutes", "1 hour", "1 day"))
    return tiers["1 day"].select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type", "n",
        F.round(F.col("sum_v").cast("decimal(18,6)").cast("double"), 4).alias("sum_v"),
    )


ORACLE_HYPERTABLE_DAILY = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n,
       round(cast(cast(round(sum(cast(value as decimal(18,6))), 6) as decimal(18,6)) as double), 4) AS sum_v
FROM events GROUP BY 1, 2
"""

QUERIES.update(
    {
        "asof_click_purchase": q_asof_click_purchase,
        "range_join_price_bands": q_range_join_price_bands,
        "hypertable_rollup_daily": q_hypertable_rollup_daily,
    }
)
ORACLES.update(
    {
        "asof_click_purchase": ORACLE_ASOF,
        "range_join_price_bands": ORACLE_RANGE_JOIN,
        "hypertable_rollup_daily": ORACLE_HYPERTABLE_DAILY,
    }
)


# --------------------------------------------------------------------------
# third wave: projection datasets, disambiguations, mapping extraction
# (closes the reference's configured extractor set —
#  extraction/src/test/resources/config.properties:42-47)
# --------------------------------------------------------------------------

def q_x_page_ids(spark, sf_dir):
    return _x(spark, sf_dir, "page_ids")


ORACLE_X_PAGE_IDS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.DBO_WIKI_PAGE_ID}' AS pred,
       cast({_HEX_ID.format(x='url')} as varchar) AS obj
FROM pages
"""


def q_x_revision_ids(spark, sf_dir):
    return _x(spark, sf_dir, "revision_ids")


ORACLE_X_REVISION_IDS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.DBO_WIKI_REVISION_ID}' AS pred,
       cast({_HEX_ID.format(
           x="url || '#' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%S')")} as varchar) AS obj
FROM pages
"""


def q_x_revision_uris(spark, sf_dir):
    return _x(spark, sf_dir, "revision_uris")


ORACLE_X_REVISION_URIS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.PROV_DERIVED_FROM}' AS pred,
       url || '#ts=' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%S') AS obj
FROM pages
"""


def q_x_wikipedia_links(spark, sf_dir):
    return _x(spark, sf_dir, "wikipedia_links")


ORACLE_X_WIKIPEDIA_LINKS = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.FOAF_IS_PRIMARY_TOPIC_OF}' AS pred,
       url AS obj
FROM pages WHERE {_MAIN}
UNION ALL
SELECT url, '{S.FOAF_PRIMARY_TOPIC}', '{RES}' || title FROM pages WHERE {_MAIN}
UNION ALL
SELECT url, '{S.RDF_TYPE}', '{S.FOAF_DOCUMENT}' FROM pages WHERE {_MAIN}
"""


def q_x_disambiguations(spark, sf_dir):
    return _x(spark, sf_dir, "disambiguations")


ORACLE_X_DISAMBIGUATIONS = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages
  WHERE {_NONREDIR} AND contains(text, '{{{{Disambiguation}}}}')
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
)
SELECT DISTINCT '{RES}' || title AS subj, '{S.DBO_WIKI_DISAMBIGUATES}' AS pred,
       '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS obj
FROM t
WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
  AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
"""


def q_mapping_extract(spark, sf_dir):
    """MappingExtractor over the constructed corpus with the default
    mapping tables (Infobox_thing → Thing; population / located_in)."""
    from ..operators.mapping import mapping_extract, mapping_tables

    pages = _pages(spark, sf_dir)
    tc, pm = mapping_tables(spark)
    return mapping_extract(pages, tc, pm).select(
        "dataset", "subj", "pred", "obj", "lang", "datatype", "context"
    )


ORACLE_MAPPING_EXTRACT = f"""
{_oracle_pages()},
boxed AS (
  SELECT doc_id, title,
         url || '#ts=' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%S') AS ctx
  FROM pages WHERE {_REGULAR} AND doc_id % 3 = 0
)
SELECT 'instance_types' AS dataset, '{RES}' || title AS subj,
       '{S.RDF_TYPE}' AS pred, '{S.ONTOLOGY}Thing' AS obj,
       cast(NULL as varchar) AS lang, cast(NULL as varchar) AS datatype,
       ctx AS context
FROM boxed
UNION ALL
SELECT 'mappingbased_objects', '{RES}' || title,
       '{S.ONTOLOGY}isPartOf', '{RES}Doc_' || ((doc_id * 3) % 100),
       NULL, NULL, ctx
FROM boxed
UNION ALL
SELECT 'mappingbased_literals', '{RES}' || title,
       '{S.ONTOLOGY}populationTotal', cast(doc_id * 37 as varchar),
       NULL, '{S.XSD_INTEGER}', ctx
FROM boxed
"""

def q_pagerank(spark, sf_dir):
    """PageRank (5 fixed iterations, damping 0.85) over the page_links
    graph — gates operators/graph.py's iterative power iteration against
    an unrolled-SQL oracle."""
    from ..operators.graph import pagerank

    links = _x(spark, sf_dir, "page_links")
    edges = links.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    pr = pagerank(edges, iterations=5, damping=0.85)
    return pr.select("uri", F.round("rank", 6).alias("rank"))


def _pagerank_oracle_sql(iterations: int = 5) -> str:
    """Unrolled power iteration in portable SQL (DuckDB recursive CTEs
    can't aggregate over the recursive relation, so unroll the fixed
    iteration count). All arithmetic CAST to DOUBLE so both engines run
    the same IEEE ops; final ranks rounded to 6 dp."""
    d = "CAST(0.85 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    header = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
), e AS (
  SELECT DISTINCT '{RES}' || title AS src,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS dst
  FROM t WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
), e2 AS (SELECT src, dst FROM e WHERE src <> dst),
v AS (
  -- NB: bare UNION inside a WITH RECURSIVE block hits DuckDB's
  -- recursive-union path and does NOT dedup — UNION ALL + DISTINCT instead
  SELECT DISTINCT uri FROM (
    SELECT src AS uri FROM e2 UNION ALL SELECT dst AS uri FROM e2)
),
nn AS (SELECT count(*) AS n FROM v),
od AS (SELECT src, count(*) AS degree FROM e2 GROUP BY src),
r0 AS (SELECT uri, {one} / nn.n AS rank FROM v CROSS JOIN nn)"""
    steps = []
    for i in range(1, iterations + 1):
        p = f"r{i - 1}"
        steps.append(f""",
d{i} AS (
  SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS m
  FROM {p} r LEFT JOIN od ON r.uri = od.src WHERE od.src IS NULL
),
c{i} AS (
  SELECT e2.dst, sum(r.rank / od.degree) AS contrib
  FROM {p} r JOIN od ON r.uri = od.src JOIN e2 ON e2.src = r.uri
  GROUP BY e2.dst
),
r{i} AS (
  SELECT v.uri,
         ({one} - {d}) / nn.n + ({d} / nn.n) * d{i}.m
           + {d} * coalesce(c{i}.contrib, CAST(0 AS DOUBLE)) AS rank
  FROM v CROSS JOIN nn CROSS JOIN d{i} LEFT JOIN c{i} ON v.uri = c{i}.dst
)""")
    return (
        header + "".join(steps)
        + f"\nSELECT uri, round(rank, 6) AS rank FROM r{iterations}"
    )


ORACLE_PAGERANK = _pagerank_oracle_sql(5)


def q_stream_x_labels(spark, sf_dir):
    """The fused extraction run as a STREAM (parquet source,
    maxFilesPerTrigger=1 → genuinely incremental micro-batches, memory
    sink driven to completion) — gated against the SAME batch oracle, so
    streaming parity is hash-exact, not rows-only."""
    import tempfile
    import uuid

    pages = _pages(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="defs_stream_pages_")
    pages.repartition(4).write.mode("overwrite").parquet(d)
    q = STR.stream_extract(spark, d, extractors=["labels"])
    name = f"defs_stream_x_{uuid.uuid4().hex[:8]}"  # unique: rerun-safe
    STR.run_to_memory(q, name)
    return spark.table(name).select("subj", "pred", "obj", "lang")


def q_connected_components(spark, sf_dir):
    """Canonicalization's min-label-propagation CC over the union of
    redirect and sameAs edges (multi-hop mixed components) vs a
    recursive-CTE undirected closure oracle."""
    from ..operators.canonicalize import connected_components

    pages = _pages(spark, sf_dir)
    quads = extract_many(pages, ["redirects", "interlanguage_links"])
    edges = quads.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return connected_components(edges).select("vertex", "component")


def extract_many(pages, names):
    from ..operators.extractors import extract

    return extract(pages, extractors=names)


ORACLE_CONNECTED_COMPONENTS = f"""
{_oracle_pages()},
re AS (
  SELECT '{RES}' || title AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
), sa AS (
  SELECT '{RES}' || title AS src, '{RES_DE}Doc_' || doc_id AS dst
  FROM pages WHERE {_REGULAR} AND doc_id % 6 = 2
), sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM re UNION ALL SELECT dst, src FROM re
    UNION ALL SELECT src, dst FROM sa UNION ALL SELECT dst, src FROM sa
  ) WHERE u <> v
), reach AS (
  SELECT u AS vertex, v AS r FROM sym
  UNION
  SELECT reach.vertex, sym.v FROM reach JOIN sym ON reach.r = sym.u
)
SELECT vertex, least(vertex, min(r)) AS component
FROM reach GROUP BY vertex
"""


def q_stream_exact_dedup(spark, sf_dir):
    """Exact dedup run as a STREAM (4-file parquet source, one file per
    micro-batch, stateful min-id-per-digest in update mode, memory sink
    driven to completion) — gated against the SAME batch oracle as
    exact_dedup_docs, so streaming/batch dedup parity is hash-exact."""
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="defs_stream_docs_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(d)
    stream = STR.read_document_stream(spark, d)
    dd = STR.stream_exact_dedup(stream)
    name = f"defs_sdedup_{uuid.uuid4().hex[:8]}"  # unique: rerun-safe
    STR.run_to_memory(dd, name, output_mode="update")
    # update-mode sink appends one row per key per refining micro-batch;
    # the converged canonical per digest is the min across them
    return spark.sql(
        f"select min(doc_id) as doc_id from {name} group by digest"
    )


QUERIES.update(
    {
        "pagerank": q_pagerank,
        "stream_x_labels": q_stream_x_labels,
        "stream_exact_dedup": q_stream_exact_dedup,
        "connected_components": q_connected_components,
        "x_page_ids": q_x_page_ids,
        "x_revision_ids": q_x_revision_ids,
        "x_revision_uris": q_x_revision_uris,
        "x_wikipedia_links": q_x_wikipedia_links,
        "x_disambiguations": q_x_disambiguations,
        "mapping_extract": q_mapping_extract,
    }
)
ORACLES.update(
    {
        "pagerank": ORACLE_PAGERANK,
        "stream_x_labels": ORACLE_X_LABELS,
        "stream_exact_dedup": ORACLE_EXACT_DEDUP,
        "connected_components": ORACLE_CONNECTED_COMPONENTS,
        "x_page_ids": ORACLE_X_PAGE_IDS,
        "x_revision_ids": ORACLE_X_REVISION_IDS,
        "x_revision_uris": ORACLE_X_REVISION_URIS,
        "x_wikipedia_links": ORACLE_X_WIKIPEDIA_LINKS,
        "x_disambiguations": ORACLE_X_DISAMBIGUATIONS,
        "mapping_extract": ORACLE_MAPPING_EXTRACT,
    }
)


# --------------------------------------------------------------------------
# fourth wave: sketch-family hash-exact oracles
#
# The sketches (MinHash, SimHash, winnowing, sign-sketch LSH) were
# rows-only in round 1. Their kernels now use PORTABLE hashing —
# md5-derived values + integer arithmetic mod 2^31-1 — chosen so plain
# DuckDB SQL can recompute the exact signatures, which upgrades all four
# gates from rows-only to hash-exact. The permutation coefficients are
# deterministic constants inlined into the SQL below.
# --------------------------------------------------------------------------

def _minhash_pairs_cte(
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 3,
    threshold: float = 0.7, recursive: bool = False,
) -> str:
    """WITH-prefix computing ``np(id_a, id_b, je)`` — the exact MinHash+LSH
    near-dup pairs — shared by the minhash gate and the fuzzy-dedup gate
    (which adds a recursive closure on top, hence the RECURSIVE flag)."""
    a, b = D.minhash_seeds(num_hashes)
    vals = ", ".join(
        f"({i + 1}, {int(a[i])}, {int(b[i])})" for i in range(num_hashes)
    )
    r = num_hashes // bands
    p = D.MERSENNE31
    rec = "RECURSIVE " if recursive else ""
    # tokenize with the kernel's exact WS_CLASS (not RE2 '\s' + space-only
    # trim): both engines see maximal runs of non-[ \t\n\r\f\v] chars, so
    # docs with leading tabs / \v / unicode whitespace shingle identically
    return f"""
WITH {rec}docs0 AS (SELECT doc_id AS id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '{T.WS_CLASS}'),
                     x -> x <> '') AS w
       FROM documents),
seeds(i, a, b) AS (VALUES {vals}),
ws AS (SELECT id, w FROM docs0 WHERE len(w) > 0),
sh AS (SELECT id, list_transform(
         range(1, greatest(len(w) - {shingle_k}, 0) + 2),
         j -> array_to_string(list_slice(w, j, j + {shingle_k - 1}), ' ')) AS grams
       FROM ws),
gx AS (SELECT DISTINCT id,
         cast('0x' || substr(md5(gram), 1, 8) as bigint) % {p} AS x
       FROM (SELECT id, unnest(grams) AS gram FROM sh)),
hs AS (SELECT id, i, min((a * x + b) % {p}) AS h
       FROM gx CROSS JOIN seeds GROUP BY id, i
       UNION ALL
       SELECT d.id, s.i, 0 AS h FROM docs0 d CROSS JOIN seeds s WHERE len(d.w) = 0),
bands AS (SELECT id, (i - 1) // {r} AS band,
                 array_to_string(list(h ORDER BY i), ',') AS sig
          FROM hs GROUP BY 1, 2),
cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.sig = y.sig AND x.id < y.id),
agree AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS n
          FROM hs x JOIN hs y ON x.i = y.i AND x.h = y.h AND x.id < y.id
          GROUP BY 1, 2),
np AS (SELECT c.id_a, c.id_b, cast(n as double) / {num_hashes} AS je
       FROM cand c JOIN agree g ON c.id_a = g.id_a AND c.id_b = g.id_b
       WHERE cast(n as double) / {num_hashes} >= {threshold})"""


ORACLE_MINHASH = (
    _minhash_pairs_cte()
    + "\nSELECT id_a, id_b, round(je, 6) AS jaccard_est FROM np\n"
)


# fuzzy dedup: undirected closure over the exact near-dup pairs, keep the
# min id per component plus every unpaired doc (same CC pattern as
# ORACLE_CONNECTED_COMPONENTS: UNION ALL + DISTINCT for sym, recursive
# UNION for reach)
ORACLE_FUZZY_DEDUP = (
    _minhash_pairs_cte(recursive=True)
    + """,
sym AS (SELECT DISTINCT u, v FROM (
    SELECT id_a AS u, id_b AS v FROM np
    UNION ALL SELECT id_b, id_a FROM np) WHERE u <> v),
reach AS (
  SELECT u AS vertex, v AS r FROM sym
  UNION
  SELECT reach.vertex, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
comp AS (SELECT vertex, least(vertex, min(r)) AS c FROM reach GROUP BY vertex)
SELECT d.id AS doc_id
FROM docs0 d LEFT JOIN comp ON d.id = comp.vertex
WHERE comp.c IS NULL OR comp.c = d.id
"""
)


def q_fuzzy_dedup_docs(spark, sf_dir):
    """End-to-end fuzzy dedup (MinHash → LSH pairs → connected components →
    keep min id per cluster) vs an oracle that recomputes the exact pair
    set in SQL and closes it with a recursive CTE."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.fuzzy_dedup(d, threshold=0.7).select("doc_id")


def _simhash_oracle_sql(max_hamming: int = 8) -> str:
    """Mirrors operators/dedup.py simhash_bands: h+1 bands over the 64 bits
    (first ``rem`` bands one bit wider), so the oracle's candidate set is
    the engine's candidate set at ANY radius."""
    nb = max_hamming + 1
    base, rem = divmod(64, nb)
    thr = rem * (base + 1)  # first bit index of the width-``base`` bands
    band_expr = (
        f"CASE WHEN bi < {thr} THEN bi // {base + 1} "
        f"ELSE {rem} + (bi - {thr}) // {base} END"
    )
    pos_expr = (
        f"CASE WHEN bi < {thr} THEN bi % {base + 1} "
        f"ELSE (bi - {thr}) % {base} END"
    )
    return f"""
WITH docs0 AS (SELECT doc_id AS id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '{T.WS_CLASS}'),
                     x -> x <> '') AS w
       FROM documents),
bits AS (SELECT unnest(range(0, 64)) AS bi),
th AS (SELECT id, cast('0x' || substr(md5(tk), 1, 8) as bigint) AS hi,
              cast('0x' || substr(md5(tk), 9, 8) as bigint) AS lo
       FROM (SELECT id, unnest(w) AS tk FROM docs0 WHERE len(w) > 0)),
vb AS (SELECT id, bi,
              CASE WHEN 2 * sum(CASE WHEN bi < 32 THEN (lo >> bi) & 1
                                     ELSE (hi >> (bi - 32)) & 1 END) > count(*)
                   THEN 1 ELSE 0 END AS v
       FROM th CROSS JOIN bits GROUP BY id, bi
       UNION ALL
       SELECT d.id, b.bi, 0 AS v FROM docs0 d CROSS JOIN bits b WHERE len(d.w) = 0),
bandk AS (SELECT id, band, sum(v * (1::BIGINT << pos)) AS key
          FROM (SELECT id, v, {band_expr} AS band, {pos_expr} AS pos FROM vb)
          GROUP BY 1, 2),
cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         FROM bandk x JOIN bandk y
           ON x.band = y.band AND x.key = y.key AND x.id < y.id),
ham AS (SELECT c.id_a, c.id_b,
               sum(CASE WHEN x.v <> y.v THEN 1 ELSE 0 END) AS hamming
        FROM cand c
        JOIN vb x ON x.id = c.id_a
        JOIN vb y ON y.id = c.id_b AND y.bi = x.bi
        GROUP BY 1, 2)
SELECT id_a, id_b, cast(hamming as bigint) AS hamming
FROM ham WHERE hamming <= {max_hamming}
"""


ORACLE_SIMHASH = _simhash_oracle_sql(8)

def _winnowing_oracle_sql(k: int = 5, window: int = 4) -> str:
    weights = [pow(T.WINNOW_BASE, k - 1 - j, T.WINNOW_MOD) for j in range(k)]
    hexpr = " + ".join(
        f"cast(unicode(substr(s, cast(i as int) + {j}, 1)) as bigint) * {weights[j]}"
        for j in range(k)
    )
    return f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '{T.WS_CLASS}', ' ', 'g')) AS s
           FROM documents),
pos AS (SELECT doc_id, s, unnest(range(1, length(s) - {k} + 2)) AS i
        FROM d WHERE length(s) >= {k}),
h AS (SELECT doc_id, i, ({hexpr}) % {T.WINNOW_MOD} AS h FROM pos),
stat AS (SELECT doc_id, i, h,
           count(*) OVER (PARTITION BY doc_id) AS nh,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wmin,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
         FROM h),
fp AS (
  SELECT doc_id, count(DISTINCT wmin) AS nf
  FROM stat WHERE nh > {window} AND rn <= nh - {window - 1} GROUP BY doc_id
  UNION ALL
  SELECT DISTINCT doc_id, 1 AS nf FROM stat WHERE nh <= {window}
)
SELECT d.doc_id, cast(coalesce(fp.nf, 0) as bigint) AS n_fingerprints
FROM d LEFT JOIN fp USING (doc_id)
"""


ORACLE_WINNOWING = _winnowing_oracle_sql()


def _lsh_ann_oracle_sql(
    dim: int = 64, k: int = 5, n_planes: int = 8, n_tables: int = 8,
    seed: int = 42, max_query: int = 10,
) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
grid AS (SELECT t, p, dd,
           ((cast('0x' || substr(md5(({seed} + 1000 * t) || ':' || p || ':' || dd), 1, 8)
                  as bigint) % 2001) - 1000) / 1000.0 AS w
         FROM (SELECT unnest(range(0, {n_tables})) AS t)
         CROSS JOIN (SELECT unnest(range(0, {n_planes})) AS p)
         CROSS JOIN (SELECT unnest(range(0, {dim})) AS dd)),
planes AS (SELECT t, p, list(w ORDER BY dd) AS pw FROM grid GROUP BY t, p),
bits AS (SELECT vec_id, t, p,
                CASE WHEN list_dot_product(v, pw) >= 0 THEN 1 ELSE 0 END AS bit
         FROM e CROSS JOIN planes),
buckets AS (SELECT vec_id, t, sum(bit * (1::BIGINT << p)) AS bucket
            FROM bits GROUP BY 1, 2),
cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         FROM buckets qb JOIN buckets cb
           ON qb.t = cb.t AND qb.bucket = cb.bucket
         WHERE qb.vec_id < {max_query} AND qb.vec_id <> cb.vec_id),
scored AS (SELECT c.query_id, c.neighbor_id,
                  round(list_cosine_similarity(a.v, b.v), 6) AS cos
           FROM cand c
           JOIN e a ON a.vec_id = c.query_id
           JOIN e b ON b.vec_id = c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}
"""


ORACLE_LSH_ANN = _lsh_ann_oracle_sql()


QUERIES.update({"fuzzy_dedup_docs": q_fuzzy_dedup_docs})
ORACLES.update(
    {
        "minhash_near_dups": ORACLE_MINHASH,
        "simhash_near_dups": ORACLE_SIMHASH,
        "winnowing_fingerprints": ORACLE_WINNOWING,
        "lsh_ann": ORACLE_LSH_ANN,
        "fuzzy_dedup_docs": ORACLE_FUZZY_DEDUP,
    }
)


# --------------------------------------------------------------------------
# fifth wave: multimodal decoder gate
#
# media_stats runs the REAL decoders (PPM/PGM/BMP/PNG images, PCM WAV audio —
# operators/multimodal.py) over the deterministic synth_media_exact table
# and emits INTEGER-EXACT content stats (pixel sums, int16 sample sums,
# decoded dims); the oracle recomputes them in closed form from the payload
# grammar, so the decode path itself is driver-verified, not pytest-only.
# --------------------------------------------------------------------------

def q_media_features(spark, sf_dir):
    """Decode-path gate: gradient PPM/BMP/PGM/PNG/GIF images (GIF through
    real LZW decompression), ramp WAV audio, AND
    gradient Y4M video are ENCODED to real bytes, pushed through
    mapInPandas decode, and reduced to integer-exact stats the SQL oracle
    derives without touching bytes — proving header parse, BMP stride/BGR/
    bottom-up handling, gray→RGB expansion, WAV framing, and Y4M FRAME
    walking + 4:2:0 plane sizing are all correct (decoded=true video rows
    with exact plane sums; the opaque-mp4 rows keep the honest
    decoded=false path)."""
    from ..operators.multimodal import media_stats, synth_media_exact

    return media_stats(synth_media_exact(spark, 60))


ORACLE_MEDIA_FEATURES = """
WITH ids AS (SELECT unnest(range(60)) AS i),
img AS (SELECT i, 8 + i % 5 AS w, 6 + i % 7 AS h, (i // 3) % 5 AS fmt
        FROM ids WHERE i % 3 = 0),
imgpx AS (
  SELECT img.i,
         sum(CASE WHEN fmt = 2 THEN 3 * ((x.x*3 + y.y*5 + img.i) % 256)
                  -- GIF: palette (j, 2j%256, 7j%256) over index j
                  WHEN fmt = 4 THEN ((x.x*3 + y.y*5 + img.i) % 256)
                       + (2 * ((x.x*3 + y.y*5 + img.i) % 256)) % 256
                       + (7 * ((x.x*3 + y.y*5 + img.i) % 256)) % 256
                  ELSE (x.x*3 + y.y*5 + c.c*11 + img.i) % 256 END) AS px
  FROM img, range(12) y(y), range(12) x(x), range(3) c(c)
  WHERE y.y < img.h AND x.x < img.w AND (fmt NOT IN (2, 4) OR c.c = 0)
  GROUP BY img.i),
imgrow AS (
  SELECT img.i AS media_id, 'image' AS kind, true AS decoded,
         CASE fmt
           WHEN 1 THEN 54 + ((img.w*3 + 3) // 4) * 4 * img.h
           WHEN 2 THEN 9 + length(cast(img.w AS varchar))
                       + length(cast(img.h AS varchar)) + img.w * img.h
           -- PNG with stored zlib blocks: sig 8 + IHDR 25 + IDAT (12 +
           -- 11 + scanlines) + IEND 12, scanlines = h*(1 + 3w)
           WHEN 3 THEN 68 + img.h * (1 + img.w * 3)
           -- GIF, all-literal 9-bit LZW (one CLEAR + pixels + EOI):
           -- 795 fixed bytes + ceil(9*(w*h + 2) / 8) stream bytes
           WHEN 4 THEN 795 + (9 * (img.w * img.h + 2) + 7) // 8
           ELSE 9 + length(cast(img.w AS varchar))
                  + length(cast(img.h AS varchar)) + img.w * img.h * 3
         END AS n_bytes,
         img.w AS width, img.h AS height, imgpx.px AS px_sum,
         NULL AS n_samples, NULL AS samp_sum, NULL AS n_frames
  FROM img JOIN imgpx ON img.i = imgpx.i),
aud AS (SELECT i, 400 + (i % 5) * 100 AS ns FROM ids WHERE i % 3 = 1),
audsum AS (SELECT aud.i, sum(((j.j*37 + aud.i*11) % 201 - 100) * 300) AS ss
           FROM aud, range(800) j(j) WHERE j.j < aud.ns GROUP BY aud.i),
audrow AS (
  SELECT aud.i AS media_id, 'audio' AS kind, true AS decoded,
         44 + 2 * aud.ns AS n_bytes, NULL AS width, NULL AS height,
         NULL AS px_sum, aud.ns AS n_samples, audsum.ss AS samp_sum,
         NULL AS n_frames
  FROM aud JOIN audsum ON aud.i = audsum.i),
-- video: k = i//3 even → REAL Y4M (closed-form plane sums), k odd → opaque
vid AS (SELECT i, i // 3 AS k FROM ids WHERE i % 3 = 2),
vy AS (SELECT i, 4 + 2*(k%4) AS w, 4 + 2*(k%5) AS h, 1 + k%3 AS nf
       FROM vid WHERE k % 2 = 0),
vysum AS (
  SELECT vy.i, sum((x.x*3 + y.y*5 + f.f*7 + vy.i) % 256) AS ys
  FROM vy, range(12) y(y), range(10) x(x), range(3) f(f)
  WHERE y.y < vy.h AND x.x < vy.w AND f.f < vy.nf
  GROUP BY vy.i),
vcsum AS (
  SELECT vy.i, sum((x.x + y.y + f.f + vy.i) % 256
                   + (2*x.x + y.y + f.f + vy.i) % 256) AS cs
  FROM vy, range(6) y(y), range(5) x(x), range(3) f(f)
  WHERE y.y < vy.h // 2 AND x.x < vy.w // 2 AND f.f < vy.nf
  GROUP BY vy.i),
vidrow_y4m AS (
  SELECT vy.i AS media_id, 'video' AS kind, true AS decoded,
         33 + length(cast(vy.w AS varchar)) + length(cast(vy.h AS varchar))
            + vy.nf * (6 + vy.w*vy.h + 2*(vy.w//2)*(vy.h//2)) AS n_bytes,
         vy.w AS width, vy.h AS height, vysum.ys + vcsum.cs AS px_sum,
         NULL AS n_samples, NULL AS samp_sum, vy.nf AS n_frames
  FROM vy JOIN vysum ON vy.i = vysum.i JOIN vcsum ON vy.i = vcsum.i),
vidrow_opaque AS (
  SELECT i AS media_id, 'video' AS kind, false AS decoded,
         32 * (1 + i % 4) AS n_bytes, NULL AS width, NULL AS height,
         NULL AS px_sum, NULL AS n_samples, NULL AS samp_sum,
         NULL AS n_frames
  FROM vid WHERE k % 2 = 1)
SELECT cast(media_id AS bigint) AS media_id, kind, decoded,
       cast(n_bytes AS bigint) AS n_bytes,
       cast(width AS int) AS width, cast(height AS int) AS height,
       cast(px_sum AS bigint) AS px_sum,
       cast(n_samples AS bigint) AS n_samples,
       cast(samp_sum AS bigint) AS samp_sum,
       cast(n_frames AS bigint) AS n_frames
FROM (SELECT * FROM imgrow UNION ALL SELECT * FROM audrow
      UNION ALL SELECT * FROM vidrow_y4m
      UNION ALL SELECT * FROM vidrow_opaque)
"""


QUERIES.update({"media_features": q_media_features})
ORACLES.update({"media_features": ORACLE_MEDIA_FEATURES})


# --------------------------------------------------------------------------
# approximate-mode recall gates (VERDICT r2 #7): the APPROXIMATE operating
# points of lsh_topk / ivf_topk, driver-visible. The Spark side runs the
# approximate index at a pruning configuration, the exact top-k beside it,
# and reduces to ONE row (n_queries, recall, meets_target); the oracle
# recomputes the identical candidate machinery (portable md5 hyperplanes /
# untrained first-k centroids), exact top-k, and recall entirely in SQL —
# so the hash gate verifies the whole recall computation, and the
# meets_target column asserts the operating point (targets chosen with
# margin under the measured recalls: LSH 0.64, IVF 0.615 at sf0.01).
# --------------------------------------------------------------------------

def _recall_row(approx, exact, k: int, target: float):
    """(n_queries, recall, meets_target) — recall of ``approx`` against the
    exact top-k, averaged over queries; one row."""
    hit = approx.select("query_id", "neighbor_id").withColumn("_m", F.lit(1))
    perq = (
        exact.select("query_id", "neighbor_id")
        .join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("h"))
    )
    recall = F.round(F.sum("h") / (F.count("*") * F.lit(float(k))), 3)
    return perq.agg(
        F.count("*").cast("long").alias("n_queries"),
        recall.alias("recall"),
        (recall >= F.lit(target)).cast("long").alias("meets_target"),
    )


def q_lsh_recall(spark, sf_dir):
    """LSH ANN at a genuinely approximate operating point (4 planes × 8
    tables: ~42% of the pair space scored at sf0.01) with its recall vs the
    exact top-5 computed in-plan. Hash-gated against a full SQL re-run."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = e.filter(F.col("vec_id") < 20)
    approx = SIM.lsh_topk(qs, e, dim=64, k=5, n_planes=4, n_tables=8,
                          portable=True, rank_rounded=True)
    exact = SIM.cosine_topk_bruteforce(qs, e, k=5, rank_rounded=True)
    return _recall_row(approx, exact, k=5, target=0.5)


def q_ivf_recall(spark, sf_dir):
    """IVF at a genuinely approximate operating point (n_probe=2 of 8
    cells, untrained first-k centroids so the oracle can rebuild them
    bit-for-bit) with recall vs the exact top-10 computed in-plan."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = e.filter(F.col("vec_id") < 20)
    approx = SIM.ivf_topk(qs, e, k=10, n_cells=8, n_probe=2,
                          train_iterations=0, rank_rounded=True,
                          assign_rounded=True)
    exact = SIM.cosine_topk_bruteforce(qs, e, k=10, rank_rounded=True)
    return _recall_row(approx, exact, k=10, target=0.5)


def _lsh_recall_oracle_sql(
    dim: int = 64, k: int = 5, n_planes: int = 4, n_tables: int = 8,
    seed: int = 42, max_query: int = 20, target: float = 0.5,
) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
grid AS (SELECT t, p, dd,
           ((cast('0x' || substr(md5(({seed} + 1000 * t) || ':' || p || ':' || dd), 1, 8)
                  as bigint) % 2001) - 1000) / 1000.0 AS w
         FROM (SELECT unnest(range(0, {n_tables})) AS t)
         CROSS JOIN (SELECT unnest(range(0, {n_planes})) AS p)
         CROSS JOIN (SELECT unnest(range(0, {dim})) AS dd)),
planes AS (SELECT t, p, list(w ORDER BY dd) AS pw FROM grid GROUP BY t, p),
bits AS (SELECT vec_id, t, p,
                CASE WHEN list_dot_product(v, pw) >= 0 THEN 1 ELSE 0 END AS bit
         FROM e CROSS JOIN planes),
buckets AS (SELECT vec_id, t, sum(bit * (1::BIGINT << p)) AS bucket
            FROM bits GROUP BY 1, 2),
cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         FROM buckets qb JOIN buckets cb
           ON qb.t = cb.t AND qb.bucket = cb.bucket
         WHERE qb.vec_id < {max_query} AND qb.vec_id <> cb.vec_id),
approx AS (SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                      c.neighbor_id ASC) AS rank
    FROM cand c JOIN e a ON a.vec_id = c.query_id
                JOIN e b ON b.vec_id = c.neighbor_id)
  WHERE rank <= {k}),
exact AS (SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                      b.vec_id ASC) AS rank
    FROM e a JOIN e b ON a.vec_id <> b.vec_id WHERE a.vec_id < {max_query})
  WHERE rank <= {k}),
perq AS (SELECT ex.query_id, count(ap.m) AS h
         FROM exact ex LEFT JOIN
              (SELECT query_id, neighbor_id, 1 AS m FROM approx) ap
           USING (query_id, neighbor_id)
         GROUP BY ex.query_id)
SELECT cast(count(*) as bigint) AS n_queries,
       round(sum(h) / (count(*) * {k}.0), 3) AS recall,
       cast(round(sum(h) / (count(*) * {k}.0), 3) >= {target} as bigint)
         AS meets_target
FROM perq
"""


def _ivf_recall_oracle_sql(
    k: int = 10, n_cells: int = 8, n_probe: int = 2,
    max_query: int = 20, target: float = 0.5,
) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
          FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {n_cells})),
assign AS (SELECT a.vec_id, c.cell,
                  round(list_cosine_similarity(a.v, c.cv), 6) AS s
           FROM e a CROSS JOIN cents c),
ranked AS (SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS r
           FROM assign),
corp_cell AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
q_cell AS (SELECT vec_id, cell FROM ranked WHERE r <= {n_probe}
           AND vec_id < {max_query}),
cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         FROM q_cell q JOIN corp_cell c USING (cell)
         WHERE q.vec_id <> c.vec_id),
approx AS (SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                      c.neighbor_id ASC) AS rank
    FROM cand c JOIN e a ON a.vec_id = c.query_id
                JOIN e b ON b.vec_id = c.neighbor_id)
  WHERE rank <= {k}),
exact AS (SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                      b.vec_id ASC) AS rank
    FROM e a JOIN e b ON a.vec_id <> b.vec_id WHERE a.vec_id < {max_query})
  WHERE rank <= {k}),
perq AS (SELECT ex.query_id, count(ap.m) AS h
         FROM exact ex LEFT JOIN
              (SELECT query_id, neighbor_id, 1 AS m FROM approx) ap
           USING (query_id, neighbor_id)
         GROUP BY ex.query_id)
SELECT cast(count(*) as bigint) AS n_queries,
       round(sum(h) / (count(*) * {k}.0), 3) AS recall,
       cast(round(sum(h) / (count(*) * {k}.0), 3) >= {target} as bigint)
         AS meets_target
FROM perq
"""


ORACLE_LSH_RECALL = _lsh_recall_oracle_sql()
ORACLE_IVF_RECALL = _ivf_recall_oracle_sql()

QUERIES.update({"lsh_recall": q_lsh_recall, "ivf_recall": q_ivf_recall})
ORACLES.update({"lsh_recall": ORACLE_LSH_RECALL,
                "ivf_recall": ORACLE_IVF_RECALL})


# --------------------------------------------------------------------------
# html → text byte-identity gate (VERDICT r3 #7)
#
# The BASELINE.json input_hint contract says ``text`` must be byte-identical
# to what html_to_text derives from ``html``. The x_* gates exercise the
# text column; this gate drives the html path end-to-end: the constructed
# pages' text is re-wrapped into the synthetic HTML container IN-PLAN
# (XML-escape + <pre data-kind="source"> wrap, encoded to UTF-8 binary —
# the exact grammar sources/synth.py emits), decoded back through
# make_html_to_text_udf (functions/wikitext.py:268-285), and the labels
# extraction over the DECODED text is hash-compared to the text-column
# oracle — one byte of drift anywhere in the html round trip breaks the
# hash.
# --------------------------------------------------------------------------

def q_x_labels_from_html(spark, sf_dir):
    from ..functions.wikitext import make_html_to_text_udf

    pages = _pages(spark, sf_dir)
    esc = F.col("text")
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>"), F.col("title"),
            F.lit('</title></head><body><pre data-kind="source">'),
            esc,
            F.lit("</pre></body></html>"),
        ),
        "UTF-8",
    )
    decode = make_html_to_text_udf()
    rewired = pages.withColumn("text", decode(html))
    return extractor_df(rewired, "labels").select("subj", "pred", "obj", "lang")


QUERIES.update({"x_labels_from_html": q_x_labels_from_html})
ORACLES.update({"x_labels_from_html": ORACLE_X_LABELS})


# --------------------------------------------------------------------------
# ConditionalMapping gate (VERDICT r3 #8): first-match condition dispatch
# over the constructed corpus's Infobox_thing boxes, hash-compared to a SQL
# oracle that re-evaluates the same case list in closed form (contains /
# equals / isSet / otherwise — population is always set, so 'otherwise'
# stays a guarded default, covered by pytest).
# --------------------------------------------------------------------------

def q_mapping_conditional(spark, sf_dir):
    from ..operators.mapping import (
        CONDITION_SCHEMA,
        mapping_extract,
        mapping_tables,
    )

    pages = _pages(spark, sf_dir)
    tc, pm = mapping_tables(spark)
    conds = spark.createDataFrame(
        [
            ("Infobox_thing", 0, "name", "contains", "a", S.ONTOLOGY + "AlphaThing"),
            ("Infobox_thing", 1, "area", "equals", "7.25", S.ONTOLOGY + "SmallThing"),
            ("Infobox_thing", 2, "population", "isSet", "", S.ONTOLOGY + "PopulatedThing"),
            ("Infobox_thing", 3, "", "otherwise", "", S.ONTOLOGY + "Thing"),
        ],
        CONDITION_SCHEMA,
    )
    q = mapping_extract(pages, tc, pm, conditions=conds)
    return q.filter(F.col("dataset") == "instance_types").select("subj", "obj")


ORACLE_MAPPING_CONDITIONAL = f"""
{_oracle_pages()},
boxed AS (
  SELECT p.doc_id, p.title, split_part(d.text, ' ', 1) AS w1
  FROM pages p JOIN documents d ON p.doc_id = d.doc_id
  WHERE p.doc_id % 17 <> 3 AND p.doc_id % 10 > 1 AND p.doc_id % 29 <> 7
    AND p.doc_id % 3 = 0
)
SELECT '{RES}' || title AS subj,
       '{S.ONTOLOGY}' || CASE
         WHEN contains(lower(w1), 'a') THEN 'AlphaThing'
         WHEN cast(doc_id % 100 AS varchar) || '.25' = '7.25' THEN 'SmallThing'
         ELSE 'PopulatedThing' END AS obj
FROM boxed
"""

QUERIES.update({"mapping_conditional": q_mapping_conditional})
ORACLES.update({"mapping_conditional": ORACLE_MAPPING_CONDITIONAL})


# --------------------------------------------------------------------------
# video frame-extraction gate: the per-frame decode path (Y plane walking,
# frame timestamps) reduced to integer-exact (media_id, frame_idx, ts,
# y_sum) rows; the oracle recomputes the Y-plane sums in closed form from
# the synth_media_exact payload grammar. Opaque (compressed) video rows
# keep their single decoded=false marker row.
# --------------------------------------------------------------------------

def q_video_frames(spark, sf_dir):
    from ..operators.multimodal import extract_video_frames, synth_media_exact

    return extract_video_frames(synth_media_exact(spark, 60)).select(
        "media_id", "frame_idx", "frame_ts_ms", "decoded", "y_sum"
    )


ORACLE_VIDEO_FRAMES = """
WITH ids AS (SELECT unnest(range(60)) AS i),
vid AS (SELECT i, i // 3 AS k FROM ids WHERE i % 3 = 2),
vy AS (SELECT i, 4 + 2*(k%4) AS w, 4 + 2*(k%5) AS h, 1 + k%3 AS nf
       FROM vid WHERE k % 2 = 0),
frames AS (SELECT vy.i, vy.w, vy.h, f.f AS fi
           FROM vy, range(3) f(f) WHERE f.f < vy.nf),
ys AS (SELECT fr.i, fr.fi,
              sum((x.x*3 + y.y*5 + fr.fi*7 + fr.i) % 256) AS y_sum
       FROM frames fr, range(12) y(y), range(10) x(x)
       WHERE y.y < fr.h AND x.x < fr.w
       GROUP BY fr.i, fr.fi)
SELECT cast(i AS bigint) AS media_id, cast(fi AS int) AS frame_idx,
       cast(40 * fi AS int) AS frame_ts_ms, true AS decoded,
       cast(y_sum AS bigint) AS y_sum
FROM ys
UNION ALL
SELECT cast(i AS bigint), 0, NULL, false, NULL
FROM vid WHERE k % 2 = 1
"""

QUERIES.update({"video_frames": q_video_frames})
ORACLES.update({"video_frames": ORACLE_VIDEO_FRAMES})


# --------------------------------------------------------------------------
# instance-types-transitive gate: the published DBpedia dataset the
# reference corpus ships alongside instance_types — every STRICT ancestor
# of the direct class through the ontology subClassOf hierarchy
# (operators/mapping.instance_types_transitive over graph.reachability's
# repeated-squaring closure). Direct classes come from the same
# ConditionalMapping dispatch the mapping_conditional gate verifies; the
# oracle recomputes the dispatch in closed form and closes the hierarchy
# with a recursive CTE.
# --------------------------------------------------------------------------

_TT_HIERARCHY = [
    ("AlphaThing", "NamedThing"),
    ("SmallThing", "SizedThing"),
    ("SizedThing", "PhysicalThing"),
    ("PopulatedThing", "PhysicalThing"),
    ("PhysicalThing", "Thing"),
    ("NamedThing", "Thing"),
]


def q_instance_types_transitive(spark, sf_dir):
    from ..operators.mapping import (
        CONDITION_SCHEMA,
        instance_types_transitive,
        mapping_extract,
        mapping_tables,
        subclass_edges,
    )

    pages = _pages(spark, sf_dir)
    tc, pm = mapping_tables(spark)
    conds = spark.createDataFrame(
        [
            ("Infobox_thing", 0, "name", "contains", "a", S.ONTOLOGY + "AlphaThing"),
            ("Infobox_thing", 1, "area", "equals", "7.25", S.ONTOLOGY + "SmallThing"),
            ("Infobox_thing", 2, "population", "isSet", "", S.ONTOLOGY + "PopulatedThing"),
            ("Infobox_thing", 3, "", "otherwise", "", S.ONTOLOGY + "Thing"),
        ],
        CONDITION_SCHEMA,
    )
    quads = mapping_extract(pages, tc, pm, conditions=conds)
    edges = subclass_edges(
        spark, [(S.ONTOLOGY + c, S.ONTOLOGY + p) for c, p in _TT_HIERARCHY]
    )
    return instance_types_transitive(quads, edges).select("subj", "obj")


_TT_VALUES = ", ".join(f"('{c}', '{p}')" for c, p in _TT_HIERARCHY)

ORACLE_INSTANCE_TYPES_TRANSITIVE = f"""
{_oracle_pages()},
boxed AS (
  SELECT p.doc_id, p.title, split_part(d.text, ' ', 1) AS w1
  FROM pages p JOIN documents d ON p.doc_id = d.doc_id
  WHERE p.doc_id % 17 <> 3 AND p.doc_id % 10 > 1 AND p.doc_id % 29 <> 7
    AND p.doc_id % 3 = 0
),
direct AS (
  SELECT '{RES}' || title AS subj,
         CASE
           WHEN contains(lower(w1), 'a') THEN 'AlphaThing'
           WHEN cast(doc_id % 100 AS varchar) || '.25' = '7.25' THEN 'SmallThing'
           ELSE 'PopulatedThing' END AS cls
  FROM boxed
),
h(cls, parent) AS (SELECT * FROM (VALUES {_TT_VALUES}) AS v(cls, parent)),
walk AS (
  SELECT cls, parent FROM h
  UNION ALL
  SELECT walk.cls, h.parent FROM walk JOIN h ON walk.parent = h.cls
)
SELECT DISTINCT d.subj, '{S.ONTOLOGY}' || w.parent AS obj
FROM direct d JOIN walk w ON d.cls = w.cls
"""

QUERIES.update({"instance_types_transitive": q_instance_types_transitive})
ORACLES.update({"instance_types_transitive": ORACLE_INSTANCE_TYPES_TRANSITIVE})


# --------------------------------------------------------------------------
# SPARQL BGP gates (plans/bgp.py): conjunctive queries compiled to
# DataFrame joins over the engine's own extracted quads.
#
# bgp_join — two patterns sharing ?mid: documents linking into a page
#            that has a category (join over page_links × article_
#            categories); oracle = the same two x_* oracle CTEs joined.
# bgp_path — SPARQL 1.1 <p>+ OneOrMore over the redirects predicate:
#            ALL reachable (s, t) pairs (not just final targets — the
#            complement of the redirect_closure gate); oracle = an
#            unfiltered recursive walk.
# --------------------------------------------------------------------------

def q_bgp_join(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    pages = _pages(spark, sf_dir)
    quads = extract(pages, extractors=["page_links", "article_categories"])
    # materialize the store once: each triple pattern scans it, and the
    # un-pinned extraction plan re-ran per pattern (a real store is a
    # materialized table; parquet-backed stores must NOT be pinned —
    # their per-pattern pushed-filter scans are the scale shape)
    quads = quads.localCheckpoint(eager=False)
    return bgp_query(
        quads,
        f"SELECT DISTINCT ?doc ?cat WHERE {{ ?doc <{S.DBO_WIKI_LINK}> ?mid . "
        f"?mid <{S.DCT_SUBJECT}> ?cat }}",
    )


ORACLE_BGP_JOIN = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
),
pl AS (
  SELECT DISTINCT '{RES}' || title AS s,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS o
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
),
cats AS (
  SELECT DISTINCT '{RES}' || title AS s, '{RES}' || tgt AS o
  FROM t WHERE tgt LIKE 'Category:%'
)
SELECT DISTINCT pl.s AS doc, cats.o AS cat
FROM pl JOIN cats ON pl.o = cats.s
"""


def q_bgp_path(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "redirects")
    return bgp_query(
        quads,
        f"SELECT DISTINCT ?s ?t WHERE {{ ?s <{S.DBO_WIKI_REDIRECTS}>+ ?t }}",
    )


ORACLE_BGP_PATH = f"""
{_oracle_pages()},
r AS (
  SELECT '{RES}Doc_' || doc_id AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
),
walk AS (
  SELECT src, dst FROM r
  UNION ALL
  SELECT walk.src, r.dst FROM walk JOIN r ON walk.dst = r.src
)
SELECT DISTINCT src AS s, dst AS t FROM walk
"""

QUERIES.update({"bgp_join": q_bgp_join, "bgp_path": q_bgp_path})
ORACLES.update({"bgp_join": ORACLE_BGP_JOIN, "bgp_path": ORACLE_BGP_PATH})


# --------------------------------------------------------------------------
# bgp_filter gate: FILTER(regex(...)) applied over a BGP pattern — the
# predicate must reach the labels scan (Catalyst pushdown, plan-asserted
# in tests/test_plans.py); oracle = the labels oracle with the same
# regex as a SQL predicate.
# --------------------------------------------------------------------------

def q_bgp_filter(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "labels")
    return bgp_query(
        quads,
        f"SELECT ?s ?o WHERE {{ ?s <{S.RDFS_LABEL}> ?o . "
        f'FILTER(regex(?o, "^Doc 1[0-9]$")) }}',
    )


ORACLE_BGP_FILTER = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS o
FROM pages
WHERE {_MAIN} AND regexp_matches(replace(title, '_', ' '), '^Doc 1[0-9]$')
"""

QUERIES.update({"bgp_filter": q_bgp_filter})
ORACLES.update({"bgp_filter": ORACLE_BGP_FILTER})


# --------------------------------------------------------------------------
# Extended-SPARQL gates (plans/bgp.py): OPTIONAL / UNION / VALUES /
# aggregates+ORDER BY compiled to left joins, unionByName, broadcast
# inline relations, and groupBy aggregation respectively.
#
# bgp_optional — labels LEFT JOIN geo latitude: every main-ns page keeps
#                its row; only doc_id%4=1 regular pages carry a lat.
# bgp_union    — redirect targets ∪ disambiguation targets (distinct).
# bgp_values   — inline broadcast relation restricting subjects (SQL IN).
# bgp_agg      — out-link count per page, total-ordered top 50.
# --------------------------------------------------------------------------

def q_bgp_optional(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    quads = extract(_pages(spark, sf_dir),
                    extractors=["labels", "geo_coordinates"])
    quads = quads.localCheckpoint(eager=False)  # see q_bgp_join
    return bgp_query(
        quads,
        f"SELECT ?s ?l ?lat WHERE {{ ?s <{S.RDFS_LABEL}> ?l . "
        f"OPTIONAL {{ ?s <{S.GEO_LAT}> ?lat }} }}",
    )


ORACLE_BGP_OPTIONAL = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
),
g AS (
  SELECT '{RES}' || title AS s, printf('%.6f', (doc_id % 90) + 0.5) AS lat
  FROM pages WHERE {_REGULAR} AND doc_id % 4 = 1
)
SELECT lbl.s AS s, lbl.l AS l, g.lat AS lat
FROM lbl LEFT JOIN g ON lbl.s = g.s
"""


def q_bgp_union(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    quads = extract(_pages(spark, sf_dir),
                    extractors=["redirects", "disambiguations"])
    quads = quads.localCheckpoint(eager=False)  # see q_bgp_join
    return bgp_query(
        quads,
        f"SELECT DISTINCT ?s ?t WHERE {{ "
        f"{{ ?s <{S.DBO_WIKI_REDIRECTS}> ?t }} UNION "
        f"{{ ?s <{S.DBO_WIKI_DISAMBIGUATES}> ?t }} }}",
    )


ORACLE_BGP_UNION = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages
  WHERE {_NONREDIR} AND contains(text, '{{{{Disambiguation}}}}')
), d AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
)
SELECT '{RES}' || title AS s, '{RES}Doc_' || (doc_id + 1) AS t
FROM pages WHERE {_ISREDIR}
UNION
SELECT '{RES}' || title AS s,
       '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS t
FROM d
WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
"""


_BGP_VALUES_IDS = (5, 23, 42)  # regular docs: none are category/redirect ids


def q_bgp_values(spark, sf_dir):
    from .bgp import bgp_query

    vals = " ".join(f"<{RES}Doc_{i}>" for i in _BGP_VALUES_IDS)
    quads = extractor_df(_pages(spark, sf_dir), "labels")
    return bgp_query(
        quads,
        f"SELECT ?s ?l WHERE {{ ?s <{S.RDFS_LABEL}> ?l . "
        f"VALUES ?s {{ {vals} }} }}",
    )


ORACLE_BGP_VALUES = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
FROM pages
WHERE {_MAIN} AND doc_id IN {_BGP_VALUES_IDS}
"""


def q_bgp_agg(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "page_links")
    return bgp_query(
        quads,
        f"SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s <{S.DBO_WIKI_LINK}> ?o }} "
        f"GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 50",
    )


ORACLE_BGP_AGG = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
),
pl AS (
  SELECT DISTINCT '{RES}' || title AS s,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS o
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
)
SELECT s, count(o) AS n FROM pl GROUP BY s
ORDER BY n DESC, s LIMIT 50
"""

QUERIES.update({
    "bgp_optional": q_bgp_optional,
    "bgp_union": q_bgp_union,
    "bgp_values": q_bgp_values,
    "bgp_agg": q_bgp_agg,
})
ORACLES.update({
    "bgp_optional": ORACLE_BGP_OPTIONAL,
    "bgp_union": ORACLE_BGP_UNION,
    "bgp_values": ORACLE_BGP_VALUES,
    "bgp_agg": ORACLE_BGP_AGG,
})


# --------------------------------------------------------------------------
# CONSTRUCT / ASK / N-Triples round-trip gates.
#
# construct_types — CONSTRUCT template instantiation: every labelled page
#                   gets an rdf:type foaf:Document triple plus its label
#                   triple (var objects carry no lang in the binding
#                   representation, so lang is NULL both sides).
# ask_exists      — ASK reduced to a 1-row boolean aggregate.
# nt_roundtrip    — labels rendered to N-Triples lines by the sink
#                   renderer, parsed back by sources/ntriples.py; must
#                   reproduce the labels dataset byte-identically
#                   (escape chain exercised both directions, all
#                   JVM-side regexp).
# --------------------------------------------------------------------------

def q_construct_types(spark, sf_dir):
    from .bgp import construct_query

    quads = extractor_df(_pages(spark, sf_dir), "labels")
    return construct_query(
        quads,
        f"CONSTRUCT {{ ?s <{S.RDF_TYPE}> <{S.FOAF_DOCUMENT}> . "
        f"?s <{S.RDFS_LABEL}> ?l }} "
        f"WHERE {{ ?s <{S.RDFS_LABEL}> ?l }}",
    )


ORACLE_CONSTRUCT_TYPES = f"""
{_oracle_pages()}
SELECT '{RES}' || title AS subj, '{S.RDF_TYPE}' AS pred,
       '{S.FOAF_DOCUMENT}' AS obj, CAST(NULL AS VARCHAR) AS lang
FROM pages WHERE {_MAIN}
UNION
SELECT '{RES}' || title, '{S.RDFS_LABEL}', replace(title, '_', ' '),
       CAST(NULL AS VARCHAR)
FROM pages WHERE {_MAIN}
"""


def q_ask_exists(spark, sf_dir):
    from .bgp import ask_query

    quads = extractor_df(_pages(spark, sf_dir), "redirects")
    return ask_query(
        quads, f"ASK {{ ?s <{S.DBO_WIKI_REDIRECTS}> ?t }}"
    )


ORACLE_ASK_EXISTS = f"""
{_oracle_pages()}
SELECT count(*) > 0 AS ask FROM pages WHERE {_ISREDIR}
"""


def q_nt_roundtrip(spark, sf_dir):
    from ..sources.ntriples import parse_ntriples_lines
    from .materialize import render_ntriples

    quads = extractor_df(_pages(spark, sf_dir), "labels")
    lines = render_ntriples(quads).select("line")
    return parse_ntriples_lines(lines).select("subj", "pred", "obj", "lang")


ORACLE_NT_ROUNDTRIP = ORACLE_X_LABELS

QUERIES.update({
    "construct_types": q_construct_types,
    "ask_exists": q_ask_exists,
    "nt_roundtrip": q_nt_roundtrip,
})
ORACLES.update({
    "construct_types": ORACLE_CONSTRUCT_TYPES,
    "ask_exists": ORACLE_ASK_EXISTS,
    "nt_roundtrip": ORACLE_NT_ROUNDTRIP,
})


# --------------------------------------------------------------------------
# Property-path operator gates.
#
# bgp_path_seq — sequence through a closure step: every label reachable
#                via one-or-more redirect hops (<redirects>+/<label>);
#                oracle = recursive walk joined to the labels CTE.
# bgp_path_alt — alternative (<subject>|<redirects>): union of the
#                article-categories and redirect pair sets.
# --------------------------------------------------------------------------

def q_bgp_path_seq(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    quads = extract(_pages(spark, sf_dir), extractors=["redirects", "labels"])
    quads = quads.localCheckpoint(eager=False)  # see q_bgp_join
    return bgp_query(
        quads,
        f"SELECT DISTINCT ?s ?l WHERE {{ "
        f"?s <{S.DBO_WIKI_REDIRECTS}>+/<{S.RDFS_LABEL}> ?l }}",
    )


ORACLE_BGP_PATH_SEQ = f"""
{_oracle_pages()},
r AS (
  SELECT '{RES}Doc_' || doc_id AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
),
walk AS (
  SELECT src, dst FROM r
  UNION ALL
  SELECT walk.src, r.dst FROM walk JOIN r ON walk.dst = r.src
),
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
)
SELECT DISTINCT walk.src AS s, lbl.l AS l
FROM walk JOIN lbl ON walk.dst = lbl.s
"""


def q_bgp_path_alt(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    quads = extract(_pages(spark, sf_dir),
                    extractors=["article_categories", "redirects"])
    quads = quads.localCheckpoint(eager=False)  # see q_bgp_join
    return bgp_query(
        quads,
        f"SELECT DISTINCT ?s ?o WHERE {{ "
        f"?s <{S.DCT_SUBJECT}>|<{S.DBO_WIKI_REDIRECTS}> ?o }}",
    )


ORACLE_BGP_PATH_ALT = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
)
SELECT DISTINCT '{RES}' || title AS s, '{RES}' || tgt AS o
FROM t WHERE tgt LIKE 'Category:%'
UNION
SELECT '{RES}' || title AS s, '{RES}Doc_' || (doc_id + 1) AS o
FROM pages WHERE {_ISREDIR}
"""

QUERIES.update({
    "bgp_path_seq": q_bgp_path_seq,
    "bgp_path_alt": q_bgp_path_alt,
})
ORACLES.update({
    "bgp_path_seq": ORACLE_BGP_PATH_SEQ,
    "bgp_path_alt": ORACLE_BGP_PATH_ALT,
})


# --------------------------------------------------------------------------
# Extended-SPARQL round-2 gates (plans/bgp.py): MINUS / FILTER [NOT]
# EXISTS / BIND / GROUP_CONCAT / OFFSET.
#
# bgp_minus        — labels MINUS geo pages: LEFT ANTI join on the shared
#                    variable (set-minus of compatible solutions).
# bgp_exists       — FILTER EXISTS over out-links: LEFT SEMI join probe.
# bgp_bind         — BIND(CONCAT/UCASE/STRLEN) + CONTAINS filter over the
#                    derived column; all Catalyst expressions.
# bgp_group_concat — GROUP_CONCAT(DISTINCT … ; SEPARATOR) + ORDER BY +
#                    LIMIT/OFFSET pagination (deterministic: sorted
#                    values, total order on the key).
# --------------------------------------------------------------------------

def q_bgp_minus(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    quads = extract(_pages(spark, sf_dir),
                    extractors=["labels", "geo_coordinates"])
    quads = quads.localCheckpoint(eager=False)  # see q_bgp_join
    return bgp_query(
        quads,
        f"SELECT ?s ?l WHERE {{ ?s <{S.RDFS_LABEL}> ?l . "
        f"MINUS {{ ?s <{S.GEO_LAT}> ?lat }} }}",
    )


ORACLE_BGP_MINUS = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
),
g AS (
  SELECT '{RES}' || title AS s
  FROM pages WHERE {_REGULAR} AND doc_id % 4 = 1
)
SELECT s, l FROM lbl WHERE s NOT IN (SELECT s FROM g)
"""


def q_bgp_exists(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import bgp_query

    quads = extract(_pages(spark, sf_dir), extractors=["labels", "page_links"])
    quads = quads.localCheckpoint(eager=False)  # see q_bgp_join
    return bgp_query(
        quads,
        f"SELECT ?s ?l WHERE {{ ?s <{S.RDFS_LABEL}> ?l . "
        f"FILTER EXISTS {{ ?s <{S.DBO_WIKI_LINK}> ?o }} }}",
    )


ORACLE_BGP_EXISTS = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
),
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS x
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(x, '|', 1)), ' ', '_') AS tgt FROM links
),
pl AS (
  SELECT DISTINCT '{RES}' || title AS s
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
)
SELECT s, l FROM lbl WHERE s IN (SELECT s FROM pl)
"""


def q_bgp_bind(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "labels")
    return bgp_query(
        quads,
        f'SELECT ?s ?tag WHERE {{ ?s <{S.RDFS_LABEL}> ?l . '
        f'BIND(CONCAT(UCASE(?l), "#", STRLEN(?l)) AS ?tag) . '
        f'FILTER(CONTAINS(?tag, "DOC 1")) }}',
    )


ORACLE_BGP_BIND = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
)
SELECT s, upper(l) || '#' || length(l) AS tag
FROM lbl WHERE contains(upper(l) || '#' || length(l), 'DOC 1')
"""


def q_bgp_group_concat(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "article_categories")
    return bgp_query(
        quads,
        f'SELECT ?s (GROUP_CONCAT(DISTINCT ?c ; SEPARATOR=",") AS ?cats) '
        f"WHERE {{ ?s <{S.DCT_SUBJECT}> ?c }} "
        f"GROUP BY ?s ORDER BY ?s LIMIT 40 OFFSET 10",
    )


ORACLE_BGP_GROUP_CONCAT = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS x
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(x, '|', 1)), ' ', '_') AS tgt FROM links
),
cats AS (
  SELECT DISTINCT '{RES}' || title AS s, '{RES}' || tgt AS c
  FROM t WHERE tgt LIKE 'Category:%'
)
SELECT s, string_agg(DISTINCT c, ',' ORDER BY c) AS cats
FROM cats GROUP BY s
ORDER BY s LIMIT 40 OFFSET 10
"""

QUERIES.update({
    "bgp_minus": q_bgp_minus,
    "bgp_exists": q_bgp_exists,
    "bgp_bind": q_bgp_bind,
    "bgp_group_concat": q_bgp_group_concat,
})
ORACLES.update({
    "bgp_minus": ORACLE_BGP_MINUS,
    "bgp_exists": ORACLE_BGP_EXISTS,
    "bgp_bind": ORACLE_BGP_BIND,
    "bgp_group_concat": ORACLE_BGP_GROUP_CONCAT,
})


# --------------------------------------------------------------------------
# bgp_lang gate: FILTER(LANG(?v)) over the infobox quads, whose objects
# mix language-tagged strings (lang='en') with untagged numerics/links/
# URLs (lang NULL → LANG() = ""). The pattern's hidden __lang column is
# exercised end-to-end; oracle = the infobox oracle filtered on its lang
# column.
# --------------------------------------------------------------------------

def q_bgp_lang(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "infobox_properties")
    return bgp_query(
        quads,
        'SELECT DISTINCT ?s ?v WHERE { ?s ?p ?v . '
        'FILTER(LANG(?v) = "en") }',
    )


ORACLE_BGP_LANG = f"""
WITH ib AS ({ORACLE_X_INFOBOX})
SELECT DISTINCT subj AS s, obj AS v FROM ib WHERE lang = 'en'
"""

QUERIES.update({"bgp_lang": q_bgp_lang})
ORACLES.update({"bgp_lang": ORACLE_BGP_LANG})


# --------------------------------------------------------------------------
# describe_docs gate: the DESCRIBE query form (subject-oriented
# description) over two fixed resources — one semi-join of the quads
# against the resource set; oracle = the labels + article-categories
# CTEs filtered to the same subjects.
# --------------------------------------------------------------------------

_DESCRIBE_IDS = (5, 23)


def q_describe_docs(spark, sf_dir):
    from ..operators.extractors import extract
    from .bgp import describe_query

    quads = extract(_pages(spark, sf_dir),
                    extractors=["labels", "article_categories"])
    terms = " ".join(f"<{RES}Doc_{i}>" for i in _DESCRIBE_IDS)
    return describe_query(quads, f"DESCRIBE {terms}")


ORACLE_DESCRIBE_DOCS = f"""
{_oracle_pages()},
links AS (
  SELECT title, doc_id,
         unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS x
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, doc_id, replace(trim(split_part(x, '|', 1)), ' ', '_') AS tgt
  FROM links
),
q AS (
  SELECT '{RES}' || title AS subj, '{S.RDFS_LABEL}' AS pred,
         replace(title, '_', ' ') AS obj, 'en' AS lang, doc_id
  FROM pages WHERE {_MAIN}
  UNION
  SELECT DISTINCT '{RES}' || title, '{S.DCT_SUBJECT}', '{RES}' || tgt,
         CAST(NULL AS VARCHAR), doc_id
  FROM t WHERE tgt LIKE 'Category:%'
)
SELECT DISTINCT subj, pred, obj, lang FROM q WHERE doc_id IN {_DESCRIBE_IDS}
"""

QUERIES.update({"describe_docs": q_describe_docs})
ORACLES.update({"describe_docs": ORACLE_DESCRIBE_DOCS})


# --------------------------------------------------------------------------
# bgp_subquery gate: SPARQL 1.1 sub-SELECT — a grouped per-page link
# count joined with a scalar MAX-of-counts aggregate (a subquery nested
# inside a subquery, cross-joined as 1 row), compared through BIND
# arithmetic: pages with at least half the maximum out-degree. Oracle =
# the same counts in SQL.
# --------------------------------------------------------------------------

def q_bgp_subquery(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "page_links")
    return bgp_query(
        quads,
        f"SELECT ?s ?n WHERE {{ "
        f"{{ SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s <{S.DBO_WIKI_LINK}> ?o }} "
        f"GROUP BY ?s }} "
        f"{{ SELECT (MAX(?m) AS ?mx) WHERE {{ "
        f"{{ SELECT ?s2 (COUNT(?o2) AS ?m) WHERE {{ ?s2 <{S.DBO_WIKI_LINK}> ?o2 }} "
        f"GROUP BY ?s2 }} }} }} "
        f"BIND(?n * 2 AS ?scaled) . FILTER(?scaled >= ?mx) }}",
    )


ORACLE_BGP_SUBQUERY = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS x
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(x, '|', 1)), ' ', '_') AS tgt FROM links
),
pl AS (
  SELECT DISTINCT '{RES}' || title AS s,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS o
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
),
c AS (SELECT s, count(o) AS n FROM pl GROUP BY s),
g AS (SELECT max(n) AS mx FROM c)
SELECT c.s, c.n FROM c, g WHERE c.n * 2 >= g.mx
"""

QUERIES.update({"bgp_subquery": q_bgp_subquery})
ORACLES.update({"bgp_subquery": ORACLE_BGP_SUBQUERY})


# --------------------------------------------------------------------------
# bgp_having gate: HAVING over a grouped aggregation — the COUNT call in
# the condition becomes an internal column of the same groupBy (one
# aggregation pass, filtered after). Oracle = SQL HAVING.
# --------------------------------------------------------------------------

def q_bgp_having(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "page_links")
    return bgp_query(
        quads,
        f"SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s <{S.DBO_WIKI_LINK}> ?o }} "
        f"GROUP BY ?s HAVING(COUNT(?o) >= 3)",
    )


ORACLE_BGP_HAVING = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS x
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(x, '|', 1)), ' ', '_') AS tgt FROM links
),
pl AS (
  SELECT DISTINCT '{RES}' || title AS s,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS o
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
)
SELECT s, count(o) AS n FROM pl GROUP BY s HAVING count(o) >= 3
"""

QUERIES.update({"bgp_having": q_bgp_having})
ORACLES.update({"bgp_having": ORACLE_BGP_HAVING})


# --------------------------------------------------------------------------
# update_rewrite gate: SPARQL 1.1 UPDATE (DELETE {} INSERT {} WHERE {})
# applied functionally to the labels quads — rows matching the filter get
# their predicate rewritten to a deprecation property (and, per the
# module's lexical binding representation, a NULL lang); everything else
# is untouched. Both templates instantiate against the pre-update store.
# Oracle = a CASE projection over the labels CTE.
# --------------------------------------------------------------------------

_DEPRECATED_LABEL = "http://kg.example.org/ontology/deprecatedLabel"


def q_update_rewrite(spark, sf_dir):
    from .bgp import sparql_update

    quads = extractor_df(_pages(spark, sf_dir), "labels").select(
        "subj", "pred", "obj", "lang"
    )
    return sparql_update(
        quads,
        f"DELETE {{ ?s <{S.RDFS_LABEL}> ?l }} "
        f"INSERT {{ ?s <{_DEPRECATED_LABEL}> ?l }} "
        f'WHERE {{ ?s <{S.RDFS_LABEL}> ?l . FILTER(regex(?l, "^Doc 1")) }}',
    )


ORACLE_UPDATE_REWRITE = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
)
SELECT s AS subj,
       CASE WHEN regexp_matches(l, '^Doc 1') THEN '{_DEPRECATED_LABEL}'
            ELSE '{S.RDFS_LABEL}' END AS pred,
       l AS obj,
       CASE WHEN regexp_matches(l, '^Doc 1') THEN CAST(NULL AS VARCHAR)
            ELSE 'en' END AS lang
FROM lbl
"""

QUERIES.update({"update_rewrite": q_update_rewrite})
ORACLES.update({"update_rewrite": ORACLE_UPDATE_REWRITE})


# --------------------------------------------------------------------------
# bgp_functions gate: the SPARQL expression-function library (UCASE,
# STRLEN, STRAFTER, SUBSTR-in-FILTER, IF) end-to-end over the labels
# quads. Everything compiles to Catalyst string expressions — one scan,
# zero shuffles. Oracle mirrors each function in DuckDB SQL.
# --------------------------------------------------------------------------


def q_bgp_functions(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "labels")
    return bgp_query(
        quads,
        f"SELECT ?s ?u ?n ?tail ?kind WHERE {{ "
        f"?s <{S.RDFS_LABEL}> ?l . "
        f"BIND(UCASE(?l) AS ?u) "
        f"BIND(STRLEN(?l) AS ?n) "
        f'BIND(STRAFTER(?l, " ") AS ?tail) '
        f'BIND(IF(STRLEN(?l) >= 6, "long", "short") AS ?kind) '
        f'FILTER(SUBSTR(?l, 1, 3) = "Doc") }}',
    )


ORACLE_BGP_FUNCTIONS = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
)
SELECT s, upper(l) AS u, length(l) AS n,
       CASE WHEN position(' ' IN l) > 0
            THEN substr(l, position(' ' IN l) + 1) ELSE '' END AS tail,
       CASE WHEN length(l) >= 6 THEN 'long' ELSE 'short' END AS kind
FROM lbl
WHERE substr(l, 1, 3) = 'Doc'
"""

QUERIES.update({"bgp_functions": q_bgp_functions})
ORACLES.update({"bgp_functions": ORACLE_BGP_FUNCTIONS})


# --------------------------------------------------------------------------
# quad_diff gate: release-to-release snapshot diff (operators/delta.py).
# Old snapshot = labels quads; new snapshot = a deterministic perturbation
# (drop 'Doc 1…' labels, uppercase 'Doc 2…' labels) expressed identically
# in DataFrame ops and oracle SQL. quad_diff reconciles the two in ONE
# shuffle (union+groupBy); the oracle uses the textbook double-EXCEPT.
# --------------------------------------------------------------------------


def q_quad_diff(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..operators.delta import quad_diff

    old = extractor_df(_pages(spark, sf_dir), "labels").select(
        "subj", "pred", "obj", "lang"
    )
    new = old.filter(~F.col("obj").like("Doc 1%")).withColumn(
        "obj",
        F.when(F.col("obj").like("Doc 2%"), F.upper(F.col("obj")))
        .otherwise(F.col("obj")),
    )
    return quad_diff(old, new)


ORACLE_QUAD_DIFF = f"""
{_oracle_pages()},
lbl AS (
  SELECT '{RES}' || title AS s, replace(title, '_', ' ') AS l
  FROM pages WHERE {_MAIN}
),
old AS (
  SELECT s AS subj, '{S.RDFS_LABEL}' AS pred, l AS obj, 'en' AS lang
  FROM lbl
),
new AS (
  SELECT subj, pred,
         CASE WHEN obj LIKE 'Doc 2%' THEN upper(obj) ELSE obj END AS obj,
         lang
  FROM old WHERE obj NOT LIKE 'Doc 1%'
)
SELECT 'removed' AS change, subj, pred, obj, lang FROM
  (SELECT subj, pred, obj, lang FROM old
   EXCEPT SELECT subj, pred, obj, lang FROM new)
UNION ALL
SELECT 'added' AS change, subj, pred, obj, lang FROM
  (SELECT subj, pred, obj, lang FROM new
   EXCEPT SELECT subj, pred, obj, lang FROM old)
"""

QUERIES.update({"quad_diff": q_quad_diff})
ORACLES.update({"quad_diff": ORACLE_QUAD_DIFF})


# --------------------------------------------------------------------------
# delta_extract gate: incremental extraction (operators/delta.py).
# New snapshot = old minus every 13th page, plus an appended wiki-link on
# every 11th page. delta_extract finds the touched pages with one
# full-outer join, extracts ONLY those on each side, and set-reconciles —
# extraction cost scales with the delta, not the corpus. The oracle
# recomputes both snapshots' labels+page_links in full and double-EXCEPTs
# (the definitionally-equivalent full recompute).
# --------------------------------------------------------------------------


def q_delta_extract(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..operators.delta import QUAD_KEY, delta_extract

    old = _pages(spark, sf_dir)
    new = old.filter(F.col("doc_id") % 13 != 4).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 5,
            F.concat(F.col("text"), F.lit(" See [[Delta_Target]].")),
        ).otherwise(F.col("text")),
    )
    return delta_extract(
        old, new, extractors=["labels", "page_links"], key=QUAD_KEY
    )


_DELTA_LNK_CTE = """
links_{n} AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM {src} WHERE {nonredir}
), t_{n} AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt
  FROM links_{n}
), lnk_{n} AS (
  SELECT DISTINCT '{res}' || title AS subj, '{pred}' AS pred,
         '{res}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS obj,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS datatype
  FROM t_{n}
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
)
"""

ORACLE_DELTA_EXTRACT = (
    _oracle_pages() + f""",
newp AS (
  SELECT doc_id, title,
         text || CASE WHEN doc_id % 11 = 5
                      THEN ' See [[Delta_Target]].' ELSE '' END AS text,
         lang
  FROM pages WHERE doc_id % 13 <> 4
),
lbl_old AS (
  SELECT '{RES}' || title AS subj, '{S.RDFS_LABEL}' AS pred,
         replace(title, '_', ' ') AS obj, lang,
         '{S.RDF_LANGSTRING}' AS datatype
  FROM pages WHERE {_MAIN}
),
lbl_new AS (
  SELECT '{RES}' || title AS subj, '{S.RDFS_LABEL}' AS pred,
         replace(title, '_', ' ') AS obj, lang,
         '{S.RDF_LANGSTRING}' AS datatype
  FROM newp WHERE {_MAIN}
),
"""
    + _DELTA_LNK_CTE.format(n="old", src="pages", nonredir=_NONREDIR,
                            res=RES, pred=S.DBO_WIKI_LINK).strip().rstrip()
    + ",\n"
    + _DELTA_LNK_CTE.format(n="new", src="newp", nonredir=_NONREDIR,
                            res=RES, pred=S.DBO_WIKI_LINK).strip()
    + """,
old_q AS (SELECT * FROM lbl_old UNION ALL SELECT * FROM lnk_old),
new_q AS (SELECT * FROM lbl_new UNION ALL SELECT * FROM lnk_new)
-- QUAD_KEY now carries datatype (ADVICE r4: datatype-only changes must
-- be visible): labels are rdf:langString, link quads NULL
SELECT 'removed' AS change, subj, pred, obj, lang, datatype FROM
  (SELECT subj, pred, obj, lang, datatype FROM old_q
   EXCEPT SELECT subj, pred, obj, lang, datatype FROM new_q)
UNION ALL
SELECT 'added' AS change, subj, pred, obj, lang, datatype FROM
  (SELECT subj, pred, obj, lang, datatype FROM new_q
   EXCEPT SELECT subj, pred, obj, lang, datatype FROM old_q)
"""
)

QUERIES.update({"delta_extract": q_delta_extract})
ORACLES.update({"delta_extract": ORACLE_DELTA_EXTRACT})


# --------------------------------------------------------------------------
# triangle_counts gate: compact-forward triangle enumeration over the
# wiki-link graph (operators/graph.py). Lexicographic u<v orientation →
# each triangle joined into existence exactly once; oracle = the same
# 3-way self-join in ANSI SQL over the canonical undirected edge set.
# bfs_distances gate: level-synchronous frontier BFS from one source vs
# a DuckDB recursive-CTE walk enumeration with min(dist) per vertex.
# --------------------------------------------------------------------------

_PL_EDGES_CTE = f"""
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
), pl AS (
  SELECT DISTINCT '{RES}' || title AS s,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS o
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
)
"""


def _pl_edges(spark, sf_dir):
    links = extractor_df(_pages(spark, sf_dir), "page_links")
    return links.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))


def q_triangle_counts(spark, sf_dir):
    from ..operators.graph import triangle_counts

    return triangle_counts(_pl_edges(spark, sf_dir))


ORACLE_TRIANGLE_COUNTS = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
und AS (
  SELECT DISTINCT least(s, o) AS u, greatest(s, o) AS v FROM pl WHERE s <> o
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM und a
  JOIN und b ON a.v = b.u
  JOIN und c ON c.u = a.u AND c.v = b.v
)
SELECT node AS uri, count(*) AS triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
"""


def q_bfs_distances(spark, sf_dir):
    from ..operators.graph import bfs_distances

    return bfs_distances(
        _pl_edges(spark, sf_dir), [f"{RES}Doc_2"], max_iter=10
    )


ORACLE_BFS_DISTANCES = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
bfs AS (
  SELECT '{RES}Doc_2' AS uri, 0 AS dist
  UNION ALL
  SELECT pl.o, bfs.dist + 1 FROM bfs JOIN pl ON bfs.uri = pl.s
  WHERE bfs.dist < 10
)
SELECT uri, min(dist) AS dist FROM bfs GROUP BY uri
"""

QUERIES.update({
    "triangle_counts": q_triangle_counts,
    "bfs_distances": q_bfs_distances,
})
ORACLES.update({
    "triangle_counts": ORACLE_TRIANGLE_COUNTS,
    "bfs_distances": ORACLE_BFS_DISTANCES,
})


# --------------------------------------------------------------------------
# bgp_graph gate: SPARQL named-graph scoping (GRAPH ?g) over the quads'
# provenance context column — ?g binds each label's source-page context
# IRI (url#ts=…) with the pattern evaluated per graph (no per-graph
# loop: context is just another join column). Oracle reconstructs the
# context IRI from the page url and the constant crawl timestamp.
# --------------------------------------------------------------------------


def q_bgp_graph(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "labels")
    return bgp_query(
        quads,
        f"SELECT ?g ?s WHERE {{ GRAPH ?g {{ "
        f'?s <{S.RDFS_LABEL}> ?l . FILTER(CONTAINS(?l, "Doc 1")) }} }}',
    )


ORACLE_BGP_GRAPH = f"""
{_oracle_pages()}
SELECT url || '#ts=2024-01-01T00:00:00' AS g, '{RES}' || title AS s
FROM pages
WHERE {_MAIN} AND replace(title, '_', ' ') LIKE '%Doc 1%'
"""

QUERIES.update({"bgp_graph": q_bgp_graph})
ORACLES.update({"bgp_graph": ORACLE_BGP_GRAPH})


# --------------------------------------------------------------------------
# bm25_search gate: Okapi BM25 keyword retrieval over the documents table
# (operators/retrieval.py) — query-term filter pushed below the tf/df
# aggregations, corpus scalars joined as a broadcast 1-row aggregate.
# Oracle recomputes the full formula in DuckDB (same tokenizer regex,
# same Robertson +1-smoothed idf), round(4) both sides.
# deterministic_sample / train_split gates: md5-bucket sampling + split
# labels (operators/sampling.py) — pure filters, bit-identical across
# engines by construction.
# --------------------------------------------------------------------------

_BM25_QUERY = "spark join window"


def q_bm25_search(spark, sf_dir):
    from ..operators.retrieval import bm25_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_scores(docs, _BM25_QUERY)


ORACLE_BM25_SEARCH = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN ('join', 'spark', 'window')
  GROUP BY doc_id, token
),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
SELECT tf.doc_id,
       round(sum(
         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       ), 4) AS score
FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN st
GROUP BY tf.doc_id
"""


def q_deterministic_sample(spark, sf_dir):
    from ..operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return deterministic_sample(docs, "doc_id", 0.2).select("doc_id")


ORACLE_DETERMINISTIC_SAMPLE = """
SELECT doc_id FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      / 4294967296.0 < 0.2
"""


def q_train_split(spark, sf_dir):
    from ..operators.sampling import train_val_test_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        train_val_test_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_TRAIN_SPLIT = """
WITH u AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         / 4294967296.0 AS b
  FROM documents
)
SELECT CASE WHEN b < 0.8 THEN 'train'
            WHEN b < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n
FROM u GROUP BY 1
"""

QUERIES.update({
    "bm25_search": q_bm25_search,
    "deterministic_sample": q_deterministic_sample,
    "train_split": q_train_split,
})
ORACLES.update({
    "bm25_search": ORACLE_BM25_SEARCH,
    "deterministic_sample": ORACLE_DETERMINISTIC_SAMPLE,
    "train_split": ORACLE_TRAIN_SPLIT,
})


# --------------------------------------------------------------------------
# decontamination / repetition_stats gates (operators/curation.py):
# benchmark n-gram decontamination (GPT-3 appendix-C style: flag corpus
# docs sharing any word 8-gram with the eval set — probe shingles
# broadcast, corpus scanned once) and Gopher-style per-document
# repetition diagnostics. Oracles rebuild the same word shingles in
# DuckDB via list slicing over the identical [a-z0-9]+ tokenizer.
# --------------------------------------------------------------------------


def q_decontamination(spark, sf_dir):
    from ..operators.curation import ngram_collisions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    return ngram_collisions(
        docs, probes, n=8,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


ORACLE_DECONTAMINATION = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS g(i)
  WHERE len(t) >= 8
),
probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
SELECT doc_id, count(*) AS n_collisions
FROM sh JOIN probe USING (shingle)
GROUP BY doc_id
"""


def q_repetition_stats(spark, sf_dir):
    from ..operators.curation import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(
        docs, min_parallelism=spark.sparkContext.defaultParallelism
    )


ORACLE_REPETITION_STATS = """
WITH ta AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
tc AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS token FROM ta)
  GROUP BY doc_id, token
),
ts AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, max(c) AS top_c
  FROM tc GROUP BY doc_id
),
bt AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM ta, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
bc AS (SELECT doc_id, bigram, count(*) AS c FROM bt GROUP BY doc_id, bigram),
bs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bi_c
  FROM bc GROUP BY doc_id
)
SELECT ts.doc_id, n_tokens,
       round(n_distinct / n_tokens, 4) AS distinct_ratio,
       round(top_c / n_tokens, 4) AS top_token_frac,
       coalesce(round(top_bi_c / n_bigrams, 4), 0.0) AS top_bigram_frac
FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
"""

QUERIES.update({
    "decontamination": q_decontamination,
    "repetition_stats": q_repetition_stats,
})
ORACLES.update({
    "decontamination": ORACLE_DECONTAMINATION,
    "repetition_stats": ORACLE_REPETITION_STATS,
})


# --------------------------------------------------------------------------
# domain_cap gate: deterministic per-domain cap (operators/sampling.py,
# per_key_cap) — the standard "no host dominates the mix" curation step;
# rank-limit pushed below the exchange (WindowGroupLimit, plan-asserted
# in tests). Oracle = the same md5-ordered row_number window in DuckDB.
# link_cooccurrence gate: co-citation PMI over the page-links graph
# (operators/graph.py, cocitation_pmi) — oracle recomputes pairs,
# marginals, and ln() from the same distinct edge set.
# --------------------------------------------------------------------------


def q_domain_cap(spark, sf_dir):
    from ..operators.sampling import per_key_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return per_key_cap(docs, "source", 10, "doc_id").select("doc_id", "source")


ORACLE_DOMAIN_CAP = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
"""


def q_link_cooccurrence(spark, sf_dir):
    from ..operators.graph import cocitation_pmi

    return cocitation_pmi(_pl_edges(spark, sf_dir), min_count=2)


ORACLE_LINK_COOCCURRENCE = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
e AS (SELECT DISTINCT s, o FROM pl WHERE s <> o),
deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
kept AS (SELECT e.s, e.o FROM e JOIN deg USING (s) WHERE d <= 1000),
cij AS (
  SELECT a.o AS e1, b.o AS e2, count(*) AS n_common
  FROM kept a JOIN kept b ON a.s = b.s AND a.o < b.o
  GROUP BY a.o, b.o
  HAVING count(*) >= 2
),
ci AS (SELECT o, count(*) AS c FROM kept GROUP BY o),
np AS (SELECT count(DISTINCT s) AS n_pages FROM kept)
SELECT e1, e2, n_common,
       round(ln(n_common * n_pages / (c1.c * c2.c)), 4) AS pmi
FROM cij
JOIN ci c1 ON cij.e1 = c1.o
JOIN ci c2 ON cij.e2 = c2.o
CROSS JOIN np
"""

QUERIES.update({
    "domain_cap": q_domain_cap,
    "link_cooccurrence": q_link_cooccurrence,
})
ORACLES.update({
    "domain_cap": ORACLE_DOMAIN_CAP,
    "link_cooccurrence": ORACLE_LINK_COOCCURRENCE,
})


# --------------------------------------------------------------------------
# kg_negative_samples gate: deterministic corrupted-tail negatives for
# KG-embedding training (operators/sampling.negative_samples) over the
# page-links graph — filtered setting (draws colliding with a true edge
# are dropped). Oracle mirrors the dense entity index (row_number over
# the sorted vocabulary — the Spark side computes the identical index
# WITHOUT a global window, via range-partitioned prefix sums) and the
# md5-mod-n draw arithmetic.
# --------------------------------------------------------------------------


def q_kg_negative_samples(spark, sf_dir):
    from ..operators.sampling import negative_samples

    return negative_samples(_pl_edges(spark, sf_dir), k=2)


ORACLE_KG_NEGATIVE_SAMPLES = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
ents AS (
  SELECT DISTINCT u FROM (SELECT s AS u FROM pl UNION SELECT o AS u FROM pl)
),
eidx AS (SELECT u, row_number() OVER (ORDER BY u) - 1 AS idx FROM ents),
nn AS (SELECT count(*) AS n FROM ents),
pos AS (SELECT DISTINCT s, o FROM pl),
drawn AS (
  SELECT s, o, gi AS neg_i,
         CAST('0x' || substr(
           md5(s || '|' || o || '|' || CAST(gi AS VARCHAR)), 1, 8
         ) AS BIGINT) % n AS ni
  FROM pos CROSS JOIN nn
  CROSS JOIN LATERAL unnest(generate_series(0, 1)) AS g(gi)
)
SELECT drawn.s AS src, drawn.o AS dst, neg_i, eidx.u AS neg_dst
FROM drawn JOIN eidx ON drawn.ni = eidx.idx
WHERE NOT EXISTS (
  SELECT 1 FROM pos p WHERE p.s = drawn.s AND p.o = eidx.u
)
"""

QUERIES.update({"kg_negative_samples": q_kg_negative_samples})
ORACLES.update({"kg_negative_samples": ORACLE_KG_NEGATIVE_SAMPLES})


# --------------------------------------------------------------------------
# hits_scores gate: HITS hubs/authorities (operators/graph.hits, L1-
# normalized power method) vs an unrolled-SQL oracle — same trick as
# pagerank (DuckDB recursive CTEs can't aggregate over the recursive
# relation), everything DOUBLE, 6 dp.
# kcore gate: undirected 2-core via iterative peeling (observe()-fused
# convergence, one action/round) vs an unrolled peel in SQL (24 rounds,
# safely past the fixpoint for this graph).
# --------------------------------------------------------------------------


def q_hits_scores(spark, sf_dir):
    from ..operators.graph import hits

    h = hits(_pl_edges(spark, sf_dir), iterations=5)
    return h.select(
        "uri", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def _hits_oracle_sql(iterations: int = 5) -> str:
    header = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
e AS (SELECT DISTINCT s AS src, o AS dst FROM pl WHERE s <> o),
verts AS (SELECT DISTINCT uri FROM (SELECT src AS uri FROM e UNION SELECT dst FROM e)),
nv AS (SELECT count(*) AS n FROM verts),
h0 AS (SELECT uri, CAST(1.0 AS DOUBLE) / n AS s FROM verts CROSS JOIN nv)
"""
    parts = [header.strip()]
    for t in range(1, iterations + 1):
        parts.append(f""",
a{t} AS MATERIALIZED (
  SELECT e.dst AS uri, sum(h.s) AS s FROM e JOIN h{t-1} h ON e.src = h.uri
  GROUP BY e.dst
),
h{t} AS MATERIALIZED (
  SELECT e.src AS uri, sum(a.s) AS s FROM e JOIN a{t} a ON e.dst = a.uri
  GROUP BY e.src
)""")
    parts.append(f""",
zz AS (
  SELECT (SELECT sum(s) FROM h{iterations}) AS zh,
         (SELECT sum(s) FROM a{iterations}) AS za
)
SELECT v.uri,
       round(coalesce(h.s, 0) / zh, 6) AS hub,
       round(coalesce(a.s, 0) / za, 6) AS auth
FROM verts v
LEFT JOIN h{iterations} h ON v.uri = h.uri
LEFT JOIN a{iterations} a ON v.uri = a.uri
CROSS JOIN zz
""")
    return "".join(parts)


ORACLE_HITS_SCORES = _hits_oracle_sql(5)

_KCORE_K = 2


def q_kcore(spark, sf_dir):
    from ..operators.graph import kcore

    return kcore(_pl_edges(spark, sf_dir), k=_KCORE_K)


def _kcore_oracle_sql(k: int, rounds: int = 24) -> str:
    header = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
e0 AS (SELECT DISTINCT least(s, o) AS u, greatest(s, o) AS v FROM pl WHERE s <> o)
"""
    parts = [header.strip()]
    for t in range(1, rounds + 1):
        parts.append(f""",
d{t-1} AS MATERIALIZED (
  SELECT x, count(*) AS d
  FROM (SELECT u AS x FROM e{t-1} UNION ALL SELECT v FROM e{t-1})
  GROUP BY x
),
e{t} AS MATERIALIZED (
  SELECT u, v FROM e{t-1}
  WHERE u IN (SELECT x FROM d{t-1} WHERE d >= {k})
    AND v IN (SELECT x FROM d{t-1} WHERE d >= {k})
)""")
    parts.append(f""",
df AS (
  SELECT x, count(*) AS d
  FROM (SELECT u AS x FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
  GROUP BY x
)
SELECT x AS uri, d AS core_deg FROM df WHERE d >= {k}
""")
    return "".join(parts)


ORACLE_KCORE = _kcore_oracle_sql(_KCORE_K)

QUERIES.update({"hits_scores": q_hits_scores, "kcore": q_kcore})
ORACLES.update({"hits_scores": ORACLE_HITS_SCORES, "kcore": ORACLE_KCORE})


# --------------------------------------------------------------------------
# shacl_validate gate: SHACL-core subset (operators/validation.py) over
# the labels+page_ids quad slice — cardinality (every identified page
# must carry exactly one label; category pages have ids but no labels →
# real minCount violations), pattern (9-digit cap flags the ~77% of
# md5-derived ids ≥ 10^9), and a datatype check that conforms (exercises
# the zero-violation branch). Oracle mirrors each constraint in SQL.
# --------------------------------------------------------------------------


def q_shacl_validate(spark, sf_dir):
    from ..operators.validation import Shape, validate_shapes

    pages = _pages(spark, sf_dir)
    quads = extractor_df(pages, "labels").unionByName(
        extractor_df(pages, "page_ids")
    )
    return validate_shapes(quads, [
        Shape(
            "label-card",
            pred=S.RDFS_LABEL,
            target_pred=S.DBO_WIKI_PAGE_ID,
            min_count=1,
            max_count=1,
        ),
        Shape(
            "pageid-value",
            pred=S.DBO_WIKI_PAGE_ID,
            datatype=S.XSD_INTEGER,
            pattern="^[0-9]{1,9}$",
        ),
    ])


ORACLE_SHACL_VALIDATE = f"""
{_oracle_pages()},
lab AS (
  SELECT '{RES}' || title AS subj FROM pages WHERE doc_id % 17 <> 3
),
pid AS (
  SELECT '{RES}' || title AS subj,
         cast(cast('0x' || substr(md5(url), 1, 8) as bigint) as varchar) AS obj
  FROM pages
),
counts AS (
  SELECT pid.subj, count(lab.subj) AS c
  FROM (SELECT DISTINCT subj FROM pid) pid
  LEFT JOIN lab ON pid.subj = lab.subj
  GROUP BY pid.subj
)
SELECT 'label-card' AS shape, 'minCount' AS rule, subj,
       CAST(c AS VARCHAR) AS detail
FROM counts WHERE c < 1
UNION ALL
SELECT 'label-card', 'maxCount', subj, CAST(c AS VARCHAR)
FROM counts WHERE c > 1
UNION ALL
SELECT 'pageid-value', 'datatype', subj, ''
FROM pid WHERE FALSE
UNION ALL
SELECT 'pageid-value', 'pattern', subj, obj
FROM pid WHERE NOT regexp_matches(obj, '^[0-9]{{1,9}}$')
"""

QUERIES.update({"shacl_validate": q_shacl_validate})
ORACLES.update({"shacl_validate": ORACLE_SHACL_VALIDATE})


# --------------------------------------------------------------------------
# void_stats gate: per-dataset VoID descriptor statistics (plans/
# materialize.void_stats — the void:triples/distinctSubjects/
# distinctObjects/properties numbers DBpedia publishes per release)
# over the labels+page_ids+page_links slice.
# property_pivot gate: EAV→wide consumption shape (plans/materialize.
# pivot_properties) — static conditional aggregation, no values-
# discovery job; oracle = the same min(case when) pivot in SQL.
# --------------------------------------------------------------------------


def _lpp_quads(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    return (
        extractor_df(pages, "labels")
        .unionByName(extractor_df(pages, "page_ids"))
        .unionByName(extractor_df(pages, "page_links"))
    )


_LPP_CTE = f"""
lpp AS (
  SELECT 'labels' AS dataset, '{RES}' || title AS subj,
         '{S.RDFS_LABEL}' AS pred, replace(title, '_', ' ') AS obj
  FROM pages WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT 'page_ids', '{RES}' || title, '{S.DBO_WIKI_PAGE_ID}',
         cast(cast('0x' || substr(md5(url), 1, 8) as bigint) as varchar)
  FROM pages
  UNION ALL
  SELECT 'page_links', s, '{S.DBO_WIKI_LINK}', o FROM pl
)
"""


def q_void_stats(spark, sf_dir):
    from .materialize import void_stats

    return void_stats(_lpp_quads(spark, sf_dir))


ORACLE_VOID_STATS = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
{_LPP_CTE.strip()}
SELECT dataset, count(*) AS n_triples,
       count(DISTINCT subj) AS n_distinct_subjects,
       count(DISTINCT obj) AS n_distinct_objects,
       count(DISTINCT pred) AS n_predicates
FROM lpp GROUP BY dataset
"""


def q_property_pivot(spark, sf_dir):
    from .materialize import pivot_properties

    return pivot_properties(_lpp_quads(spark, sf_dir), {
        "label": S.RDFS_LABEL,
        "page_id": S.DBO_WIKI_PAGE_ID,
        "first_link": S.DBO_WIKI_LINK,
    })


ORACLE_PROPERTY_PIVOT = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
{_LPP_CTE.strip()}
SELECT subj,
       min(CASE WHEN pred = '{S.RDFS_LABEL}' THEN obj END) AS label,
       min(CASE WHEN pred = '{S.DBO_WIKI_PAGE_ID}' THEN obj END) AS page_id,
       min(CASE WHEN pred = '{S.DBO_WIKI_LINK}' THEN obj END) AS first_link
FROM lpp GROUP BY subj
"""

QUERIES.update({
    "void_stats": q_void_stats,
    "property_pivot": q_property_pivot,
})
ORACLES.update({
    "void_stats": ORACLE_VOID_STATS,
    "property_pivot": ORACLE_PROPERTY_PIVOT,
})


# --------------------------------------------------------------------------
# mixture_sample gate: per-source training-mixture rates folded to one
# CASE filter (operators/sampling.mixture_sample) — scan-pushed, no
# shuffle. pack_documents gate: concat-and-chunk sequence packing with
# md5-bucketed parallel streams (no global window); oracle = the same
# per-bucket running-sum window in DuckDB.
# --------------------------------------------------------------------------


def q_mixture_sample(spark, sf_dir):
    from ..operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_sample(
        docs, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        "doc_id", default_fraction=0.1,
    ).select("doc_id", "source")


ORACLE_MIXTURE_SAMPLE = """
SELECT doc_id, source FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      / 4294967296.0 <
      CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                  WHEN 'src2' THEN 0.25 ELSE 0.1 END
"""


def q_pack_documents(spark, sf_dir):
    from ..operators.sampling import pack_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_documents(docs, 2048, size_col="n_chars", buckets=8)


ORACLE_PACK_DOCUMENTS = """
WITH b AS (
  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 8 AS bucket
  FROM documents
),
c AS (
  SELECT doc_id, bucket,
         coalesce(sum(n_chars) OVER (
           PARTITION BY bucket ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS pre
  FROM b
)
SELECT doc_id, bucket, pre // 2048 AS bin_id, pre % 2048 AS "offset"
FROM c
"""

QUERIES.update({
    "mixture_sample": q_mixture_sample,
    "pack_documents": q_pack_documents,
})
ORACLES.update({
    "mixture_sample": ORACLE_MIXTURE_SAMPLE,
    "pack_documents": ORACLE_PACK_DOCUMENTS,
})


# --------------------------------------------------------------------------
# gopher_filter gate: the composite keep/drop curation decision
# (operators/curation.gopher_filter) — first-failing-rule verdict over
# the repetition diagnostics, thresholds chosen to split the synthetic
# corpus across all reachable verdicts. Oracle reuses the repetition
# SQL plus the same CASE.
# --------------------------------------------------------------------------


def q_gopher_filter(spark, sf_dir):
    from ..operators.curation import gopher_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_filter(
        docs, min_tokens=30, min_distinct_ratio=0.35,
        max_top_bigram_frac=0.06,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


ORACLE_GOPHER_FILTER = """
WITH ta AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
tc AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS token FROM ta)
  GROUP BY doc_id, token
),
ts AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct
  FROM tc GROUP BY doc_id
),
bt AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM ta, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
bc AS (SELECT doc_id, bigram, count(*) AS c FROM bt GROUP BY doc_id, bigram),
bs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bi_c
  FROM bc GROUP BY doc_id
),
stats AS (
  SELECT ts.doc_id, n_tokens,
         round(n_distinct / n_tokens, 4) AS distinct_ratio,
         coalesce(round(top_bi_c / n_bigrams, 4), 0.0) AS top_bigram_frac
  FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
)
SELECT d.doc_id,
       CASE WHEN coalesce(n_tokens, 0) < 30 THEN 'too_short'
            WHEN n_tokens > 100000 THEN 'too_long'
            WHEN distinct_ratio < 0.35 THEN 'low_diversity'
            WHEN top_bigram_frac > 0.06 THEN 'repetitive'
            ELSE 'keep' END AS verdict
FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id
"""

QUERIES.update({"gopher_filter": q_gopher_filter})
ORACLES.update({"gopher_filter": ORACLE_GOPHER_FILTER})


# --------------------------------------------------------------------------
# anchor_priors gate: anchor-text → entity commonness priors
# (operators/linking.anchor_priors, the Milne-Witten P(target|anchor)
# table that feeds entity linking). Oracle mirrors the extraction
# regex, the PageLinksExtractor target normalization, and the window
# total in SQL.
# --------------------------------------------------------------------------


def q_anchor_priors(spark, sf_dir):
    from ..operators.linking import anchor_priors

    pages = _pages(spark, sf_dir).where(
        ~F.col("title").startswith("Category:")
    )
    return anchor_priors(pages)


ORACLE_ANCHOR_PRIORS = f"""
{_oracle_pages()},
links AS (
  SELECT unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages
  WHERE {_MAIN} AND NOT regexp_matches(text, '^\\s*#REDIRECT')
),
t AS (
  SELECT
    CASE WHEN l LIKE '%|%'
         THEN trim(substr(l, position('|' IN l) + 1))
         ELSE trim(l) END AS anchor,
    replace(trim(regexp_replace(trim(split_part(l, '|', 1)), '#.*$', '')),
            ' ', '_') AS tgt0
  FROM links
),
p AS (
  SELECT anchor,
         upper(substr(tgt0, 1, 1)) || substr(tgt0, 2) AS target
  FROM t
  WHERE tgt0 <> '' AND anchor <> ''
),
c AS (
  SELECT anchor, target, count(*) AS n FROM p
  WHERE target NOT LIKE 'Category:%'
    AND NOT regexp_matches(target, '^[a-z]{{2,3}}:')
  GROUP BY anchor, target
)
SELECT anchor, target, n,
       round(n / sum(n) OVER (PARTITION BY anchor), 4) AS prior
FROM c
"""

QUERIES.update({"anchor_priors": q_anchor_priors})
ORACLES.update({"anchor_priors": ORACLE_ANCHOR_PRIORS})


# --------------------------------------------------------------------------
# doc_keywords gate: top-5 TF-IDF terms per document (operators/
# retrieval.tfidf_keywords) — ranking on the rounded score with token
# tie-break makes the top-k bit-stable across engines; WindowGroupLimit
# bounds the rank shuffle. Oracle recomputes tf/df/idf and the same
# window in SQL.
# --------------------------------------------------------------------------


def q_doc_keywords(spark, sf_dir):
    from ..operators.retrieval import tfidf_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_keywords(docs, k=5)


ORACLE_DOC_KEYWORDS = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT doc_id, token, round(tf * ln(n_docs / df), 4) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN nn
)
SELECT doc_id, token, tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token
  ) AS rn FROM scored
) WHERE rn <= 5
"""

QUERIES.update({"doc_keywords": q_doc_keywords})
ORACLES.update({"doc_keywords": ORACLE_DOC_KEYWORDS})


# --------------------------------------------------------------------------
# random_walks gate: deterministic DeepWalk corpus over the page-links
# graph (operators/graph.random_walks) — md5-mod-degree next-hop picks,
# per-source neighbor ranks. Oracle unrolls the 3 steps with identical
# rank windows and md5 arithmetic (MATERIALIZED CTEs).
# --------------------------------------------------------------------------


def q_random_walks(spark, sf_dir):
    from ..operators.graph import random_walks

    return random_walks(
        _pl_edges(spark, sf_dir), walk_length=3, walks_per_node=2
    )


def _random_walks_oracle_sql(walk_length: int = 3, walks: int = 2) -> str:
    header = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
e AS (SELECT DISTINCT s AS src, o AS dst FROM pl WHERE s <> o),
adj AS MATERIALIZED (
  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk
  FROM e
),
deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
w0 AS MATERIALIZED (
  SELECT s.src AS start, gi AS walk_id, s.src AS node
  FROM (SELECT DISTINCT src FROM e) s,
       LATERAL unnest(generate_series(0, {walks - 1})) AS g(gi)
)
"""
    parts = [header.strip()]
    for t in range(1, walk_length + 1):
        parts.append(f""",
w{t} AS MATERIALIZED (
  SELECT w.start, w.walk_id, adj.dst AS node
  FROM w{t-1} w
  JOIN deg ON w.node = deg.src
  JOIN adj ON adj.src = w.node
   AND adj.rk = CAST('0x' || substr(
         md5(w.node || '|' || CAST(w.walk_id AS VARCHAR) || '|{t-1}'),
         1, 8) AS BIGINT) % deg.d
)""")
    selects = [
        f"SELECT start, walk_id, CAST({t} AS BIGINT) AS step, node FROM w{t}"
        for t in range(walk_length + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


ORACLE_RANDOM_WALKS = _random_walks_oracle_sql(3, 2)

QUERIES.update({"random_walks": q_random_walks})
ORACLES.update({"random_walks": ORACLE_RANDOM_WALKS})


# --------------------------------------------------------------------------
# functional_preds gate: owl:FunctionalProperty discovery
# (operators/validation.functional_properties) over the labels+
# page_ids+page_links slice — labels/page_ids come out functional,
# page_links multi-valued. Oracle mirrors the two-level aggregation.
# --------------------------------------------------------------------------


def q_functional_preds(spark, sf_dir):
    from ..operators.validation import functional_properties

    return functional_properties(_lpp_quads(spark, sf_dir), threshold=0.99)


ORACLE_FUNCTIONAL_PREDS = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
{_LPP_CTE.strip()},
per AS (
  SELECT pred, subj, count(DISTINCT obj) AS n_obj
  FROM lpp GROUP BY pred, subj
)
SELECT pred, count(*) AS n_subjects,
       CAST(sum(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
       (count(*) - sum(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END))
         / count(*) >= 0.99 AS functional
FROM per GROUP BY pred
"""

QUERIES.update({"functional_preds": q_functional_preds})
ORACLES.update({"functional_preds": ORACLE_FUNCTIONAL_PREDS})


# --------------------------------------------------------------------------
# fuzzy_match gate: blocked edit-distance entity resolution
# (operators/linking.fuzzy_label_match) — lowercase doc-title variants
# vs the extracted rdfs:labels, levenshtein <= 2 inside (first-char,
# length-band) blocks. Oracle mirrors the banding and DuckDB's
# levenshtein (same classic DP definition).
# --------------------------------------------------------------------------


def q_fuzzy_match(spark, sf_dir):
    from ..operators.linking import fuzzy_label_match

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = docs.select(
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("name")
    )
    labels = extractor_df(_pages(spark, sf_dir), "labels").select(
        F.col("obj").alias("label")
    )
    return fuzzy_label_match(
        cands, labels, max_dist=2,
        verify_partitions=spark.sparkContext.defaultParallelism,
    )


ORACLE_FUZZY_MATCH = f"""
{_oracle_pages()},
cands AS (SELECT DISTINCT 'doc ' || CAST(doc_id AS VARCHAR) AS name FROM documents),
labs AS (
  SELECT DISTINCT replace(title, '_', ' ') AS label
  FROM pages WHERE doc_id % 17 <> 3
),
ck AS (
  SELECT name, lower(substr(name, 1, 1)) AS blk, tlen
  FROM cands, LATERAL unnest(generate_series(
    greatest(length(name) - 2, 1), length(name) + 2)) AS g(tlen)
),
lk AS (
  SELECT label, lower(substr(label, 1, 1)) AS blk, length(label) AS tlen
  FROM labs
)
SELECT name, label, levenshtein(name, label) AS dist
FROM ck JOIN lk USING (blk, tlen)
WHERE levenshtein(name, label) <= 2
"""

QUERIES.update({"fuzzy_match": q_fuzzy_match})
ORACLES.update({"fuzzy_match": ORACLE_FUZZY_MATCH})


# --------------------------------------------------------------------------
# rdfs_entail gate: minimal-RDFS (ρdf) forward entailment
# (operators/reasoning.rdfs_entailment) over the page-links triples
# with an inline ontology — sub-property application, domain/range
# typing, transitive subclass lifting. Oracle expands the same rules by
# hand in SQL (the ontology is constant, so each rule is one SELECT).
# --------------------------------------------------------------------------

_DCT_REL = "http://purl.org/dc/terms/relation"
_DOC_CLS = f"{S.ONTOLOGY}Document"
_THING = "http://www.w3.org/2002/07/owl#Thing"


def q_rdfs_entail(spark, sf_dir):
    from ..operators.reasoning import rdfs_entailment

    links = extractor_df(_pages(spark, sf_dir), "page_links")
    subprop = spark.createDataFrame(
        [(S.DBO_WIKI_LINK, _DCT_REL)], "src string, dst string"
    )
    subclass = spark.createDataFrame(
        [(_DOC_CLS, _THING)], "src string, dst string"
    )
    dr = spark.createDataFrame(
        [(S.DBO_WIKI_LINK, _DOC_CLS)], "prop string, cls string"
    )
    return rdfs_entailment(
        links, subclass=subclass, subprop=subprop, domains=dr, ranges=dr
    )


ORACLE_RDFS_ENTAIL = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()}
SELECT DISTINCT subj, pred, obj FROM (
  SELECT s AS subj, '{_DCT_REL}' AS pred, o AS obj FROM pl
  UNION ALL
  SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', '{_DOC_CLS}' FROM pl
  UNION ALL
  SELECT o, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', '{_DOC_CLS}' FROM pl
  UNION ALL
  SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', '{_THING}' FROM pl
  UNION ALL
  SELECT o, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', '{_THING}' FROM pl
)
"""

QUERIES.update({"rdfs_entail": q_rdfs_entail})
ORACLES.update({"rdfs_entail": ORACLE_RDFS_ENTAIL})


# --------------------------------------------------------------------------
# stream_gopher gate: the gopher_filter projection run UNCHANGED under
# readStream (parquet source, maxFilesPerTrigger=1 → genuinely
# incremental micro-batches, memory sink driven to completion) — gated
# against the SAME batch oracle, so streaming admission control is
# hash-exact, not rows-only.
# --------------------------------------------------------------------------


def q_stream_gopher(spark, sf_dir):
    import tempfile
    import uuid

    from ..operators.curation import gopher_filter
    from ..streaming.events import run_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="defs_stream_docs_")
    docs.repartition(4).write.mode("overwrite").parquet(d)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = gopher_filter(
        sdf, min_tokens=30, min_distinct_ratio=0.35,
        max_top_bigram_frac=0.06,
    )
    name = f"defs_stream_gopher_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name)
    return spark.table(name)


QUERIES.update({"stream_gopher": q_stream_gopher})
ORACLES.update({"stream_gopher": ORACLE_GOPHER_FILTER})


# --------------------------------------------------------------------------
# pipeline_lineage gate (VERDICT r4 #5, #10): the ORCHESTRATED DAG itself.
# Pipeline.run executes TWICE into a fresh warehouse (labels + page_links +
# redirects extraction → redirect closure → object resolution → ρdf
# entailment → graph tables), and the gate returns the lineage ledger
# summarized per stage:
# partition-row count, distinct runs that wrote the stage, and total output
# rows. The oracle recomputes every stage's row count in SQL from the page
# grammar AND pins n_runs = 1 — the second run must RESUME every committed
# stage (appending nothing), proving the fingerprint/commit/lineage
# bookkeeping end-to-end, not just per-operator output.
# --------------------------------------------------------------------------


def q_pipeline_lineage(spark, sf_dir):
    import tempfile

    from .pipeline import Pipeline, PipelineConfig

    wh = tempfile.mkdtemp(prefix="defs_pipe_gate_")
    pages = _pages(spark, sf_dir)
    cfg = PipelineConfig(
        warehouse=wh,
        extractors=["labels", "page_links", "redirects"],
        link_entities=False,
        canonicalize=False,
        use_disambiguation_set=False,
        # ρdf closure ships with the release: every resolved wiki link also
        # holds under its declared super-property (rdfs7) → `entailed` stage
        ontology={
            "subprop": spark.createDataFrame(
                [(S.DBO_WIKI_LINK, "http://example.org/linksTo")],
                ["src", "dst"],
            )
        },
    )
    Pipeline(spark, cfg).run(pages)
    Pipeline(spark, cfg).run(pages)  # must resume, not recompute
    lin = spark.read.parquet(wh + "/lineage")
    return lin.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("run_id").alias("n_runs"),
        F.sum("n_rows").alias("n_rows"),
    )


ORACLE_PIPELINE_LINEAGE = f"""
{_oracle_pages()},
lbl AS (SELECT '{RES}' || title AS subj FROM pages WHERE {_MAIN}),
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), t AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
), pl AS (
  SELECT DISTINCT '{RES}' || title AS subj,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS obj
  FROM t
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
), rd AS (
  SELECT '{RES}' || title AS subj, '{RES}Doc_' || (doc_id + 1) AS obj
  FROM pages WHERE {_ISREDIR}
), r AS (
  SELECT '{RES}Doc_' || doc_id AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
), walk AS (
  SELECT src, dst FROM r
  UNION ALL
  SELECT walk.src, r.dst FROM walk JOIN r ON walk.dst = r.src
), cl AS (
  SELECT src, dst FROM walk WHERE dst NOT IN (SELECT src FROM r)
), plr AS (
  SELECT pl.subj, coalesce(cl.dst, pl.obj) AS obj
  FROM pl LEFT JOIN cl ON pl.obj = cl.src
), c AS (
  SELECT (SELECT count(*) FROM lbl) AS n_lbl,
         (SELECT count(*) FROM pl) AS n_pl,
         (SELECT count(*) FROM rd) AS n_rd,
         (SELECT count(*) FROM cl) AS n_cl,
         (SELECT count(DISTINCT uri) FROM (
            SELECT subj AS uri FROM lbl
            UNION SELECT subj FROM plr UNION SELECT obj FROM plr
            UNION SELECT subj FROM rd UNION SELECT obj FROM rd)) AS n_nodes
)
SELECT stage, cast(n_parts AS bigint) AS n_parts,
       cast(1 AS bigint) AS n_runs, cast(n_rows AS bigint) AS n_rows
FROM (
  SELECT 'quads' AS stage, 3 AS n_parts, n_lbl + n_pl + n_rd AS n_rows FROM c
  UNION ALL SELECT 'redirect_closure', 1, n_cl FROM c
  UNION ALL SELECT 'quads_resolved', 3, n_lbl + n_pl + n_rd FROM c
  UNION ALL SELECT 'entailed', 1,
    (SELECT count(*) FROM (SELECT DISTINCT subj, obj FROM plr)) FROM c
  UNION ALL SELECT 'edges', 1, n_pl + n_rd FROM c
  UNION ALL SELECT 'literals', 1, n_lbl FROM c
  UNION ALL SELECT 'nodes', 1, n_nodes FROM c
  UNION ALL SELECT 'predicates', 1, 3 FROM c
)
"""

QUERIES.update({"pipeline_lineage": q_pipeline_lineage})
ORACLES.update({"pipeline_lineage": ORACLE_PIPELINE_LINEAGE})


# --------------------------------------------------------------------------
# Property-path hardening gates (VERDICT r4 #8).
#
# bgp_path_bounded — Jena-style bounded-length quantifier <p>{2,3}: pairs
#   connected by exactly 2 or 3 redirect hops; compiled as exact relation
#   powers unioned (no fixpoint). Oracle = depth-tracked recursive walk.
# bgp_graph_path — a closure path INSIDE GRAPH ?g: the whole path algebra
#   carries the graph as a join key, so reachability never crosses named
#   graphs. On this corpus each page's quads live in their own provenance
#   graph, so the per-graph closure is exactly the single-hop pairs —
#   observably different from the unscoped <p>+ gate (bgp_path), which
#   returns multi-hop pairs.
# --------------------------------------------------------------------------


def q_bgp_path_bounded(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "redirects")
    return bgp_query(
        quads,
        f"SELECT DISTINCT ?s ?t WHERE {{ "
        f"?s <{S.DBO_WIKI_REDIRECTS}>{{2,3}} ?t }}",
    )


ORACLE_BGP_PATH_BOUNDED = f"""
{_oracle_pages()},
r AS (
  SELECT '{RES}Doc_' || doc_id AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
),
walk AS (
  SELECT src, dst, 1 AS d FROM r
  UNION ALL
  SELECT walk.src, r.dst, walk.d + 1
  FROM walk JOIN r ON walk.dst = r.src WHERE walk.d < 3
)
SELECT DISTINCT src AS s, dst AS t FROM walk WHERE d BETWEEN 2 AND 3
"""


def q_bgp_graph_path(spark, sf_dir):
    from .bgp import bgp_query

    quads = extractor_df(_pages(spark, sf_dir), "redirects")
    return bgp_query(
        quads,
        f"SELECT ?g ?s ?t WHERE {{ GRAPH ?g {{ "
        f"?s <{S.DBO_WIKI_REDIRECTS}>+ ?t }} }}",
    )


ORACLE_BGP_GRAPH_PATH = f"""
{_oracle_pages()}
SELECT url || '#ts=2024-01-01T00:00:00' AS g,
       '{RES}Doc_' || doc_id AS s, '{RES}Doc_' || (doc_id + 1) AS t
FROM pages WHERE {_ISREDIR}
"""

QUERIES.update({
    "bgp_path_bounded": q_bgp_path_bounded,
    "bgp_graph_path": q_bgp_graph_path,
})
ORACLES.update({
    "bgp_path_bounded": ORACLE_BGP_PATH_BOUNDED,
    "bgp_graph_path": ORACLE_BGP_GRAPH_PATH,
})


# --------------------------------------------------------------------------
# url_fetch gate (VERDICT r4 "missing" #3): the distributed fetch stage
# (sources/fetch.py — the reference's download module, DistDownload.scala)
# driven through file:// URLs with CLOSED-FORM payloads, so the DuckDB
# oracle recomputes every byte count and payload md5 without a network.
# Two URLs point at missing files: those must fail PERMANENTLY with
# status='error' after exactly max_retries attempts (the re-queue
# contract that refetch_failures builds on).
# --------------------------------------------------------------------------

_FETCH_GATE_DIR = "/tmp/defs_fetch_gate"
_FETCH_N = 20


def q_url_fetch(spark, sf_dir):
    import os

    from ..sources.fetch import fetch_urls

    os.makedirs(_FETCH_GATE_DIR, exist_ok=True)
    for k in range(_FETCH_N):
        with open(f"{_FETCH_GATE_DIR}/f{k}.txt", "w") as f:
            f.write("x" * (50 * (k % 7 + 1)) + f"doc{k}")
    rows = [(f"file://{_FETCH_GATE_DIR}/f{k}.txt",) for k in range(_FETCH_N)]
    rows += [(f"file://{_FETCH_GATE_DIR}/missing{k}.txt",) for k in (0, 1)]
    urls = spark.createDataFrame(rows, ["url"])
    fetched = fetch_urls(urls, max_retries=3, backoff_s=0.01, splits_per_host=4)
    return fetched.select(
        "url",
        "status",
        F.col("attempts").cast("int").alias("attempts"),
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


ORACLE_URL_FETCH = f"""
WITH ks AS (SELECT unnest(range({_FETCH_N})) AS k)
SELECT 'file://{_FETCH_GATE_DIR}/f' || k || '.txt' AS url,
       'ok' AS status, cast(1 AS int) AS attempts,
       cast(50 * (k % 7 + 1) + length('doc' || k) AS bigint) AS n_bytes,
       md5(repeat('x', cast(50 * (k % 7 + 1) AS int)) || 'doc' || k)
         AS payload_md5
FROM ks
UNION ALL
SELECT 'file://{_FETCH_GATE_DIR}/missing' || k || '.txt' AS url,
       'error' AS status, cast(3 AS int) AS attempts,
       cast(NULL AS bigint) AS n_bytes, cast(NULL AS varchar) AS payload_md5
FROM (SELECT unnest(range(2)) AS k)
"""

QUERIES.update({"url_fetch": q_url_fetch})
ORACLES.update({"url_fetch": ORACLE_URL_FETCH})


# --------------------------------------------------------------------------
# content-hygiene gates (round 5): PII scrub, URL canonicalization+dedup,
# paragraph-level dedup. The synthetic documents carry no PII/URLs/
# paragraph structure, so each gate INJECTS them deterministically from
# doc_id on BOTH sides — the oracle rebuilds the identical input in SQL
# and recomputes the operator's exact semantics (patterns restricted to
# the Java-regex ∩ RE2 subset; see operators/scrub.py).
# --------------------------------------------------------------------------


def _docs_tbl(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pii_injected(docs):
    d = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit(" contact user"), d, F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 "),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("call +1415555"),
                         F.format_string("%04d", F.col("doc_id") % 10000)),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _pii_shape(report):
    return report.select(
        "id",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        "has_pii",
        "scrub_md5",
    )


def q_pii_scrub(spark, sf_dir):
    from ..operators.scrub import pii_report

    return _pii_shape(pii_report(_pii_injected(_docs_tbl(spark, sf_dir))))


def q_stream_pii(spark, sf_dir):
    """The pii_report projection run UNCHANGED under readStream
    (maxFilesPerTrigger=1 micro-batches, memory sink), gated against the
    SAME batch oracle — streaming scrubbing is hash-exact."""
    import tempfile
    import uuid

    from ..operators.scrub import pii_report
    from ..streaming.events import run_to_memory

    injected = _pii_injected(_docs_tbl(spark, sf_dir))
    d = tempfile.mkdtemp(prefix="defs_stream_pii_")
    injected.repartition(4).write.mode("overwrite").parquet(d)
    sdf = (
        spark.readStream.schema(injected.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = _pii_shape(pii_report(sdf))
    name = f"defs_stream_pii_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name)
    return spark.table(name)


_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IPV4_SQL = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
_PHONE_SQL = "\\+[0-9]{7,15}\\b|\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

ORACLE_PII_SCRUB = f"""
WITH injected AS (
  SELECT doc_id AS id,
         substr(text, 1, 80) || ' contact user' || doc_id
           || '@example.com from 10.0.' || (doc_id % 256) || '.7 '
           || CASE WHEN doc_id % 3 = 0
                   THEN 'call +1415555'
                        || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
                   ELSE '' END AS text
  FROM documents
)
SELECT id,
  cast(len(regexp_extract_all(text, '{_EMAIL_SQL}')) AS bigint) AS n_email,
  cast(len(regexp_extract_all(text, '{_IPV4_SQL}')) AS bigint) AS n_ipv4,
  cast(len(regexp_extract_all(text, '{_PHONE_SQL}')) AS bigint) AS n_phone,
  (len(regexp_extract_all(text, '{_EMAIL_SQL}')) > 0
   OR len(regexp_extract_all(text, '{_IPV4_SQL}')) > 0
   OR len(regexp_extract_all(text, '{_PHONE_SQL}')) > 0) AS has_pii,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
        '{_EMAIL_SQL}', '<EMAIL>', 'g'),
        '{_IPV4_SQL}', '<IP>', 'g'),
        '{_PHONE_SQL}', '<PHONE>', 'g')) AS scrub_md5
FROM injected
"""


def q_url_canonical(spark, sf_dir):
    from ..operators.scrub import url_dedup

    did = F.col("doc_id")
    urls = _docs_tbl(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.when(did % 2 == 0, F.lit("HTTP://WWW.")).otherwise(F.lit("https://")),
            F.lit("Example"), (did % 20).cast("string"), F.lit(".COM"),
            F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
            F.lit("/Path/"), (did % 50).cast("string"),
            F.when(did % 4 == 0, F.lit("?utm_source=x&b=2&a=1"))
            .when(did % 4 == 1, F.lit("?a=1&b=2&utm_campaign=z"))
            .otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return url_dedup(urls)


ORACLE_URL_CANONICAL = """
WITH u AS (
  SELECT doc_id AS id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'https://' END)
         || 'Example' || (doc_id % 20) || '.COM'
         || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
         || '/Path/' || (doc_id % 50)
         || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
                  WHEN doc_id % 4 = 1 THEN '?a=1&b=2&utm_campaign=z'
                  ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
), s1 AS (  -- strip fragment
  SELECT id, regexp_replace(url, '#.*$', '') AS url FROM u
), parts AS (
  SELECT id,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM s1
), hp AS (
  SELECT id, scheme,
         regexp_replace(regexp_replace(
                        lower(regexp_extract(rest, '^([^/?]+)', 1)),
                        '^[^@]*@', ''),
                        '^www\\.', '') AS hostport,
         regexp_replace(rest, '^[^/?]+', '') AS pathq
  FROM parts
), hp2 AS (
  SELECT id, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         coalesce(regexp_extract(pathq, '^([^?]*)', 1), '') AS path0,
         coalesce(regexp_extract(pathq, '\\?(.*)$', 1), '') AS query
  FROM hp
), canon AS (
  SELECT id,
         scheme || '://' || host
         || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
         || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url
  FROM (
    SELECT id, scheme, host, path0,
           coalesce(array_to_string(list_sort(
             list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
                  '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)='))), '&'), '') AS qs
    FROM hp2
  )
)
SELECT canonical_url, min(id) AS keeper_id,
       cast(count(*) AS bigint) AS n_variants
FROM canon GROUP BY canonical_url
"""


def q_paragraph_dedup(spark, sf_dir):
    from ..operators.dedup import paragraph_dedup

    injected = _docs_tbl(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 100), F.lit("\n\n"),
            F.lit("shared boilerplate block "),
            (F.col("doc_id") % 7).cast("string"), F.lit("\n\n"),
            F.substring("text", 101, 60),
        ).alias("text"),
    )
    out = paragraph_dedup(injected)
    return out.select(
        "id", "n_paras", "n_kept",
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
    )


ORACLE_PARAGRAPH_DEDUP = """
WITH d AS (
  SELECT doc_id AS id,
         substr(text, 1, 100) || chr(10) || chr(10)
         || 'shared boilerplate block ' || (doc_id % 7)
         || chr(10) || chr(10) || substr(text, 101, 60) AS text
  FROM documents
), p0 AS (
  SELECT id, cast(z[2] AS int) AS pos, trim(z[1]) AS para
  FROM (
    SELECT id, unnest(list_zip(paras, range(1, len(paras) + 1))) AS z
    FROM (SELECT id, string_split(text, chr(10) || chr(10)) AS paras FROM d)
  )
), p AS (SELECT * FROM p0 WHERE para <> ''),
r AS (
  SELECT id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY id, pos) AS rk
  FROM p
), g AS (
  SELECT id, count(*) AS n_paras,
         sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS n_kept,
         string_agg(CASE WHEN rk = 1 THEN para END,
                    chr(10) || chr(10) ORDER BY pos) AS text
  FROM r GROUP BY id
)
SELECT d.id, cast(coalesce(g.n_paras, 0) AS bigint) AS n_paras,
       cast(coalesce(g.n_kept, 0) AS bigint) AS n_kept,
       md5(coalesce(g.text, '')) AS text_md5
FROM d LEFT JOIN g ON d.id = g.id
"""

QUERIES.update({
    "pii_scrub": q_pii_scrub,
    "stream_pii": q_stream_pii,
    "url_canonical": q_url_canonical,
    "paragraph_dedup": q_paragraph_dedup,
})
ORACLES.update({
    "pii_scrub": ORACLE_PII_SCRUB,
    "stream_pii": ORACLE_PII_SCRUB,
    "url_canonical": ORACLE_URL_CANONICAL,
    "paragraph_dedup": ORACLE_PARAGRAPH_DEDUP,
})


# --------------------------------------------------------------------------
# seventh wave: webtext structured data, literal/identity canonicalization,
# unicode + sentence hygiene, LM quality scoring, duplicate-span census
# --------------------------------------------------------------------------

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def q_jsonld_extract(spark, sf_dir):
    """schema.org JSON-LD blocks embedded in synthetic crawl HTML →
    flattened triples (operators/structured_data.py). The HTML carries
    three blocks per page — a full Article node with a bnode author, a
    deliberately broken JSON payload (must be skipped silently), and a
    bnode-rooted WebSite node — plus attribute-case/quote-style variety
    to exercise the block regex. The oracle reconstructs the expected
    triples closed-form from the same documents columns."""
    from ..operators.structured_data import extract_jsonld

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    block1 = F.concat(
        F.lit('{"@context":"https://schema.org","@id":"https://ex.org/doc/'),
        d, F.lit('","@type":"Article","name":"'), w1,
        F.lit('","wordCount":'), F.col("n_chars").cast("string"),
        F.lit(',"keywords":["k'), (F.col("doc_id") % 3).cast("string"),
        F.lit('","shared"],"author":{"@type":"Person","name":"auth'),
        (F.col("doc_id") % 5).cast("string"), F.lit('"}}'),
    )
    block2 = F.concat(
        F.lit('{"@type":"WebSite","url":"https://site'),
        (F.col("doc_id") % 4).cast("string"), F.lit('.example.org"}'),
    )
    html = F.concat(
        F.lit('<html><head><SCRIPT TYPE="application/ld+json">'), block1,
        F.lit("</script><p>noise</p>"
              "<script type='application/ld+json'>{broken</script>"
              '<script async type="application/ld+json">'), block2,
        F.lit("</script></head><body>body text</body></html>"),
    )
    injected = docs.select("doc_id", html.alias("html"))
    out = extract_jsonld(injected, html_col="html", id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj",
                      "obj_kind")


ORACLE_JSONLD_EXTRACT = f"""
WITH base AS (
  SELECT doc_id,
         'https://ex.org/doc/' || doc_id AS s,
         '_:b' || doc_id || '_0_0' AS b1,
         '_:b' || doc_id || '_2_0' AS b2,
         split_part(text, ' ', 1) AS w1,
         cast(n_chars AS varchar) AS nc,
         'k' || (doc_id % 3) AS kw,
         'auth' || (doc_id % 5) AS auth,
         'https://site' || (doc_id % 4) || '.example.org' AS site
  FROM documents
)
SELECT doc_id, s AS subj, '{_RDF_TYPE}' AS pred, 'Article' AS obj,
       'uri' AS obj_kind FROM base
UNION ALL SELECT doc_id, s, 'name', w1, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'wordCount', nc, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'keywords', kw, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'keywords', 'shared', 'literal' FROM base
UNION ALL SELECT doc_id, s, 'author', b1, 'bnode' FROM base
UNION ALL SELECT doc_id, b1, '{_RDF_TYPE}', 'Person', 'uri' FROM base
UNION ALL SELECT doc_id, b1, 'name', auth, 'literal' FROM base
UNION ALL SELECT doc_id, b2, '{_RDF_TYPE}', 'WebSite', 'uri' FROM base
UNION ALL SELECT doc_id, b2, 'url', site, 'literal' FROM base
"""


def q_sameas_fusion(spark, sf_dir):
    """owl:sameAs-style identity fusion end-to-end: connected components
    over the redirect+interlanguage identity edges, then the page-links
    quads rewritten through the canonical mapping (operators/
    canonicalize.py: connected_components + canonicalize_quads) — the
    'one node per real-world entity' publish step. Oracle = recursive
    undirected closure + LEFT-JOIN rewrite in SQL."""
    from ..operators.canonicalize import (canonicalize_quads,
                                          connected_components)

    pages = _pages(spark, sf_dir)
    quads = extract_many(pages, ["page_links"]).select("subj", "pred", "obj")
    edges = extract_many(pages, ["redirects", "interlanguage_links"]).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    labels = connected_components(edges)
    return canonicalize_quads(quads, labels)


ORACLE_SAMEAS_FUSION = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), lt AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
), pl AS (
  SELECT DISTINCT '{RES}' || title AS subj, '{S.DBO_WIKI_LINK}' AS pred,
         '{RES}' || upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS obj
  FROM lt
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
), re AS (
  SELECT '{RES}' || title AS src, '{RES}Doc_' || (doc_id + 1) AS dst
  FROM pages WHERE {_ISREDIR}
), sa AS (
  SELECT '{RES}' || title AS src, '{RES_DE}Doc_' || doc_id AS dst
  FROM pages WHERE {_REGULAR} AND doc_id % 6 = 2
), sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM re UNION ALL SELECT dst, src FROM re
    UNION ALL SELECT src, dst FROM sa UNION ALL SELECT dst, src FROM sa
  ) WHERE u <> v
), reach AS (
  SELECT u AS vertex, v AS r FROM sym
  UNION
  SELECT reach.vertex, sym.v FROM reach JOIN sym ON reach.r = sym.u
), comp AS (
  SELECT vertex, least(vertex, min(r)) AS component
  FROM reach GROUP BY vertex
), m AS (
  SELECT vertex AS v, component AS c FROM comp WHERE component <> vertex
)
SELECT coalesce(ms.c, pl.subj) AS subj, pl.pred,
       coalesce(mo.c, pl.obj) AS obj
FROM pl LEFT JOIN m ms ON pl.subj = ms.v
        LEFT JOIN m mo ON pl.obj = mo.v
"""


def q_literal_canonical(spark, sf_dir):
    """XSD canonical lexical forms (operators/literals.py) over an
    injected typed-literal table covering every rule: signed/zero-padded
    integers, whitespace, boolean spellings, decimals needing point
    insertion / zero trimming / negative-zero collapse, a passthrough
    double, and an invalid lexical that must survive unchanged. The
    oracle re-implements the canonicalization in portable SQL."""
    from ..operators.literals import XSD, canonicalize_literals

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    rows = F.array(
        F.struct(F.lit("int_pos").alias("slot"),
                 F.concat(F.lit("+0"), (d % 100).cast("string")).alias("obj"),
                 F.lit(XSD + "integer").alias("datatype")),
        F.struct(F.lit("int_neg").alias("slot"),
                 F.concat(F.lit(" -0"), (d % 50).cast("string"), F.lit(" ")).alias("obj"),
                 F.lit(XSD + "long").alias("datatype")),
        F.struct(F.lit("bool").alias("slot"),
                 F.element_at(F.array(F.lit("TRUE"), F.lit("False"),
                                      F.lit("1"), F.lit("0")),
                              (d % 4).cast("int") + 1).alias("obj"),
                 F.lit(XSD + "boolean").alias("datatype")),
        F.struct(F.lit("dec_pad").alias("slot"),
                 F.concat(F.lit("+0"), (d % 7).cast("string"), F.lit(".50")).alias("obj"),
                 F.lit(XSD + "decimal").alias("datatype")),
        F.struct(F.lit("dec_int").alias("slot"),
                 F.concat(F.lit("0"), (d % 9).cast("string")).alias("obj"),
                 F.lit(XSD + "decimal").alias("datatype")),
        F.struct(F.lit("dbl_pass").alias("slot"), F.lit("1e3").alias("obj"),
                 F.lit(XSD + "double").alias("datatype")),
        F.struct(F.lit("bad_lex").alias("slot"), F.lit("abc").alias("obj"),
                 F.lit(XSD + "integer").alias("datatype")),
    )
    injected = docs.select("doc_id", F.explode(rows).alias("r")).select(
        "doc_id", "r.slot", "r.obj", "r.datatype"
    )
    return canonicalize_literals(injected).select("doc_id", "slot", "obj")


_XSD = "http://www.w3.org/2001/XMLSchema#"
ORACLE_LITERAL_CANONICAL = f"""
WITH inj AS (
  SELECT doc_id, 'int_pos' AS slot, '+0' || (doc_id % 100) AS raw,
         '{_XSD}integer' AS dt FROM documents
  UNION ALL SELECT doc_id, 'int_neg', ' -0' || (doc_id % 50) || ' ',
         '{_XSD}long' FROM documents
  UNION ALL SELECT doc_id, 'bool',
         (['TRUE','False','1','0'])[cast(doc_id % 4 AS int) + 1],
         '{_XSD}boolean' FROM documents
  UNION ALL SELECT doc_id, 'dec_pad', '+0' || (doc_id % 7) || '.50',
         '{_XSD}decimal' FROM documents
  UNION ALL SELECT doc_id, 'dec_int', '0' || (doc_id % 9),
         '{_XSD}decimal' FROM documents
  UNION ALL SELECT doc_id, 'dbl_pass', '1e3', '{_XSD}double' FROM documents
  UNION ALL SELECT doc_id, 'bad_lex', 'abc', '{_XSD}integer' FROM documents
), i0 AS (SELECT *, trim(raw) AS t FROM inj),
i1 AS (SELECT *, regexp_replace(t, '^\\+', '') AS s1 FROM i0),
i2 AS (SELECT *, regexp_replace(s1, '^(-?)0+([0-9])', '\\1\\2') AS int_c FROM i1),
i3 AS (SELECT *, CASE WHEN strpos(s1, '.') = 0 THEN s1 || '.0' ELSE s1 END AS d1 FROM i2),
i4 AS (SELECT *, regexp_replace(regexp_replace(d1, '^-\\.', '-0.'), '^\\.', '0.') AS d2 FROM i3),
i5 AS (SELECT *, regexp_replace(d2, '^(-?)0+([0-9])', '\\1\\2') AS d3 FROM i4),
i6 AS (SELECT *, regexp_replace(d3, '0+$', '') AS d4 FROM i5),
i7 AS (SELECT *, CASE WHEN d4 LIKE '%.' THEN d4 || '0' ELSE d4 END AS d5 FROM i6),
i8 AS (SELECT *, CASE WHEN d5 = '-0.0' THEN '0.0' ELSE d5 END AS dec_c FROM i7)
SELECT doc_id, slot,
  CASE
    WHEN dt IN ('{_XSD}integer', '{_XSD}long', '{_XSD}int', '{_XSD}short',
                '{_XSD}byte')
         AND regexp_matches(t, '^[+-]?[0-9]+$')
      THEN CASE WHEN int_c IN ('-0', '0') THEN '0' ELSE int_c END
    WHEN dt = '{_XSD}boolean' AND regexp_matches(t, '^(?i)(true|false|1|0)$')
      THEN CASE lower(t) WHEN '1' THEN 'true' WHEN '0' THEN 'false'
           ELSE lower(t) END
    WHEN dt = '{_XSD}decimal'
         AND regexp_matches(t, '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$')
      THEN dec_c
    ELSE raw
  END AS obj
FROM i8
"""


def q_unicode_nfc(spark, sf_dir):
    """NFC normalization + mojibake diagnostics (operators/scrub.py:
    normalize_unicode) over documents injected with NFD-decomposed
    accents (even ids), precomposed accents (odd ids: must be a no-op)
    and U+FFFD decoder damage (ids % 5 == 0). Oracle = DuckDB's
    nfc_normalize over the identically constructed input."""
    from ..operators.scrub import normalize_unicode

    docs = _docs_tbl(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(" cafe"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("e\u0301"))
            .otherwise(F.lit("\u00e9")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\ufffd"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = normalize_unicode(injected)
    return out.select(
        "doc_id",
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
        "was_changed", "n_replacement",
    )


ORACLE_UNICODE_NFC = """
WITH inj AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' cafe' ||
         CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769) ELSE chr(233) END ||
         CASE WHEN doc_id % 5 = 0 THEN chr(65533) ELSE '' END AS t
  FROM documents
)
SELECT doc_id, md5(nfc_normalize(t)) AS text_md5,
       nfc_normalize(t) <> t AS was_changed,
       cast(length(t) - length(replace(t, chr(65533), '')) AS int)
         AS n_replacement
FROM inj
"""


def q_sentence_stats(spark, sf_dir):
    """Sentence segmentation profile (functions/text.py: sentence_stats)
    over documents injected with ./!/? terminators and a trailing
    terminator-less fragment both engines must drop identically."""
    docs = _docs_tbl(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 50), F.lit(". "),
            F.substring("text", 51, 40), F.lit("! "),
            F.substring("text", 91, 30), F.lit("? trailing fragment"),
        ).alias("text"),
    )
    return T.sentence_stats(injected)


ORACLE_SENTENCE_STATS = """
WITH inj AS (
  SELECT doc_id,
         substr(text, 1, 50) || '. ' || substr(text, 51, 40) || '! ' ||
         substr(text, 91, 30) || '? trailing fragment' AS t
  FROM documents
), s AS (
  SELECT doc_id, regexp_extract_all(t, '([^.!?]+[.!?]+)', 1) AS sents
  FROM inj
)
SELECT doc_id, len(sents) AS n_sentences,
       round(cast(list_sum(list_transform(sents, x -> length(trim(x))))
                  AS double) / len(sents), 6) AS avg_sentence_chars,
       coalesce(list_max(list_transform(sents, x -> length(trim(x)))), 0)
         AS max_sentence_chars
FROM s
"""


def q_bigram_lm(spark, sf_dir):
    """Self-trained bigram-LM fluency scores (operators/curation.py:
    bigram_lm_scores) — CCNet-style perplexity-filter shape — vs a full
    SQL re-derivation (positions self-join, add-one smoothing, ln)."""
    from ..operators.curation import bigram_lm_scores

    return bigram_lm_scores(
        _docs_tbl(spark, sf_dir),
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


ORACLE_BIGRAM_LM = """
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS l
  FROM documents
), t AS (
  SELECT doc_id, z[1] AS tok, cast(z[2] AS int) AS pos
  FROM (SELECT doc_id, unnest(list_zip(l, range(1, len(l) + 1))) AS z FROM tk)
), bg AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
), v AS (
  SELECT count(DISTINCT tok) AS v FROM t
), sc AS (
  SELECT bg.doc_id, count(*) AS n_bigrams,
         round(avg(ln(cast(c12 + 1 AS double) / cast(c1 + v AS double))), 6)
           AS avg_logprob
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY bg.doc_id
)
SELECT d.doc_id, cast(coalesce(sc.n_bigrams, 0) AS bigint) AS n_bigrams,
       sc.avg_logprob
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


def q_dup_spans(spark, sf_dir):
    """Corpus-wide exact duplicate-span census (operators/dedup.py:
    duplicate_span_stats, the Lee et al. ExactSubstr detection signal)
    at n=8 over the raw documents table vs a SQL sliding-window
    re-derivation."""
    from ..operators.dedup import duplicate_span_stats

    return duplicate_span_stats(
        _docs_tbl(spark, sf_dir), n=8,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


ORACLE_DUP_SPANS = """
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS l
  FROM documents
), sp AS (
  SELECT doc_id, md5(array_to_string(l[i:i+7], ' ')) AS h
  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS i
        FROM tk WHERE len(l) >= 8)
), census AS (
  SELECT h, count(*) AS mult FROM sp GROUP BY h
), pd AS (
  SELECT sp.doc_id, count(*) AS n_spans,
         sum(CASE WHEN mult >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM sp JOIN census USING (h) GROUP BY sp.doc_id
)
SELECT d.doc_id, cast(coalesce(n_spans, 0) AS bigint) AS n_spans,
       cast(coalesce(n_dup, 0) AS bigint) AS n_dup_spans,
       round(cast(n_dup AS double) / n_spans, 6) AS dup_frac
FROM documents d LEFT JOIN pd USING (doc_id)
"""


QUERIES.update({
    "jsonld_extract": q_jsonld_extract,
    "sameas_fusion": q_sameas_fusion,
    "literal_canonical": q_literal_canonical,
    "unicode_nfc": q_unicode_nfc,
    "sentence_stats": q_sentence_stats,
    "bigram_lm": q_bigram_lm,
    "dup_spans": q_dup_spans,
})
ORACLES.update({
    "jsonld_extract": ORACLE_JSONLD_EXTRACT,
    "sameas_fusion": ORACLE_SAMEAS_FUSION,
    "literal_canonical": ORACLE_LITERAL_CANONICAL,
    "unicode_nfc": ORACLE_UNICODE_NFC,
    "sentence_stats": ORACLE_SENTENCE_STATS,
    "bigram_lm": ORACLE_BIGRAM_LM,
    "dup_spans": ORACLE_DUP_SPANS,
})


def _crawl_html(docs):
    """Shared synthetic crawl-HTML injection for the html_links/og_meta
    gates — built with the same string algebra the SQL oracle uses, so
    both engines run their regexes over byte-identical pages."""
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("text"), F.lit(" "), F.lit(2))
    return docs.select(
        "doc_id",
        F.concat(
            F.lit('<a href="https://out.example/'), (F.col("doc_id") % 10).cast("string"),
            F.lit('/a">'), w1, F.lit(" <b>x</b></a>"),
            F.lit("<a class='c' href='https://"), w2,
            F.lit(".example'>two words</a>"),
            F.lit('<META property="og:title" content="'), w1, F.lit('">'),
            F.lit('<meta content="desc '), d, F.lit('" name="description">'),
        ).alias("html"),
    )


def q_html_links(spark, sf_dir):
    """Crawl-side outlink extraction (operators/structured_data.py:
    extract_html_links) — the PageLinksExtractor analog for raw HTML —
    vs DuckDB running the IDENTICAL regex over byte-identical pages
    (cross-engine regex-semantics check, not a closed-form reconstruction)."""
    from ..operators.structured_data import extract_html_links

    out = extract_html_links(_crawl_html(_docs_tbl(spark, sf_dir)),
                             id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "href", "anchor")


ORACLE_HTML_LINKS = """
WITH inj AS (
  SELECT doc_id,
         '<a href="https://out.example/' || (doc_id % 10) || '/a">' ||
         split_part(text, ' ', 1) || ' <b>x</b></a>' ||
         '<a class=''c'' href=''https://' || split_part(text, ' ', 2) ||
         '.example''>two words</a>' ||
         '<META property="og:title" content="' || split_part(text, ' ', 1) ||
         '">' ||
         '<meta content="desc ' || doc_id || '" name="description">' AS h
  FROM documents
), z AS (
  SELECT doc_id, unnest(list_zip(
    regexp_extract_all(h, '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"'']+)["''][^>]*>(.*?)</a>', 1),
    regexp_extract_all(h, '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"'']+)["''][^>]*>(.*?)</a>', 2)
  )) AS p
  FROM inj
)
SELECT doc_id, p[1] AS href,
       trim(regexp_replace(p[2], '<[^>]+>', '', 'g')) AS anchor
FROM z
"""


def q_og_meta(spark, sf_dir):
    """Open Graph / meta-tag extraction (operators/structured_data.py:
    extract_meta_tags) covering BOTH attribute orders, vs DuckDB running
    the identical order-pair regexes over byte-identical pages."""
    from ..operators.structured_data import extract_meta_tags

    out = extract_meta_tags(_crawl_html(_docs_tbl(spark, sf_dir)),
                            id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "key", "content")


ORACLE_OG_META = """
WITH inj AS (
  SELECT doc_id,
         '<a href="https://out.example/' || (doc_id % 10) || '/a">' ||
         split_part(text, ' ', 1) || ' <b>x</b></a>' ||
         '<a class=''c'' href=''https://' || split_part(text, ' ', 2) ||
         '.example''>two words</a>' ||
         '<META property="og:title" content="' || split_part(text, ' ', 1) ||
         '">' ||
         '<meta content="desc ' || doc_id || '" name="description">' AS h
  FROM documents
), kc AS (
  SELECT doc_id, unnest(list_zip(
    regexp_extract_all(h, '(?is)<meta\\s(?:[^>]*[\\s"''])?(?:property|name)\\s*=\\s*["'']([^"'']+)["''][^>]*[\\s"'']content\\s*=\\s*["'']([^"'']*)["'']', 1),
    regexp_extract_all(h, '(?is)<meta\\s(?:[^>]*[\\s"''])?(?:property|name)\\s*=\\s*["'']([^"'']+)["''][^>]*[\\s"'']content\\s*=\\s*["'']([^"'']*)["'']', 2)
  )) AS p
  FROM inj
), ck AS (
  SELECT doc_id, unnest(list_zip(
    regexp_extract_all(h, '(?is)<meta\\s(?:[^>]*[\\s"''])?content\\s*=\\s*["'']([^"'']*)["''][^>]*[\\s"''](?:property|name)\\s*=\\s*["'']([^"'']+)["'']', 2),
    regexp_extract_all(h, '(?is)<meta\\s(?:[^>]*[\\s"''])?content\\s*=\\s*["'']([^"'']*)["''][^>]*[\\s"''](?:property|name)\\s*=\\s*["'']([^"'']+)["'']', 1)
  )) AS p
  FROM inj
)
SELECT doc_id, p[1] AS key, p[2] AS content FROM kc
UNION ALL
SELECT doc_id, p[1] AS key, p[2] AS content FROM ck
"""


QUERIES.update({"html_links": q_html_links, "og_meta": q_og_meta})
ORACLES.update({"html_links": ORACLE_HTML_LINKS, "og_meta": ORACLE_OG_META})


def q_curation_pipeline(spark, sf_dir):
    """The orchestrated CURATION DAG (plans/curate.py) end-to-end over
    the raw documents table — hygiene (NFC + PII scrub), Gopher
    admission as a pushed filter, exact dedup — run TWICE against the
    same warehouse (the second run must resume from the lineage ledger,
    adding no rows: n_runs = 1 per stage). Oracle = every stage's row
    count re-derived in SQL with the same normalize→scrub→verdict→
    distinct-digest composition."""
    import tempfile

    from .curate import CurationConfig, CurationPipeline

    wh = tempfile.mkdtemp(prefix="defs_curate_gate_")
    docs = _docs_tbl(spark, sf_dir)
    cfg = CurationConfig(
        warehouse=wh,
        gopher=dict(min_tokens=30, min_distinct_ratio=0.35,
                    max_top_bigram_frac=0.06),
    )
    CurationPipeline(spark, cfg).run(docs)
    CurationPipeline(spark, cfg).run(docs)  # must resume, not recompute
    lin = spark.read.parquet(wh + "/lineage")
    return lin.groupBy("stage").agg(
        F.countDistinct("run_id").alias("n_runs"),
        F.sum("n_rows").alias("n_rows"),
    )


ORACLE_CURATION_PIPELINE = f"""
WITH hyg AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           nfc_normalize(coalesce(text, '')),
           '{_EMAIL_SQL}', '<EMAIL>', 'g'),
           '{_IPV4_SQL}', '<IP>', 'g'),
           '{_PHONE_SQL}', '<PHONE>', 'g') AS t
  FROM documents
), ta AS (
  SELECT doc_id, t, regexp_extract_all(lower(t), '[a-z0-9]+') AS tk
  FROM hyg
), tc AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS token FROM ta)
  GROUP BY doc_id, token
), ts AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct
  FROM tc GROUP BY doc_id
), bt AS (
  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram
  FROM ta, LATERAL unnest(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) >= 2
), bc AS (SELECT doc_id, bigram, count(*) AS c FROM bt GROUP BY doc_id, bigram),
bs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bi_c
  FROM bc GROUP BY doc_id
), verdicts AS (
  SELECT ta.doc_id, ta.t,
         CASE WHEN coalesce(n_tokens, 0) < 30 THEN 'too_short'
              WHEN n_tokens > 100000 THEN 'too_long'
              WHEN round(n_distinct / n_tokens, 4) < 0.35 THEN 'low_diversity'
              WHEN coalesce(round(top_bi_c / n_bigrams, 4), 0.0) > 0.06
                THEN 'repetitive'
              ELSE 'keep' END AS verdict
  FROM ta LEFT JOIN ts ON ta.doc_id = ts.doc_id
          LEFT JOIN bs ON ta.doc_id = bs.doc_id
), admitted AS (SELECT doc_id, t FROM verdicts WHERE verdict = 'keep'),
c AS (
  SELECT (SELECT count(*) FROM documents) AS n_hyg,
         (SELECT count(*) FROM admitted) AS n_adm,
         (SELECT count(DISTINCT md5(t)) FROM admitted) AS n_uniq
)
SELECT stage, cast(1 AS bigint) AS n_runs, cast(n_rows AS bigint) AS n_rows
FROM (
  SELECT 'docs_hygiene' AS stage, n_hyg AS n_rows FROM c
  UNION ALL SELECT 'docs_admitted', n_adm FROM c
  UNION ALL SELECT 'docs_unique', n_uniq FROM c
)
"""

QUERIES.update({"curation_pipeline": q_curation_pipeline})
ORACLES.update({"curation_pipeline": ORACLE_CURATION_PIPELINE})


def q_web_kg_triples(spark, sf_dir):
    """The full crawl-page → KG composite (operators/structured_data.py:
    web_page_triples): outlinks + Open Graph metadata + JSON-LD entity
    triples + HTML5 microdata entity triples + RDFa-lite entity triples
    + has_entity provenance edges from ROOT nodes of all three entity
    channels, page node = url, all channels join-free via keep_cols
    passthrough. Oracle reconstructs all six channels closed-form (incl.
    the root/non-root distinction: the JSON-LD author bnode and the
    microdata maker bnode are objects, so they must NOT get a has_entity
    edge; the WebSite bnode, the Product itemid and the RDFa about
    subject must)."""
    from ..operators.structured_data import web_page_triples

    out = web_page_triples(_webkg_injected(spark, sf_dir), id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj",
                      "obj_kind")


def _webkg_injected(spark, sf_dir):
    """The six-channel synthetic crawl page shared by the batch
    (web_kg_triples) and streaming (stream_web_triples) composite gates
    — ONE construction so both run against byte-identical pages and the
    SAME oracle."""
    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("text"), F.lit(" "), F.lit(2))
    html = F.concat(
        F.lit('<a href="https://out.example/'), (F.col("doc_id") % 10).cast("string"),
        F.lit('/a">'), w1, F.lit(" <b>x</b></a>"),
        F.lit("<a class='c' href='https://"), w2, F.lit(".example'>two words</a>"),
        F.lit('<META property="og:title" content="'), w1, F.lit('">'),
        F.lit('<meta content="desc '), d, F.lit('" name="description">'),
        F.lit('<script type="application/ld+json">{"@id":"https://ex.org/doc/'),
        d, F.lit('","@type":"Article","author":{"name":"auth'),
        (F.col("doc_id") % 5).cast("string"), F.lit('"}}</script>'),
        F.lit('<script type="application/ld+json">{broken</script>'),
        F.lit('<script type="application/ld+json">'
              '{"@type":"WebSite","url":"https://site'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('.example.org"}</script>'
              '<div itemscope itemtype="https://schema.org/Product" '
              'itemid="https://ex.org/prod/'), d,
        F.lit('"><span itemprop="sku">sku'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</span><span itemprop="maker" itemscope>'
              '<span itemprop="name">m'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('</span></span></div>'
              '<span about="https://ex.org/ra/'), d,
        F.lit('" property="https://p/tag" content="t'),
        (F.col("doc_id") % 6).cast("string"),
        F.lit('"></span>'),
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("https://pages.example/"), d).alias("url"),
        html.alias("html"),
    )


ORACLE_WEB_KG_TRIPLES = f"""
WITH base AS (
  SELECT doc_id,
         'https://pages.example/' || doc_id AS s,
         'https://ex.org/doc/' || doc_id AS e,
         '_:b' || doc_id || '_0_0' AS b1,
         '_:b' || doc_id || '_2_0' AS b2,
         split_part(text, ' ', 1) AS w1,
         split_part(text, ' ', 2) AS w2,
         'auth' || (doc_id % 5) AS auth,
         'https://site' || (doc_id % 4) || '.example.org' AS site,
         'https://ex.org/prod/' || doc_id AS p,
         '_:m' || doc_id || '_0' AS m0,
         'sku' || (doc_id % 7) AS sku,
         'm' || (doc_id % 3) AS mk,
         'https://ex.org/ra/' || doc_id AS ra,
         't' || (doc_id % 6) AS ratag
  FROM documents
)
SELECT doc_id, s AS subj, 'links_to' AS pred,
       'https://out.example/' || (doc_id % 10) || '/a' AS obj,
       'uri' AS obj_kind FROM base
UNION ALL SELECT doc_id, s, 'links_to', 'https://' || w2 || '.example', 'uri'
  FROM base
UNION ALL SELECT doc_id, s, 'og:title', w1, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'description', 'desc ' || doc_id, 'literal'
  FROM base
UNION ALL SELECT doc_id, e, '{_RDF_TYPE}', 'Article', 'uri' FROM base
UNION ALL SELECT doc_id, e, 'author', b1, 'bnode' FROM base
UNION ALL SELECT doc_id, b1, 'name', auth, 'literal' FROM base
UNION ALL SELECT doc_id, b2, '{_RDF_TYPE}', 'WebSite', 'uri' FROM base
UNION ALL SELECT doc_id, b2, 'url', site, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'has_entity', e, 'uri' FROM base
UNION ALL SELECT doc_id, s, 'has_entity', b2, 'bnode' FROM base
UNION ALL SELECT doc_id, p, '{_RDF_TYPE}', 'https://schema.org/Product',
  'uri' FROM base
UNION ALL SELECT doc_id, p, 'sku', sku, 'literal' FROM base
UNION ALL SELECT doc_id, p, 'maker', m0, 'bnode' FROM base
UNION ALL SELECT doc_id, m0, 'name', mk, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'has_entity', p, 'uri' FROM base
UNION ALL SELECT doc_id, ra, 'https://p/tag', ratag, 'literal' FROM base
UNION ALL SELECT doc_id, s, 'has_entity', ra, 'uri' FROM base
"""

QUERIES.update({"web_kg_triples": q_web_kg_triples})
ORACLES.update({"web_kg_triples": ORACLE_WEB_KG_TRIPLES})


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous LPA community detection (operators/
    graph.py: label_propagation, 4 rounds, lexicographic tie-break) over
    the page_links graph vs a 4-round unrolled SQL oracle with the
    identical (count DESC, label ASC) argmax."""
    from ..operators.graph import label_propagation

    links = _x(spark, sf_dir, "page_links")
    edges = links.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return label_propagation(edges, rounds=4)


def _lpa_round_sql(i: int) -> str:
    p = i - 1
    return f""",
r{i} AS MATERIALIZED (
  SELECT sym.u AS vertex, l{p}.label, count(*) AS c
  FROM sym JOIN l{p} ON sym.v = l{p}.vertex
  GROUP BY sym.u, l{p}.label
), w{i} AS MATERIALIZED (
  SELECT vertex, label,
         row_number() OVER (PARTITION BY vertex
                            ORDER BY c DESC, label ASC) AS rk
  FROM r{i}
), l{i} AS MATERIALIZED (
  SELECT vertex, label FROM w{i} WHERE rk = 1
)"""


ORACLE_LABEL_PROPAGATION = f"""
{_oracle_pages()},
links AS (
  SELECT title, unnest(regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)) AS l
  FROM pages WHERE {_NONREDIR}
), lt AS (
  SELECT title, replace(trim(split_part(l, '|', 1)), ' ', '_') AS tgt FROM links
), pl AS (
  SELECT DISTINCT '{RES}' || title AS src, '{RES}' ||
         upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS dst
  FROM lt
  WHERE tgt <> '' AND tgt NOT LIKE 'Category:%'
    AND NOT regexp_matches(tgt, '^[a-z]{{2,3}}:')
), canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM pl WHERE src <> dst
), sym AS MATERIALIZED (
  SELECT u, v FROM canon UNION ALL SELECT v, u FROM canon
), l0 AS MATERIALIZED (
  SELECT DISTINCT u AS vertex, u AS label FROM sym
){_lpa_round_sql(1)}{_lpa_round_sql(2)}{_lpa_round_sql(3)}{_lpa_round_sql(4)}
SELECT vertex, label FROM l4
"""

QUERIES.update({"label_propagation": q_label_propagation})
ORACLES.update({"label_propagation": ORACLE_LABEL_PROPAGATION})


def q_latest_capture(spark, sf_dir):
    """Recrawl collapse (operators/scrub.py: latest_capture): newest
    capture per canonical URL with a deterministic (max ts, min id)
    keeper, over the url_canonical gate's messy-URL injection plus a
    synthetic per-capture timestamp. Oracle re-derives the FULL
    canonicalization chain and the same tie-break in SQL."""
    from ..operators.scrub import latest_capture

    did = F.col("doc_id")
    caps = _docs_tbl(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.when(did % 2 == 0, F.lit("HTTP://WWW.")).otherwise(F.lit("https://")),
            F.lit("Example"), (did % 20).cast("string"), F.lit(".COM"),
            F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
            F.lit("/Path/"), (did % 50).cast("string"),
            F.when(did % 4 == 0, F.lit("?utm_source=x&b=2&a=1"))
            .when(did % 4 == 1, F.lit("?a=1&b=2&utm_campaign=z"))
            .otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(doc_id % 7 as int), 0, 0)"
        ).alias("warc_ts"),
    )
    out = latest_capture(caps)
    return out.select(
        "canonical_url", "keeper_id",
        F.date_format("keeper_ts", "yyyy-MM-dd HH:mm:ss").alias("keeper_ts"),
        "n_captures",
    )


ORACLE_LATEST_CAPTURE = """
WITH u AS (
  SELECT doc_id AS id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'https://' END)
         || 'Example' || (doc_id % 20) || '.COM'
         || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
         || '/Path/' || (doc_id % 50)
         || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
                  WHEN doc_id % 4 = 1 THEN '?a=1&b=2&utm_campaign=z'
                  ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url,
         TIMESTAMP '2024-01-01 00:00:00'
           + INTERVAL (doc_id % 7) HOUR AS ts
  FROM documents
), s1 AS (
  SELECT id, ts, regexp_replace(url, '#.*$', '') AS url FROM u
), parts AS (
  SELECT id, ts,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM s1
), hp AS (
  SELECT id, ts, scheme,
         regexp_replace(regexp_replace(
                        lower(regexp_extract(rest, '^([^/?]+)', 1)),
                        '^[^@]*@', ''),
                        '^www\\.', '') AS hostport,
         regexp_replace(rest, '^[^/?]+', '') AS pathq
  FROM parts
), hp2 AS (
  SELECT id, ts, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         coalesce(regexp_extract(pathq, '^([^?]*)', 1), '') AS path0,
         coalesce(regexp_extract(pathq, '\\?(.*)$', 1), '') AS query
  FROM hp
), canon AS (
  SELECT id, ts,
         scheme || '://' || host
         || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
         || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url
  FROM (
    SELECT id, ts, scheme, host, path0,
           coalesce(array_to_string(list_sort(
             list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
                  '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)='))), '&'), '') AS qs
    FROM hp2
  )
), rk AS (
  SELECT canonical_url, id, ts,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY ts DESC, id ASC) AS r,
         count(*) OVER (PARTITION BY canonical_url) AS n_captures
  FROM canon
)
SELECT canonical_url, id AS keeper_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS keeper_ts,
       cast(n_captures AS bigint) AS n_captures
FROM rk WHERE r = 1
"""

QUERIES.update({"latest_capture": q_latest_capture})
ORACLES.update({"latest_capture": ORACLE_LATEST_CAPTURE})


# --------------------------------------------------------------------------
# eighth wave: microdata triples, HTML table grids, main-content blocks
# --------------------------------------------------------------------------


def q_microdata_extract(spark, sf_dir):
    """HTML5 microdata markup → triples (operators/microdata.py): an
    itemid'd Article carrying every value-resolution rule (text content
    with inline tags, content=, href, nested itemscope with bnode
    subject + parent link) plus a second itemid-less scope to pin the
    document-order bnode sequence. The oracle reconstructs the expected
    triples closed-form from the same documents columns (the WHATWG
    subset itself is pinned by tests/test_html_extract.py)."""
    from ..operators.microdata import extract_microdata

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("text"), F.lit(" "), F.lit(2))
    html = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/Article" '
              'itemid="https://ex.org/md/'), d, F.lit('">'
              '<h1 itemprop="headline">'), w1, F.lit(" <b>"), w2,
        F.lit('</b></h1><meta itemprop="wordCount" content="'),
        F.col("n_chars").cast("string"),
        F.lit('"><a itemprop="url" href="https://ex.org/md/'), d,
        F.lit('.html">x</a><span itemprop="author" itemscope '
              'itemtype="https://schema.org/Person">'
              '<span itemprop="name">auth'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('</span></span></div><div itemscope>'
              '<span itemprop="site">site'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("</span></div>"),
    )
    out = extract_microdata(docs.select("doc_id", html.alias("html")),
                            id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj",
                      "obj_kind")


ORACLE_MICRODATA_EXTRACT = f"""
WITH base AS (
  SELECT doc_id,
         'https://ex.org/md/' || doc_id AS a,
         '_:m' || doc_id || '_0' AS b0,
         '_:m' || doc_id || '_1' AS b1,
         trim(split_part(text, ' ', 1) || ' '
              || split_part(text, ' ', 2)) AS headline,
         cast(n_chars AS varchar) AS nc,
         'auth' || (doc_id % 5) AS auth,
         'site' || (doc_id % 4) AS site
  FROM documents
)
SELECT doc_id, a AS subj, '{_RDF_TYPE}' AS pred,
       'https://schema.org/Article' AS obj, 'uri' AS obj_kind FROM base
UNION ALL SELECT doc_id, a, 'headline', headline, 'literal' FROM base
UNION ALL SELECT doc_id, a, 'wordCount', nc, 'literal' FROM base
UNION ALL SELECT doc_id, a, 'url', a || '.html', 'uri' FROM base
UNION ALL SELECT doc_id, a, 'author', b0, 'bnode' FROM base
UNION ALL SELECT doc_id, b0, '{_RDF_TYPE}', 'https://schema.org/Person',
       'uri' FROM base
UNION ALL SELECT doc_id, b0, 'name', auth, 'literal' FROM base
UNION ALL SELECT doc_id, b1, 'site', site, 'literal' FROM base
"""


def q_html_tables(spark, sf_dir):
    """HTML table → cell grid (operators/structured_data.extract_tables):
    a header row, inline-tag + padding cleanup, a <th>/<td> mix, and a
    second (case-variant) table to pin table_idx ordering. Closed-form
    oracle; regex nesting/case behavior is pinned by pytest."""
    from ..operators.structured_data import extract_tables

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    html = F.concat(
        F.lit('<table class="t"><tr><th>k</th><th>v</th></tr>'
              "<tr><td><b>"), w1, F.lit("</b></td><td> "),
        F.col("n_chars").cast("string"),
        F.lit(" </td></tr><tr><td>lang</td><td>"), F.col("lang"),
        F.lit("</td></tr></table><TABLE><tr><td>doc "), d,
        F.lit("</td></tr></TABLE>"),
    )
    out = extract_tables(docs.select("doc_id", html.alias("html")),
                         id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "table_idx", "row_idx",
                      "col_idx", "is_header", "cell")


ORACLE_HTML_TABLES = """
WITH base AS (
  SELECT doc_id, split_part(text, ' ', 1) AS w1,
         cast(n_chars AS varchar) AS nc, lang
  FROM documents
)
SELECT doc_id, cast(0 AS int) AS table_idx, cast(0 AS int) AS row_idx,
       cast(0 AS int) AS col_idx, true AS is_header, 'k' AS cell FROM base
UNION ALL SELECT doc_id, 0, 0, 1, true, 'v' FROM base
UNION ALL SELECT doc_id, 0, 1, 0, false, w1 FROM base
UNION ALL SELECT doc_id, 0, 1, 1, false, nc FROM base
UNION ALL SELECT doc_id, 0, 2, 0, false, 'lang' FROM base
UNION ALL SELECT doc_id, 0, 2, 1, false, lang FROM base
UNION ALL SELECT doc_id, 1, 0, 0, false, 'doc ' || doc_id FROM base
"""


def q_main_content(spark, sf_dir):
    """Boilerplate segmentation (operators/structured_data.main_content):
    a long clean block (kept), a link-dense nav block (dropped), a
    too-short block (dropped), and a mixed text+anchor block — vs DuckDB
    re-running the IDENTICAL split/strip/anchor regexes over
    byte-identical pages (cross-engine regex + density-arithmetic
    check)."""
    from ..operators.structured_data import main_content

    docs = _docs_tbl(spark, sf_dir)
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    html = F.concat(
        F.lit("<div>"), F.substring("text", 1, 80),
        F.lit('</div><div><a href="/n1">nav</a> <a href="/n2">menu</a>'
              "</div><p>tiny</p><div>"),
        F.substring("text", 101, 40),
        F.lit(' <a href="/x">'), w1, F.lit("</a></div>"),
    )
    out = main_content(docs.select("doc_id", html.alias("html")),
                       id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "block_idx", "text",
                      "n_chars", "link_density", "kept")


_MC_SPLIT_SQL = (
    r"(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|"
    r"section|article|aside|nav|header|footer|blockquote|pre|figure)"
    r"\b[^>]*>"
)
_MC_A_SQL = (
    "(?is)<a\\s[^>]*href\\s*=\\s*[\"'']([^\"'']+)[\"''][^>]*>(.*?)</a>"
)

ORACLE_MAIN_CONTENT = f"""
WITH inj AS (
  SELECT doc_id,
         '<div>' || substr(text, 1, 80) ||
         '</div><div><a href="/n1">nav</a> <a href="/n2">menu</a>' ||
         '</div><p>tiny</p><div>' || substr(text, 101, 40) ||
         ' <a href="/x">' || split_part(text, ' ', 1) || '</a></div>' AS h
  FROM documents
), segs AS (
  SELECT doc_id, cast(z[2] AS int) - 1 AS block_idx, z[1] AS seg
  FROM (
    SELECT doc_id, unnest(list_zip(parts, range(1, len(parts) + 1))) AS z
    FROM (SELECT doc_id,
                 regexp_split_to_array(h, '{_MC_SPLIT_SQL}') AS parts
          FROM inj)
  )
), scored AS (
  SELECT doc_id, block_idx,
         trim(regexp_replace(seg, '<[^>]+>', '', 'g')) AS text,
         coalesce(list_sum(list_transform(
           regexp_extract_all(seg, '{_MC_A_SQL}', 2),
           x -> length(trim(regexp_replace(x, '<[^>]+>', '', 'g'))))),
           0) AS lc
  FROM segs
)
SELECT doc_id, block_idx, text, n_chars, link_density,
       (n_chars >= 30 AND link_density <= cast(0.4 AS double)) AS kept
FROM (
  SELECT doc_id, block_idx, text,
         cast(length(text) AS int) AS n_chars,
         least(cast(1.0 AS double),
               cast(lc AS double) / length(text)) AS link_density
  FROM scored WHERE length(text) > 0
)
"""

QUERIES.update({
    "microdata_extract": q_microdata_extract,
    "html_tables": q_html_tables,
    "main_content": q_main_content,
})
ORACLES.update({
    "microdata_extract": ORACLE_MICRODATA_EXTRACT,
    "html_tables": ORACLE_HTML_TABLES,
    "main_content": ORACLE_MAIN_CONTENT,
})


# --------------------------------------------------------------------------
# ninth wave: <link rel> relations, header-keyed table triples
# --------------------------------------------------------------------------


def q_link_rels(spark, sf_dir):
    """<link rel=…> extraction (operators/structured_data.
    extract_link_rels): canonical, alternate+hreflang in BOTH attribute
    orders and mixed case, a multi-valued rel, an href-less tag
    (dropped) and a rel-less tag (dropped) — vs DuckDB re-running the
    IDENTICAL tag/attribute regexes over byte-identical pages."""
    from ..operators.structured_data import extract_link_rels

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<link rel="canonical" href="https://canon.example/'), d,
        F.lit('"><link href="https://alt.example/'), d,
        F.lit('/de" hreflang="DE" REL="alternate">'
              "<link rel='Alternate am' href='https://alt.example/"), d,
        F.lit("/am'><link rel=\"stylesheet\"><link href=\"https://x/"), d,
        F.lit('">'),
    )
    out = extract_link_rels(docs.select("doc_id", html.alias("html")),
                            id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "rel", "href", "hreflang")


_LINKTAG_SQL = "(?is)<link\\s[^>]*>"
_REL_SQL = "(?is)\\brel\\s*=\\s*[\"'']([^\"'']+)[\"'']"
_HREF_SQL = "(?is)\\bhref\\s*=\\s*[\"'']([^\"'']+)[\"'']"
_HREFLANG_SQL = "(?is)\\bhreflang\\s*=\\s*[\"'']([^\"'']+)[\"'']"

ORACLE_LINK_RELS = f"""
WITH inj AS (
  SELECT doc_id,
         '<link rel="canonical" href="https://canon.example/' || doc_id ||
         '"><link href="https://alt.example/' || doc_id ||
         '/de" hreflang="DE" REL="alternate">' ||
         '<link rel=''Alternate am'' href=''https://alt.example/' ||
         doc_id || '/am''><link rel="stylesheet"><link href="https://x/' ||
         doc_id || '">' AS h
  FROM documents
), tags AS (
  SELECT doc_id, unnest(regexp_extract_all(h, '{_LINKTAG_SQL}')) AS tag
  FROM inj
)
SELECT doc_id,
       lower(coalesce(regexp_extract(tag, '{_REL_SQL}', 1), '')) AS rel,
       coalesce(regexp_extract(tag, '{_HREF_SQL}', 1), '') AS href,
       lower(coalesce(regexp_extract(tag, '{_HREFLANG_SQL}', 1), ''))
         AS hreflang
FROM tags
WHERE coalesce(regexp_extract(tag, '{_REL_SQL}', 1), '') <> ''
  AND coalesce(regexp_extract(tag, '{_HREF_SQL}', 1), '') <> ''
"""


def q_table_triples(spark, sf_dir):
    """Header-keyed table → triples (operators/structured_data.
    table_triples): a th-header table (tag-stripped headers, two body
    rows, one ragged cell dropped), a td-first table (skipped), and a
    case-variant single-column table. Closed-form oracle; the regex
    grid semantics are pinned by tests/test_html_extract.py."""
    from ..operators.structured_data import table_triples

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    html = F.concat(
        F.lit("<table><tr><th>word</th><th><i>chars</i></th></tr>"
              "<tr><td><b>"), w1, F.lit("</b></td><td> "),
        F.col("n_chars").cast("string"),
        F.lit(" </td><td>ragged</td></tr><tr><td>"), F.col("lang"),
        F.lit("</td></tr></table>"
              "<table><tr><td>no</td><td>hdr</td></tr></table>"
              "<TABLE><TR><TH>doc</TH></TR><TR><TD>"), d,
        F.lit("</TD></TR></TABLE>"),
    )
    injected = docs.select(
        "doc_id",
        F.concat(F.lit("https://pages.example/"), d).alias("url"),
        html.alias("html"),
    )
    out = table_triples(injected, id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj")


ORACLE_TABLE_TRIPLES = """
WITH base AS (
  SELECT doc_id, 'https://pages.example/' || doc_id AS u,
         split_part(text, ' ', 1) AS w1,
         cast(n_chars AS varchar) AS nc, lang
  FROM documents
)
SELECT doc_id, u || '#table0-row1' AS subj, 'word' AS pred, w1 AS obj
  FROM base
UNION ALL SELECT doc_id, u || '#table0-row1', 'chars', nc FROM base
UNION ALL SELECT doc_id, u || '#table0-row2', 'word', lang FROM base
UNION ALL SELECT doc_id, u || '#table2-row1', 'doc', cast(doc_id AS varchar)
  FROM base
"""

QUERIES.update({
    "link_rels": q_link_rels,
    "table_triples": q_table_triples,
})
ORACLES.update({
    "link_rels": ORACLE_LINK_RELS,
    "table_triples": ORACLE_TABLE_TRIPLES,
})


# --------------------------------------------------------------------------
# Round-5 close-out wave: the fourth structured-data syntax (RDFa-lite),
# Common-Crawl container ingest (WARC/WET), and link analytics over the
# crawl link channel.
# --------------------------------------------------------------------------

def q_rdfa_extract(spark, sf_dir):
    """RDFa-lite markup → triples (operators/rdfa.py): vocab + prefix
    scoping, a resource'd Article exercising every value-resolution rule
    (text content with inline tags, content=, href, object chaining to a
    generated bnode), an about'd paragraph with its own property+typeof,
    and a CURIE predicate. Oracle reconstructs the expected triples
    closed-form from the same documents columns (the RDFa-lite subset
    itself is pinned by tests/test_html_extract.py)."""
    from ..operators.rdfa import extract_rdfa

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("text"), F.lit(" "), F.lit(2))
    html = F.concat(
        F.lit('<html vocab="https://schema.org/" '
              'prefix="dc: http://purl.org/dc/terms/"><body>'
              '<div typeof="Article" resource="https://ex.org/ra/'), d,
        F.lit('"><h1 property="headline">'), w1, F.lit(" <b>"), w2,
        F.lit('</b></h1><meta property="wordCount" content="'),
        F.col("n_chars").cast("string"),
        F.lit('"><a property="url" href="https://ex.org/ra/'), d,
        F.lit('.html">x</a><div property="author" typeof="Person">'
              '<span property="name">auth'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('</span></div><span property="dc:tag">t'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('</span></div><p about="https://ex.org/doc/'), d,
        F.lit('" typeof="Note" property="dc:title">doc '), d,
        F.lit("</p></body></html>"),
    )
    out = extract_rdfa(docs.select("doc_id", html.alias("html")),
                       id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj",
                      "obj_kind")


ORACLE_RDFA_EXTRACT = f"""
WITH base AS (
  SELECT doc_id,
         'https://ex.org/ra/' || doc_id AS a,
         '_:r' || doc_id || '_0' AS b0,
         'https://ex.org/doc/' || doc_id AS n,
         trim(split_part(text, ' ', 1) || ' '
              || split_part(text, ' ', 2)) AS headline,
         cast(n_chars AS varchar) AS nc,
         'auth' || (doc_id % 5) AS auth,
         't' || (doc_id % 4) AS tag
  FROM documents
)
SELECT doc_id, a AS subj, '{_RDF_TYPE}' AS pred,
       'https://schema.org/Article' AS obj, 'uri' AS obj_kind FROM base
UNION ALL SELECT doc_id, a, 'https://schema.org/headline', headline,
  'literal' FROM base
UNION ALL SELECT doc_id, a, 'https://schema.org/wordCount', nc,
  'literal' FROM base
UNION ALL SELECT doc_id, a, 'https://schema.org/url', a || '.html',
  'uri' FROM base
UNION ALL SELECT doc_id, a, 'https://schema.org/author', b0, 'bnode'
  FROM base
UNION ALL SELECT doc_id, b0, '{_RDF_TYPE}', 'https://schema.org/Person',
  'uri' FROM base
UNION ALL SELECT doc_id, b0, 'https://schema.org/name', auth, 'literal'
  FROM base
UNION ALL SELECT doc_id, a, 'http://purl.org/dc/terms/tag', tag,
  'literal' FROM base
UNION ALL SELECT doc_id, n, '{_RDF_TYPE}', 'https://schema.org/Note',
  'uri' FROM base
UNION ALL SELECT doc_id, n, 'http://purl.org/dc/terms/title',
  'doc ' || doc_id, 'literal' FROM base
"""


def q_warc_roundtrip(spark, sf_dir):
    """WET-record render → parse roundtrip (sources/warc.py): documents
    become conversion records (URI/Date/Content-Language headers +
    text block), parse_warc_fragments — the same Catalyst projection
    read_warc applies to lineSep-split fragments — recovers the pages
    schema byte-exact. The file/split path (records straddling input
    splits, response-record payloads, warcinfo skipping) is pinned by
    tests/test_sources_warc.py."""
    from ..sources.warc import parse_warc_fragments, render_warc

    docs = _docs_tbl(spark, sf_dir)
    pages = docs.select(
        F.concat(F.lit("https://w.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00")
                             .cast("timestamp")) + F.col("doc_id")
        ).alias("warc_ts"),
        "text", "lang",
    )
    out = parse_warc_fragments(render_warc(pages), "record")
    return out.select("url", "warc_ts", "text", "lang")


ORACLE_WARC_ROUNDTRIP = """
SELECT 'https://w.example/' || doc_id AS url,
       TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND
         AS warc_ts,
       text, lang
FROM documents
"""


def q_host_graph(spark, sf_dir):
    """Host-level link graph (operators/structured_data.host_graph): two
    absolute outlinks (colliding across docs → real aggregation) plus a
    relative link rolling into the page's own host. Oracle recomputes
    the host roll-up from the same injected link set."""
    from ..operators.structured_data import host_graph

    docs = _docs_tbl(spark, sf_dir)
    html = F.concat(
        F.lit('<a href="https://h'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('.example/x">a</a><a href="https://h'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('.example/y">b</a><a href="/local">c</a>'),
    )
    url = F.concat(F.lit("https://site"),
                   (F.col("doc_id") % 4).cast("string"),
                   F.lit(".example/p"))
    return host_graph(
        docs.select("doc_id", html.alias("html"), url.alias("url")),
        id_col="doc_id",
    )


ORACLE_HOST_GRAPH = """
WITH base AS (
  SELECT 'site' || (doc_id % 4) || '.example' AS s,
         'h' || (doc_id % 5) || '.example' AS h1,
         'h' || (doc_id % 7) || '.example' AS h2
  FROM documents
), links AS (
  SELECT s, h1 AS d FROM base
  UNION ALL SELECT s, h2 FROM base
  UNION ALL SELECT s, s FROM base
)
SELECT s AS src_host, d AS dst_host, count(*) AS n_links
FROM links GROUP BY 1, 2
"""


def q_anchor_texts(spark, sf_dir):
    """Anchor-text index (operators/structured_data.anchor_text_index):
    two anchor variants per target (colliding across docs), an
    empty-anchor image link (dropped), top-2 per target with the
    deterministic (n desc, anchor asc) tie-break the oracle replays."""
    from ..operators.structured_data import anchor_text_index

    docs = _docs_tbl(spark, sf_dir)
    t = (F.col("doc_id") % 10).cast("string")
    html = F.concat(
        F.lit('<a href="https://t/'), t, F.lit('">name'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('</a><a href="https://t/'), t, F.lit('">alt'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('</a><a href="https://t/'), t,
        F.lit('"><img src="i.png"></a>'),
    )
    return anchor_text_index(
        docs.select("doc_id", html.alias("html")), id_col="doc_id", k=2
    )


ORACLE_ANCHOR_TEXTS = """
WITH pairs AS (
  SELECT 'https://t/' || (doc_id % 10) AS href,
         'name' || (doc_id % 3) AS anchor
  FROM documents
  UNION ALL
  SELECT 'https://t/' || (doc_id % 10), 'alt' || (doc_id % 5)
  FROM documents
), agg AS (
  SELECT href, anchor, count(*) AS n FROM pairs GROUP BY 1, 2
)
SELECT href, anchor, n, rank FROM (
  SELECT href, anchor, n,
         row_number() OVER (PARTITION BY href
                            ORDER BY n DESC, anchor) AS rank
  FROM agg
) WHERE rank <= 2
"""

QUERIES.update({
    "rdfa_extract": q_rdfa_extract,
    "warc_roundtrip": q_warc_roundtrip,
    "host_graph": q_host_graph,
    "anchor_texts": q_anchor_texts,
})
ORACLES.update({
    "rdfa_extract": ORACLE_RDFA_EXTRACT,
    "warc_roundtrip": ORACLE_WARC_ROUNDTRIP,
    "host_graph": ORACLE_HOST_GRAPH,
    "anchor_texts": ORACLE_ANCHOR_TEXTS,
})


def q_web_redirect_closure(spark, sf_dir):
    """Crawl-side redirect resolution end-to-end: synthetic WARC
    response records (doc_id % 4 == 0 → 200 final target, else 301 →
    Location one step down) are parsed (sources/warc.py — status +
    Location from the HTTP header section only), 3xx pairs harvested
    (web_redirects) and chains resolved by the SAME pointer-doubling
    closure the wiki path uses (operators/redirects.transitive_closure).
    Chains are length ≤ 3 by construction; the oracle maps every
    non-target straight to its chain head."""
    from ..operators.redirects import transitive_closure
    from ..sources.warc import parse_warc_fragments, web_redirects

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    is_redir = (F.col("doc_id") % 4) != 0
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: https://r.example/"), d,
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n\r\nHTTP/1.1 "),
        F.when(is_redir, F.lit("301 Moved Permanently\r\nLocation: "))
        .otherwise(F.lit("200 OK\r\nServer: t")),
        F.when(is_redir,
               F.concat(F.lit("https://r.example/"),
                        (F.col("doc_id") - 1).cast("string")))
        .otherwise(F.lit("")),
        F.lit("\r\n\r\n<html>body</html>\r\n\r\n"),
    )
    parsed = parse_warc_fragments(docs.select(rec.alias("record")),
                                  "record")
    return transitive_closure(web_redirects(parsed)).select("src", "dst")


ORACLE_WEB_REDIRECT_CLOSURE = """
SELECT 'https://r.example/' || doc_id AS src,
       'https://r.example/' || (doc_id - (doc_id % 4)) AS dst
FROM documents
WHERE doc_id % 4 <> 0
"""

QUERIES.update({"web_redirect_closure": q_web_redirect_closure})
ORACLES.update({"web_redirect_closure": ORACLE_WEB_REDIRECT_CLOSURE})


def q_sitemap_urls(spark, sf_dir):
    """Sitemap/sitemap-index parsing (sources/frontier.parse_sitemaps):
    a urlset with a fully-attributed entry + a loc-only entry + a
    loc-less entry (dropped), and an index entry (is_index=true), all
    from one page in one pass. Closed-form oracle."""
    from ..sources.frontier import parse_sitemaps

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit("<urlset><url><loc>https://s.example/"), d,
        F.lit("/a</loc><lastmod>2024-01-01</lastmod>"
              "<changefreq>daily</changefreq><priority>0."),
        (F.col("doc_id") % 9).cast("string"),
        F.lit("</priority></url><url><loc> https://s.example/"), d,
        F.lit("/b </loc></url><url><lastmod>2024</lastmod></url>"
              "</urlset><sitemapindex><sitemap><loc>https://s.example/"),
        d, F.lit("/s.xml</loc></sitemap></sitemapindex>"),
    )
    out = parse_sitemaps(docs.select("doc_id", xml.alias("xml")),
                         id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "loc", "lastmod",
                      "changefreq", "priority", "is_index")


ORACLE_SITEMAP_URLS = """
WITH base AS (
  SELECT doc_id, 'https://s.example/' || doc_id AS u,
         cast('0.' || (doc_id % 9) AS double) AS prio
  FROM documents
)
SELECT doc_id, u || '/a' AS loc, '2024-01-01' AS lastmod,
       'daily' AS changefreq, prio AS priority, false AS is_index
FROM base
UNION ALL SELECT doc_id, u || '/b', NULL, NULL, NULL, false FROM base
UNION ALL SELECT doc_id, u || '/s.xml', NULL, NULL, NULL, true FROM base
"""


def q_robots_rules(spark, sf_dir):
    """robots.txt group parsing (sources/frontier.parse_robots): a
    two-agent group on even docs (every rule fans out to BOTH agents —
    the RFC 9309 group model), comment/blank stripping, a second
    wildcard group, and a group-independent Sitemap line. Closed-form
    oracle replays the group fan-out."""
    from ..sources.frontier import parse_robots

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    txt = F.concat(
        F.lit("# robots for doc\nUser-agent: bot"),
        (F.col("doc_id") % 3).cast("string"),
        F.when((F.col("doc_id") % 2) == 0,
               F.lit("\nUser-agent: alt")).otherwise(F.lit("")),
        F.lit("\nDisallow: /p"), (F.col("doc_id") % 4).cast("string"),
        F.lit("  # inline\nAllow: /p"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("/ok\n\nUser-agent: *\nCrawl-delay: "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("\nSitemap: https://s.example/"), d, F.lit(".xml\n"),
    )
    out = parse_robots(docs.select("doc_id", txt.alias("text")),
                       id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "agent", "directive",
                      "value")


ORACLE_ROBOTS_RULES = """
WITH base AS (
  SELECT doc_id, 'bot' || (doc_id % 3) AS b, doc_id % 2 = 0 AS two,
         '/p' || (doc_id % 4) AS p, cast(doc_id % 7 AS varchar) AS cd,
         'https://s.example/' || doc_id || '.xml' AS sm
  FROM documents
), agents AS (
  SELECT doc_id, b AS agent, p FROM base
  UNION ALL SELECT doc_id, 'alt', p FROM base WHERE two
)
SELECT doc_id, agent, 'disallow' AS directive, p AS value FROM agents
UNION ALL SELECT doc_id, agent, 'allow', p || '/ok' FROM agents
UNION ALL SELECT doc_id, '*', 'crawl-delay', cd FROM base
UNION ALL SELECT doc_id, NULL, 'sitemap', sm FROM base
"""

QUERIES.update({
    "sitemap_urls": q_sitemap_urls,
    "robots_rules": q_robots_rules,
})
ORACLES.update({
    "sitemap_urls": ORACLE_SITEMAP_URLS,
    "robots_rules": ORACLE_ROBOTS_RULES,
})


def q_robots_admission(spark, sf_dir):
    """Frontier fetch admission (sources/frontier.robots_admission):
    rules from 20 synthetic robots groups over 5 hosts (mybot + * groups
    both present — the specific group must shadow *), frontier URLs
    hitting a disallowed prefix, a LONGER allow override, an unmatched
    path, and a rule-less host. Oracle replays the longest-prefix /
    allow-beats-disallow argmax (same lexicographic struct order)."""
    from ..sources.frontier import robots_admission

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example"))
    agent = F.when(d % 2 == 0, F.lit("mybot")).otherwise(F.lit("*"))
    p = F.concat(F.lit("/p"), (d % 4).cast("string"))
    rule_docs = docs.filter(d < 20)
    rules = rule_docs.select(
        host.alias("host"), agent.alias("agent"),
        F.lit("disallow").alias("directive"), p.alias("value"),
    ).unionByName(rule_docs.select(
        host.alias("host"), agent.alias("agent"),
        F.lit("allow").alias("directive"),
        F.concat(p, F.lit("/ok")).alias("value"),
    ))
    url = F.when(
        d % 7 == 0,
        F.concat(F.lit("https://h9.example/p0/x"), ds),
    ).otherwise(F.concat(
        F.lit("https://"), host,
        F.when(d % 3 == 0, F.concat(p, F.lit("/x"), ds))
        .when(d % 3 == 1, F.concat(p, F.lit("/ok/y"), ds))
        .otherwise(F.concat(F.lit("/free"), ds)),
    ))
    frontier = docs.select(url.alias("url"))
    return robots_admission(frontier, rules, agent="mybot")


ORACLE_ROBOTS_ADMISSION = """
WITH f AS (
  SELECT CASE WHEN doc_id % 7 = 0
              THEN 'https://h9.example/p0/x' || doc_id
              ELSE 'https://h' || (doc_id % 5) || '.example' ||
                CASE doc_id % 3
                  WHEN 0 THEN '/p' || (doc_id % 4) || '/x' || doc_id
                  WHEN 1 THEN '/p' || (doc_id % 4) || '/ok/y' || doc_id
                  ELSE '/free' || doc_id END
         END AS url,
         CASE WHEN doc_id % 7 = 0 THEN 'h9.example'
              ELSE 'h' || (doc_id % 5) || '.example' END AS host,
         CASE WHEN doc_id % 7 = 0 THEN '/p0/x' || doc_id
              ELSE CASE doc_id % 3
                  WHEN 0 THEN '/p' || (doc_id % 4) || '/x' || doc_id
                  WHEN 1 THEN '/p' || (doc_id % 4) || '/ok/y' || doc_id
                  ELSE '/free' || doc_id END
         END AS path
  FROM documents
), r AS (
  SELECT DISTINCT 'h' || (doc_id % 5) || '.example' AS host,
         'disallow' AS directive, '/p' || (doc_id % 4) AS rule_path
  FROM documents WHERE doc_id < 20 AND doc_id % 2 = 0
  UNION
  SELECT DISTINCT 'h' || (doc_id % 5) || '.example',
         'allow', '/p' || (doc_id % 4) || '/ok'
  FROM documents WHERE doc_id < 20 AND doc_id % 2 = 0
), m AS (
  SELECT f.url, r.directive, r.rule_path
  FROM f JOIN r ON f.host = r.host
  WHERE f.path LIKE r.rule_path || '%'
  QUALIFY row_number() OVER (
    PARTITION BY f.url
    ORDER BY length(r.rule_path) DESC,
             (r.directive = 'allow') DESC, r.rule_path DESC) = 1
)
SELECT f.url,
       coalesce(m.directive = 'allow', true) AS allowed,
       m.rule_path
FROM f LEFT JOIN m ON f.url = m.url
"""

QUERIES.update({"robots_admission": q_robots_admission})
ORACLES.update({"robots_admission": ORACLE_ROBOTS_ADMISSION})


def q_webkg_pipeline(spark, sf_dir):
    """The orchestrated WEBTEXT KG DAG (plans/webkg.py) end-to-end:
    recrawl collapse → HTTP redirect closure (301 pages synthesized on
    doc_id%5==1) → shuffle-free crawl composite → closure-resolved
    triples → skolemized N-Triples export — run TWICE against the same
    warehouse (second run must resume: n_runs=1 per stage). Oracle =
    every stage's lineage row total re-derived closed-form."""
    import tempfile

    from .webkg import WebKGConfig, WebKGPipeline

    wh = tempfile.mkdtemp(prefix="defs_webkg_gate_")
    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    is_redir = d % 5 == 1
    html = F.when(is_redir, F.lit(None).cast("string")).otherwise(F.concat(
        F.lit('<a href="https://w.example/'), (d + 1).cast("string"),
        F.lit('">n</a><meta property="og:t" content="c'),
        (d % 3).cast("string"),
        F.lit('"><script type="application/ld+json">'
              '{"@id":"https://ent.example/'), ds,
        F.lit('","k":"v"}</script>'),
    ))
    pages = docs.select(
        F.concat(F.lit("https://w.example/"), ds).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        html.alias("html"),
        F.when(is_redir, F.lit(301)).otherwise(F.lit(200))
        .alias("http_status"),
        F.when(is_redir, F.concat(F.lit("https://w.example/"),
                                  (d - 1).cast("string")))
        .alias("http_location"),
    )
    cfg = WebKGConfig(warehouse=wh, output_formats={"nt": "n-triples"})
    WebKGPipeline(spark, cfg).run(pages)
    WebKGPipeline(spark, cfg).run(pages)  # must resume, not recompute
    lin = spark.read.parquet(wh + "/lineage")
    return lin.groupBy("stage").agg(
        F.countDistinct("run_id").alias("n_runs"),
        F.sum("n_rows").alias("n_rows"),
    )


ORACLE_WEBKG_PIPELINE = """
WITH c AS (
  SELECT count(*) AS n_pages,
         count(*) FILTER (doc_id % 5 = 1) AS n_redir,
         count(*) FILTER (doc_id % 5 <> 1) AS n_html
  FROM documents
)
SELECT stage, cast(1 AS bigint) AS n_runs, cast(n_rows AS bigint) AS n_rows
FROM (
  SELECT 'web_pages' AS stage, n_pages AS n_rows FROM c
  UNION ALL SELECT 'web_redirect_closure', n_redir FROM c
  UNION ALL SELECT 'web_triples', 4 * n_html FROM c
  UNION ALL SELECT 'web_triples_resolved', 4 * n_html FROM c
  UNION ALL SELECT 'exports', 4 * n_html FROM c
)
"""

QUERIES.update({"webkg_pipeline": q_webkg_pipeline})
ORACLES.update({"webkg_pipeline": ORACLE_WEBKG_PIPELINE})


def q_stream_web_triples(spark, sf_dir):
    """The crawl-page → KG composite run as a STREAM (parquet source,
    maxFilesPerTrigger=1 → genuinely incremental micro-batches, memory
    sink driven to completion) over the SAME injected pages as
    web_kg_triples, gated against the SAME batch oracle — streaming
    parity for the webtext path is hash-exact, not rows-only."""
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="defs_stream_crawl_")
    _webkg_injected(spark, sf_dir).repartition(4).write.mode(
        "overwrite").parquet(d)
    q = STR.stream_web_triples(spark, d)
    name = f"defs_stream_webkg_{uuid.uuid4().hex[:8]}"
    STR.run_to_memory(q, name)
    return spark.table(name).select(
        F.col("id").alias("doc_id"), "subj", "pred", "obj", "obj_kind"
    )


QUERIES.update({"stream_web_triples": q_stream_web_triples})
ORACLES.update({"stream_web_triples": ORACLE_WEB_KG_TRIPLES})


# --------------------------------------------------------------------------
# Crawl-index wave: SURT/CDX records, canonical + hreflang collapse,
# pagination chains, per-host politeness scheduling, feed parsing.
# --------------------------------------------------------------------------


def q_cdx_index(spark, sf_dir):
    """CDX record generation (operators/webarchive.cdx_index): SURT key
    (case-fold, www/default-port strip, label reversal, tracking-param
    drop + bytewise query sort), 14-digit timestamp, mime sniff, md5
    digest, byte length — closed-form oracle (the SURT of the injected
    URL is string-arithmetic derivable; hostile forms are pinned by
    tests/test_webarchive.py)."""
    from ..operators.webarchive import cdx_index

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    pages = docs.select(
        F.concat(F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".Example.COM:443/p/"), d,
                 F.lit("?utm_source=x&b=2&a=1#f")).alias("url"),
        F.lit("2024-01-02 03:04:05").cast("timestamp").alias("warc_ts"),
        F.concat(F.lit("<p>doc "), d, F.lit("</p>")).alias("html"),
    )
    return cdx_index(pages)


ORACLE_CDX_INDEX = """
SELECT 'com,example,site' || (doc_id % 7) || ')/p/' || doc_id ||
         '?a=1&b=2' AS surt,
       '20240102030405' AS ts,
       'HTTPS://WWW.Site' || (doc_id % 7) || '.Example.COM:443/p/' ||
         doc_id || '?utm_source=x&b=2&a=1#f' AS url,
       'text/html' AS mime,
       cast(200 AS int) AS status,
       md5('<p>doc ' || doc_id || '</p>') AS digest,
       cast(strlen('<p>doc ' || doc_id || '</p>') AS bigint) AS length
FROM documents
"""


def q_canonical_collapse(spark, sf_dir):
    """rel=canonical collapse (operators/webarchive.canonical_collapse):
    absolute canonical (pages collapse in groups of 3), root-relative
    resolved against the page origin, tag-less pages self-canonical.
    First-wins / non-http / dotted-relative behavior is pinned by
    tests/test_webarchive.py."""
    from ..operators.webarchive import canonical_collapse

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    url = F.concat(F.lit("https://h"), (d % 4).cast("string"),
                   F.lit(".example/p/"), ds)
    html = (
        F.when(d % 3 == 0, F.lit("<p>none</p>"))
        .when(d % 9 == 1, F.lit('<link rel="canonical" href="/base"><p>x</p>'))
        .otherwise(F.concat(
            F.lit('<link rel="canonical" href="https://c.example/'),
            (d - d % 3).cast("string"), F.lit('"><p>x</p>'),
        ))
    )
    out = canonical_collapse(
        docs.select("doc_id", url.alias("url"), html.alias("html")),
        id_col="doc_id",
    )
    return out.select(F.col("id").alias("doc_id"), "url", "canonical",
                      "is_self")


ORACLE_CANONICAL_COLLAPSE = """
WITH base AS (
  SELECT doc_id,
         'https://h' || (doc_id % 4) || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT doc_id, url,
       CASE WHEN doc_id % 3 = 0 THEN url
            WHEN doc_id % 9 = 1
              THEN 'https://h' || (doc_id % 4) || '.example/base'
            ELSE 'https://c.example/' || (doc_id - doc_id % 3)
       END AS canonical,
       doc_id % 3 = 0 AS is_self
FROM base
"""


def q_hreflang_clusters(spark, sf_dir):
    """hreflang alternate clustering (operators/webarchive.
    hreflang_clusters): two alternate declarations per page (attribute
    order and case varied, one multi-valued rel), cluster id = bytewise-
    least member of the declared set — identical for every member, zero
    shuffles; alternate-without-hreflang exclusion pinned by
    tests/test_webarchive.py."""
    from ..operators.webarchive import hreflang_clusters

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    g = (d - d % 2).cast("string")
    url = F.concat(F.lit("https://z.example/"), d.cast("string"))
    html = F.when(d % 5 == 0, F.lit("<p>no alts</p>")).otherwise(F.concat(
        F.lit('<link rel="alternate" hreflang="en" href="https://a.example/'),
        g, F.lit('/en"><link hreflang="DE" rel="alternate nofollow" '
                 'href="https://a.example/'), g, F.lit('/de">'),
    ))
    out = hreflang_clusters(
        docs.select("doc_id", url.alias("url"), html.alias("html")),
        id_col="doc_id",
    )
    return out.select(F.col("id").alias("doc_id"), "url", "cluster_id",
                      F.col("n_alternates").cast("int").alias("n_alternates"))


ORACLE_HREFLANG_CLUSTERS = """
SELECT doc_id,
       'https://z.example/' || doc_id AS url,
       CASE WHEN doc_id % 5 = 0 THEN 'https://z.example/' || doc_id
            ELSE 'https://a.example/' || (doc_id - doc_id % 2) || '/de'
       END AS cluster_id,
       cast(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 2 END AS int)
         AS n_alternates
FROM documents
"""


def q_pagination_chains(spark, sf_dir):
    """rel=next chain assembly (operators/webarchive.pagination_chains):
    pages form chains of 4 (head = doc_id - doc_id%4) via the reversed-
    edge pointer-doubling closure; every page is emitted with its chain
    head. Cycle-drop / standalone / root-relative behavior pinned by
    tests/test_webarchive.py."""
    from ..operators.webarchive import pagination_chains

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://p.example/"), d.cast("string"))
    html = F.when(d % 4 < 3, F.concat(
        F.lit('<link rel="next" href="https://p.example/'),
        (d + 1).cast("string"), F.lit('">'),
    )).otherwise(F.lit("<p>end</p>"))
    return pagination_chains(
        docs.select(url.alias("url"), html.alias("html"))
    )


ORACLE_PAGINATION_CHAINS = """
SELECT 'https://p.example/' || (doc_id - doc_id % 4) AS chain_id,
       'https://p.example/' || doc_id AS url
FROM documents
"""


def q_fetch_schedule(spark, sf_dir):
    """Per-host politeness scheduling (operators/webarchive.
    fetch_schedule): slot = priority-then-URL rank within host,
    scheduled_at = slot x robots crawl-delay (host-keyed broadcast
    join; one host missing from the delay table exercises the
    default)."""
    from ..operators.webarchive import fetch_schedule

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    frontier = docs.select(
        F.concat(F.lit("https://h"), (d % 5).cast("string"),
                 F.lit(".example/p/"), d.cast("string")).alias("url"),
        (d % 7).cast("double").alias("prio"),
    )
    delays = spark.range(4).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        ((F.col("id") + 1).cast("double") * F.lit(0.5))
        .alias("crawl_delay"),
    )
    return fetch_schedule(frontier, delays, priority_col="prio",
                          default_delay=1.0)


ORACLE_FETCH_SCHEDULE = """
WITH f AS (
  SELECT 'https://h' || (doc_id % 5) || '.example/p/' || doc_id AS url,
         'h' || (doc_id % 5) || '.example' AS host,
         cast(doc_id % 7 AS double) AS prio,
         doc_id % 5 AS hk
  FROM documents
), s AS (
  SELECT url, host,
         cast(row_number() OVER (PARTITION BY host
                                 ORDER BY prio DESC, url) - 1 AS bigint)
           AS slot,
         CASE WHEN hk < 4 THEN cast(hk + 1 AS double) * cast(0.5 AS double)
              ELSE cast(1.0 AS double) END AS delay
  FROM f
)
SELECT url, host, slot, slot * delay AS scheduled_at FROM s
"""


def q_feed_entries(spark, sf_dir):
    """RSS/Atom feed parsing (sources/feeds.parse_feeds): even docs get
    an RSS feed (CDATA title, whitespace-padded link, a link-less item
    occupying an index but dropped), odd docs an Atom feed (href-
    attribute link, self-closing); closed-form oracle by parity."""
    from ..sources.feeds import parse_feeds

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    rss = F.concat(
        F.lit("<rss><channel><item><title><![CDATA[T"), ds,
        F.lit("]]></title><link> https://f.example/"), ds,
        F.lit("/1 </link><guid>g"), ds,
        F.lit("</guid><pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>"
              "</item><item><title>nolink</title></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit("<feed><entry><title>A"), ds,
        F.lit('</title><link rel="alternate" href="https://f.example/'), ds,
        F.lit('/a"/><id>urn:'), ds,
        F.lit("</id><updated>2024-01-01T00:00:00Z</updated></entry></feed>"),
    )
    feeds = docs.select(
        "doc_id",
        F.when(d % 2 == 0, rss).otherwise(atom).alias("xml"),
    )
    out = parse_feeds(feeds, id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "kind", "entry_idx",
                      "title", "link", "entry_id", "ts_raw")


ORACLE_FEED_ENTRIES = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       cast(0 AS int) AS entry_idx,
       CASE WHEN doc_id % 2 = 0 THEN 'T' || doc_id
            ELSE 'A' || doc_id END AS title,
       CASE WHEN doc_id % 2 = 0 THEN 'https://f.example/' || doc_id || '/1'
            ELSE 'https://f.example/' || doc_id || '/a' END AS link,
       CASE WHEN doc_id % 2 = 0 THEN 'g' || doc_id
            ELSE 'urn:' || doc_id END AS entry_id,
       CASE WHEN doc_id % 2 = 0 THEN 'Mon, 01 Jan 2024 00:00:00 GMT'
            ELSE '2024-01-01T00:00:00Z' END AS ts_raw
FROM documents
"""


QUERIES.update({
    "cdx_index": q_cdx_index,
    "canonical_collapse": q_canonical_collapse,
    "hreflang_clusters": q_hreflang_clusters,
    "pagination_chains": q_pagination_chains,
    "fetch_schedule": q_fetch_schedule,
    "feed_entries": q_feed_entries,
})
ORACLES.update({
    "cdx_index": ORACLE_CDX_INDEX,
    "canonical_collapse": ORACLE_CANONICAL_COLLAPSE,
    "hreflang_clusters": ORACLE_HREFLANG_CLUSTERS,
    "pagination_chains": ORACLE_PAGINATION_CHAINS,
    "fetch_schedule": ORACLE_FETCH_SCHEDULE,
    "feed_entries": ORACLE_FEED_ENTRIES,
})


def q_recrawl_diff(spark, sf_dir):
    """Capture diff across two crawl snapshots (operators/webarchive.
    recrawl_diff): co-partitioned full-outer join on the capture key
    classifying added / removed / changed / unchanged by payload digest
    — doc_id%5==0 vanishes from the new crawl, %3==0 survivors change
    payload, %7==0 contributes brand-new URLs."""
    from ..operators.webarchive import recrawl_diff

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    url = F.concat(F.lit("https://r.example/"), ds)
    old = docs.select(url.alias("url"),
                      F.md5(F.concat(F.lit("v"), ds)).alias("digest"))
    new = docs.filter(d % 5 != 0).select(
        url.alias("url"),
        F.md5(F.concat(
            F.when(d % 3 == 0, F.lit("w")).otherwise(F.lit("v")), ds
        )).alias("digest"),
    ).unionByName(docs.filter(d % 7 == 0).select(
        F.concat(F.lit("https://r.example/x"), ds).alias("url"),
        F.md5(F.concat(F.lit("x"), ds)).alias("digest"),
    ))
    return recrawl_diff(old, new)


ORACLE_RECRAWL_DIFF = """
SELECT 'https://r.example/' || doc_id AS key,
       CASE WHEN doc_id % 5 = 0 THEN 'removed'
            WHEN doc_id % 3 = 0 THEN 'changed'
            ELSE 'unchanged' END AS change,
       md5('v' || doc_id) AS old_digest,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            WHEN doc_id % 3 = 0 THEN md5('w' || doc_id)
            ELSE md5('v' || doc_id) END AS new_digest
FROM documents
UNION ALL
SELECT 'https://r.example/x' || doc_id, 'added', NULL, md5('x' || doc_id)
FROM documents WHERE doc_id % 7 = 0
"""


def q_frontier_novel(spark, sf_dir):
    """Frontier novelty with the bucket pre-filter (operators/
    webarchive.frontier_novel): seen = every 3rd URL; the filter is
    deliberately small (4096 buckets for ~167 seen) so tier 2 handles
    real false positives — the result must equal the exact anti-join
    regardless (saturation-exactness also pinned by
    tests/test_webarchive.py)."""
    from ..operators.webarchive import frontier_novel

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    frontier = docs.select(
        F.concat(F.lit("https://n.example/"), d.cast("string"))
        .alias("url"),
        (d % 9).cast("int").alias("depth"),
    )
    seen = docs.filter(d % 3 == 0).select(
        F.concat(F.lit("https://n.example/"), d.cast("string")).alias("url")
    )
    return frontier_novel(frontier, seen, filter_buckets=4096)


ORACLE_FRONTIER_NOVEL = """
SELECT 'https://n.example/' || doc_id AS url,
       cast(doc_id % 9 AS int) AS depth
FROM documents WHERE doc_id % 3 <> 0
"""


QUERIES.update({
    "recrawl_diff": q_recrawl_diff,
    "frontier_novel": q_frontier_novel,
})
ORACLES.update({
    "recrawl_diff": ORACLE_RECRAWL_DIFF,
    "frontier_novel": ORACLE_FRONTIER_NOVEL,
})


def q_webkg_incremental(spark, sf_dir):
    """Incremental KG maintenance (plans/webkg.incremental_web_triples):
    v1 triples patched to crawl v2 — doc_id%5==0 pages vanish, %3==0
    survivors change their outlink, %7==0 adds new pages — and the gate
    oracle is the FULL v2 extraction recomputed closed-form, so the
    hash asserts the invariant: patch(old, diff) == recompute(v2),
    while only the changed slice went through extraction."""
    from ..operators.structured_data import web_page_triples
    from .webkg import incremental_web_triples

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    url = F.concat(F.lit("https://i.example/"), ds)

    def html(target):
        return F.concat(
            F.lit('<a href="https://t.example/'), target,
            F.lit('">x</a><meta property="og:k" content="c'),
            (d % 3).cast("string"), F.lit('">'),
        )

    v1 = docs.select(url.alias("url"), html(ds).alias("html"))
    v2 = docs.filter(d % 5 != 0).select(
        url.alias("url"),
        html(F.when(d % 3 == 0, (d + 7).cast("string")).otherwise(ds))
        .alias("html"),
    ).unionByName(docs.filter(d % 7 == 0).select(
        F.concat(F.lit("https://i.example/x"), ds).alias("url"),
        F.concat(F.lit('<a href="https://t.example/x'), ds,
                 F.lit('">y</a>')).alias("html"),
    ))
    old = web_page_triples(v1, id_col="url")
    return incremental_web_triples(old, v1, v2)


ORACLE_WEBKG_INCREMENTAL = """
WITH s AS (
  SELECT doc_id, 'https://i.example/' || doc_id AS u
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT u AS id, u AS subj, 'links_to' AS pred,
       'https://t.example/' ||
         (CASE WHEN doc_id % 3 = 0 THEN doc_id + 7 ELSE doc_id END) AS obj,
       'uri' AS obj_kind
FROM s
UNION ALL SELECT u, u, 'og:k', 'c' || (doc_id % 3), 'literal' FROM s
UNION ALL
SELECT 'https://i.example/x' || doc_id, 'https://i.example/x' || doc_id,
       'links_to', 'https://t.example/x' || doc_id, 'uri'
FROM documents WHERE doc_id % 7 = 0
"""


QUERIES.update({"webkg_incremental": q_webkg_incremental})
ORACLES.update({"webkg_incremental": ORACLE_WEBKG_INCREMENTAL})


def q_host_boilerplate(spark, sf_dir):
    """Host-scoped boilerplate stripping (operators/dedup.
    strip_host_boilerplate — the CCNet/RefinedWeb per-domain pass,
    distinct from paragraph_dedup's corpus-wide keep-first): a chrome
    paragraph on EVERY page of its host (removed everywhere), a 'semi'
    paragraph on ~half the host's pages (below the 0.6 fraction —
    kept), and a unique paragraph per page. The oracle re-runs the
    whole frequency computation in SQL, not constants."""
    from ..operators.dedup import strip_host_boilerplate

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    k = (d % 3).cast("string")
    text = F.concat(
        F.lit("common-h"), k, F.lit("\n\nunique-"), d.cast("string"),
        F.when(d % 2 == 0, F.concat(F.lit("\n\nsemi-h"), k))
        .otherwise(F.lit("")),
    )
    injected = docs.select(
        "doc_id",
        F.concat(F.lit("h"), k).alias("host"),
        text.alias("text"),
    )
    return strip_host_boilerplate(injected, max_doc_fraction=0.6)


ORACLE_HOST_BOILERPLATE = """
WITH d AS (
  SELECT doc_id, 'h' || (doc_id % 3) AS host,
         'common-h' || (doc_id % 3) || chr(10) || chr(10) || 'unique-' ||
         doc_id ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || chr(10) || 'semi-h' || (doc_id % 3)
              ELSE '' END AS t
  FROM documents
), p0 AS (
  SELECT doc_id, host, cast(z[2] AS int) AS pos, trim(z[1]) AS para
  FROM (
    SELECT doc_id, host,
           unnest(list_zip(paras, range(1, len(paras) + 1))) AS z
    FROM (SELECT doc_id, host,
                 string_split(t, chr(10) || chr(10)) AS paras FROM d)
  )
), p AS (SELECT * FROM p0 WHERE para <> ''),
hostn AS (SELECT host, count(*) AS np FROM d GROUP BY host),
freq AS (
  SELECT host, para, count(DISTINCT doc_id) AS nd
  FROM p GROUP BY host, para
), boiler AS (
  SELECT f.host, f.para
  FROM freq f JOIN hostn h USING (host)
  WHERE f.nd >= 2
    AND cast(f.nd AS double) / cast(h.np AS double) >= cast(0.6 AS double)
), kept AS (
  SELECT p.doc_id, p.pos, p.para
  FROM p LEFT JOIN boiler b ON p.host = b.host AND p.para = b.para
  WHERE b.para IS NULL
), tot AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
kn AS (
  SELECT doc_id, count(*) AS n,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS ct
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id AS id,
       coalesce(kn.ct, '') AS clean_text,
       cast(coalesce(tot.n, 0) - coalesce(kn.n, 0) AS int) AS n_removed
FROM d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN kn ON d.doc_id = kn.doc_id
"""


QUERIES.update({"host_boilerplate": q_host_boilerplate})
ORACLES.update({"host_boilerplate": ORACLE_HOST_BOILERPLATE})


def q_crawl_delays(spark, sf_dir):
    """Effective per-host Crawl-delay (sources/frontier.crawl_delays)
    end-to-end THROUGH parse_robots: one synthetic robots.txt per host
    — a ``*`` group always, a specific-agent group on doc_id%3==0
    (which must SHADOW ``*``), and a second ``*`` group with a
    non-numeric delay on doc_id%11==0 (dropped by try_cast, not fatal
    under ANSI)."""
    from ..sources.frontier import crawl_delays, parse_robots

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    txt = F.concat(
        F.lit("User-agent: *\nCrawl-delay: "),
        (d % 7 + 1).cast("string"),
        F.lit("\nDisallow: /tmp\n"),
        F.when(d % 3 == 0, F.lit(
            "User-agent: defsbot\nCrawl-delay: 0.5\nDisallow: /x\n"
        )).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit(
            "User-agent: *\nCrawl-delay: soon\n"
        )).otherwise(F.lit("")),
    )
    rules = parse_robots(
        docs.select("doc_id", txt.alias("text")), id_col="doc_id"
    ).withColumn("host", F.concat(F.lit("h"), F.col("id").cast("string")))
    return crawl_delays(rules, agent="defsbot")


ORACLE_CRAWL_DELAYS = """
SELECT 'h' || doc_id AS host,
       CASE WHEN doc_id % 3 = 0 THEN cast(0.5 AS double)
            ELSE cast(doc_id % 7 + 1 AS double) END AS crawl_delay
FROM documents
"""


QUERIES.update({"crawl_delays": q_crawl_delays})
ORACLES.update({"crawl_delays": ORACLE_CRAWL_DELAYS})


def q_crawl_corpus(spark, sf_dir):
    """Crawl → training-corpus bridge (operators/structured_data.
    corpus_from_crawl): kept main-content blocks reassembled in document
    order into the documents schema — one long clean block, a link-only
    nav block (dropped: short AND density 1), a second clean block on
    even pages (pins ordering), a too-short block; pure-chrome pages
    never reach the corpus. Closed-form oracle."""
    from ..operators.structured_data import corpus_from_crawl

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    first = F.concat(F.lit("Long body text for document number "), ds,
                     F.lit(" with enough characters."))
    second = F.concat(F.lit("Second paragraph for "), ds,
                      F.lit(" with plenty of characters too."))
    html = F.concat(
        F.lit("<div>"), first,
        F.lit('</div><div><a href="/n">navigation menu links</a></div>'),
        F.when(d % 2 == 0,
               F.concat(F.lit("<div>"), second, F.lit("</div>")))
        .otherwise(F.lit("")),
        F.lit("<p>hi</p>"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://c.example/"), ds).alias("url"),
        html.alias("html"),
    )
    return corpus_from_crawl(pages, id_col="doc_id")


ORACLE_CRAWL_CORPUS = """
WITH b AS (
  SELECT doc_id,
         'Long body text for document number ' || doc_id ||
         ' with enough characters.' AS first,
         'Second paragraph for ' || doc_id ||
         ' with plenty of characters too.' AS second
  FROM documents
)
SELECT doc_id,
       'https://c.example/' || doc_id AS url,
       CASE WHEN doc_id % 2 = 0
            THEN first || chr(10) || chr(10) || second
            ELSE first END AS text,
       cast(strlen(CASE WHEN doc_id % 2 = 0
                        THEN first || chr(10) || chr(10) || second
                        ELSE first END) AS int) AS n_chars,
       cast(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS int) AS n_blocks
FROM b
"""


QUERIES.update({"crawl_corpus": q_crawl_corpus})
ORACLES.update({"crawl_corpus": ORACLE_CRAWL_CORPUS})


def q_frontier_expand(spark, sf_dir):
    """Crawler-loop closure (operators/webarchive.expand_frontier):
    outlinks → resolved → canonicalized (a utm-tracking variant
    collapses) → within-cycle dedup with n_sources (4 pages per shared
    target) → already-crawled targets dropped through the bucket-
    prefiltered exact anti-join."""
    from ..operators.webarchive import expand_frontier

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    g = (d - d % 4).cast("string")
    html = F.concat(
        F.lit('<a href="https://e.example/t/'), g,
        F.lit('?utm_source=z">x</a><a href="/r/'), ds, F.lit('">y</a>'),
    )
    pages = docs.select(
        F.concat(F.lit("https://e.example/p/"), ds).alias("url"),
        html.alias("html"),
    )
    seen = docs.filter(d % 8 == 0).select(
        F.concat(F.lit("https://e.example/t/"), ds).alias("url")
    )
    return expand_frontier(pages, seen, filter_buckets=4096)


ORACLE_FRONTIER_EXPAND = """
SELECT 'https://e.example/t/' || g AS url, cast(4 AS bigint) AS n_sources
FROM (SELECT DISTINCT doc_id - doc_id % 4 AS g FROM documents)
WHERE g % 8 = 4
UNION ALL
SELECT 'https://e.example/r/' || doc_id, cast(1 AS bigint)
FROM documents
"""


QUERIES.update({"frontier_expand": q_frontier_expand})
ORACLES.update({"frontier_expand": ORACLE_FRONTIER_EXPAND})


# --------------------------------------------------------------------------
# knowledge fusion + statement lifecycle (operators/fusion.py)
# --------------------------------------------------------------------------
# Shared deterministic claims construction (executed verbatim by Spark SQL
# AND inside the DuckDB oracles): 60 entities x 2 functional predicates,
# 13 sources; hosts 0-3 systematically wrong on population (split between
# two wrong values), hosts 4-5 wrong on capital — so majority voting and
# trust-weighted voting both have real work to do.
FUSION_CLAIMS_CTE = """
SELECT 'E' || (doc_id % 60) AS subj,
       'population' AS pred,
       CASE WHEN (doc_id % 13) < 4
            THEN 'v' || ((doc_id % 60) * 37 + 1 + ((doc_id % 13) % 2))
            ELSE 'v' || ((doc_id % 60) * 37) END AS obj,
       'host_' || (doc_id % 13) AS source
FROM {tbl}
UNION ALL
SELECT 'E' || (doc_id % 60), 'capital',
       CASE WHEN (doc_id % 13) IN (4, 5) THEN 'C' || ((doc_id % 60) + 1)
            ELSE 'C' || (doc_id % 60) END,
       'host_' || (doc_id % 13)
FROM {tbl}
"""

# Capture history for temporal scoping: entity modulus 39 is coprime to
# the 10 capture rounds, so every entity is seen across many rounds;
# every-3rd entity keeps a stable value, the rest flip old->new at a
# per-entity threshold round, and the 'eph' statement vanishes after
# round 3 (so is_current must come out false for it).
FUSION_CAPS_CTE = """
SELECT 'E' || (doc_id % 39) AS subj, 'attr' AS pred,
       CASE WHEN (doc_id % 39) % 3 = 0 THEN 's' || (doc_id % 39)
            WHEN (doc_id % 10) < ((doc_id % 39) % 7 + 2) THEN 'o' || (doc_id % 39)
            ELSE 'n' || (doc_id % 39) END AS obj,
       cast(doc_id % 10 AS bigint) AS ts
FROM {tbl}
UNION ALL
SELECT 'E' || (doc_id % 39), 'eph', 'x' || (doc_id % 39),
       cast(doc_id % 10 AS bigint)
FROM {tbl} WHERE doc_id % 10 < 4
"""


def _claims(spark, sf_dir):
    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_fusion_docs")
    return spark.sql(FUSION_CLAIMS_CTE.replace("{tbl}", "__defs_fusion_docs"))


def _caps(spark, sf_dir):
    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_fusion_docs")
    return spark.sql(FUSION_CAPS_CTE.replace("{tbl}", "__defs_fusion_docs"))


def q_truth_vote(spark, sf_dir):
    """Majority-vote fusion for functional predicates (operators/fusion.
    resolve_functional): per (subj, pred) the value with the most
    distinct supporting sources, tie-break obj ASC, plus the
    n_values/n_sources disagreement stats."""
    from ..operators.fusion import resolve_functional

    return resolve_functional(_claims(spark, sf_dir))


ORACLE_TRUTH_VOTE = f"""
WITH c AS ({FUSION_CLAIMS_CTE.replace('{tbl}', 'documents')}),
v AS (
  SELECT subj, pred, obj, count(DISTINCT source) AS votes
  FROM c GROUP BY subj, pred, obj
), s AS (
  SELECT subj, pred, count(DISTINCT source) AS n_sources
  FROM c GROUP BY subj, pred
), w AS (
  SELECT subj, pred, obj, votes,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY votes DESC, obj) AS rn,
         count(*) OVER (PARTITION BY subj, pred) AS n_values
  FROM v
)
SELECT w.subj, w.pred, w.obj, w.votes, w.n_values, s.n_sources
FROM w JOIN s ON w.subj = s.subj AND w.pred = s.pred
WHERE w.rn = 1
"""


def q_kg_conflicts(spark, sf_dir):
    """Disagreement census (operators/fusion.conflict_report): keys with
    >1 competing value, values rendered obj:votes|... ordered votes DESC
    then obj ASC — the publish-review artifact."""
    from ..operators.fusion import conflict_report

    return conflict_report(_claims(spark, sf_dir))


ORACLE_KG_CONFLICTS = f"""
WITH c AS ({FUSION_CLAIMS_CTE.replace('{tbl}', 'documents')}),
v AS (
  SELECT subj, pred, obj, count(DISTINCT source) AS votes
  FROM c GROUP BY subj, pred, obj
)
SELECT subj, pred, count(*) AS n_values,
       string_agg(obj || ':' || votes, '|' ORDER BY votes DESC, obj) AS values
FROM v GROUP BY subj, pred HAVING count(*) > 1
"""


def _truth_finder_oracle_sql(iterations: int = 2) -> str:
    """Unrolled TruthFinder iterations in portable SQL (same discipline
    as _pagerank_oracle_sql: DOUBLE arithmetic, rank on the 6-dp-rounded
    score, AS MATERIALIZED so DuckDB doesn't re-inline each step)."""
    header = f"""
WITH c AS MATERIALIZED (
  SELECT DISTINCT source AS src, subj, pred, obj
  FROM ({FUSION_CLAIMS_CTE.replace('{tbl}', 'documents')})
),
t0 AS (SELECT DISTINCT src, CAST(1.0 AS DOUBLE) AS trust FROM c)"""
    steps = []
    for i in range(1, iterations + 1):
        p = f"t{i - 1}"
        steps.append(f""",
conf{i} AS MATERIALIZED (
  SELECT c.subj, c.pred, c.obj, sum(t.trust) AS conf
  FROM c JOIN {p} t ON c.src = t.src
  GROUP BY c.subj, c.pred, c.obj
),
tot{i} AS (
  SELECT subj, pred, sum(conf) AS tot FROM conf{i} GROUP BY subj, pred
),
sh{i} AS MATERIALIZED (
  SELECT f.subj, f.pred, f.obj, f.conf / g.tot AS share
  FROM conf{i} f JOIN tot{i} g ON f.subj = g.subj AND f.pred = g.pred
),
t{i} AS MATERIALIZED (
  SELECT c.src, avg(s.share) AS trust
  FROM c JOIN sh{i} s
    ON c.subj = s.subj AND c.pred = s.pred AND c.obj = s.obj
  GROUP BY c.src
)""")
    last = f"sh{iterations}"
    return (
        header + "".join(steps) + f""",
r AS (
  SELECT subj, pred, obj, round(share, 6) AS conf,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY round(share, 6) DESC, obj) AS rn
  FROM {last}
)
SELECT subj, pred, obj, conf FROM r WHERE rn = 1"""
    )


def q_truth_finder(spark, sf_dir):
    """Trust-weighted fusion (operators/fusion.truth_finder, 2 rounds):
    source trust <- mean vote share of its claims; the systematically
    wrong hosts 0-3 / 4-5 lose weight everywhere, so winners carry
    higher confidence than plain voting. Oracle = the two iterations
    unrolled in SQL (pagerank discipline)."""
    from ..operators.fusion import truth_finder

    return truth_finder(_claims(spark, sf_dir), iterations=2)


ORACLE_TRUTH_FINDER = _truth_finder_oracle_sql(2)


def q_triple_intervals(spark, sf_dir):
    """Temporal scoping (operators/fusion.triple_intervals): per
    statement [first_seen, last_seen] over the capture history plus
    is_current vs the subject's latest recrawl."""
    from ..operators.fusion import triple_intervals

    return triple_intervals(_caps(spark, sf_dir))


ORACLE_TRIPLE_INTERVALS = f"""
WITH caps AS ({FUSION_CAPS_CTE.replace('{tbl}', 'documents')}),
iv AS (
  SELECT subj, pred, obj, min(ts) AS first_seen, max(ts) AS last_seen,
         count(DISTINCT ts) AS n_captures
  FROM caps GROUP BY subj, pred, obj
), lt AS (
  SELECT subj, max(ts) AS latest FROM caps GROUP BY subj
)
SELECT iv.subj, iv.pred, iv.obj, iv.first_seen, iv.last_seen,
       iv.n_captures, (iv.last_seen = lt.latest) AS is_current
FROM iv JOIN lt ON iv.subj = lt.subj
"""


def q_kg_change_events(spark, sf_dir):
    """Value-transition log (operators/fusion.change_events): lag window
    per (subj, pred) over capture rounds; first sighting emits
    prev_obj = NULL, unchanged rounds emit nothing."""
    from ..operators.fusion import change_events

    return change_events(_caps(spark, sf_dir))


ORACLE_KG_CHANGE_EVENTS = f"""
WITH caps AS ({FUSION_CAPS_CTE.replace('{tbl}', 'documents')}),
one AS (
  SELECT subj, pred, ts, min(obj) AS obj FROM caps GROUP BY subj, pred, ts
), l AS (
  SELECT subj, pred,
         lag(obj) OVER (PARTITION BY subj, pred ORDER BY ts) AS prev_obj,
         obj, ts
  FROM one
)
SELECT subj, pred, prev_obj, obj, ts FROM l
WHERE prev_obj IS NULL OR prev_obj <> obj
"""


def q_reified_provenance(spark, sf_dir):
    """RDF reification with per-source provenance (operators/fusion.
    reify_statements): statement ids are content hashes
    md5(subj \\x01 pred \\x01 obj), 4 core arcs per distinct statement +
    one prov:wasDerivedFrom per distinct asserting source."""
    from ..operators.fusion import reify_statements

    return reify_statements(_claims(spark, sf_dir), source_col="source")


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
ORACLE_REIFIED_PROVENANCE = f"""
WITH c AS ({FUSION_CLAIMS_CTE.replace('{tbl}', 'documents')}),
d AS (SELECT DISTINCT subj, pred, obj FROM c),
s AS (
  SELECT 'http://kg.example.org/statement/' ||
         md5(subj || chr(1) || pred || chr(1) || obj) AS stmt,
         subj, pred, obj
  FROM d
), p AS (
  SELECT DISTINCT
         'http://kg.example.org/statement/' ||
         md5(subj || chr(1) || pred || chr(1) || obj) AS stmt,
         source
  FROM c
)
SELECT stmt, '{_RDF_NS}type' AS pred, '{_RDF_NS}Statement' AS obj FROM s
UNION ALL SELECT stmt, '{_RDF_NS}subject', subj FROM s
UNION ALL SELECT stmt, '{_RDF_NS}predicate', pred FROM s
UNION ALL SELECT stmt, '{_RDF_NS}object', obj FROM s
UNION ALL SELECT stmt, 'http://www.w3.org/ns/prov#wasDerivedFrom', source FROM p
"""


QUERIES.update({
    "truth_vote": q_truth_vote,
    "kg_conflicts": q_kg_conflicts,
    "truth_finder": q_truth_finder,
    "triple_intervals": q_triple_intervals,
    "kg_change_events": q_kg_change_events,
    "reified_provenance": q_reified_provenance,
})
ORACLES.update({
    "truth_vote": ORACLE_TRUTH_VOTE,
    "kg_conflicts": ORACLE_KG_CONFLICTS,
    "truth_finder": ORACLE_TRUTH_FINDER,
    "triple_intervals": ORACLE_TRIPLE_INTERVALS,
    "kg_change_events": ORACLE_KG_CHANGE_EVENTS,
    "reified_provenance": ORACLE_REIFIED_PROVENANCE,
})


# --------------------------------------------------------------------------
# Horn-rule mining + application (operators/rules.py)
# --------------------------------------------------------------------------
# Shared KG construction with deliberate regularities: p2 implies p1
# (2/3 of p1 pairs also have p2), p3 is a half-coverage inverse of p1,
# p6 is near-symmetric, and p1(x,z) AND p4(z,y) chains overlap head p5.
# Moduli 47/31 are coprime to 50 so pair spaces don't collapse.
RULES_KG_CTE = """
SELECT 'N' || (doc_id % 50) AS subj, 'p1' AS pred,
       'M' || ((doc_id * 7) % 47) AS obj FROM {tbl}
UNION ALL
SELECT 'N' || (doc_id % 50), 'p2', 'M' || ((doc_id * 7) % 47)
FROM {tbl} WHERE doc_id % 3 <> 0
UNION ALL
SELECT 'M' || ((doc_id * 7) % 47), 'p3', 'N' || (doc_id % 50)
FROM {tbl} WHERE doc_id % 2 = 0
UNION ALL
SELECT 'M' || ((doc_id * 7) % 47), 'p4', 'K' || ((doc_id * 11) % 31)
FROM {tbl} WHERE doc_id % 5 <> 0
UNION ALL
SELECT 'N' || (doc_id % 50), 'p5', 'K' || ((doc_id * 11) % 31)
FROM {tbl} WHERE doc_id % 7 <> 0
UNION ALL
SELECT 'N' || (doc_id % 50), 'p6', 'N' || ((doc_id + 1) % 50) FROM {tbl}
UNION ALL
SELECT 'N' || ((doc_id + 1) % 50), 'p6', 'N' || (doc_id % 50)
FROM {tbl} WHERE (doc_id % 50) % 4 <> 0
"""

_RULES_ORACLE_BODY = """
d AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM t),
sz AS (SELECT pred, count(*) AS n FROM d GROUP BY pred),
fwd AS (
  SELECT a.pred AS head, b.pred AS body, 'fwd' AS direction,
         count(*) AS support
  FROM d a JOIN d b
    ON a.subj = b.subj AND a.obj = b.obj AND a.pred <> b.pred
  GROUP BY 1, 2, 3
),
inv AS (
  SELECT a.pred AS head, b.pred AS body, 'inv' AS direction,
         count(*) AS support
  FROM d a JOIN d b ON a.subj = b.obj AND a.obj = b.subj
  GROUP BY 1, 2, 3
),
u AS (SELECT * FROM fwd UNION ALL SELECT * FROM inv),
rules AS (
  SELECT u.head, u.body, u.direction, u.support, bz.n AS body_size,
         round(CAST(u.support AS DOUBLE) / bz.n, 6) AS confidence,
         round(CAST(u.support AS DOUBLE) / hz.n, 6) AS head_coverage
  FROM u JOIN sz bz ON u.body = bz.pred JOIN sz hz ON u.head = hz.pred
)
"""


def _rules_kg(spark, sf_dir):
    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_rules_docs")
    return spark.sql(RULES_KG_CTE.replace("{tbl}", "__defs_rules_docs"))


def q_rule_mining(spark, sf_dir):
    """AMIE-style single-atom rule mining (operators/rules.mine_rules):
    head(x,y) <= body(x,y) / body(y,x) with support, CWA confidence and
    head coverage — pair-grouped (one shuffle), no triple self-join."""
    from ..operators.rules import mine_rules

    return mine_rules(_rules_kg(spark, sf_dir))


ORACLE_RULE_MINING = f"""
WITH t AS ({RULES_KG_CTE.replace('{tbl}', 'documents')}),
{_RULES_ORACLE_BODY}
SELECT head, body, direction, support, body_size, confidence,
       head_coverage
FROM rules
"""


def q_rule_chains(spark, sf_dir):
    """2-hop chain rules head(x,y) <= body1(x,z) AND body2(z,y)
    (operators/rules.mine_chain_rules) — the one genuine z-join, with
    AMIE support/confidence over distinct (x,y) pairs."""
    from ..operators.rules import mine_chain_rules

    return mine_chain_rules(_rules_kg(spark, sf_dir))


ORACLE_RULE_CHAINS = f"""
WITH t AS ({RULES_KG_CTE.replace('{tbl}', 'documents')}),
d AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM t),
ch AS MATERIALIZED (
  SELECT DISTINCT a.subj AS x, b.obj AS y, a.pred AS body1, b.pred AS body2
  FROM d a JOIN d b ON a.obj = b.subj
),
bz AS (SELECT body1, body2, count(*) AS body_size FROM ch GROUP BY 1, 2),
sup AS (
  SELECT h.pred AS head, c.body1, c.body2, count(*) AS support
  FROM d h JOIN ch c ON h.subj = c.x AND h.obj = c.y
  GROUP BY 1, 2, 3
)
SELECT sup.head, sup.body1, sup.body2, sup.support, bz.body_size,
       round(CAST(sup.support AS DOUBLE) / bz.body_size, 6) AS confidence
FROM sup JOIN bz ON sup.body1 = bz.body1 AND sup.body2 = bz.body2
"""


def q_rule_apply(spark, sf_dir):
    """KG densification (operators/rules.apply_rules): predictions from
    rules with confidence >= 0.8 that are NOT already in the KG, best
    confidence per predicted triple — here the missing reverse edges of
    the near-symmetric p6."""
    from ..operators.rules import apply_rules, mine_rules

    kg = _rules_kg(spark, sf_dir)
    return apply_rules(kg, mine_rules(kg), min_confidence=0.8)


ORACLE_RULE_APPLY = f"""
WITH t AS ({RULES_KG_CTE.replace('{tbl}', 'documents')}),
{_RULES_ORACLE_BODY},
ru AS (SELECT * FROM rules WHERE confidence >= 0.8),
pr AS (
  SELECT CASE WHEN ru.direction = 'fwd' THEN d.subj ELSE d.obj END AS subj,
         ru.head AS pred,
         CASE WHEN ru.direction = 'fwd' THEN d.obj ELSE d.subj END AS obj,
         ru.confidence
  FROM d JOIN ru ON d.pred = ru.body
),
best AS (
  SELECT subj, pred, obj, max(confidence) AS confidence
  FROM pr GROUP BY subj, pred, obj
)
SELECT b.subj, b.pred, b.obj, b.confidence
FROM best b LEFT JOIN d
  ON b.subj = d.subj AND b.pred = d.pred AND b.obj = d.obj
WHERE d.subj IS NULL
"""


QUERIES.update({
    "rule_mining": q_rule_mining,
    "rule_chains": q_rule_chains,
    "rule_apply": q_rule_apply,
})
ORACLES.update({
    "rule_mining": ORACLE_RULE_MINING,
    "rule_chains": ORACLE_RULE_CHAINS,
    "rule_apply": ORACLE_RULE_APPLY,
})


# --------------------------------------------------------------------------
# pattern-based open IE (operators/openie.py)
# --------------------------------------------------------------------------
# Shared prose construction: capitalized 2-token entities built from the
# documents' own words, wrapped in Hearst / copula sentence frames. The
# oracles run the module's regexes VERBATIM (imported constants), so any
# drift between engine and oracle patterns is impossible.
OPENIE_BASE_CTE = """
SELECT doc_id,
       split_part(text, ' ', 1) AS a,
       split_part(text, ' ', 2) AS b,
       upper(substr(split_part(text, ' ', 1), 1, 1)) ||
         substr(split_part(text, ' ', 1), 2) AS ia,
       upper(substr(split_part(text, ' ', 2), 1, 1)) ||
         substr(split_part(text, ' ', 2), 2) AS ib,
       upper(substr(split_part(text, ' ', 3), 1, 1)) ||
         substr(split_part(text, ' ', 3), 2) AS ic,
       upper(substr(split_part(text, ' ', 4), 1, 1)) ||
         substr(split_part(text, ' ', 4), 2) AS id2
FROM {tbl}
"""

OPENIE_TEXT_CTE = """
SELECT doc_id,
       'Tools such as ' || ia || ' ' || ib || ', ' || ic || ' ' || id2 ||
       ' and ' || ia || ' ' || ic || ' were used. ' ||
       ib || ' ' || ic || ' is a ' || a || '. ' ||
       CASE WHEN doc_id % 3 = 0
            THEN ia || ' ' || id2 || ' and other ' || b || ' appeared. '
            ELSE '' END ||
       CASE WHEN doc_id % 4 = 1
            THEN 'Brands, especially ' || ib || ' ' || id2 || ', matter. '
            ELSE '' END ||
       CASE WHEN doc_id % 5 = 2
            THEN 'Firms, including ' || ic || ' ' || ia || ' and ' ||
                 id2 || ' ' || ib || ', grew. '
            ELSE '' END AS text
FROM base
"""

OPENIE_KB_CTE = """
SELECT DISTINCT ia || ' ' || ic AS label FROM base WHERE doc_id % 2 = 0
"""


def _openie_docs(spark, sf_dir):
    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_openie_docs")
    return spark.sql(
        "WITH base AS (" + OPENIE_BASE_CTE.replace("{tbl}", "__defs_openie_docs")
        + ") " + OPENIE_TEXT_CTE
    )


def _openie_kb(spark, sf_dir):
    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_openie_docs")
    return spark.sql(
        "WITH base AS (" + OPENIE_BASE_CTE.replace("{tbl}", "__defs_openie_docs")
        + ") " + OPENIE_KB_CTE
    )


def _openie_oracle_prefix() -> str:
    return (
        "WITH base AS (" + OPENIE_BASE_CTE.replace("{tbl}", "documents")
        + "), t AS (" + OPENIE_TEXT_CTE + ")"
    )


def q_hearst_isa(spark, sf_dir):
    """Hearst is-a patterns (operators/openie.hearst_hyponyms): such-as /
    including / especially enumerations split into per-hyponym rows plus
    the inverted and-other frame — pure Catalyst regex projections."""
    from ..operators.openie import hearst_hyponyms

    return hearst_hyponyms(_openie_docs(spark, sf_dir))


def _hearst_oracle_sql() -> str:
    from ..operators.openie import HEARST_PATTERNS, NP

    parts = []
    for name, pat, hypernym_first in HEARST_PATTERNS:
        m = f"(SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS m FROM t)"
        if hypernym_first:
            parts.append(f"""
SELECT doc_id,
       unnest(regexp_extract_all(regexp_extract(m, '{pat}', 2), '{NP}')) AS hyponym,
       regexp_extract(m, '{pat}', 1) AS hypernym,
       '{name}' AS pattern
FROM {m}""")
        else:
            parts.append(f"""
SELECT doc_id, regexp_extract(m, '{pat}', 1) AS hyponym,
       regexp_extract(m, '{pat}', 2) AS hypernym, '{name}' AS pattern
FROM {m}""")
    return _openie_oracle_prefix() + "\nUNION ALL".join(parts)


ORACLE_HEARST_ISA = _hearst_oracle_sql()


def q_copula_isa(spark, sf_dir):
    """Copula facts (operators/openie.copula_facts): '<Entity> is a
    <noun>' statements from the shared prose construction."""
    from ..operators.openie import copula_facts

    return copula_facts(_openie_docs(spark, sf_dir))


def _copula_oracle_sql() -> str:
    from ..operators.openie import COPULA_OBJ_STRIP as ST
    from ..operators.openie import COPULA_PATTERN as CP

    return f"""{_openie_oracle_prefix()},
m AS (SELECT doc_id, unnest(regexp_extract_all(text, '{CP}')) AS m FROM t)
SELECT doc_id, regexp_extract(m, '{CP}', 1) AS subj,
       regexp_replace(regexp_extract(m, '{CP}', 2), '{ST}', '') AS obj
FROM m"""


ORACLE_COPULA_ISA = _copula_oracle_sql()


def q_nil_clusters_text(spark, sf_dir):
    """Entity discovery (operators/openie.nil_clusters): capitalized
    2-token mentions NOT matching the KB label table, clustered
    cross-document on the case-folded surface."""
    from ..operators.openie import nil_clusters

    return nil_clusters(
        _openie_docs(spark, sf_dir), _openie_kb(spark, sf_dir)
    )


def _nil_oracle_sql() -> str:
    from ..operators.openie import mention_pattern

    mp = mention_pattern(2)
    return f"""{_openie_oracle_prefix()},
kb AS ({OPENIE_KB_CTE}),
men AS (SELECT doc_id, unnest(regexp_extract_all(text, '{mp}')) AS mention FROM t),
nil AS (SELECT * FROM men WHERE mention NOT IN (SELECT label FROM kb))
SELECT lower(mention) AS cluster, count(*) AS n_mentions,
       count(DISTINCT doc_id) AS n_docs
FROM nil GROUP BY lower(mention)"""


ORACLE_NIL_CLUSTERS_TEXT = _nil_oracle_sql()


QUERIES.update({
    "hearst_isa": q_hearst_isa,
    "copula_isa": q_copula_isa,
    "nil_clusters_text": q_nil_clusters_text,
})
ORACLES.update({
    "hearst_isa": ORACLE_HEARST_ISA,
    "copula_isa": ORACLE_COPULA_ISA,
    "nil_clusters_text": ORACLE_NIL_CLUSTERS_TEXT,
})


def q_webkg_fused(spark, sf_dir):
    """The WebKG DAG's web_fused stage (plans/webkg.py, fuse_literals):
    JSON-LD entity names conflict across publishing hosts (hosts 0-1
    systematically wrong); majority voting per (entity, pred) resolves
    them, with per-page meta literals riding along as single-source
    claims. The whole chain — html → composite channels → has_entity
    anchor join → resolve_functional — runs through the REAL pipeline
    stage machinery against a fresh warehouse."""
    import tempfile

    from .webkg import WebKGConfig, WebKGPipeline

    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id")
    val = F.when(d % 7 < 2, (d % 40) + 1).otherwise(d % 40).cast("string")
    html = F.concat(
        F.lit('<meta property="og:k" content="m'), (d % 3).cast("string"),
        F.lit('"><script type="application/ld+json">'
              '{"@id":"https://ent.example/e'), (d % 40).cast("string"),
        F.lit('","name":"x'), val, F.lit('"}</script>'),
    )
    pages = docs.select(
        F.concat(F.lit("https://h"), (d % 7).cast("string"),
                 F.lit(".example/p"), d.cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        html.alias("html"),
    )
    wh = tempfile.mkdtemp(prefix="defs_webkg_fused_")
    cfg = WebKGConfig(warehouse=wh, resolve_redirects=False,
                      fuse_literals=True)
    return WebKGPipeline(spark, cfg).run(pages)["web_fused"]


ORACLE_WEBKG_FUSED = """
WITH c AS (
  SELECT 'https://ent.example/e' || (doc_id % 40) AS subj, 'name' AS pred,
         'x' || (CASE WHEN doc_id % 7 < 2 THEN (doc_id % 40) + 1
                      ELSE doc_id % 40 END) AS obj,
         'h' || (doc_id % 7) || '.example' AS source
  FROM documents
  UNION ALL
  SELECT 'https://h' || (doc_id % 7) || '.example/p' || doc_id, 'og:k',
         'm' || (doc_id % 3), 'h' || (doc_id % 7) || '.example'
  FROM documents
), v AS (
  SELECT subj, pred, obj, count(DISTINCT source) AS votes
  FROM c GROUP BY subj, pred, obj
), s AS (
  SELECT subj, pred, count(DISTINCT source) AS n_sources
  FROM c GROUP BY subj, pred
), w AS (
  SELECT subj, pred, obj, votes,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY votes DESC, obj) AS rn,
         count(*) OVER (PARTITION BY subj, pred) AS n_values
  FROM v
)
SELECT w.subj, w.pred, w.obj, w.votes, w.n_values, s.n_sources
FROM w JOIN s ON w.subj = s.subj AND w.pred = s.pred
WHERE w.rn = 1
"""


QUERIES.update({"webkg_fused": q_webkg_fused})
ORACLES.update({"webkg_fused": ORACLE_WEBKG_FUSED})


# --------------------------------------------------------------------------
# KG profiling + taxonomy induction (operators/profiling.py, openie)
# --------------------------------------------------------------------------

def q_entity_summaries(spark, sf_dir):
    """Entity cards (operators/profiling.entity_summaries): top-3 facts
    per subject ranked rare-predicate-first with deterministic ties,
    over the shared rules KG."""
    from ..operators.profiling import entity_summaries

    return entity_summaries(_rules_kg(spark, sf_dir), k=3)


ORACLE_ENTITY_SUMMARIES = f"""
WITH t AS ({RULES_KG_CTE.replace('{tbl}', 'documents')}),
d AS (SELECT DISTINCT subj, pred, obj FROM t),
pc AS (SELECT pred, count(*) AS pn FROM d GROUP BY pred),
r AS (
  SELECT d.subj, d.pred, d.obj,
         row_number() OVER (PARTITION BY d.subj
                            ORDER BY pc.pn ASC, d.pred ASC, d.obj ASC)
           AS "rank"
  FROM d JOIN pc ON d.pred = pc.pred
)
SELECT subj, pred, obj, "rank" FROM r WHERE "rank" <= 3
"""


PROFILE_TYPES_CTE = """
SELECT 'I' || doc_id AS inst, 'C' || (doc_id % 4) AS cls FROM {tbl}
"""

PROFILE_PROPS_CTE = """
SELECT 'I' || doc_id AS subj, 'pa' AS pred, 'v' AS obj
FROM {tbl} WHERE doc_id % 2 = 0
UNION ALL
SELECT 'I' || doc_id, 'pb', 'v' FROM {tbl} WHERE doc_id % 3 = 0
UNION ALL
SELECT 'I' || doc_id, 'pc', 'v' FROM {tbl}
"""


def q_class_completeness(spark, sf_dir):
    """Per-class property density (operators/profiling.
    class_completeness): fraction of each class's instances carrying
    each observed predicate — the extraction-regression alarm metric."""
    from ..operators.profiling import class_completeness

    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_prof_docs")
    types = spark.sql(PROFILE_TYPES_CTE.replace("{tbl}", "__defs_prof_docs"))
    props = spark.sql(PROFILE_PROPS_CTE.replace("{tbl}", "__defs_prof_docs"))
    return class_completeness(types, props)


ORACLE_CLASS_COMPLETENESS = f"""
WITH ty AS ({PROFILE_TYPES_CTE.replace('{tbl}', 'documents')}),
pr AS ({PROFILE_PROPS_CTE.replace('{tbl}', 'documents')}),
t AS (SELECT DISTINCT inst, cls FROM ty),
sz AS (SELECT cls, count(*) AS n_instances FROM t GROUP BY cls),
hp AS (
  SELECT t.cls, p.pred, count(*) AS n_with_pred
  FROM (SELECT DISTINCT subj AS inst, pred FROM pr) p
  JOIN t ON p.inst = t.inst
  GROUP BY t.cls, p.pred
)
SELECT hp.cls, hp.pred, sz.n_instances, hp.n_with_pred,
       round(CAST(hp.n_with_pred AS DOUBLE) / sz.n_instances, 6)
         AS completeness
FROM hp JOIN sz ON hp.cls = sz.cls
"""


def q_taxonomy_edges(spark, sf_dir):
    """Taxonomy induction (operators/openie.taxonomy_from_isa) over the
    Hearst extraction output: best-attested parent per hyponym with
    deterministic argmax."""
    from ..operators.openie import hearst_hyponyms, taxonomy_from_isa

    return taxonomy_from_isa(hearst_hyponyms(_openie_docs(spark, sf_dir)))


ORACLE_TAXONOMY_EDGES = f"""
WITH h AS (SELECT * FROM ({_hearst_oracle_sql()})),
w AS (
  SELECT hyponym AS node, hypernym AS parent, count(*) AS weight
  FROM h GROUP BY hyponym, hypernym
),
r AS (
  SELECT node, parent, weight,
         row_number() OVER (PARTITION BY node
                            ORDER BY weight DESC, parent ASC) AS rn,
         count(*) OVER (PARTITION BY node) AS np
  FROM w
)
SELECT node, parent, weight, cast(np AS bigint) AS n_parents
FROM r WHERE rn = 1
"""


QUERIES.update({
    "entity_summaries": q_entity_summaries,
    "class_completeness": q_class_completeness,
    "taxonomy_edges": q_taxonomy_edges,
})
ORACLES.update({
    "entity_summaries": ORACLE_ENTITY_SUMMARIES,
    "class_completeness": ORACLE_CLASS_COMPLETENESS,
    "taxonomy_edges": ORACLE_TAXONOMY_EDGES,
})


def q_kg_snapshot(spark, sf_dir):
    """Point-in-time KG reconstruction (operators/fusion.kg_as_of):
    statements valid at capture round 5 — present in some capture <= 5
    and not retracted by the subject's last observation <= 5."""
    from ..operators.fusion import kg_as_of

    return kg_as_of(_caps(spark, sf_dir), 5)


ORACLE_KG_SNAPSHOT = f"""
WITH caps AS ({FUSION_CAPS_CTE.replace('{tbl}', 'documents')}),
u AS (SELECT * FROM caps WHERE ts <= 5),
iv AS (
  SELECT subj, pred, obj, max(ts) AS l FROM u GROUP BY subj, pred, obj
), lt AS (SELECT subj, max(ts) AS m FROM u GROUP BY subj)
SELECT iv.subj, iv.pred, iv.obj
FROM iv JOIN lt ON iv.subj = lt.subj
WHERE iv.l = lt.m
"""


def q_temporal_statements(spark, sf_dir):
    """Wikidata-style qualified statements (operators/fusion.
    temporal_reification): reified statements carrying valid-time
    qualifiers (firstSeen / lastSeen / isCurrent) derived from the
    capture history, content-hash ids shared with reify_statements."""
    from ..operators.fusion import temporal_reification

    return temporal_reification(_caps(spark, sf_dir))


ORACLE_TEMPORAL_STATEMENTS = f"""
WITH caps AS ({FUSION_CAPS_CTE.replace('{tbl}', 'documents')}),
d AS (SELECT DISTINCT subj, pred, obj FROM caps),
s AS (
  SELECT 'http://kg.example.org/statement/' ||
         md5(subj || chr(1) || pred || chr(1) || obj) AS stmt,
         subj, pred, obj
  FROM d
),
iv AS (
  SELECT subj, pred, obj, min(ts) AS fs, max(ts) AS ls
  FROM caps GROUP BY subj, pred, obj
),
lt AS (SELECT subj, max(ts) AS m FROM caps GROUP BY subj),
q AS (
  SELECT s.stmt, iv.fs, iv.ls, (iv.ls = lt.m) AS cur
  FROM iv JOIN lt ON iv.subj = lt.subj
  JOIN s ON s.subj = iv.subj AND s.pred = iv.pred AND s.obj = iv.obj
)
SELECT stmt, '{_RDF_NS}type' AS pred, '{_RDF_NS}Statement' AS obj FROM s
UNION ALL SELECT stmt, '{_RDF_NS}subject', subj FROM s
UNION ALL SELECT stmt, '{_RDF_NS}predicate', pred FROM s
UNION ALL SELECT stmt, '{_RDF_NS}object', obj FROM s
UNION ALL SELECT stmt, 'http://kg.example.org/voc#firstSeen',
                 CAST(fs AS VARCHAR) FROM q
UNION ALL SELECT stmt, 'http://kg.example.org/voc#lastSeen',
                 CAST(ls AS VARCHAR) FROM q
UNION ALL SELECT stmt, 'http://kg.example.org/voc#isCurrent',
                 CASE WHEN cur THEN 'true' ELSE 'false' END FROM q
"""


QUERIES.update({
    "kg_snapshot": q_kg_snapshot,
    "temporal_statements": q_temporal_statements,
})
ORACLES.update({
    "kg_snapshot": ORACLE_KG_SNAPSHOT,
    "temporal_statements": ORACLE_TEMPORAL_STATEMENTS,
})


def q_incremental_fusion(spark, sf_dir):
    """Incremental fused-table maintenance (operators/fusion.
    incremental_resolve): v1 claims -> v2 where every e%5==0 entity's
    claims vanish and every e%3==0 entity's values change; only the
    delta keys are re-voted, carried rows come from the v1 fused table
    — and the ORACLE is the full v2 recompute, so the hash asserts
    patch(old, delta) == recompute(v2)."""
    from ..operators.fusion import incremental_resolve, resolve_functional

    c1 = _claims(spark, sf_dir)
    e = F.expr("substring(subj, 2)").cast("int")
    c2 = c1.filter(e % 5 != 0).select(
        "subj", "pred",
        F.when(e % 3 == 0, F.concat(F.col("obj"), F.lit("x")))
        .otherwise(F.col("obj")).alias("obj"),
        "source",
    )
    delta = c1.filter((e % 3 == 0) | (e % 5 == 0)).select("subj", "pred")
    return incremental_resolve(resolve_functional(c1), c2, delta)


ORACLE_INCREMENTAL_FUSION = f"""
WITH c1 AS ({FUSION_CLAIMS_CTE.replace('{tbl}', 'documents')}),
c2 AS (
  SELECT subj, pred,
         CASE WHEN CAST(substr(subj, 2) AS INT) % 3 = 0
              THEN obj || 'x' ELSE obj END AS obj,
         source
  FROM c1 WHERE CAST(substr(subj, 2) AS INT) % 5 <> 0
), v AS (
  SELECT subj, pred, obj, count(DISTINCT source) AS votes
  FROM c2 GROUP BY subj, pred, obj
), s AS (
  SELECT subj, pred, count(DISTINCT source) AS n_sources
  FROM c2 GROUP BY subj, pred
), w AS (
  SELECT subj, pred, obj, votes,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY votes DESC, obj) AS rn,
         count(*) OVER (PARTITION BY subj, pred) AS n_values
  FROM v
)
SELECT w.subj, w.pred, w.obj, w.votes, w.n_values, s.n_sources
FROM w JOIN s ON w.subj = s.subj AND w.pred = s.pred
WHERE w.rn = 1
"""


QUERIES.update({"incremental_fusion": q_incremental_fusion})
ORACLES.update({"incremental_fusion": ORACLE_INCREMENTAL_FUSION})


def q_stream_hearst(spark, sf_dir):
    """Streaming parity for the open-IE channel: hearst_hyponyms is a
    stateless regex projection, so the SAME operator runs under
    readStream (file source, 1 file per trigger) and gates against the
    SAME oracle as its batch twin."""
    import tempfile
    import uuid

    from ..operators.openie import hearst_hyponyms
    from ..streaming.events import run_to_memory

    docs = _openie_docs(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="defs_stream_oie_")
    docs.repartition(4).write.mode("overwrite").parquet(d)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = f"defs_stream_hearst_{uuid.uuid4().hex[:8]}"
    run_to_memory(hearst_hyponyms(sdf), name)
    return spark.table(name)


def q_stream_truth_vote(spark, sf_dir):
    """Streaming source voting: vote_values as a streaming aggregation
    (complete mode). Structured Streaming cannot chain dedup + agg in
    complete mode, so the claims are deduped AT MATERIALIZATION (the
    deployment shape: the upstream extraction sink is already
    per-capture-distinct) and votes = count(*) per value — gated
    against the distinct-source SQL, which is equal on deduped input."""
    import tempfile
    import uuid

    from pyspark.sql import functions as FF

    from ..streaming.events import run_to_memory

    claims = _claims(spark, sf_dir).distinct()
    d = tempfile.mkdtemp(prefix="defs_stream_claims_")
    claims.repartition(4).write.mode("overwrite").parquet(d)
    sdf = (
        spark.readStream.schema(claims.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    votes = sdf.groupBy("subj", "pred", "obj").agg(
        FF.count("*").alias("votes")
    )
    name = f"defs_stream_votes_{uuid.uuid4().hex[:8]}"
    run_to_memory(votes, name, output_mode="complete")
    return spark.table(name)


ORACLE_STREAM_TRUTH_VOTE = f"""
WITH c AS ({FUSION_CLAIMS_CTE.replace('{tbl}', 'documents')})
SELECT subj, pred, obj, count(DISTINCT source) AS votes
FROM c GROUP BY subj, pred, obj
"""


QUERIES.update({
    "stream_hearst": q_stream_hearst,
    "stream_truth_vote": q_stream_truth_vote,
})
ORACLES.update({
    "stream_hearst": ORACLE_HEARST_ISA,
    "stream_truth_vote": ORACLE_STREAM_TRUTH_VOTE,
})


# --------------------------------------------------------------------------
# eighth wave: WebTables channel — relational cells + row-key facts
# --------------------------------------------------------------------------


def _table_html(docs):
    """Closed-form table markup over documents columns: one <th>-headed
    3-column table (two data rows; one cell wraps inner markup + an
    &amp; entity), noise, then a headerless table (positional headers).
    Exercises header naming, tag stripping, entity decode, row keys."""
    d = F.col("doc_id").cast("string")
    w1 = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    html = F.concat(
        F.lit('<table id="t"><TR><th>name</th><th>pop</th><th>note</th></tr>'
              "<tr><td> city"), d,
        F.lit(" </td><td>"), F.col("n_chars").cast("string"),
        F.lit("</td><td><b>"), w1, F.lit("</b> &amp; x</td></tr>"
              "<tr><td>town"), (F.col("doc_id") % 5).cast("string"),
        F.lit("</td><td>"), (F.col("doc_id") % 7).cast("string"),
        F.lit("</td><td>plain</td></tr></table><p>noise</p>"
              "<table><tr><td>a"), (F.col("doc_id") % 3).cast("string"),
        F.lit("</td><td>b</td></tr></table>"),
    )
    return docs.select("doc_id", html.alias("html"))


def q_html_tables(spark, sf_dir):
    """Relational WebTables cells (operators/structured_data.
    html_table_cells): header-named + positional columns, inner-markup
    stripping, entity decode, per-row key attachment — oracle
    reconstructs every cell closed-form from the documents columns."""
    from ..operators.structured_data import html_table_cells

    out = html_table_cells(_table_html(_docs_tbl(spark, sf_dir)),
                           html_col="html", id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "tbl", "row", "col",
                      "header", "value", "row_key")


ORACLE_HTML_TABLES = """
WITH base AS (
  SELECT doc_id,
         'city' || doc_id AS city,
         'town' || (doc_id % 5) AS town,
         cast(n_chars AS varchar) AS nc,
         cast(doc_id % 7 AS varchar) AS m7,
         'a' || (doc_id % 3) AS a3,
         split_part(text, ' ', 1) || ' & x' AS note
  FROM documents
)
SELECT doc_id, 0 AS tbl, 0 AS "row", 0 AS col,
       'name' AS header, city AS value, city AS row_key FROM base
UNION ALL SELECT doc_id, 0, 0, 1, 'pop', nc, city FROM base
UNION ALL SELECT doc_id, 0, 0, 2, 'note', note, city FROM base
UNION ALL SELECT doc_id, 0, 1, 0, 'name', town, town FROM base
UNION ALL SELECT doc_id, 0, 1, 1, 'pop', m7, town FROM base
UNION ALL SELECT doc_id, 0, 1, 2, 'note', 'plain', town FROM base
UNION ALL SELECT doc_id, 1, 0, 0, 'col0', a3, a3 FROM base
UNION ALL SELECT doc_id, 1, 0, 1, 'col1', 'b', a3 FROM base
"""


def q_table_triples(spark, sf_dir):
    """WebTables facts (html_table_triples): (row-key entity, header,
    value) from header-named value columns only — the positional
    (headerless) table contributes nothing; zero-shuffle plan (pure
    projection over the cell scan)."""
    from ..operators.structured_data import html_table_triples

    out = html_table_triples(_table_html(_docs_tbl(spark, sf_dir)),
                             html_col="html", id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj",
                      "tbl", "row")


ORACLE_TABLE_TRIPLES = """
WITH base AS (
  SELECT doc_id,
         'city' || doc_id AS city,
         'town' || (doc_id % 5) AS town,
         cast(n_chars AS varchar) AS nc,
         cast(doc_id % 7 AS varchar) AS m7,
         split_part(text, ' ', 1) || ' & x' AS note
  FROM documents
)
SELECT doc_id, city AS subj, 'pop' AS pred, nc AS obj,
       0 AS tbl, 0 AS "row" FROM base
UNION ALL SELECT doc_id, city, 'note', note, 0, 0 FROM base
UNION ALL SELECT doc_id, town, 'pop', m7, 0, 1 FROM base
UNION ALL SELECT doc_id, town, 'note', 'plain', 0, 1 FROM base
"""


QUERIES.update({
    "html_tables": q_html_tables,
    "table_triples": q_table_triples,
})
ORACLES.update({
    "html_tables": ORACLE_HTML_TABLES,
    "table_triples": ORACLE_TABLE_TRIPLES,
})


# --------------------------------------------------------------------------
# ninth wave: WebTables analysis — profiles, subject detection, typed facts,
# composite channel
# --------------------------------------------------------------------------


def q_table_profiles(spark, sf_dir):
    """ACSDb-style column profile (structured_data.table_column_profile)
    over the two-table synth page: cell / non-empty / numeric / distinct
    counts per (page, table, column); oracle reconstructs each profile
    row closed-form (the only data-dependent stat — whether the pop
    column's two numerics collide — is a CASE on the same columns)."""
    from ..operators.structured_data import (html_table_cells,
                                             table_column_profile)

    cells = html_table_cells(_table_html(_docs_tbl(spark, sf_dir)),
                             html_col="html", id_col="doc_id")
    out = table_column_profile(cells)
    return out.select(F.col("id").alias("doc_id"), "tbl", "col", "header",
                      "n_cells", "n_nonempty", "n_numeric", "n_distinct")


ORACLE_TABLE_PROFILES = """
WITH base AS (
  SELECT doc_id,
         cast(n_chars AS varchar) AS nc,
         cast(doc_id % 7 AS varchar) AS m7
  FROM documents
)
SELECT doc_id, 0 AS tbl, 0 AS col, 'name' AS header,
       2::bigint AS n_cells, 2::bigint AS n_nonempty,
       0::bigint AS n_numeric, 2::bigint AS n_distinct FROM base
UNION ALL SELECT doc_id, 0, 1, 'pop', 2, 2, 2,
       CASE WHEN nc = m7 THEN 1 ELSE 2 END FROM base
UNION ALL SELECT doc_id, 0, 2, 'note', 2, 2, 0, 2 FROM base
UNION ALL SELECT doc_id, 1, 0, 'col0', 1, 1, 0, 1 FROM base
UNION ALL SELECT doc_id, 1, 1, 'col1', 1, 1, 0, 1 FROM base
"""


def _table_html_rank(docs):
    """Subject-detection synth: table 0 is rank-first (the entity column
    is col 1 — 'rank'/'score' are numeric); table 1 has TWO non-numeric
    named columns where col 0 is constant and col 1 distinct (detection
    must pick the higher distinct ratio, not the leftmost)."""
    d = F.col("doc_id").cast("string")
    row = lambda r: F.concat(  # noqa: E731
        F.lit(f"<tr><td>{r + 1}</td><td>e"), d, F.lit(f"_{r}</td><td>"),
        ((F.col("doc_id") + r) % 5).cast("string"), F.lit("</td></tr>"))
    html = F.concat(
        F.lit("<table><tr><th>rank</th><th>name</th><th>score</th></tr>"),
        row(0), row(1), row(2),
        F.lit("</table><table><tr><th>x</th><th>y</th></tr>"
              "<tr><td>k</td><td>u"), d,
        F.lit("_0</td></tr><tr><td>k</td><td>u"), d,
        F.lit("_1</td></tr></table>"),
    )
    return docs.select("doc_id", html.alias("html"))


def q_table_subject_facts(spark, sf_dir):
    """Detected-subject row facts (structured_data.table_entity_facts):
    table 0's entity column is 'name' (col 1 — rank/score are numeric),
    table 1's is 'y' (col 1 — col 0 'x' is constant, lower distinct
    ratio). Oracle enumerates the re-keyed facts closed-form."""
    from ..operators.structured_data import (html_table_cells,
                                             table_entity_facts)

    cells = html_table_cells(_table_html_rank(_docs_tbl(spark, sf_dir)),
                             html_col="html", id_col="doc_id")
    return table_entity_facts(cells).select(
        F.col("id").alias("doc_id"), "tbl", "row", "subj", "pred", "obj")


ORACLE_TABLE_SUBJECT_FACTS = """
WITH r AS (SELECT unnest([0, 1, 2]) AS rw),
base AS (
  SELECT doc_id, rw,
         'e' || doc_id || '_' || rw AS ent,
         cast(rw + 1 AS varchar) AS rank_v,
         cast((doc_id + rw) % 5 AS varchar) AS score_v
  FROM documents, r
)
SELECT doc_id, 0 AS tbl, rw AS "row", ent AS subj,
       'rank' AS pred, rank_v AS obj FROM base
UNION ALL SELECT doc_id, 0, rw, ent, 'score', score_v FROM base
UNION ALL SELECT doc_id, 1, rw, 'u' || doc_id || '_' || rw, 'x', 'k'
  FROM base WHERE rw < 2
"""


def _table_html_units(docs):
    """Datatype-guessing synth: one key column + six value columns
    covering every guess rule — unit suffix (km, kg), xsd:date,
    plain string, comma-grouped integer, double."""
    d = F.col("doc_id").cast("string")
    w1 = F.substring_index(F.col("text"), " ", 1)
    html = F.concat(
        F.lit("<table><tr><th>name</th><th>dist</th><th>mass</th>"
              "<th>born</th><th>note</th><th>pop</th><th>ratio</th></tr>"
              "<tr><td>m"), d, F.lit("</td><td>"),
        ((F.col("doc_id") % 90) + 1).cast("string"), F.lit(" km</td><td>"),
        (F.col("doc_id") % 4).cast("string"), F.lit(".5 kg</td><td>"
              "2020-01-0"), ((F.col("doc_id") % 9) + 1).cast("string"),
        F.lit("</td><td>plain "), w1, F.lit("</td><td>"),
        ((F.col("doc_id") % 9) + 1).cast("string"), F.lit(",234</td><td>"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".25</td></tr></table>"),
    )
    return docs.select("doc_id", html.alias("html"))


def q_table_typed_facts(spark, sf_dir):
    """Infobox-rule datatype guessing over table facts (structured_data.
    typed_table_facts ∘ html_table_triples): unit suffixes split to
    canonical lexical + unit datatype URI, comma grouping stripped from
    integers, dates and strings recognized — same rule table as the
    infobox extractor so both channels fuse."""
    from ..operators.structured_data import (html_table_triples,
                                             typed_table_facts)

    trips = html_table_triples(_table_html_units(_docs_tbl(spark, sf_dir)),
                               html_col="html", id_col="doc_id")
    return typed_table_facts(trips).select(
        F.col("id").alias("doc_id"), "subj", "pred", "obj", "datatype")


_DTNS = "http://kg.example.org/datatype/"
_XSDNS = "http://www.w3.org/2001/XMLSchema#"

ORACLE_TABLE_TYPED_FACTS = f"""
WITH base AS (
  SELECT doc_id,
         'm' || doc_id AS ent,
         cast((doc_id % 90) + 1 AS varchar) AS dist,
         (doc_id % 4) || '.5' AS mass,
         '2020-01-0' || ((doc_id % 9) + 1) AS born,
         'plain ' || split_part(text, ' ', 1) AS note,
         ((doc_id % 9) + 1) || '234' AS pop,
         (doc_id % 7) || '.25' AS ratio
  FROM documents
)
SELECT doc_id, ent AS subj, 'dist' AS pred, dist AS obj,
       '{_DTNS}kilometre' AS datatype FROM base
UNION ALL SELECT doc_id, ent, 'mass', mass, '{_DTNS}kilogram' FROM base
UNION ALL SELECT doc_id, ent, 'born', born, '{_XSDNS}date' FROM base
UNION ALL SELECT doc_id, ent, 'note', note, '{_XSDNS}string' FROM base
UNION ALL SELECT doc_id, ent, 'pop', pop, '{_XSDNS}integer' FROM base
UNION ALL SELECT doc_id, ent, 'ratio', ratio, '{_XSDNS}double' FROM base
"""


def _webkg_tables_injected(spark, sf_dir):
    """Composite-channel synth: one outlink, one <th>-headed table whose
    TWO rows share a key (the mention edge must dedup page-locally),
    one headerless table (must contribute nothing)."""
    docs = _docs_tbl(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<a href="https://o/'), (F.col("doc_id") % 10).cast("string"),
        F.lit('">x</a><table><tr><th>k</th><th>v</th></tr><tr><td>e'),
        (F.col("doc_id") % 4).cast("string"), F.lit("</td><td>a"), d,
        F.lit("</td></tr><tr><td>e"), (F.col("doc_id") % 4).cast("string"),
        F.lit("</td><td>b"), (F.col("doc_id") % 3).cast("string"),
        F.lit("</td></tr></table><table><tr><td>z</td></tr></table>"),
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("https://pages.example/"), d).alias("url"),
        html.alias("html"),
    )


def q_webkg_tables(spark, sf_dir):
    """web_page_triples' WebTables channel (tables=True, the default):
    row-key facts + ONE (url, mentions, key) edge per distinct key per
    page (two rows share the key — the marker dedups page-locally
    inside the parse UDF, no exchange), headerless tables contribute
    nothing, and the link channel unions in unchanged."""
    from ..operators.structured_data import web_page_triples

    out = web_page_triples(_webkg_tables_injected(spark, sf_dir),
                           id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "subj", "pred", "obj",
                      "obj_kind")


ORACLE_WEBKG_TABLES = """
WITH base AS (
  SELECT doc_id,
         'https://pages.example/' || doc_id AS s,
         'e' || (doc_id % 4) AS k,
         'a' || doc_id AS va,
         'b' || (doc_id % 3) AS vb
  FROM documents
)
SELECT doc_id, s AS subj, 'links_to' AS pred,
       'https://o/' || (doc_id % 10) AS obj, 'uri' AS obj_kind FROM base
UNION ALL SELECT doc_id, s, 'mentions', k, 'mention' FROM base
UNION ALL SELECT doc_id, k, 'v', va, 'literal' FROM base
UNION ALL SELECT doc_id, k, 'v', vb, 'literal' FROM base
"""


QUERIES.update({
    "table_profiles": q_table_profiles,
    "table_subject_facts": q_table_subject_facts,
    "table_typed_facts": q_table_typed_facts,
    "webkg_tables": q_webkg_tables,
})
ORACLES.update({
    "table_profiles": ORACLE_TABLE_PROFILES,
    "table_subject_facts": ORACLE_TABLE_SUBJECT_FACTS,
    "table_typed_facts": ORACLE_TABLE_TYPED_FACTS,
    "webkg_tables": ORACLE_WEBKG_TABLES,
})


# --------------------------------------------------------------------------
# Structured mapping constructs (the rest of the published mappings-wiki
# language): CalculateMapping, CombineDateMapping, DateIntervalMapping,
# GeocoordinatesMapping, IntermediateNodeMapping. All five run over one
# shared station-infobox corpus (every doc boxed), hash-compared to
# closed-form SQL over the same doc_id formulas.
# --------------------------------------------------------------------------

# station pages: every key the five constructs need, derived from doc_id
MAPBOX_CTE = """
SELECT
  doc_id,
  'Doc_' || doc_id AS title,
  'https://en.pages.example.org/wiki/Doc_' || doc_id AS url,
  TIMESTAMP '2024-01-01 00:00:00' AS warc_ts,
  '{{Infobox station | name = S' || doc_id ||
  ' | employer = [[Doc_' || ((doc_id * 5) % 100) || ']]' ||
  ' | start_year = ' || (1900 + doc_id % 100) ||
  ' | day = ' || (doc_id % 28 + 1) ||
  ' | month = ' || (doc_id % 12 + 1) ||
  ' | year = ' || (1900 + doc_id % 100) ||
  ' | term = ' || (1900 + doc_id % 100) || '-' || (1910 + doc_id % 100) ||
  ' | latitude = ' || (doc_id % 90) || '.5' ||
  ' | longitude = ' || (doc_id % 180) || '.25' ||
  ' | population = ' || (doc_id * 37) ||
  ' | area = ' || (doc_id % 100) || '.25' ||
  '}}' AS text,
  'en' AS lang
FROM {tbl}
"""

_MAPBOX_DOC = MAPBOX_CTE.replace("{tbl}", "documents")


def _station_arrays(spark, sf_dir):
    from ..operators.mapping import template_kv_arrays

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__mapbox_docs")
    pages = spark.sql(MAPBOX_CTE.replace("{tbl}", "__mapbox_docs"))
    return template_kv_arrays(pages)


def q_mapping_calculate(spark, sf_dir):
    """CalculateMapping gate: populationDensity = population / area over
    the station corpus; compared as rounded doubles (string formatting of
    doubles differs across engines)."""
    from ..operators.mapping import CALC_SCHEMA, calculate_mapping

    spec = spark.createDataFrame(
        [("Infobox_station", "population", "area", "divide",
          S.ONTOLOGY + "populationDensity")],
        CALC_SCHEMA,
    )
    q = calculate_mapping(_station_arrays(spark, sf_dir), spec)
    return q.select(
        "subj", "pred",
        F.round(F.col("obj").try_cast("double"), 4).alias("val"),
    )


ORACLE_MAPPING_CALCULATE = f"""
WITH boxed AS ({_MAPBOX_DOC})
SELECT '{RES}' || title AS subj,
       '{S.ONTOLOGY}populationDensity' AS pred,
       round(cast(doc_id * 37 AS double) /
             cast((doc_id % 100) || '.25' AS double), 4) AS val
FROM boxed
"""


def q_mapping_combine_date(spark, sf_dir):
    """CombineDateMapping gate: day/month/year → one xsd:date literal."""
    from ..operators.mapping import COMBINE_DATE_SCHEMA, combine_date_mapping

    spec = spark.createDataFrame(
        [("Infobox_station", "day", "month", "year",
          S.ONTOLOGY + "foundingDate")],
        COMBINE_DATE_SCHEMA,
    )
    q = combine_date_mapping(_station_arrays(spark, sf_dir), spec)
    return q.select("subj", "pred", "obj", "datatype")


ORACLE_MAPPING_COMBINE_DATE = f"""
WITH boxed AS ({_MAPBOX_DOC})
SELECT '{RES}' || title AS subj,
       '{S.ONTOLOGY}foundingDate' AS pred,
       strftime(make_date(1900 + doc_id % 100, doc_id % 12 + 1,
                          doc_id % 28 + 1), '%Y-%m-%d') AS obj,
       '{S.XSD_DATE}' AS datatype
FROM boxed
"""


def q_mapping_interval(spark, sf_dir):
    """DateIntervalMapping gate: 'YYYY-YYYY' term → activeYearsStartYear /
    activeYearsEndYear gYear pair."""
    from ..operators.mapping import INTERVAL_SCHEMA, date_interval_mapping

    spec = spark.createDataFrame(
        [("Infobox_station", "term",
          S.ONTOLOGY + "activeYearsStartYear",
          S.ONTOLOGY + "activeYearsEndYear")],
        INTERVAL_SCHEMA,
    )
    q = date_interval_mapping(_station_arrays(spark, sf_dir), spec)
    return q.select("subj", "pred", "obj", "datatype")


ORACLE_MAPPING_INTERVAL = f"""
WITH boxed AS ({_MAPBOX_DOC})
SELECT '{RES}' || title AS subj,
       '{S.ONTOLOGY}activeYearsStartYear' AS pred,
       cast(1900 + doc_id % 100 AS varchar) AS obj,
       '{S.XSD}gYear' AS datatype
FROM boxed
UNION ALL
SELECT '{RES}' || title, '{S.ONTOLOGY}activeYearsEndYear',
       cast(1910 + doc_id % 100 AS varchar), '{S.XSD}gYear'
FROM boxed
"""


def q_mapping_geo(spark, sf_dir):
    """GeocoordinatesMapping gate: latitude/longitude keys → geo:lat /
    geo:long / georss:point rows, raw textual values preserved."""
    from ..operators.mapping import GEO_MAP_SCHEMA, geocoordinates_mapping

    spec = spark.createDataFrame(
        [("Infobox_station", "latitude", "longitude")], GEO_MAP_SCHEMA
    )
    q = geocoordinates_mapping(_station_arrays(spark, sf_dir), spec)
    return q.select("subj", "pred", "obj")


ORACLE_MAPPING_GEO = f"""
WITH boxed AS ({_MAPBOX_DOC})
SELECT '{RES}' || title AS subj, '{S.GEO_LAT}' AS pred,
       (doc_id % 90) || '.5' AS obj FROM boxed
UNION ALL
SELECT '{RES}' || title, '{S.GEO_LONG}', (doc_id % 180) || '.25' FROM boxed
UNION ALL
SELECT '{RES}' || title, '{S.GEORSS_POINT}',
       (doc_id % 90) || '.5 ' || (doc_id % 180) || '.25' FROM boxed
"""


def q_mapping_intermediate(spark, sf_dir):
    """IntermediateNodeMapping gate: career-station node per page, typed,
    linked from the page, carrying employer (object) + start_year
    (gYear literal) inner mappings."""
    from ..operators.mapping import (
        INODE_SCHEMA,
        PROPERTY_MAP_SCHEMA,
        intermediate_node_mapping,
    )

    spec = spark.createDataFrame(
        [("Infobox_station", "CareerStation", S.ONTOLOGY + "CareerStation",
          S.ONTOLOGY + "career")],
        INODE_SCHEMA,
    )
    pmaps = spark.createDataFrame(
        [
            ("Infobox_station", "employer", S.ONTOLOGY + "employer", "object"),
            ("Infobox_station", "start_year", S.ONTOLOGY + "startYear",
             S.XSD + "gYear"),
        ],
        PROPERTY_MAP_SCHEMA,
    )
    q = intermediate_node_mapping(_station_arrays(spark, sf_dir), spec, pmaps)
    return q.select("dataset", "subj", "pred", "obj", "datatype")


ORACLE_MAPPING_INTERMEDIATE = f"""
WITH boxed AS ({_MAPBOX_DOC}),
n AS (
  SELECT doc_id, '{RES}' || title AS subj,
         '{RES}' || title || '__CareerStation__1' AS node
  FROM boxed
)
SELECT 'mappingbased_objects' AS dataset, subj,
       '{S.ONTOLOGY}career' AS pred, node AS obj,
       cast(NULL AS varchar) AS datatype FROM n
UNION ALL
SELECT 'instance_types', node, '{S.RDF_TYPE}',
       '{S.ONTOLOGY}CareerStation', NULL FROM n
UNION ALL
SELECT 'mappingbased_objects', node, '{S.ONTOLOGY}employer',
       '{RES}Doc_' || ((doc_id * 5) % 100), NULL FROM n
UNION ALL
SELECT 'mappingbased_literals', node, '{S.ONTOLOGY}startYear',
       cast(1900 + doc_id % 100 AS varchar), '{S.XSD}gYear' FROM n
"""


QUERIES.update({
    "mapping_calculate": q_mapping_calculate,
    "mapping_combine_date": q_mapping_combine_date,
    "mapping_interval": q_mapping_interval,
    "mapping_geo": q_mapping_geo,
    "mapping_intermediate": q_mapping_intermediate,
})
ORACLES.update({
    "mapping_calculate": ORACLE_MAPPING_CALCULATE,
    "mapping_combine_date": ORACLE_MAPPING_COMBINE_DATE,
    "mapping_interval": ORACLE_MAPPING_INTERVAL,
    "mapping_geo": ORACLE_MAPPING_GEO,
    "mapping_intermediate": ORACLE_MAPPING_INTERMEDIATE,
})


# --------------------------------------------------------------------------
# OWL-lite entailment gates: property-characteristic rules (inverse /
# symmetric / functional / inverse-functional / equivalentClass) and the
# per-property transitive closure, both over a deterministic entity
# relation built from documents, hash-compared to closed-form SQL (the
# transitive oracle is a recursive CTE).
# --------------------------------------------------------------------------

OWL_Q_CTE = """
SELECT 'e:' || (doc_id % 200) AS subj, 'p:knows' AS pred,
       'e:' || ((doc_id * 3) % 200) AS obj
FROM {tbl}
UNION ALL
SELECT 's:' || (doc_id % 50), 'p:id', 'v:' || doc_id FROM {tbl}
UNION ALL
SELECT 'u:' || doc_id, 'p:mbox', 'm:' || (doc_id % 60) FROM {tbl}
UNION ALL
SELECT 'e:' || (doc_id % 200),
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       CASE WHEN doc_id % 2 = 0 THEN 'c:Person' ELSE 'c:Agent' END
FROM {tbl}
"""

OWL_PART_CTE = """
SELECT 'e:' || (doc_id % 200) AS subj, 'p:partOf' AS pred,
       'e:' || cast(floor((doc_id % 200) / 2) AS int) AS obj
FROM {tbl} WHERE doc_id % 200 > 0
"""


_OWL_Q_DOC = OWL_Q_CTE.replace("{tbl}", "documents")
_OWL_PART_DOC = OWL_PART_CTE.replace("{tbl}", "documents")


def _owl_quads(spark, sf_dir, cte):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__owl_docs")
    return spark.sql(cte.replace("{tbl}", "__owl_docs")).distinct()


def q_owl_entail_props(spark, sf_dir):
    """owl_entailment gate — inverse (knows/knownBy), symmetric (knows),
    functional (p:id → sameAs among a subject's values), inverse-
    functional (p:mbox → sameAs among a mailbox's owners), and
    equivalentClass (Person ≡ Human) in one pass; entailed-only rows."""
    from ..operators.reasoning import owl_entailment

    quads = _owl_quads(spark, sf_dir, OWL_Q_CTE)
    ent = owl_entailment(
        quads,
        inverse=spark.createDataFrame(
            [("p:knows", "p:knownBy")], "prop string, inv string"),
        symmetric=spark.createDataFrame([("p:knows",)], "prop string"),
        functional=spark.createDataFrame([("p:id",)], "prop string"),
        inverse_functional=spark.createDataFrame(
            [("p:mbox",)], "prop string"),
        equivalent_class=spark.createDataFrame(
            [("c:Person", "c:Human")], "a string, b string"),
    )
    return ent.select("subj", "pred", "obj")


ORACLE_OWL_ENTAIL_PROPS = f"""
WITH q AS (SELECT DISTINCT * FROM ({_OWL_Q_DOC})),
derived AS (
  SELECT obj AS subj, 'p:knownBy' AS pred, subj AS obj
  FROM q WHERE pred = 'p:knows'
  UNION ALL
  SELECT obj, 'p:knows', subj FROM q WHERE pred = 'p:knows'
  UNION ALL
  SELECT a.obj, '{S.OWL_SAMEAS}', b.obj
  FROM q a JOIN q b ON a.subj = b.subj
  WHERE a.pred = 'p:id' AND b.pred = 'p:id' AND a.obj < b.obj
  UNION ALL
  SELECT a.subj, '{S.OWL_SAMEAS}', b.subj
  FROM q a JOIN q b ON a.obj = b.obj
  WHERE a.pred = 'p:mbox' AND b.pred = 'p:mbox' AND a.subj < b.subj
  UNION ALL
  SELECT subj, pred, 'c:Human' FROM q
  WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
    AND obj = 'c:Person'
)
SELECT DISTINCT subj, pred, obj FROM derived
EXCEPT
SELECT subj, pred, obj FROM q
"""


def q_owl_transitive(spark, sf_dir):
    """owl_entailment gate — TransitiveProperty closure of the halving
    tree e:i → e:⌊i/2⌋ (depth ≈ log₂ 200), entailed-only pairs vs a
    recursive-CTE oracle."""
    from ..operators.reasoning import owl_entailment

    quads = _owl_quads(spark, sf_dir, OWL_PART_CTE)
    ent = owl_entailment(
        quads,
        transitive=spark.createDataFrame([("p:partOf",)], "prop string"),
    )
    return ent.select("subj", "pred", "obj")


ORACLE_OWL_TRANSITIVE = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT subj AS src, obj AS dst
  FROM ({_OWL_PART_DOC})
),
tc AS (
  SELECT src, dst FROM e
  UNION
  SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src
)
SELECT src AS subj, 'p:partOf' AS pred, dst AS obj FROM tc
WHERE src <> dst
EXCEPT
SELECT src, 'p:partOf', dst FROM e
"""


QUERIES.update({
    "owl_entail_props": q_owl_entail_props,
    "owl_transitive": q_owl_transitive,
})
ORACLES.update({
    "owl_entail_props": ORACLE_OWL_ENTAIL_PROPS,
    "owl_transitive": ORACLE_OWL_TRANSITIVE,
})


# --------------------------------------------------------------------------
# Collective entity disambiguation gate: coherence-aware linking over a
# deterministic ambiguous-surface corpus. Priors are DYADIC (0.5/0.25/
# 0.125) and lam = 0.25, so every score is an exact binary fraction —
# float summation order cannot differ between engines.
# --------------------------------------------------------------------------

# mentions: page P_(doc_id%40) mentions surface s_(doc_id%30);
# candidates: s_k → E_k (0.5), E_(k+30) (0.25), E_(k+60) (0.125);
# KG edges: E_i → E_((i*3)%100) for i < 100.
def q_collective_linking(spark, sf_dir):
    from ..operators.linking import collective_link

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__cl_docs")
    mentions = spark.sql("""
        SELECT 'P' || (doc_id % 40) AS page, doc_id AS mention,
               's' || (doc_id % 30) AS surface
        FROM __cl_docs
    """)
    cands = spark.sql("""
        SELECT 's' || k AS surface, 'E' || (k + off) AS entity,
               0.5 / power(2.0, off / 30) AS prior
        FROM (SELECT DISTINCT doc_id % 30 AS k FROM __cl_docs),
             (VALUES (0), (30), (60)) AS t(off)
    """)
    edges = spark.sql("""
        SELECT DISTINCT 'E' || (doc_id % 100) AS src,
               'E' || ((doc_id * 3) % 100) AS dst
        FROM __cl_docs
    """)
    out = collective_link(mentions, cands, edges, lam=0.25)
    return out.select("page", "mention", "entity", "score")


ORACLE_COLLECTIVE_LINKING = """
WITH m AS (
  SELECT 'P' || (doc_id % 40) AS page, doc_id AS mention,
         's' || (doc_id % 30) AS surface
  FROM documents
),
c AS (
  SELECT 's' || k AS surface, 'E' || (k + off) AS entity,
         0.5 / power(2.0, off / 30) AS prior
  FROM (SELECT DISTINCT doc_id % 30 AS k FROM documents),
       (VALUES (0), (30), (60)) AS t(off)
),
e0 AS (
  SELECT DISTINCT 'E' || (doc_id % 100) AS src,
         'E' || ((doc_id * 3) % 100) AS dst
  FROM documents
),
und AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
),
cm AS (
  SELECT m.page, m.mention, m.surface, c.entity, c.prior
  FROM m JOIN c USING (surface)
),
coh AS (
  SELECT a.page, a.mention, a.entity, sum(b.prior) AS coh
  FROM cm a
  JOIN cm b ON a.page = b.page AND a.mention <> b.mention
  JOIN und ON a.entity = und.src AND b.entity = und.dst
  GROUP BY a.page, a.mention, a.entity
),
scored AS (
  SELECT cm.page, cm.mention, cm.entity,
         cm.prior + 0.25 * coalesce(coh.coh, 0.0) AS score
  FROM cm LEFT JOIN coh
    ON cm.page = coh.page AND cm.mention = coh.mention
   AND cm.entity = coh.entity
),
ranked AS (
  SELECT page, mention, entity, score,
         row_number() OVER (PARTITION BY page, mention
                            ORDER BY score DESC, entity ASC) AS rn
  FROM scored
)
SELECT page, mention, entity, score FROM ranked WHERE rn = 1
"""


QUERIES.update({"collective_linking": q_collective_linking})
ORACLES.update({"collective_linking": ORACLE_COLLECTIVE_LINKING})


# --------------------------------------------------------------------------
# Strongly-connected-components gate: the 7-multiplication permutation on
# Z/120 (30 cycles of length ≤ 4) plus dangling 'M' sinks that exercise
# the trim phase; oracle = mutual reachability via a recursive CTE.
# --------------------------------------------------------------------------

SCC_E_CTE = """
SELECT DISTINCT 'N' || (doc_id % 120) AS src,
       'N' || ((doc_id * 7) % 120) AS dst
FROM {tbl}
UNION
SELECT DISTINCT 'N' || (doc_id % 120), 'M' || (doc_id % 50)
FROM {tbl} WHERE doc_id % 3 = 0
"""

_SCC_E_DOC = SCC_E_CTE.replace("{tbl}", "documents")


def q_scc(spark, sf_dir):
    from ..operators.graph import strongly_connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__scc_docs")
    edges = spark.sql(SCC_E_CTE.replace("{tbl}", "__scc_docs"))
    return strongly_connected_components(edges).select("node", "scc")


ORACLE_SCC = f"""
WITH RECURSIVE e AS ({_SCC_E_DOC}),
e2 AS (SELECT src, dst FROM e WHERE src <> dst),
n AS (SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
tc AS (
  SELECT src, dst FROM e2
  UNION
  SELECT tc.src, e2.dst FROM tc JOIN e2 ON tc.dst = e2.src
),
mutual AS (
  SELECT a.src AS v, a.dst AS u
  FROM tc a JOIN tc b ON a.src = b.dst AND a.dst = b.src
)
SELECT n.node, least(n.node, coalesce(min(m.u), n.node)) AS scc
FROM n LEFT JOIN mutual m ON m.v = n.node
GROUP BY n.node
"""


QUERIES.update({"scc": q_scc})
ORACLES.update({"scc": ORACLE_SCC})


# --------------------------------------------------------------------------
# Weighted-SSSP gate: a 200-node DAG (binary-tree-down edges + skip
# edges give competing paths), integer weights so double sums are exact;
# oracle = recursive path enumeration + min per node (terminates because
# every edge strictly increases the node index).
# --------------------------------------------------------------------------

SSSP_E_CTE = """
SELECT DISTINCT 'e:' || cast(floor((doc_id % 199) / 2) AS int) AS src,
       'e:' || (doc_id % 199) AS dst,
       cast((doc_id % 7) + 1 AS double) AS w
FROM {tbl} WHERE doc_id % 199 > 0
UNION
SELECT DISTINCT 'e:' || (doc_id % 199), 'e:' || ((doc_id % 199) + 40),
       cast(1 AS double)
FROM {tbl} WHERE doc_id % 5 = 0 AND (doc_id % 199) + 40 < 199
"""

_SSSP_E_DOC = SSSP_E_CTE.replace("{tbl}", "documents")


def q_weighted_sssp(spark, sf_dir):
    from ..operators.graph import weighted_sssp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__sssp_docs")
    edges = spark.sql(SSSP_E_CTE.replace("{tbl}", "__sssp_docs"))
    return weighted_sssp(edges, ["e:0"], max_iter=40).select("uri", "dist")


ORACLE_WEIGHTED_SSSP = f"""
WITH RECURSIVE e AS ({_SSSP_E_DOC}),
paths AS (
  SELECT 'e:0' AS uri, cast(0 AS double) AS dist
  UNION
  SELECT e.dst, paths.dist + e.w
  FROM paths JOIN e ON e.src = paths.uri
)
SELECT uri, min(dist) AS dist FROM paths GROUP BY uri
"""


QUERIES.update({"weighted_sssp": q_weighted_sssp})
ORACLES.update({"weighted_sssp": ORACLE_WEIGHTED_SSSP})


# --------------------------------------------------------------------------
# Unit SI-normalization gate: infobox unit literals ("5 km", "3.5 lb",
# "12 km/h", "7 ha") extracted by the real extractor, then converted to
# their SI standard; oracle multiplies the same double literals.
# --------------------------------------------------------------------------

UNITS_CTE = """
SELECT
  doc_id,
  'Doc_' || doc_id AS title,
  'https://en.pages.example.org/wiki/Doc_' || doc_id AS url,
  TIMESTAMP '2024-01-01 00:00:00' AS warc_ts,
  '{{Infobox station | length = ' || (doc_id % 50) || ' km' ||
  ' | weight = ' || (doc_id % 30) || '.5 lb' ||
  ' | speed = ' || (doc_id % 20) || ' km/h' ||
  ' | zone = ' || (doc_id % 40) || ' ha}}' AS text,
  'en' AS lang
FROM {tbl}
"""

_UNITS_DOC = UNITS_CTE.replace("{tbl}", "documents")


def q_unit_si_normalize(spark, sf_dir):
    from ..operators.literals import normalize_unit_values

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__unit_docs")
    pages = spark.sql(UNITS_CTE.replace("{tbl}", "__unit_docs"))
    props = extractor_df(pages, "infobox_properties")
    norm = normalize_unit_values(
        props.where(F.col("datatype").startswith(S.DATATYPE_NS))
    )
    return norm.select(
        "subj", "pred",
        F.col("obj").try_cast("double").alias("val"),
        "datatype",
    )


ORACLE_UNIT_SI = f"""
WITH boxed AS ({_UNITS_DOC})
SELECT '{RES}' || title AS subj, '{S.PROPERTY}length' AS pred,
       cast(doc_id % 50 AS double) * 1000.0 AS val,
       '{S.DATATYPE_NS}metre' AS datatype
FROM boxed
UNION ALL
SELECT '{RES}' || title, '{S.PROPERTY}weight',
       cast((doc_id % 30) || '.5' AS double) * 0.45359237,
       '{S.DATATYPE_NS}kilogram'
FROM boxed
UNION ALL
SELECT '{RES}' || title, '{S.PROPERTY}speed',
       cast(doc_id % 20 AS double) * 0.2777777777777778,
       '{S.DATATYPE_NS}metrePerSecond'
FROM boxed
UNION ALL
SELECT '{RES}' || title, '{S.PROPERTY}zone',
       cast(doc_id % 40 AS double) * 10000.0,
       '{S.DATATYPE_NS}squareMetre'
FROM boxed
"""


QUERIES.update({"unit_si_normalize": q_unit_si_normalize})
ORACLES.update({"unit_si_normalize": ORACLE_UNIT_SI})


# --------------------------------------------------------------------------
# SDType type-inference gate: 3/4 of entities are typed; the operator
# infers the rest (plus the object-side entities reached through inverse
# features). Oracle replays the full conditional-probability pipeline.
# --------------------------------------------------------------------------

SDTYPE_Q_CTE = """
SELECT DISTINCT 'E' || (doc_id % 80) AS subj,
       CASE WHEN doc_id % 2 = 0 THEN 'p:a'
            WHEN doc_id % 3 = 0 THEN 'p:b'
            ELSE 'p:c' END AS pred,
       'W' || (doc_id % 40) AS obj
FROM {tbl}
"""

SDTYPE_T_CTE = """
SELECT DISTINCT 'E' || (doc_id % 80) AS entity,
       'T' || ((doc_id % 80) % 3) AS cls
FROM {tbl} WHERE (doc_id % 80) % 4 <> 0
"""


def q_sdtype_infer(spark, sf_dir):
    from ..operators.profiling import sdtype_infer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__sdt_docs")
    quads = spark.sql(SDTYPE_Q_CTE.replace("{tbl}", "__sdt_docs"))
    types = spark.sql(SDTYPE_T_CTE.replace("{tbl}", "__sdt_docs"))
    return sdtype_infer(quads, types).select("entity", "cls", "score")


_SDT_Q_DOC = SDTYPE_Q_CTE.replace("{tbl}", "documents")
_SDT_T_DOC = SDTYPE_T_CTE.replace("{tbl}", "documents")

ORACLE_SDTYPE = f"""
WITH q AS ({_SDT_Q_DOC}),
t AS ({_SDT_T_DOC}),
feats AS (
  SELECT DISTINCT entity, pred FROM (
    SELECT subj AS entity, pred FROM q
    UNION ALL
    SELECT obj AS entity, '^' || pred FROM q
  )
),
tf AS (SELECT f.entity, f.pred, t.cls FROM feats f JOIN t USING (entity)),
per_pt AS (
  SELECT pred, cls, count(DISTINCT entity) AS n_pt FROM tf GROUP BY pred, cls
),
per_p AS (SELECT pred, sum(n_pt) AS n_p FROM per_pt GROUP BY pred),
cond AS (
  SELECT per_pt.pred, cls, cast(n_pt AS double) / n_p AS p_t
  FROM per_pt JOIN per_p USING (pred)
),
unt AS (
  SELECT f.entity, f.pred FROM feats f
  LEFT JOIN (SELECT DISTINCT entity FROM t) te USING (entity)
  WHERE te.entity IS NULL
),
nf AS (SELECT entity, count(*) AS n_feats FROM unt GROUP BY entity),
sc AS (
  SELECT u.entity, c.cls, nf.n_feats, sum(c.p_t) AS vote
  FROM unt u JOIN cond c USING (pred) JOIN nf USING (entity)
  GROUP BY u.entity, c.cls, nf.n_feats
),
ranked AS (
  SELECT entity, cls, round(vote / n_feats, 6) AS score,
         row_number() OVER (PARTITION BY entity
                            ORDER BY round(vote / n_feats, 6) DESC,
                                     cls ASC) AS rn
  FROM sc
)
SELECT entity, cls, score FROM ranked WHERE rn = 1
"""


QUERIES.update({"sdtype_infer": q_sdtype_infer})
ORACLES.update({"sdtype_infer": ORACLE_SDTYPE})


# --------------------------------------------------------------------------
# W3C Direct Mapping gate: the nation table → triples (pk literal, fk
# reference to region, rdf:type row triple); oracle = per-column UNION.
# --------------------------------------------------------------------------

_RDB = "http://kg.example.org/rdb/"


def q_direct_mapping(spark, sf_dir):
    from ..sources.relational import direct_map

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return direct_map(
        nation, "nation", pk="n_nationkey",
        fks={"n_regionkey": ("region", "r_regionkey")},
    ).select("subj", "pred", "obj", "datatype")


ORACLE_DIRECT_MAPPING = f"""
WITH s AS (
  SELECT *, '{_RDB}nation/n_nationkey=' || n_nationkey AS subj FROM nation
)
SELECT subj, '{_RDB}nation#n_nationkey' AS pred,
       cast(n_nationkey AS varchar) AS obj,
       '{S.XSD_INTEGER}' AS datatype
FROM s WHERE n_nationkey IS NOT NULL
UNION ALL
SELECT subj, '{_RDB}nation#n_name', n_name, NULL
FROM s WHERE n_name IS NOT NULL
UNION ALL
SELECT subj, '{_RDB}nation#ref-n_regionkey',
       '{_RDB}region/r_regionkey=' || n_regionkey, NULL
FROM s WHERE n_regionkey IS NOT NULL
UNION ALL
SELECT subj, '{S.RDF_TYPE}', '{_RDB}nation', NULL FROM s
"""


QUERIES.update({"direct_mapping": q_direct_mapping})
ORACLES.update({"direct_mapping": ORACLE_DIRECT_MAPPING})


# --------------------------------------------------------------------------
# Geospatial linking gate: pages' extracted coordinates → nearest gazetteer
# entity within 3000 km via the grid-bucketed equi-join (operators/spatial).
# Points are the GeoExtractor pages (doc_id % 4 = 1: lat = doc_id%90 + .5,
# lon = doc_id%180 + .25 — the same synthesis x_geo_coordinates gates);
# the gazetteer derives deterministically from `nation`. The oracle is the
# brute-force cross join (25 places — trivially exact at oracle scale);
# the engine's grid join must reproduce it row-for-row.
# --------------------------------------------------------------------------


def q_geo_nearest_place(spark, sf_dir):
    from ..operators.spatial import nearest_places

    pages = _pages(spark, sf_dir)
    points = (
        pages.filter(
            ~F.col("text").startswith("#REDIRECT")
            & (F.col("doc_id") % 17 != 3)
            & (F.col("doc_id") % 29 != 7)
            & (F.col("doc_id") % 4 == 1)
        )
        .select(
            F.col("title").alias("page"),
            ((F.col("doc_id") % 90) + 0.5).cast("double").alias("lat"),
            ((F.col("doc_id") % 180) + 0.25).cast("double").alias("lon"),
        )
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    places = nation.select(
        F.col("n_name").alias("place"),
        ((F.col("n_nationkey") * 37) % 120 - 30 + 0.5)
        .cast("double")
        .alias("lat"),
        ((F.col("n_nationkey") * 59) % 360 - 180 + 0.25)
        .cast("double")
        .alias("lon"),
    )
    out = nearest_places(points, places, 3000.0, k=1, point_id="page")
    return out.select("page", "place", F.round("dist_km", 4).alias("dist_km"))


_HAV_SQL = (
    f"2.0 * {6371.0088} * asin(sqrt("
    "sin(radians(q.lat - g.lat) / 2.0) * sin(radians(q.lat - g.lat) / 2.0)"
    " + cos(radians(g.lat)) * cos(radians(q.lat))"
    " * sin(radians(q.lon - g.lon) / 2.0)"
    " * sin(radians(q.lon - g.lon) / 2.0)))"
)

ORACLE_GEO_NEAREST = f"""
{_oracle_pages()},
g AS (
  SELECT title AS page,
         cast((doc_id % 90) + 0.5 AS double) AS lat,
         cast((doc_id % 180) + 0.25 AS double) AS lon
  FROM pages WHERE {_REGULAR} AND doc_id % 4 = 1
),
q AS (
  SELECT n_name AS place,
         cast((n_nationkey * 37) % 120 - 30 + 0.5 AS double) AS lat,
         cast((n_nationkey * 59) % 360 - 180 + 0.25 AS double) AS lon
  FROM nation
),
cand AS (
  SELECT g.page, q.place, {_HAV_SQL} AS dist,
         row_number() OVER (PARTITION BY g.page
                            ORDER BY {_HAV_SQL} ASC, q.place ASC) AS rn
  FROM g, q
  WHERE {_HAV_SQL} <= 3000.0
)
SELECT page, place, round(dist, 4) AS dist_km FROM cand WHERE rn = 1
"""


QUERIES.update({"geo_nearest_place": q_geo_nearest_place})
ORACLES.update({"geo_nearest_place": ORACLE_GEO_NEAREST})


# ---------------------------------------------------------------------------
# bpe_pair_counts — BPE tokenizer induction, iteration-0 statistics
# (operators/tokenizer.py). The corpus collapses to a word-frequency table
# (the one corpus-sized job of BPE training), words split to character
# symbols + '</w>', and adjacent pairs aggregate instance-weighted. The
# iterative merge loop (bpe_train) is gated differentially in pytest
# (tests/test_tokenizer.py) against a sequential reference implementation;
# this gate hash-verifies the distributed statistics it iterates on.


def q_bpe_pair_counts(spark, sf_dir):
    """Iteration-0 BPE adjacent-pair counts over documents
    (operators/tokenizer.py:bpe_pair_counts) vs a full SQL re-derivation
    (char-split via list_transform + word-end marker)."""
    from ..operators.tokenizer import bpe_pair_counts

    return bpe_pair_counts(
        _docs_tbl(spark, sf_dir),
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


ORACLE_BPE_PAIR_COUNTS = """
WITH tk AS (
  SELECT regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS l
  FROM documents
), wc AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(l) AS word FROM tk) GROUP BY word
), sym AS (
  SELECT cnt,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[i]), '</w>') AS s
  FROM wc
)
SELECT s[i] AS lhs, s[i + 1] AS rhs, cast(sum(cnt) AS bigint) AS cnt
FROM (SELECT s, cnt, unnest(range(1, len(s))) AS i FROM sym)
GROUP BY lhs, rhs
"""


QUERIES.update({"bpe_pair_counts": q_bpe_pair_counts})
ORACLES.update({"bpe_pair_counts": ORACLE_BPE_PAIR_COUNTS})


# ---------------------------------------------------------------------------
# schema_graph — ABSTAT-style class-level quotient summary
# (operators/profiling.py:schema_graph): every non-type edge lifted to the
# classes of its endpoints (multi-typed fan-out, <untyped> fallback, literal
# objects under datatype/<langString>/<plain>), aggregated schema-sized.
# Fixture: a deterministic typed KG derived from doc_id arithmetic —
# ~80% typed entities, a multi-typed stratum (doc_id%7), resource edges to
# E(doc_id%97) (sf-independent), lang/typed/plain literal strata.

_SG_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

SCHEMA_KG_CTE = f"""
SELECT 'http://ex.org/E' || doc_id AS subj, '{_SG_TYPE}' AS pred,
       'http://ex.org/C' || (doc_id % 3) AS obj,
       CAST(NULL AS STRING) AS lang, CAST(NULL AS STRING) AS datatype
FROM {{tbl}} WHERE doc_id % 5 != 0
UNION ALL
SELECT 'http://ex.org/E' || doc_id, '{_SG_TYPE}',
       'http://ex.org/D' || (doc_id % 2), NULL, NULL
FROM {{tbl}} WHERE doc_id % 7 = 0
UNION ALL
SELECT 'http://ex.org/E' || doc_id, 'http://ex.org/p/links',
       'http://ex.org/E' || (doc_id % 97), NULL, NULL FROM {{tbl}}
UNION ALL
SELECT 'http://ex.org/E' || doc_id, 'http://ex.org/p/name',
       'name ' || doc_id, 'en', NULL FROM {{tbl}} WHERE doc_id % 2 = 0
UNION ALL
SELECT 'http://ex.org/E' || doc_id, 'http://ex.org/p/size',
       CAST(doc_id AS STRING), NULL,
       'http://www.w3.org/2001/XMLSchema#integer'
FROM {{tbl}} WHERE doc_id % 2 = 1
UNION ALL
SELECT 'http://ex.org/E' || doc_id, 'http://ex.org/p/note',
       'plain note', NULL, NULL FROM {{tbl}} WHERE doc_id % 11 = 0
"""


def q_schema_graph(spark, sf_dir):
    """Class-level KG summary (operators/profiling.schema_graph) over the
    deterministic typed-KG fixture vs a full SQL re-derivation of the
    two-sided class lift."""
    from ..operators.profiling import schema_graph

    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_sg_docs")
    quads = spark.sql(SCHEMA_KG_CTE.replace("{tbl}", "__defs_sg_docs"))
    return schema_graph(quads, type_pred=_SG_TYPE)


ORACLE_SCHEMA_GRAPH = f"""
WITH q AS ({SCHEMA_KG_CTE.replace('{tbl}', 'documents')}),
t AS (SELECT DISTINCT subj AS i, obj AS c FROM q WHERE pred = '{_SG_TYPE}'),
e AS (
  SELECT subj, pred, obj, lang, datatype,
         CASE WHEN datatype IS NULL AND lang IS NULL
                   AND regexp_matches(obj, '^https?://')
              THEN obj END AS ok
  FROM q WHERE pred != '{_SG_TYPE}'
),
l AS (
  SELECT coalesce(s.c, '<untyped>') AS src_cls, e.pred,
         CASE WHEN e.datatype IS NOT NULL THEN e.datatype
              WHEN e.lang IS NOT NULL THEN '<langString>'
              WHEN e.ok IS NULL THEN '<plain>'
              ELSE coalesce(d.c, '<untyped>') END AS dst_cls,
         e.subj
  FROM e LEFT JOIN t s ON e.subj = s.i LEFT JOIN t d ON e.ok = d.i
)
SELECT src_cls, pred, dst_cls, count(*) AS n_edges,
       cast(count(DISTINCT subj) AS bigint) AS n_src
FROM l GROUP BY src_cls, pred, dst_cls
"""


QUERIES.update({"schema_graph": q_schema_graph})
ORACLES.update({"schema_graph": ORACLE_SCHEMA_GRAPH})


# ---------------------------------------------------------------------------
# linkpred_metrics — KG link-prediction evaluation (operators/evaluation.py):
# MRR + Hits@k over a scored candidate table, rank computed as a COUNT of
# strictly-better candidates (join + groupBy, no per-query sort window).
# Fixture: every 50th order is a query; 20 candidate tails scored by the
# portable md5 hash-bucket; the true tail is o_custkey % 20 (exactly one
# true row per query by construction).


def q_linkpred_metrics(spark, sf_dir):
    """ranking_metrics over the deterministic scored-candidates fixture
    vs a full SQL re-derivation (same md5 scores, same count-based rank,
    same tie-break)."""
    from ..operators.evaluation import ranking_metrics
    from ..operators.sampling import hash_bucket

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scored = (
        orders.filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.col("o_orderkey").alias("query"),
            F.explode(F.sequence(F.lit(0), F.lit(19))).alias("cand"),
            (F.col("o_custkey") % 20).alias("__true"),
        )
        .select(
            "query", "cand",
            hash_bucket(
                F.concat_ws(":", F.lit("lp"), F.col("query"), F.col("cand"))
            ).alias("score"),
            (F.col("cand") == F.col("__true")).alias("is_true"),
        )
    )
    return ranking_metrics(scored, ks=(1, 3, 10))


ORACLE_LINKPRED_METRICS = """
WITH q AS (
  SELECT o_orderkey AS query, o_custkey % 20 AS tr
  FROM orders WHERE o_orderkey % 50 = 0
), sc AS (
  SELECT query, cand,
         cast('0x' || substr(md5('lp:' || query || ':' || cand), 1, 8)
              AS bigint) / 4294967296.0 AS score,
         (cand = tr) AS is_true
  FROM q, unnest(range(0, 20)) AS t(cand)
), truth AS (
  SELECT query, score AS ts, cast(cand AS varchar) AS tc
  FROM sc WHERE is_true
), r AS (
  SELECT sc.query,
         1 + sum(CASE WHEN sc.score > t.ts
                       OR (sc.score = t.ts
                           AND cast(sc.cand AS varchar) < t.tc)
                 THEN 1 ELSE 0 END) AS rank
  FROM sc JOIN truth t ON sc.query = t.query
  GROUP BY sc.query
)
SELECT cast(count(*) AS bigint) AS n_queries,
       round(avg(1.0 / rank), 6) AS mrr,
       round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6) AS hits_1,
       round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS hits_3,
       round(avg(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6) AS hits_10
FROM r
"""


QUERIES.update({"linkpred_metrics": q_linkpred_metrics})
ORACLES.update({"linkpred_metrics": ORACLE_LINKPRED_METRICS})


# ---------------------------------------------------------------------------
# value_outliers — robust per-predicate numeric-outlier detection
# (operators/validation.py:numeric_outliers): modified z-score over
# median/MAD (Iglewicz & Hoaglin), exact-percentile tier. Fixture: order
# totals with a deterministic 100x corruption stratum (o_orderkey % 997 = 0
# — the broken-unit-conversion regression shape) plus a uniform second
# predicate that must produce NO outliers.

_VO_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"
_VO_INT = "http://www.w3.org/2001/XMLSchema#integer"

VALUE_OUTLIERS_CTE = f"""
SELECT 'O' || o_orderkey AS subj, 'http://ex.org/p/total' AS pred,
       CAST(o_totalprice * CASE WHEN o_orderkey % 997 = 0
                                THEN 100.0 ELSE 1.0 END AS STRING) AS obj,
       '{_VO_DOUBLE}' AS datatype
FROM {{tbl}}
UNION ALL
SELECT 'O' || o_orderkey, 'http://ex.org/p/bucket',
       CAST(o_custkey % 100 AS STRING), '{_VO_INT}'
FROM {{tbl}}
"""


def q_value_outliers(spark, sf_dir):
    """numeric_outliers over the corrupted-totals fixture vs a SQL
    re-derivation (quantile_cont median/MAD, same modified-z rule)."""
    from ..operators.validation import numeric_outliers

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "__defs_vo_orders"
    )
    quads = spark.sql(
        VALUE_OUTLIERS_CTE.replace("{tbl}", "__defs_vo_orders")
    ).withColumn("lang", F.lit(None).cast("string"))
    return numeric_outliers(quads, k=3.5)


ORACLE_VALUE_OUTLIERS = f"""
WITH q AS ({VALUE_OUTLIERS_CTE.replace('{tbl}', 'orders')}),
v AS (
  SELECT subj, pred, try_cast(obj AS DOUBLE) AS value
  FROM q WHERE datatype IN ('{_VO_DOUBLE}', '{_VO_INT}')
    AND try_cast(obj AS DOUBLE) IS NOT NULL
), med AS (
  SELECT pred, quantile_cont(value, 0.5) AS med FROM v GROUP BY pred
), mad AS (
  SELECT v.pred, any_value(med.med) AS med,
         quantile_cont(abs(v.value - med.med), 0.5) AS mad
  FROM v JOIN med ON v.pred = med.pred GROUP BY v.pred
)
SELECT v.subj, v.pred, v.value,
       round(mad.med, 6) AS med, round(mad.mad, 6) AS mad,
       round(0.6745 * (v.value - mad.med) / mad.mad, 6) AS z
FROM v JOIN mad ON v.pred = mad.pred
WHERE mad.mad > 0 AND abs(0.6745 * (v.value - mad.med) / mad.mad) > 3.5
"""


QUERIES.update({"value_outliers": q_value_outliers})
ORACLES.update({"value_outliers": ORACLE_VALUE_OUTLIERS})


# ---------------------------------------------------------------------------
# Final-round wave: characteristic sets (Neumann-Moerkotte star-join
# cardinality statistics), per-edge triangle support (the k-truss signal),
# and n-gram containment near-dup (Broder's overlap coefficient — catches
# the short-page-quoted-in-long-page inclusions Jaccard thresholds miss).
# ---------------------------------------------------------------------------


def q_characteristic_sets(spark, sf_dir):
    """Characteristic-set statistics (operators/profiling.
    characteristic_sets) over the deterministic typed-KG fixture vs a
    full SQL re-derivation of the two-level aggregation."""
    from ..operators.profiling import characteristic_sets

    _docs_tbl(spark, sf_dir).createOrReplaceTempView("__defs_cs_docs")
    quads = spark.sql(SCHEMA_KG_CTE.replace("{tbl}", "__defs_cs_docs"))
    return characteristic_sets(quads)


ORACLE_CHARACTERISTIC_SETS = f"""
WITH q AS ({SCHEMA_KG_CTE.replace('{tbl}', 'documents')}),
per AS (
  SELECT subj,
         array_to_string(list_sort(list(DISTINCT pred)), '|') AS cs,
         count(*) AS n
  FROM q GROUP BY subj
)
SELECT cs,
       cast(len(string_split(cs, '|')) AS int) AS n_preds,
       cast(count(*) AS bigint) AS n_subjects,
       cast(sum(n) AS bigint) AS n_triples
FROM per GROUP BY cs
"""


def q_edge_support(spark, sf_dir):
    """Per-edge triangle support over the wiki-link graph
    (operators/graph.edge_support) vs the same compact-forward triangle
    projection in ANSI SQL, zero-filled over the canonical edge set."""
    from ..operators.graph import edge_support

    return edge_support(_pl_edges(spark, sf_dir))


ORACLE_EDGE_SUPPORT = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
und AS (
  SELECT DISTINCT least(s, o) AS u, greatest(s, o) AS v FROM pl WHERE s <> o
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM und a
  JOIN und b ON a.v = b.u
  JOIN und c ON c.u = a.u AND c.v = b.v
),
sup AS (
  SELECT u, v, count(*) AS s FROM (
    SELECT x AS u, y AS v FROM tri
    UNION ALL SELECT y AS u, z AS v FROM tri
    UNION ALL SELECT x AS u, z AS v FROM tri)
  GROUP BY u, v
)
SELECT und.u, und.v, cast(coalesce(sup.s, 0) AS bigint) AS support
FROM und LEFT JOIN sup ON und.u = sup.u AND und.v = sup.v
"""


def q_ngram_containment(spark, sf_dir):
    # same df-capped inverted-index plan as ngram_jaccard (the production
    # shape); the overlap-coefficient score surfaces inclusion pairs a
    # 0.5-Jaccard gate never sees
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = D.ngram_containment_pairs(d, n=3, threshold=0.8, max_df=50)
    return p.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


ORACLE_NGRAM_CONTAINMENT = """
WITH d AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(coalesce(text,'')), '\\s+') AS w
  FROM documents WHERE trim(coalesce(text,'')) <> ''
), g AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 0) + 2),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS grams
  FROM d
), gf AS (
  SELECT id, grams FROM g WHERE len(grams) > 0
), inv AS (
  SELECT id, unnest(grams) AS gram FROM gf
), iv0 AS (SELECT id, gram FROM inv WHERE gram <> ''),
dfreq AS (SELECT gram FROM iv0 GROUP BY gram HAVING count(*) <= 50),
iv AS (SELECT id, gram FROM iv0 JOIN dfreq USING (gram)),
sizes AS (SELECT id, count(*) AS n FROM iv GROUP BY id),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
  FROM iv a JOIN iv b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(common / least(sa.n, sb.n), 6) AS containment
FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE common / least(sa.n, sb.n) >= 0.8
"""


QUERIES.update({
    "characteristic_sets": q_characteristic_sets,
    "edge_support": q_edge_support,
    "ngram_containment": q_ngram_containment,
})
ORACLES.update({
    "characteristic_sets": ORACLE_CHARACTERISTIC_SETS,
    "edge_support": ORACLE_EDGE_SUPPORT,
    "ngram_containment": ORACLE_NGRAM_CONTAINMENT,
})


# --------------------------------------------------------------------------
# Mergeable-sketch gates (operators/sketches.py): the 100 TB cardinality /
# membership / frequency toolbox, hash-verified STRUCTURALLY — the oracle
# recomputes the registers / cells / packed words themselves, not just the
# estimates, because the portable md5-integer hashing makes every sketch
# state engine-reproducible.
# --------------------------------------------------------------------------

_TOKS = (
    "SELECT unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) "
    "AS tok FROM documents"
)


def _tok_df(spark, sf_dir):
    return _docs_tbl(spark, sf_dir).select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '([a-z0-9]+)', 1)")
        ).alias("tok")
    )


def q_hll_registers(spark, sf_dir):
    """Per-event-type HyperLogLog register table (p=8) of distinct
    users (operators/sketches.hll_registers) — the register table, not
    the estimate, is the gated artifact."""
    from ..operators.sketches import hll_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hll_registers(ev, "user_id", p=8, group_cols=["event_type"])


ORACLE_HLL_REGISTERS = """
WITH h AS (
  SELECT event_type,
         cast('0x' || substr(md5(cast(user_id as varchar)), 1, 8) as bigint) AS h
  FROM events
), rr AS (
  SELECT event_type,
         cast(h // 16777216 as int) AS register,
         cast(CASE WHEN h % 16777216 = 0 THEN 25
              ELSE 25 - length(bin(h % 16777216)) END as int) AS rho
  FROM h
)
SELECT event_type, register, max(rho) AS rho FROM rr GROUP BY 1, 2
"""


def q_hll_estimate(spark, sf_dir):
    """HLL cardinality estimates (p=8, linear-counting small-range
    correction) next to the exact distinct count per event type."""
    from ..operators.sketches import hll_estimate, hll_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    regs = hll_registers(ev, "user_id", p=8, group_cols=["event_type"])
    est = hll_estimate(regs, p=8, group_cols=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_cnt")
    )
    return est.join(exact, "event_type").select(
        "event_type", "est", "exact_cnt"
    )


ORACLE_HLL_ESTIMATE = """
WITH h AS (
  SELECT event_type,
         cast('0x' || substr(md5(cast(user_id as varchar)), 1, 8) as bigint) AS h
  FROM events
), rr AS (
  SELECT event_type, cast(h // 16777216 as int) AS register,
         cast(CASE WHEN h % 16777216 = 0 THEN 25
              ELSE 25 - length(bin(h % 16777216)) END as int) AS rho
  FROM h
), regs AS (
  SELECT event_type, register, max(rho) AS rho FROM rr GROUP BY 1, 2
), agg AS (
  SELECT event_type, sum(pow(2.0, -rho)) AS s, count(*) AS nz
  FROM regs GROUP BY 1
), raws AS (
  SELECT event_type, s, nz,
         (cast(0.7182725932495458 as double) * 65536) / (s + (256 - nz)) AS raw
  FROM agg
), est AS (
  SELECT event_type,
         round(CASE WHEN raw <= 640 AND (256 - nz) > 0
               THEN 256.0 * ln(256.0 / (256 - nz)) ELSE raw END, 4) AS est
  FROM raws
), exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_cnt FROM events GROUP BY 1
)
SELECT est.event_type, est, exact_cnt FROM est JOIN exact USING (event_type)
"""


def q_countmin_sketch(spark, sf_dir):
    """4x256 Count-Min sketch of the document token stream
    (operators/sketches.count_min_sketch) — the full cell grid."""
    from ..operators.sketches import count_min_sketch

    return count_min_sketch(_tok_df(spark, sf_dir), "tok", depth=4, width=256)


ORACLE_COUNTMIN_SKETCH = f"""
WITH tk AS ({_TOKS}),
cells AS (
  SELECT i.i AS row,
         cast(cast('0x' || substr(md5(cast(i.i as varchar) || '|' || tok), 1, 8)
              as bigint) % 256 as int) AS col
  FROM tk CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
)
SELECT row, col, cast(count(*) as bigint) AS cnt FROM cells GROUP BY 1, 2
"""


def q_countmin_lookup(spark, sf_dir):
    """Count-Min point queries for the 20 most frequent tokens next to
    their true counts (est >= cnt always; min over the 4 rows)."""
    from ..operators.sketches import count_min_lookup, count_min_sketch

    toks = _tok_df(spark, sf_dir)
    sk = count_min_sketch(toks, "tok", depth=4, width=256)
    # 20 rows, TWO consumers (the probe set and the final truth join) —
    # un-pinned, each re-ran the corpus-wide token aggregation
    top = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok")).limit(20)
        .localCheckpoint(eager=False)
    )
    return count_min_lookup(sk, top, "tok", depth=4, width=256).join(
        top, "tok"
    ).select("tok", "est", "cnt")


ORACLE_COUNTMIN_LOOKUP = f"""
WITH tk AS ({_TOKS}),
truth AS (
  SELECT tok, cast(count(*) as bigint) AS cnt FROM tk GROUP BY tok
  ORDER BY cnt DESC, tok ASC LIMIT 20
),
cells AS (
  SELECT i.i AS row,
         cast(cast('0x' || substr(md5(cast(i.i as varchar) || '|' || tok), 1, 8)
              as bigint) % 256 as int) AS col
  FROM tk CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
),
sk AS (SELECT row, col, cast(count(*) as bigint) AS cnt FROM cells GROUP BY 1, 2),
probe AS (
  SELECT t.tok, i.i AS row,
         cast(cast('0x' || substr(md5(cast(i.i as varchar) || '|' || t.tok), 1, 8)
              as bigint) % 256 as int) AS col
  FROM truth t CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
)
SELECT p.tok, cast(min(coalesce(sk.cnt, 0)) as bigint) AS est,
       any_value(t.cnt) AS cnt
FROM probe p
JOIN truth t ON t.tok = p.tok
LEFT JOIN sk ON sk.row = p.row AND sk.col = p.col
GROUP BY p.tok
"""


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-prefilter semi-join (operators/sketches.bloom_build/
    bloom_probe): filter built from BUILDING-segment customers (m=2048,
    k=3 — sized to force some false positives so the gate proves the
    bit arithmetic, not just the happy path), probed by every order.
    ``is_member`` marks true members vs Bloom false positives."""
    from ..operators.sketches import bloom_build, bloom_probe

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    build = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bloom = bloom_build(build, "c_custkey", m_bits=2048, k=3)
    passing = bloom_probe(orders, "o_custkey", bloom, m_bits=2048, k=3)
    return (
        passing.join(
            build.withColumn("__m", F.lit(1)),
            passing["o_custkey"] == build["c_custkey"], "left",
        )
        .select(
            "o_orderkey", "o_custkey",
            F.coalesce(F.col("__m"), F.lit(0)).cast("int").alias("is_member"),
        )
    )


ORACLE_BLOOM_SEMIJOIN = """
WITH build AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
pos AS (
  SELECT cast('0x' || substr(md5(cast(j.j as varchar) || '|' ||
              cast(c_custkey as varchar)), 1, 8) as bigint) % 2048 AS p
  FROM build CROSS JOIN (SELECT unnest(range(0, 3)) AS j) j
),
words AS (
  SELECT p // 32 AS word_idx, bit_or(1::bigint << cast(p % 32 as int)) AS word
  FROM pos GROUP BY 1
),
probe AS (
  SELECT o_orderkey, o_custkey,
         cast('0x' || substr(md5(cast(j.j as varchar) || '|' ||
              cast(o_custkey as varchar)), 1, 8) as bigint) % 2048 AS p
  FROM orders CROSS JOIN (SELECT unnest(range(0, 3)) AS j) j
),
pass AS (
  SELECT o_orderkey, o_custkey
  FROM probe pr JOIN words w ON w.word_idx = pr.p // 32
  WHERE (w.word & (1::bigint << cast(pr.p % 32 as int))) <> 0
  GROUP BY o_orderkey, o_custkey HAVING count(*) = 3
)
SELECT o_orderkey, o_custkey,
       cast(CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
            THEN 1 ELSE 0 END as int) AS is_member
FROM pass
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV (bottom-128 hashes) distinct-count estimate of lineitem part
    keys next to nothing — (n_seen, est); n_seen = 128 engages the
    (k-1)/U_(k) estimator rather than the exact-small path."""
    from ..operators.sketches import kmv_estimate, kmv_sketch

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return kmv_estimate(kmv_sketch(li, "l_partkey", k=128), k=128)


ORACLE_KMV_DISTINCT = """
WITH s AS (
  SELECT DISTINCT cast('0x' || substr(md5(cast(l_partkey as varchar)), 1, 15)
         as bigint) AS h
  FROM lineitem ORDER BY h LIMIT 128
),
agg AS (SELECT count(*) AS n_seen, max(h) AS kth FROM s)
SELECT n_seen,
  round(CASE WHEN n_seen < 128 THEN cast(n_seen as double)
        ELSE 127.0 / ((cast(kth as double) + 1.0) /
                      cast(1152921504606846976 as double)) END, 4) AS est
FROM agg
"""


def q_kmv_jaccard(spark, sf_dir):
    """KMV Jaccard between the customer sets of 1-URGENT and 2-HIGH
    orders (k=128): union-sketch bottom-k, shared fraction — sketches
    compose without re-reading the data (Beyer et al. 2007 §5)."""
    from ..operators.sketches import kmv_jaccard, kmv_sketch

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = kmv_sketch(
        orders.where(F.col("o_orderpriority") == "1-URGENT"), "o_custkey", k=128
    )
    b = kmv_sketch(
        orders.where(F.col("o_orderpriority") == "2-HIGH"), "o_custkey", k=128
    )
    return kmv_jaccard(a, b, k=128)


ORACLE_KMV_JACCARD = """
WITH ha AS (
  SELECT DISTINCT cast('0x' || substr(md5(cast(o_custkey as varchar)), 1, 15)
         as bigint) AS h
  FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY h LIMIT 128
),
hb AS (
  SELECT DISTINCT cast('0x' || substr(md5(cast(o_custkey as varchar)), 1, 15)
         as bigint) AS h
  FROM orders WHERE o_orderpriority = '2-HIGH' ORDER BY h LIMIT 128
),
u AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT 128),
ib AS (SELECT h FROM ha INTERSECT SELECT h FROM hb),
shared AS (SELECT u.h FROM u JOIN ib ON u.h = ib.h)
SELECT (SELECT count(*) FROM u) AS n_union_sketch,
       (SELECT count(*) FROM shared) AS n_shared,
       round(cast((SELECT count(*) FROM shared) as double) /
             (SELECT count(*) FROM u), 4) AS jaccard_est
"""


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis A-ES weighted sample without replacement:
    50 parts, weight = retail price; key-deterministic, so the oracle
    draws the SAME sample."""
    from ..operators.sketches import weighted_sample

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return weighted_sample(part, "p_partkey", "p_retailprice", 50).select(
        "p_partkey", "p_retailprice"
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT p_partkey, p_retailprice,
    pow((cast('0x' || substr(md5(cast(p_partkey as varchar)), 1, 8) as bigint)
         + 1.0) / 4294967296.0,
        1.0 / p_retailprice) AS akey
  FROM part WHERE p_retailprice > 0
)
SELECT p_partkey, p_retailprice FROM keyed
ORDER BY akey DESC, p_partkey ASC LIMIT 50
"""


def q_anf_ball2(spark, sf_dir):
    """ANF/HyperBall register table at radius 2 over the page-links
    graph (operators/sketches.anf_registers, p=5): per-node HLL sketch
    of the 2-hop out-ball, register-exact vs the SQL 2-hop unroll."""
    from ..operators.sketches import anf_registers

    return anf_registers(_pl_edges(spark, sf_dir), rounds=2, p=5)


ORACLE_ANF_BALL2 = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
e2 AS (SELECT DISTINCT s, o FROM pl),
n AS (SELECT s AS node FROM e2 UNION SELECT o FROM e2),
ball AS (
  SELECT node, node AS member FROM n
  UNION SELECT s, o FROM e2
  UNION SELECT a.s, b.o FROM e2 a JOIN e2 b ON a.o = b.s
),
h AS (
  SELECT node, cast('0x' || substr(md5(member), 1, 8) as bigint) AS h FROM ball
),
rr AS (
  SELECT node, cast(h // 134217728 as int) AS register,
         cast(CASE WHEN h % 134217728 = 0 THEN 28
              ELSE 28 - length(bin(h % 134217728)) END as int) AS rho
  FROM h
)
SELECT node, register, max(rho) AS rho FROM rr GROUP BY 1, 2
"""


QUERIES.update({
    "hll_registers": q_hll_registers,
    "hll_estimate": q_hll_estimate,
    "countmin_sketch": q_countmin_sketch,
    "countmin_lookup": q_countmin_lookup,
    "bloom_semijoin": q_bloom_semijoin,
    "kmv_distinct": q_kmv_distinct,
    "kmv_jaccard": q_kmv_jaccard,
    "weighted_sample": q_weighted_sample,
    "anf_ball2": q_anf_ball2,
})
ORACLES.update({
    "hll_registers": ORACLE_HLL_REGISTERS,
    "hll_estimate": ORACLE_HLL_ESTIMATE,
    "countmin_sketch": ORACLE_COUNTMIN_SKETCH,
    "countmin_lookup": ORACLE_COUNTMIN_LOOKUP,
    "bloom_semijoin": ORACLE_BLOOM_SEMIJOIN,
    "kmv_distinct": ORACLE_KMV_DISTINCT,
    "kmv_jaccard": ORACLE_KMV_JACCARD,
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "anf_ball2": ORACLE_ANF_BALL2,
})


def q_stream_hll(spark, sf_dir):
    """Streaming HyperLogLog (streaming/events.stream_hll_registers):
    the register table built incrementally over micro-batches (memory
    sink, complete mode) — gated against the SAME oracle as the batch
    ``hll_registers``, so streaming/batch sketch parity is hash-exact."""
    import tempfile
    import uuid

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = tempfile.mkdtemp(prefix="defs_stream_hll_")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    stream = STR.read_event_stream(spark, d)
    regs = STR.stream_hll_registers(
        stream, "user_id", p=8, group_cols=["event_type"]
    )
    name = f"defs_shll_{uuid.uuid4().hex[:8]}"  # unique: rerun-safe
    STR.run_to_memory(regs, name, output_mode="complete")
    return spark.table(name)


def q_histogram_quantiles(spark, sf_dir):
    """Two-pass fixed-width-histogram quantiles of l_extendedprice
    (operators/sketches.histogram_quantiles, 1024 bins): deterministic
    error <= range/1024, no global sort; the oracle replays the same
    bin arithmetic and cumulative pick."""
    from ..operators.sketches import histogram_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return histogram_quantiles(
        li, "l_extendedprice", qs=[0.01, 0.25, 0.5, 0.75, 0.99], bins=1024
    )


ORACLE_HISTOGRAM_QUANTILES = """
WITH mm AS (
  SELECT min(cast(l_extendedprice as double)) AS mn,
         max(cast(l_extendedprice as double)) AS mx,
         count(l_extendedprice) AS n
  FROM lineitem
),
hist AS (
  SELECT least(cast(floor((cast(l_extendedprice as double) - mn)
                    / ((mx - mn) / 1024)) as int), 1023) AS bin,
         count(*) AS cnt
  FROM lineitem, mm GROUP BY 1
),
cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist),
targets AS (
  SELECT q, cast(ceil(q * n) as bigint) AS target
  FROM (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS q), mm
),
picked AS (
  SELECT q, min(bin) AS bin
  FROM targets JOIN cum ON cum.cum >= targets.target
  GROUP BY q
)
SELECT cast(q as double) AS q,
       round(mn + (bin + 1) * ((mx - mn) / 1024), 6) AS value
FROM picked, mm
"""


def q_neighborhood_fn(spark, sf_dir):
    """ANF neighborhood-function curve N(0..3) over the page-links graph
    (operators/sketches.neighborhood_function, p=5): per-node ball
    estimates rounded then summed through DECIMAL — the whole curve is
    engine-exact vs the SQL hop-unrolled replay."""
    from ..operators.sketches import neighborhood_function

    return neighborhood_function(_pl_edges(spark, sf_dir), max_rounds=3, p=5)


# per-radius ball CTEs (0..3 hops) → registers (m=32: divisor 2^27,
# rho base 28, alpha_32 = 0.697 — the Flajolet small-m constant) →
# per-node estimate rounded to 4 → DECIMAL sum (order-independent)
ORACLE_NEIGHBORHOOD_FN = f"""
{_oracle_pages()},
{_PL_EDGES_CTE.strip()},
e2 AS (SELECT DISTINCT s, o FROM pl),
n AS (SELECT s AS node FROM e2 UNION SELECT o FROM e2),
b0 AS (SELECT node, node AS member FROM n),
b1 AS (SELECT node, member FROM b0
       UNION SELECT s, o FROM e2),
b2 AS (SELECT node, member FROM b1
       UNION SELECT a.s, b.o FROM e2 a JOIN e2 b ON a.o = b.s),
b3 AS (SELECT node, member FROM b2
       UNION SELECT a.s, c.o FROM e2 a JOIN e2 b ON a.o = b.s
                                        JOIN e2 c ON b.o = c.s),
balls AS (
  SELECT 0 AS t, node, member FROM b0
  UNION ALL SELECT 1, node, member FROM b1
  UNION ALL SELECT 2, node, member FROM b2
  UNION ALL SELECT 3, node, member FROM b3
),
h AS (
  SELECT t, node,
         cast('0x' || substr(md5(member), 1, 8) as bigint) AS h
  FROM balls
),
rr AS (
  SELECT t, node, cast(h // 134217728 as int) AS register,
         cast(CASE WHEN h % 134217728 = 0 THEN 28
              ELSE 28 - length(bin(h % 134217728)) END as int) AS rho
  FROM h
),
regs AS (
  SELECT t, node, register, max(rho) AS rho FROM rr GROUP BY 1, 2, 3
),
agg AS (
  SELECT t, node, sum(pow(2.0, -rho)) AS s, count(*) AS nz
  FROM regs GROUP BY 1, 2
),
raws AS (
  SELECT t, node,
         (cast(0.697 as double) * 32 * 32) / (s + (32 - nz)) AS raw, nz
  FROM agg
),
est AS (
  SELECT t, node,
         round(CASE WHEN raw <= 80 AND (32 - nz) > 0
               THEN 32.0 * ln(32.0 / (32 - nz)) ELSE raw END, 4) AS est
  FROM raws
)
SELECT t, cast(sum(cast(est as decimal(18,6))) as double) AS nf
FROM est GROUP BY t
"""


QUERIES.update({
    "stream_hll": q_stream_hll,
    "histogram_quantiles": q_histogram_quantiles,
    "neighborhood_fn": q_neighborhood_fn,
})
ORACLES.update({
    "stream_hll": ORACLE_HLL_REGISTERS,
    "histogram_quantiles": ORACLE_HISTOGRAM_QUANTILES,
    "neighborhood_fn": ORACLE_NEIGHBORHOOD_FN,
})


def q_zorder_keys(spark, sf_dir):
    """Morton keys over (l_partkey % 1024, l_suppkey % 1024), bits=10
    (operators/sketches.zorder_key) — the multi-dimensional clustering
    key behind OPTIMIZE ZORDER-style layouts, bit-interleave replayed
    exactly in SQL."""
    from ..operators.sketches import zorder_key

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(
            [F.pmod(F.col("l_partkey"), F.lit(1024)),
             F.pmod(F.col("l_suppkey"), F.lit(1024))],
            bits=10,
        ).alias("zkey"),
    )


def _zorder_sql_expr(xcol: str, ycol: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({xcol} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({ycol} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


ORACLE_ZORDER_KEYS = f"""
SELECT l_orderkey, l_linenumber,
       cast({_zorder_sql_expr('(l_partkey % 1024)', '(l_suppkey % 1024)', 10)}
            as bigint) AS zkey
FROM lineitem
"""


QUERIES.update({"zorder_keys": q_zorder_keys})
ORACLES.update({"zorder_keys": ORACLE_ZORDER_KEYS})


def q_windowed_hll(spark, sf_dir):
    """Per-hour-per-event-type HLL register table
    (streaming/events.windowed_hll_registers, p=8): the "distinct users
    per hour" answer with window-bounded state; batch form gated, the
    streaming form is parity-tested in tests/test_sketches.py."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    regs = STR.windowed_hll_registers(
        e, "ts", "user_id", window="1 hour", p=8, group_cols=["event_type"]
    )
    return regs.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "register", "rho",
    )


ORACLE_WINDOWED_HLL = """
WITH h AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type,
         cast('0x' || substr(md5(cast(user_id as varchar)), 1, 8) as bigint) AS h
  FROM events
), rr AS (
  SELECT hour, event_type,
         cast(h // 16777216 as int) AS register,
         cast(CASE WHEN h % 16777216 = 0 THEN 25
              ELSE 25 - length(bin(h % 16777216)) END as int) AS rho
  FROM h
)
SELECT hour, event_type, register, max(rho) AS rho FROM rr GROUP BY 1, 2, 3
"""


QUERIES.update({"windowed_hll": q_windowed_hll})
ORACLES.update({"windowed_hll": ORACLE_WINDOWED_HLL})


def q_countmin_join_size(spark, sf_dir):
    """Sketch-driven join-size estimation
    (operators/sketches.count_min_join_size): |orders ⋈ lineitem on
    orderkey| from two 4×1024 Count-Min sketches — the salting/broadcast
    planning primitive, next to the exact join size for calibration."""
    from ..operators.sketches import count_min_join_size, count_min_sketch

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ska = count_min_sketch(orders, "o_orderkey", depth=4, width=1024)
    skb = count_min_sketch(li, "l_orderkey", depth=4, width=1024)
    est = count_min_join_size(ska, skb, depth=4)
    exact = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).agg(F.count(F.lit(1)).alias("exact_size"))
    return est.crossJoin(exact)


ORACLE_COUNTMIN_JOIN_SIZE = """
WITH ca AS (
  SELECT i.i AS row,
         cast(cast('0x' || substr(md5(cast(i.i as varchar) || '|' ||
              cast(o_orderkey as varchar)), 1, 8) as bigint) % 1024 as int) AS col,
         count(*) AS cnt
  FROM orders CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
  GROUP BY 1, 2
), cb AS (
  SELECT i.i AS row,
         cast(cast('0x' || substr(md5(cast(i.i as varchar) || '|' ||
              cast(l_orderkey as varchar)), 1, 8) as bigint) % 1024 as int) AS col,
         count(*) AS cnt
  FROM lineitem CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
  GROUP BY 1, 2
), dots AS (
  -- left-join from the full row set: a row with zero overlapping cells
  -- has dot 0 and the min must see it (sparse cells; code-review r5 #6)
  SELECT r.i AS row, coalesce(sum(ca.cnt * cb.cnt), 0) AS dot
  FROM (SELECT unnest(range(0, 4)) AS i) r
  LEFT JOIN ca ON ca.row = r.i
  LEFT JOIN cb ON cb.row = ca.row AND cb.col = ca.col
  GROUP BY r.i
)
SELECT (SELECT cast(min(dot) as bigint) FROM dots) AS est,
       (SELECT count(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
       AS exact_size
"""


QUERIES.update({"countmin_join_size": q_countmin_join_size})
ORACLES.update({"countmin_join_size": ORACLE_COUNTMIN_JOIN_SIZE})
