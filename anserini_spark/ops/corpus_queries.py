"""Driver-gate IR queries over the ``documents`` testdata table.

Each function here has an exact ANSI-SQL DuckDB oracle in
``__spark_entry__.oracle_sql``. To keep the oracle SQL-expressible,
these use whitespace tokenization and float64 math; the full Anserini
analyzer chain / float32 parity is pinned by `tests/` instead
(SURVEY.md §5). Semantics per operator cite the reference:

* term_dictionary — per-term (df, cf): `IndexReaderUtils.java:205-221`
* doc_lengths / collection_stats — `IndexUtils.java:157-176`,
  avgdl = sumTotalTermFreq / docCount (`AccurateBM25Similarity.java:52-54`)
* top_terms — `util/ExtractTopDfTerms.java`
* bm25_topk — BM25 k1=0.9, b=0.4 bag-of-words top-k with docid
  tie-break (`SearchCollection.java:115-116`, formula
  `AccurateBM25Similarity.java:108-141`)

All plans are declarative (split/explode/groupBy/window) — no UDFs —
so Catalyst pushes the text IS NOT NULL filters into the parquet scan
and keeps every stage in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..util.scans import read_parquet_fanout

K1 = 0.9
B = 0.4

# fixed MS MARCO-style dev query set (qid, term) — mirrored verbatim as
# a VALUES list in the oracle SQL; terms drawn from the synthetic vocab
FIXED_QUERIES = [
    (1, "spark"), (1, "join"),
    (2, "window"), (2, "batch"), (2, "stream"),
    (3, "customer"), (3, "value"),
    (4, "scan"), (4, "filter"),
    (5, "merge"), (5, "sort"), (5, "key"),
    (6, "vector"),
    (7, "data"), (7, "row"), (7, "column"),
    (8, "slow"), (8, "query"), (8, "table"),
]

TOPK = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        # cheap-per-row plan (split/explode/agg): fanning out a tiny
        # table costs more than the serial scan (see util/scans.py)
        read_parquet_fanout(spark, f"{sf_dir}/documents.parquet",
                            min_rows=16384)
        .filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .select("doc_id", "text")
    )


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
    )


def _tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def term_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tf(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )


def doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("doclen"))
    )


def collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    dl = doc_lengths(spark, sf_dir)
    return dl.agg(
        F.count("*").alias("doc_count"),
        F.sum("doclen").alias("sum_tf"),
        (F.sum("doclen").cast("double") / F.count("*").cast("double")).alias(
            "avgdl"
        ),
    )


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        term_dictionary(spark, sf_dir)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
        .select("term", "df")
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token BM25 (double precision) over documents for the
    fixed query set; top-10 per qid by (score desc, doc_id asc)."""
    return _bm25_topk_with(spark, sf_dir, K1, B)


def bm25_tuned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MS MARCO tuned configuration k1=0.82, b=0.68
    (`SearchMsmarco.java:61-64`), same fixed query set."""
    return _bm25_topk_with(spark, sf_dir, 0.82, 0.68)


def _bm25_topk_with(spark: SparkSession, sf_dir: str, k1: float,
                    b: float) -> DataFrame:
    """One tokenize pass, one wide shuffle (round 7, guide §2.3/§2.4):
    ``doclen`` is computed doc-locally (size of the filtered token
    array, identical to the old groupBy count) and carried through the
    tf aggregation as a grouping key (functionally dependent on
    doc_id), so scoring needs NO doc-length join and stats come from
    one aggregate over the cached tf table. The round-6 plan tokenized
    the corpus twice (tf + dl scans), cached both, and joined dl back
    into the scored stream."""
    tf = _tf_table(spark, sf_dir)
    q = spark.createDataFrame(FIXED_QUERIES, "qid int, term string")
    # n docs = distinct doc_id; sum of tf over all rows = sum(doclen):
    # same integers the old dl-side aggregate produced
    stats = tf.agg(
        F.countDistinct("doc_id").cast("double").alias("n"),
        (F.sum("tf").cast("double")
         / F.countDistinct("doc_id").cast("double")).alias("avgdl"),
    )
    dfreq = (
        tf.join(F.broadcast(q.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("dfreq"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("dfreq") + F.lit(0.5)) / (F.col("dfreq") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("doclen").cast("double")
    contrib = idf * tfd / (
        tfd + F.lit(k1 * (1 - b)) + F.lit(k1 * b) / F.col("avgdl") * dld
    )
    # one exchange for agg + window: hash(qid) satisfies both the
    # (qid, doc_id) aggregation's clustering and the window's — the
    # window stage already serializes per qid, so folding the agg into
    # the same qid-partitioned stage removes an Exchange without
    # changing the scaling bottleneck (measured 1.30 -> 1.09 s warm)
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .repartition("qid")
        .groupBy("qid", "doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("qid", "doc_id", "rank", F.round("score", 4).alias("score"))
    )


# sf_dir -> (source digest, persisted tf table). Spark's cache matches
# a new plan to a cached one by path, so a rewritten documents table
# must release the old entry before its own table is persisted.
_TF_TABLES: dict[str, tuple[str, DataFrame]] = {}


def _tf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, doclen, term, tf) over the documents, persisted and
    reused while ``_src_digest`` of the source is unchanged."""
    from .index_queries import _src_digest

    digest = _src_digest(sf_dir)
    hit = _TF_TABLES.get(sf_dir)
    if hit is not None and hit[1].sparkSession is spark:
        if hit[0] == digest:
            return hit[1]
        hit[1].unpersist()
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias(
            "toks"),
    )
    tf = (
        d.select("doc_id", F.size("toks").alias("doclen"),
                 F.explode("toks").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "doclen", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    _TF_TABLES[sf_dir] = (digest, tf)
    return tf


def doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length distribution in width-10 buckets (index diagnostics,
    `util/ExtractDocumentLengths.java` territory)."""
    return (
        doc_lengths(spark, sf_dir)
        .select((F.floor(F.col("doclen") / 10) * 10).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent token bigrams by collection frequency — the
    positional/n-gram statistic (SDM's ordered-window feature at the
    collection level)."""
    d = _docs(spark, sf_dir).withColumn(
        "toks", F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    ).filter(F.size("toks") >= 2)
    # adjacent pairs via arrays_zip of two shifted slices — codegen'd
    # expressions (the round-6 transform(sequence(...)) lambda ran
    # interpreted per element; guide §4.1 "prefer built-ins")
    bg = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
            )
        ).alias("e")
    ).select(F.concat_ws(" ", F.col("e.0"), F.col("e.1")).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("bigram"))
        .limit(20)
    )


def _values_clause() -> str:
    return ", ".join(f"({qid}, '{t}')" for qid, t in FIXED_QUERIES)


_TOK_CTE = """
docs AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
tok AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM docs) t
  WHERE t.term <> ''
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS doclen FROM tok GROUP BY doc_id
)
"""


def _bm25_oracle(k1: float, b: float) -> str:
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(
           ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))
           * CAST(tf.tf AS DOUBLE)
           / (CAST(tf.tf AS DOUBLE) + {k1 * (1 - b)!r}
              + {k1 * b!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
         ) AS score
  FROM q
  JOIN dfreq d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def oracle_sqls() -> dict[str, str]:
    return {
        "term_dictionary": f"""
WITH {_TOK_CTE}
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM tf GROUP BY term
""",
        "doc_lengths": f"""
WITH {_TOK_CTE}
SELECT doc_id, doclen FROM dl
""",
        "collection_stats": f"""
WITH {_TOK_CTE}
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(doclen) AS BIGINT) AS sum_tf,
       CAST(sum(doclen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
FROM dl
""",
        "top_terms": f"""
WITH {_TOK_CTE},
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
SELECT term, df FROM d ORDER BY df DESC, term LIMIT 20
""",
        "doclen_histogram": f"""
WITH {_TOK_CTE}
SELECT CAST(floor(doclen / 10) * 10 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM dl GROUP BY 1
""",
        "top_bigrams": """
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
tokpos AS (
  SELECT doc_id,
         unnest(str_split(text, ' ')) AS term,
         generate_subscripts(str_split(text, ' '), 1) AS pos
  FROM docs
),
tok AS (SELECT * FROM tokpos WHERE term <> ''),
bg AS (
  SELECT doc_id, term || ' ' || lead(term, 1) OVER w AS bigram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT bigram, CAST(count(*) AS BIGINT) AS cf
FROM bg WHERE bigram IS NOT NULL
GROUP BY bigram ORDER BY cf DESC, bigram LIMIT 20
""",
        "bm25_tuned_topk": _bm25_oracle(0.82, 0.68),
        "bm25_topk": _bm25_oracle(K1, B),
    }
