"""Text-retrieval scoring over the corpus: TF/DF statistics and BM25
top-k — the ranked-search analog of the reference's index search surface
(`datacube/index/abstract.py` search returns matching rows; a web-pages
payload wants RANKED matching, which is a pure aggregation/join plan).

Scale shape: one explode→hash-agg for term frequencies (map-side partial
combine), one tiny df aggregate, query terms broadcast; the per-doc score
is a broadcast-join + sum — no shuffle beyond the tf aggregation.  All
Catalyst; the DuckDB twin mirrors the arithmetic term for term (same op
order, doubles end-to-end; the oracle entry rounds scores to 1e-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frames import local_frame

K1 = 1.2
B = 0.75


def term_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """(tf_df, len_df): per-(doc, term) frequencies and per-doc token
    lengths from lowercased whitespace tokens (the shared
    functions.text tokenizer — ONE definition per dialect)."""
    from ..functions.text import token_count_col, tokens_col

    toks = tokens_col(F.col(text_col))
    n = token_count_col(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"), n.alias("len"))
    tf = (
        base.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return tf, base.select("doc_id", "len")


def bm25_topk(
    docs: DataFrame,
    k: int = 10,
    n_query_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` docs by BM25 for a deterministic query: the
    ``n_query_terms`` highest-df terms (ties by term asc) — self-contained
    so the same query derives identically in the SQL twin.  Returns
    (doc_id, score_micro, rank); ties broken (score desc, doc_id asc).
    Docs matching NO query term are not ranked (inner tf join — standard
    retrieval semantics).

    idf = ln(1 + (N − df + 0.5)/(df + 0.5));
    score = Σ idf · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen)).

    ``score_micro`` = floor(score · 1e6) as an INTEGER, and the ranking
    itself orders by score_micro, not the raw sum: the per-doc float SUM
    adds terms in engine-/partition-dependent order, so exact-tie docs
    (duplicate texts) can come out 1 ulp apart in one engine and bitwise
    equal in the other — ranking on the quantized integer makes rank and
    output deterministic cross-engine (identical multiply+floor in both;
    residual risk is only a true value within ~1 ulp of an exact 1e-6
    grid line).  Spark ``F.round``'s BigDecimal HALF_UP also differs
    algorithmically from DuckDB's double ROUND — floor avoids both."""
    tf, lens = term_stats(docs, id_col, text_col)
    id_type = dict(docs.dtypes)[id_col]
    if docs.limit(1).count() == 0:
        return local_frame(docs.sparkSession, [], f"doc_id {id_type}, score_micro LONG, rank INT")
    # corpus constants collected driver-side (two scalar rows — a
    # bounded driver decision, like the salt histograms): avglen from an
    # EXACT integer token sum, then ONE float division — F.avg would sum
    # doubles in partition order and wobble in the last ulp, breaking the
    # cross-engine (and run-to-run) contract
    tot = lens.agg(F.count("*").alias("n"), F.sum("len").alias("t")).collect()[0]
    n, avglen = float(tot["n"]), float(tot["t"]) / float(tot["n"])
    df_tbl = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    qterms = (
        df_tbl.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(n_query_terms)
        .select("term", "df")
    )
    scored = tf.join(F.broadcast(qterms), on="term", how="inner").join(
        lens, on="doc_id", how="inner"
    ).withColumn("n", F.lit(n)).withColumn("avglen", F.lit(avglen))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    score_term = idf * (
        F.col("tf") * F.lit(K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("len") / F.col("avglen"))
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.floor(F.sum(score_term) * F.lit(1e6)).cast("long").alias("score_micro")
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # top-k + driver merge — no global single-partition sort); the rank
    # window then runs over ≤ k rows only
    top = per_doc.orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score_micro", "rank"
    )


def sql_bm25_topk(corpus_cte: str, k: int = 10, n_query_terms: int = 5) -> str:
    """DuckDB twin over a CTE yielding ``corpus(doc_id, text)`` — same
    tokenization, same query derivation, same arithmetic op order."""
    from ..functions.text import sql_tokenized_cte

    return f"""WITH {corpus_cte},
{sql_tokenized_cte("corpus")},
tf AS (
  SELECT doc_id, UNNEST(toks) AS term FROM tk
),
tfc AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2
),
dfc AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tfc GROUP BY 1
),
q AS (
  SELECT term, df FROM dfc ORDER BY df DESC, term ASC LIMIT {n_query_terms}
),
consts AS (
  -- exact integer token sum, ONE float division — mirrors the Spark
  -- side's driver-computed constants bit for bit
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avglen
  FROM tk
),
scored AS (
  SELECT tfc.doc_id,
         LN(1.0 + (consts.n - q.df + 0.5) / (q.df + 0.5))
         * (tfc.tf * CAST({K1 + 1.0!r} AS DOUBLE)
            / (tfc.tf + CAST({K1!r} AS DOUBLE)
               * (CAST({1.0 - B!r} AS DOUBLE)
                  + CAST({B!r} AS DOUBLE) * tk.len / consts.avglen))) AS s
  FROM tfc
  JOIN q ON q.term = tfc.term
  JOIN tk ON tk.doc_id = tfc.doc_id
  CROSS JOIN consts
)
SELECT doc_id, score_micro, rank FROM (
  SELECT doc_id, score_micro,
         CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS INT) AS rank
  FROM (
    SELECT doc_id, CAST(FLOOR(SUM(s) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
  )
) WHERE rank <= {k}
"""
