"""TF-IDF and BM25 scoring as pure column expressions.

The scoring contract (SURVEY.md §7.1, all cites into /root/reference):

- tf(t,d)  = count / total_words, 0 on empty doc  (repositories/document.py:165)
- df(t)    = #docs containing t, DEFAULT 1 on miss (repositories/document.py:296)
- idf(t)   = ln(N / df), natural log, no smoothing (repositories/document.py:299)
- tfidf    = tf * idf                              (repositories/document.py:302)
- top-k    = sort score desc, truncate             (controllers/document.py:462-464);
  reference tie order is DB-dependent, ours is DEFINED: score desc, then
  term asc (per-doc rankings) / doc_id asc (per-query rankings).
- BM25 (north_star, k1=1.2 b=0.75) reuses the same statistics with
  idf = ln(N/df) for consistency with the reference convention.

Everything here is JVM-side whole-stage-codegen — no Python in the scoring
hot path. N and avgdl are scalar literals folded into the plan (computed
once per scope), so scoring adds zero extra shuffles beyond the agg that
produced df.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tfidf_spark import BM25_B, BM25_K1


def idf_expr(n_docs: int | Column, df_col: Column | str = "df") -> Column:
    """ln(N / df) with the reference's df-default-1 on miss.

    Pass the *joined* (possibly NULL) df column; coalesce implements
    ``doc_frequencies.get(word, 1)`` (reference repositories/document.py:296).
    """
    df_c = F.col(df_col) if isinstance(df_col, str) else df_col
    n = F.lit(n_docs) if isinstance(n_docs, int) else n_docs
    return F.log(n.cast("double") / F.coalesce(df_c, F.lit(1)).cast("double"))


def score_tfidf(postings_with_tf: DataFrame, term_df: DataFrame, n_docs: int) -> DataFrame:
    """Per-(doc, term) stats frame: frequency, tf, df, idf, tfidf.

    Mirrors the response shape of GET /documents/{id}/tfidf
    (reference controllers/document.py:409-470). ``term_df`` is left-joined
    (df-default-1 semantics); when scoring a doc against the scope that
    contains it the join always hits, exactly like the reference's
    validated doc∈collection path.
    """
    joined = postings_with_tf.join(term_df, "term", "left")
    idf = idf_expr(n_docs)
    return joined.select(
        F.col("doc_id"),
        F.col("term"),
        F.col("cnt").alias("frequency"),
        F.col("tf"),
        F.coalesce(F.col("df"), F.lit(1)).alias("df"),
        idf.alias("idf"),
        (F.col("tf") * idf).alias("tfidf"),
    )


def bm25_weight_expr(
    cnt: Column | str = "cnt",
    dl: Column | str = "dl",
    avgdl: float | Column = 1.0,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> Column:
    """The idf-independent BM25 term weight:

        cnt*(k1+1) / (cnt + k1*(1 - b + b*dl/avgdl))

    Splitting the weight from idf is what makes block-max skip metadata
    possible: the per-posting upper bound stored in the index is this
    weight's block max; query-time idf multiplies in later.
    """
    c = (F.col(cnt) if isinstance(cnt, str) else cnt).cast("double")
    d = (F.col(dl) if isinstance(dl, str) else dl).cast("double")
    a = F.lit(avgdl) if isinstance(avgdl, float) else avgdl
    return (c * (k1 + 1.0)) / (c + k1 * (1.0 - b + b * d / a))


def bm25_topk(
    postings: DataFrame,
    term_df: DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Pure-DataFrame BM25 top-k: ``(doc_id, score)``.

    This is the M1 scorer. Plan shape:

      postings ⋈ broadcast(query terms+idf)  — broadcast hash join, no shuffle
      groupBy(doc_id) sum                    — 1 shuffle
      orderBy(score desc, doc_id asc).limit(k) — AQE turns this into
                                               TakeOrderedAndProject (top-k
                                               per partition + driver merge,
                                               never a full sort)

    Duplicate query terms contribute once per occurrence, matching a Σ over
    query term *occurrences* (the reference has no doc-ranked endpoint; this
    generalizes its per-term ranking contract, SURVEY.md §2.5-W3).

    Limit: scores agree with ``OracleIndex.bm25_topk`` only to the last
    ulp. Neither the groupBy's partial-sum order nor the ``q_cnt·idf``
    fold is fixed, so documents tied in exact arithmetic may come out one
    ulp apart and order differently. ``index/query.py`` is the
    bit-identical path.
    """
    spark = postings.sparkSession
    if not query_terms:
        return spark.createDataFrame([], "doc_id bigint, score double")
    qt = spark.createDataFrame([(t,) for t in query_terms], "term string")
    # weight per occurrence: group query terms -> (term, q_cnt)
    qt = qt.groupBy("term").agg(F.count(F.lit(1)).alias("q_cnt"))
    q_with_idf = qt.join(term_df, "term", "left").select(
        "term", "q_cnt", idf_expr(n_docs).alias("idf")
    )
    scored = postings.join(F.broadcast(q_with_idf), "term", "inner")
    partial = (
        F.col("q_cnt")
        * F.col("idf")
        * bm25_weight_expr("cnt", "dl", float(avgdl), k1, b)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum(partial).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def tfidf_topk_per_doc(stats: DataFrame, k: int = 50) -> DataFrame:
    """Top-k terms per document by tfidf (reference
    controllers/document.py:418-426; limit default 50, bounds 1..100).

    Deterministic tie-break: tfidf desc, term asc (documented deviation —
    the reference relies on DB row order, SURVEY.md §2.5-W1).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        stats.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def collection_scoped_tfidf(
    postings: DataFrame,
    assoc: DataFrame,
    n_docs_per_coll: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Per-(collection, doc) top-k terms under COLLECTION-scoped tf-idf,
    with a true M:N association table.

    This is the reference's central scoping join — a document may belong
    to MANY collections (assoc table document_collection,
    reference app/db/models.py:16-21), and
    GET /documents/{id}/tfidf?collection_id= computes df and N within the
    chosen collection only (the IN-subquery semi-join,
    reference app/repositories/document.py:216-229). The same document
    therefore gets DIFFERENT tf-idf vectors per collection.

    Inputs:
      postings:        (doc_id, term, cnt, dl) — ONE tokenize pass,
                       reused across all collections
      assoc:           (doc_id, coll_id) M:N membership rows
      n_docs_per_coll: (coll_id, n_docs) — every member counts toward N,
                       including zero-token docs (derive from assoc, not
                       postings)

    Plan shape at scale: postings ⋈ assoc shuffles on doc_id with a
    bounded per-doc fan-out (a doc's membership count), df is one
    groupBy(coll_id, term) with map-side combine, and N_coll joins in
    broadcast (collection count ≪ doc count). No per-collection rescan —
    the reference's N+1 loop becomes two shuffles total.
    """
    from pyspark.sql.window import Window

    p_coll = postings.join(assoc, "doc_id")
    cdf = p_coll.groupBy("coll_id", "term").agg(F.count(F.lit(1)).alias("df"))
    joined = p_coll.join(cdf, ["coll_id", "term"]).join(
        F.broadcast(n_docs_per_coll), "coll_id"
    )
    tf = F.col("cnt").cast("double") / F.col("dl").cast("double")
    idf = F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
    sel = joined.select(
        "coll_id",
        "doc_id",
        "term",
        F.col("cnt").cast("long").alias("frequency"),
        F.round(tf * idf, 6).alias("tfidf_r"),
    )
    w = Window.partitionBy("coll_id", "doc_id").orderBy(
        F.desc("tfidf_r"), F.asc("term")
    )
    return (
        sel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def collection_statistics(
    postings: DataFrame,
    scope_col: str,
    n_docs_per_scope: DataFrame,
    k: int = 50,
) -> DataFrame:
    """Scope-level statistics: the collection treated as ONE pseudo-document
    for TF while DF stays per-document (reference
    controllers/collection.py:441-546, esp. 499-546).

    - combined counts: Σ cnt per (scope, term)         (A5, loc cit. 499-511)
    - tf = combined / Σ combined over the scope        (514-520)
    - df = per-doc document frequency within the scope (522)
    - idf = ln(N_scope / df), df-default-1             (522-526)
    - round(tf, idf, tfidf to 4, half-even)            (535-537)
    - top-50 per scope by tfidf desc                   (540-546)

    The reference computes this with an N+1 Python loop; here it's one
    groupBy — the whole analytics path is a single shuffle.

    ``n_docs_per_scope``: (scope_col, n_docs) — total docs per scope (A4).
    """
    from pyspark.sql.window import Window

    per_scope_term = postings.groupBy(scope_col, "term").agg(
        F.sum("cnt").alias("frequency"),
        F.count(F.lit(1)).alias("df"),
    )
    # scope totals as a sum window over the grouped rows instead of a
    # groupBy+join back: the join's branches each re-ran the whole
    # postings subtree (tokenize UDF included) — r8 plan audit found two
    # ArrowEvalPython nodes per call. The window computes the identical
    # Σ frequency per scope over ONE pass; the rank window below
    # partitions by the same key, so the exchange is shared.
    joined = per_scope_term.withColumn(
        "scope_total", F.sum("frequency").over(Window.partitionBy(scope_col))
    ).join(F.broadcast(n_docs_per_scope), scope_col)
    tf = F.col("frequency").cast("double") / F.col("scope_total")
    idf = F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
    enriched = joined.select(
        F.col(scope_col),
        F.col("term"),
        F.col("frequency"),
        F.round(tf, 4).alias("tf"),
        F.col("df"),
        F.round(idf, 4).alias("idf"),
        F.round(tf * idf, 4).alias("tfidf"),
    )
    w = Window.partitionBy(scope_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        enriched.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
