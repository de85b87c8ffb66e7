package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid-retrieval fusion: combine several ranked candidate lists
  * (BM25 text ranks, ANN embedding ranks, ...) into one ranking —
  * the standard RAG retrieval stack, where lexical and semantic
  * retrievers each miss what the other catches.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09): each list
    * contributes `1 / (kRrf + rank)` for the items it ranked, summed
    * across lists; ties break by ascending item id. Items missing from
    * a list contribute 0 from it (the full-outer-join semantics), so a
    * document only one retriever found still surfaces, discounted.
    *
    * Every input frame must be (qidCol, idCol, rankCol) with integer
    * 1-based ranks and at most one row per (query, item).
    *
    * Determinism: the fused score is a FIXED-ORDER sum — lists fold
    * left-to-right through full-outer joins, one row per (query, item),
    * so the double addition order is the caller's list order, never the
    * partitioning's. Integer ranks → each term is the same double on
    * any engine; the DuckDB oracle replays the identical expression
    * (q184 ships the raw doubles, no rounding law needed).
    *
    * Scale design (100 TB): candidate lists are top-k per query — k·|Q|
    * rows each, already reduced by their retrievers — so the fusion is
    * ONE union + one hash aggregate keyed (query, item) (r22: the
    * full-outer-join fold planned a SortMergeJoin per list — each with
    * its own exchange + sort of the same tiny frames — where a
    * pivot-style `min(when(list = i, rank))` aggregate recovers the
    * identical one-row-per-(query, item) wide shape with map-side
    * partial aggregation and a single exchange); the final per-query
    * top-k is a rank-pushdown window keyed by query. Nothing here
    * touches the corpus: fusion cost is O(lists · k · |Q|) regardless
    * of corpus size. */
  def rrfFuse(lists: Seq[DataFrame], qidCol: String, idCol: String,
      rankCol: String, k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.size >= 2, s"need >= 2 lists to fuse (got ${lists.size})")
    require(k > 0 && kRrf >= 0, s"need k > 0, kRrf >= 0 (got $k/$kRrf)")
    val prepped = lists.zipWithIndex.map { case (df, i) =>
      df.select(col(qidCol).as("__q"), col(idCol).as("__i"),
        lit(i).as("__l"), col(rankCol).cast("int").as("__r"))
    }
    // one row per (query, item) with each list's rank in its own column
    // — exactly the frame the full-outer-join fold produced (each input
    // list has at most one row per (query, item), so min(when) IS that
    // list's rank, null when the list missed the item)
    val rankCols = lists.indices
      .map(i => min(when(col("__l") === i, col("__r"))).as(s"__r$i"))
    val joined = prepped.reduce(_ unionByName _)
      .groupBy("__q", "__i").agg(rankCols.head, rankCols.tail: _*)
    val score = lists.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    val nLists = lists.indices
      .map(i => when(col(s"__r$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val w = Window.partitionBy("__q").orderBy(col("__rrf").desc, col("__i").asc)
    joined
      .withColumn("__rrf", score)
      .withColumn("__n", nLists)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("__q").as(qidCol), col("__i").as(idCol),
        col("__n").cast("int").as("n_lists"), col("__rrf").as("rrf"),
        col("rnk").cast("int").as("rnk"))
  }

  private def rz6(c: Column) = graft.util.Round6.rz6(c)

  /** Rank-quality metrics for a retrieval run against graded relevance
    * judgments — the offline evaluation read every retrieval stack runs
    * before shipping a ranker change: one row per evaluated query with
    * precision@k, recall@k, reciprocal rank, average precision, and
    * nDCG@k (exponential gain, `(2^rel - 1) / log2(rank + 1)` — the
    * trec_eval / Burges et al. convention).
    *
    * Inputs: `results` is (qidCol, idCol, rankCol) with 1-based ranks,
    * at most one row per (query, item) — any retriever here emits that
    * shape ([[graft.operators.Ann.ivfSearch]], bm25TopK, [[rrfFuse]]).
    * `qrels` is (qidCol, idCol, relCol) with integer grades; rel <= 0
    * rows are unjudged-equivalent and dropped. The evaluated set is the
    * trec_eval convention: queries with >= 1 positively-judged document
    * (a query missing from `results` still evaluates — all zeros — so a
    * retriever that silently drops a judged query is VISIBLE, not
    * averaged away). The converse also holds and is deliberate: a query
    * whose qrels rows are ALL rel <= 0 has no positive judgments, so it
    * is not evaluable and emits NO output row (trec_eval drops it the
    * same way) — don't read absence as a dropped retriever query.
    *
    * Definitions per query (R = judged-relevant count, cut at `k`):
    * p_at_k = hits/k, recall_at_k = hits/R, rr = 1/rank of the first
    * hit (0 when none), ap = (Σ_{hit ranks r} P@r) / min(R, k), ndcg =
    * DCG@k / IDCG@k with IDCG from the grades sorted descending.
    * NOTE the `ap` denominator: this is AP@k (min(R, k), the cutoff-
    * consistent convention — a perfect top-k scores 1.0 even when
    * R > k), NOT trec_eval's MAP, which divides by R; for queries with
    * R > k the value here EXCEEDS what trec_eval would report. Cross-
    * check against that tool with k >= max(R) if you need equality.
    *
    * Determinism: every ratio is 6dp-snapped under the [[graft.util.Round6]]
    * law; DCG/AP sums accumulate 6dp-snapped terms as DECIMAL(20,6) —
    * exact and order-free, so results never depend on partitioning (the
    * jsDivergence discipline; log2 agrees across libms at 6dp).
    *
    * Scale design (100 TB): `results` is top-k-per-query-sized, never
    * corpus-sized, and qrels are human-judgment-sized — both tiny. Each
    * input is read ONCE: the judged rows and the cut results are tagged,
    * unioned and grouped per query into two arrays, one aggregate whose
    * exchange disappears when both inputs already arrive partitioned by
    * query (a retriever's top-k window leaves its output that way). All
    * five metrics are then computed map-only from the query's row: the
    * ideal ranking is the judged array sorted (rel desc, id asc), and the
    * relevance of each retrieved item is a lookup in the judged array,
    * so no join, window or broadcast runs. The report (|Q| rows) then
    * gathers into ONE partition, so sorting or collecting it downstream
    * needs no range shuffle of its own. Evaluation cost is
    * O(|Q| · k · judged-per-query), corpus-free. */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame, k: Int,
      qidCol: String = "qid", idCol: String = "doc_id",
      rankCol: String = "rnk", relCol: String = "rel"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val noInt = lit(null).cast("int")
    val judged = qrels.select(col(qidCol).as("__q"), col(idCol).as("__i"),
        col(relCol).cast("int").as("__rel"), noInt.as("__r"))
      .where(col("__rel") > 0)
    // a null query id never matches a judgment (the join semantics)
    val res = results.select(col(qidCol).as("__q"), col(idCol).as("__i"),
        noInt.as("__rel"), col(rankCol).cast("int").as("__r"))
      .where(col("__r") <= k && col("__q").isNotNull)
    val perQ = judged.unionByName(res).groupBy("__q").agg(
        collect_list(when(col("__rel").isNotNull,
          struct(col("__rel").as("rel"), col("__i").as("i")))).as("__js"),
        collect_list(when(col("__r").isNotNull,
          struct(col("__r").as("r"), col("__i").as("i")))).as("__rs"))
      .where(size(col("__js")) > 0)
    val dec = org.apache.spark.sql.types.DecimalType(30, 6)
    // DCG/AP sums: 6dp-snapped terms accumulated as exact decimals, the
    // same values a decimal(20,6)-cast SUM aggregate yields
    def decSum(terms: Column) =
      aggregate(terms, lit(0).cast(dec), (acc, t) =>
        (acc + t.cast("decimal(20,6)")).cast(dec))
    def gain(rel: Column, rank: Column) =
      rz6((pow(lit(2.0), rel) - 1.0) / log2(rank + 1))
    // the result rows with their grades attached: one row per matching
    // judgment (grade 0 when none) — the left-join rows, per query
    val graded = flatten(transform(col("__rs"), r => {
      val m = filter(col("__js"), j => j("i") === r("i"))
      when(size(m) === 0, array(struct(r("r").as("r"), lit(0).as("rel"))))
        .otherwise(transform(m, j => struct(r("r").as("r"), j("rel").as("rel"))))
    }))
    // IDCG@k: the judged grades in ideal order (rel desc, id asc)
    val ideal = slice(sort_array(transform(col("__js"),
      j => struct((-j("rel")).as("nrel"), j("i").as("i")))), 1, k)
    val agg = perQ.select(col("__q"), size(col("__js")).cast("long").as("n_rel"),
        decSum(transform(ideal, (j, ix) => gain(-j("nrel"), ix + 1))).as("__idcg"),
        filter(graded, g => g("rel") > 0).as("__hit"), graded.as("__g"))
      .select(col("__q"), col("n_rel"), col("__idcg"),
        size(col("__hit")).as("__hits"),
        decSum(transform(col("__g"), g => gain(g("rel"), g("r")))).as("__dcg"),
        // AP numerator: precision at each hit's rank, counting every hit
        // ranked at or above it (ties in rank included)
        decSum(transform(col("__hit"), h => rz6(
          size(filter(col("__hit"), o => o("r") <= h("r"))).cast("double") / h("r"))))
          .as("__apnum"),
        array_min(transform(col("__hit"), h => h("r"))).as("__first"))
    agg.select(col("__q").cast(qrels.schema(qidCol).dataType).as(qidCol),
      col("n_rel"),
      col("__hits").as("n_ret_rel"),
      rz6(col("__hits").cast("double") / k).as("p_at_k"),
      rz6(col("__hits").cast("double") / col("n_rel")).as("recall_at_k"),
      rz6(coalesce(lit(1.0) / col("__first"), lit(0.0))).as("rr"),
      rz6(col("__apnum").cast("double") / least(col("n_rel"), lit(k))).as("ap"),
      rz6(col("__dcg").cast("double") / col("__idcg").cast("double")).as("ndcg"))
      .repartition(1)
  }

  /** Late-interaction (MaxSim) scoring — the ColBERT retrieval law
    * (Khattab & Zaharia, SIGIR'20): a query and a document are each a
    * BAG of vectors, and score(q, d) = Σ over query vectors of the max
    * cosine against any document vector. Top-`k` documents per query,
    * output (qid, doc_id, score, rnk).
    *
    * The whole score is ONE codegen'd expression over the pair row —
    * nested higher-order `aggregate` lambdas around the native
    * vec_cosine kernel — so the pair frame never explodes into
    * per-token rows and nothing shuffles until the final top-k window.
    * Each per-query-vector max is 6dp-snapped before the fixed-order
    * lambda sum, making the score a sum of exact 1e-6 multiples: the
    * [[graft.util.Round6]] summation corollary, replayable on any
    * engine and any partitioning.
    *
    * Scale design (100 TB): this is the RE-RANKER shape — `queries` is
    * a broadcast-sized batch and `docs` the CANDIDATES for those
    * queries (from [[graft.operators.Ann.ivfSearch]] over pooled
    * single-vector embeddings, BM25, or [[rrfFuse]] — the standard
    * two-stage stack). Cost is |Q| · |cands| · |qvecs| · |dvecs| kernel
    * calls, map-only over the broadcast cross join. Passing the full
    * corpus as `docs` is the exact brute-force baseline at small scale
    * (the q242 contract), not the production path.
    *
    * Degenerate bags: a pair where either vector bag is NULL or empty
    * has no defined MaxSim score (the inner max-fold's -1.0 seed would
    * otherwise leak a spurious large-negative score into a rank slot,
    * and a null bag a null score that silently sorts last) — such rows
    * are FILTERED before ranking, so an empty-bag document never ranks
    * and an empty-bag query returns no rows. */
  def maxSimTopK(queries: DataFrame, docs: DataFrame, k: Int,
      qidCol: String = "qid", qvecsCol: String = "qvecs",
      didCol: String = "doc_id", dvecsCol: String = "dvecs"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val q = broadcast(queries.select(col(qidCol).as("__qid"),
      col(qvecsCol).as("__qvs")))
    val d = docs.select(col(didCol).as("__did"), col(dvecsCol).as("__dvs"))
    topKByMaxSim(q.join(d, lit(true)), k, qidCol, didCol)
  }

  /** Score (__qid, __qvs, __did, __dvs) pair rows by MaxSim, drop
    * degenerate bags, and keep each query's top `k` by (score desc, doc
    * id asc): the shared tail of both MaxSim operators. */
  private def topKByMaxSim(pairs: DataFrame, k: Int, qidCol: String,
      didCol: String): DataFrame = {
    val score = aggregate(col("__qvs"), lit(0.0), (acc, qv) =>
      acc + rz6(aggregate(col("__dvs"), lit(-1.0), (best, dv) =>
        greatest(best, graft.functions.GeoFunctions.vec_cosine(qv, dv)))))
    val w = Window.partitionBy("__qid").orderBy(col("score").desc, col("__did").asc)
    pairs.where(size(col("__qvs")) >= 1 && size(col("__dvs")) >= 1)
      .withColumn("score", rz6(score))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("__qid").as(qidCol), col("__did").as(didCol),
        col("score"), col("rnk").cast("int").as("rnk"))
  }

  /** [[maxSimTopK]] restricted to candidate pairs — the production
    * two-stage shape: `cands` is (qidCol, didCol) from a first-stage
    * retriever (IVF over pooled vectors, BM25, RRF fusion), and only
    * those pairs pay the MaxSim kernel. Stages: the distinct candidates
    * (top-k sized — lists·k·|Q| id pairs, the same size class as the
    * query batch) BROADCAST against their documents' vector bags, so the
    * corpus-sized bag frame is probed map-side and never shuffled; the
    * query bags attach through a broadcast of their own, which depends
    * on nothing upstream and builds while the first stage still runs;
    * the score is computed in the same map-side pass (each cosine
    * evaluated once), and the top-k window is the one exchange, keyed by
    * query. Routing the query bags through a per-query exchange instead
    * saves that leaf broadcast but costs an aggregate and two generators,
    * about 20 more generated classes per call, and measured slower.
    * Null/empty vector bags are filtered before ranking
    * ([[maxSimTopK]]'s degenerate-bag rule). */
  def maxSimRerank(queries: DataFrame, docs: DataFrame, cands: DataFrame,
      k: Int, qidCol: String = "qid", qvecsCol: String = "qvecs",
      didCol: String = "doc_id", dvecsCol: String = "dvecs"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val pairs = broadcast(cands
        .select(col(qidCol).as("__qid"), col(didCol).as("__did"))
        .distinct())
      .join(docs.select(col(didCol).as("__did"), col(dvecsCol).as("__dvs")),
        Seq("__did"))
      .join(broadcast(queries.select(col(qidCol).as("__qid"),
        col(qvecsCol).as("__qvs"))), Seq("__qid"))
    topKByMaxSim(pairs, k, qidCol, didCol)
  }
}
