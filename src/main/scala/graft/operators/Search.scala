package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword search scoring — Okapi BM25 over whitespace tokens.
  *
  * The reference exposes its corpus through a relational store that
  * downstream users query by content (`/root/reference/db/schema.sql`
  * `documents.text`); ranked keyword retrieval over that corpus is the
  * canonical read-side operator a training-data store serves (find the
  * docs about X, inspect what the filters kept).
  *
  * Scale shape — built for a LITERAL query (a handful of terms), the
  * interactive-search case:
  *   - per-doc term frequencies are computed IN-ROW over the token
  *     array (`size(filter(tokens, = term))` per query term) — no
  *     explode, no (doc, term) shuffle;
  *   - corpus statistics (N, avgdl, per-term document frequencies) are
  *     ONE single-row aggregate, cross-joined back (broadcast of one
  *     row);
  *   - scoring is a pure per-row projection, so the whole query is one
  *     scan + one scalar agg + `TakeOrderedAndProject` for top-k. Zero
  *     hash-shuffles at any corpus size.
  * For large/dynamic vocabularies (query-by-document), explode into the
  * (doc, term) shape instead — that variant is the classic two-agg
  * pipeline and shuffles on doc id; not needed for literal queries.
  *
  * Determinism: each term's contribution is computed with a fixed
  * per-row operation order and rounded to integer micro-units
  * (`round(x * 1e6)::bigint`); the per-doc score is the exact BIGINT
  * sum of those, so the result hashes identically regardless of
  * aggregation/evaluation order (doubles are only ever combined
  * per-row, never across rows).
  */
object Search {

  /** BM25 top-k: (doc_id, n_matched, score_1e6) for the `k` highest
    * scoring docs containing at least one query term; ties break on
    * doc_id. `k1`/`b` are the standard Okapi parameters.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 32,
      s"literal-query BM25 expects 1..32 terms, got ${queryTerms.size}")
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    def tfCol(t: String): Column = size(filter(col("__toks"), x => x === lit(t)))

    val perDoc = docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(
        col("doc_id") +: size(col("__toks")).as("dl") +:
          queryTerms.zipWithIndex.map { case (t, i) => tfCol(t).as(s"__tf_$i") }: _*)

    // One row: corpus size, total token count, per-term doc frequency.
    val statCols = count(lit(1)).as("__n") +: sum(col("dl")).as("__sumdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)

    // idf = ln(1 + (N - df + .5)/(df + .5)); contribution rounded to
    // micro-units per term so the cross-term sum is exact integer math.
    val contribs = queryTerms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val df = col(s"__df_$i").cast("double")
      val n = col("__n").cast("double")
      val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
      val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
      val norm = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
      when(col(s"__tf_$i") > 0,
        round(idf * tf * lit(k1 + 1.0) / norm * lit(1e6)).cast("long"))
        .otherwise(lit(0L))
    }
    val matched = queryTerms.indices
      .map(i => when(col(s"__tf_$i") > 0, 1).otherwise(0))
      .reduce(_ + _)

    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), matched.as("n_matched"),
        contribs.reduce(_ + _).as("score_1e6"))
      .filter(col("n_matched") > 0)
      .orderBy(col("score_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** SYMSPELL-style FUZZY TERM lookup: correction candidates for a
    * (possibly misspelled) query term via the delete-1 neighborhood —
    * two terms within Levenshtein distance 1 always share a key in
    * each other's {term} ∪ {single-character deletions} set, so the
    * candidate fetch is an EQUALITY probe on the deletion key (the
    * SymSpell trick), never a corpus-wide edit-distance scan; the
    * exact `levenshtein <= 1` check then verifies the survivors
    * (deletion keys overgenerate, e.g. distance-2 transpositions).
    * Candidates rank (distance asc, corpus frequency desc, term) —
    * exact match first, then the most frequent close form.
    *
    * Scale shape: the deletion index is vocab-bounded (Heaps' law) ×
    * term length; the query's |q|+1 keys arrive as an IN predicate
    * (pushable against a STANDING deletion index; here derived
    * in-query from one token count). Verification is candidate-sized.
    */
  def fuzzyTermTopK(docs: DataFrame, idCol: String, textCol: String,
      query: String, k: Int): DataFrame = {
    require(query.nonEmpty && !query.contains(" "),
      s"fuzzyTermTopK expects one non-empty term, got '$query'")
    val vocab = docs
      .select(explode(filter(split(trim(col(textCol)), " +"),
        x => x =!= "")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val delKeys = array_union(array(col("term")),
      expr("transform(sequence(1, length(term)), i -> " +
        "concat(substring(term, 1, i - 1), " +
        "substring(term, i + 1, 1000000)))"))
    val qDels = deletionKeys(query)
    vocab.select(col("term"), col("cf"), explode(delKeys).as("dk"))
      .filter(col("dk").isin(qDels: _*))
      .select(col("term"), col("cf")).distinct()
      .withColumn("lev", levenshtein(col("term"), lit(query)).cast("long"))
      .filter(col("lev") <= 1)
      .orderBy(col("lev"), col("cf").desc, col("term"))
      .limit(k)
  }

  /** The {term} ∪ {delete-1 variants} key set — exposed so the oracle
    * side generates the identical list.
    */
  def deletionKeys(term: String): Seq[String] =
    (term +: term.indices.map(i =>
      term.substring(0, i) + term.substring(i + 1))).distinct

  /** QUERY-LIKELIHOOD top-k (Dirichlet-smoothed language model): the
    * classic alternative ranking model to BM25 — score(d) =
    * sum_t ln((tf + mu * cf_t / |C|) / (dl + mu)) over the query
    * terms, with cf_t the term's COLLECTION frequency and |C| the
    * corpus token count (Zhai & Lafferty smoothing). Unlike BM25 the
    * smoothed probability is defined for tf = 0 too, so every doc
    * matching at least one term is scored on ALL query terms —
    * per-term contributions round to micro-nats so the cross-term sum
    * is exact integer math, same parity contract as [[bm25TopK]].
    *
    * Same shape as [[bm25TopK]]: one scan with per-term tf columns,
    * ONE one-row stats cross-join (corpus size + per-term collection
    * frequencies), filter to matched docs, TakeOrderedAndProject.
    */
  def queryLikelihoodTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 32,
      s"query-likelihood expects 1..32 terms, got ${queryTerms.size}")
    require(mu > 0, s"mu must be positive, got $mu")
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    val perDoc = docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(
        col("doc_id") +: size(col("__toks")).as("dl") +:
          queryTerms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === lit(t))).as(s"__tf_$i")
          }: _*)
    val statCols = sum(col("dl")).as("__ctot") +:
      queryTerms.indices.map(i => sum(col(s"__tf_$i")).as(s"__cf_$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val contribs = queryTerms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val cf = col(s"__cf_$i").cast("double")
      val ctot = col("__ctot").cast("double")
      // Terms absent from the ENTIRE corpus have p(t|C) = 0 and an
      // unsmoothable ln 0 — skipped, the standard QL convention.
      when(col(s"__cf_$i") > 0,
        round(log((tf + lit(mu) * cf / ctot) /
          (col("dl").cast("double") + lit(mu))) * lit(1e6)).cast("long"))
        .otherwise(lit(0L))
    }
    val matched = queryTerms.indices
      .map(i => when(col(s"__tf_$i") > 0, 1).otherwise(0))
      .reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), matched.as("n_matched"),
        contribs.reduce(_ + _).as("score_1e6"))
      .filter(col("n_matched") > 0)
      .orderBy(col("score_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** NDCG@k retrieval EVALUATION: for each single-term query, the
    * normalized discounted cumulative gain of the engine's OWN BM25
    * ranking against text-derived graded relevance (`rel = min(maxRel,
    * tf)` — a deterministic pseudo-qrel both engines re-derive), in
    * exact integer micro/milli units. This is the eval harness every
    * retrieval change should move through: a scoring regression that
    * still returns plausible docs flips this row, not just a latency
    * curve — the quality twin of `sim_pq_recall_at_k`.
    *
    * Per-position gain is `round(rel * 1e6 * ln 2 / ln(1 + rank))`
    * (micro-units of rel/log2(1+rank)); DCG sums the system ranking's
    * top-k positions, IDCG the ideal (rel-sorted) ones, and
    * `ndcg_milli = dcg * 1000 div idcg`. Ties break on doc_id at every
    * rank boundary so both rankings are total orders.
    *
    * Shape: ONE corpus scan (per-term tf columns), the one-row BM25
    * stats cross-join [[bm25TopK]] uses, a stack to (doc, term) rows
    * FILTERED to tf > 0 (rel-0 docs contribute no gain to either
    * ranking), and two rank windows per term — partition-bounded by
    * each term's document frequency. Terms matching no docs emit no
    * row. Eval query sets are small by nature; at extreme df a
    * per-term TakeOrdered would replace the windows.
    */
  def evalNdcg(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, maxRel: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"evalNdcg expects 1..32 terms, got ${terms.size}")
    require(k >= 1 && maxRel >= 1, s"k and maxRel must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val scored = evalScoredPerTerm(docs, idCol, textCol, terms, k1, b)
      .select(col("doc_id"), col("term"),
        least(lit(maxRel.toLong), col("tf").cast("long")).as("rel"),
        col("score_1e6"))
    val ws = Window.partitionBy(col("term"))
      .orderBy(col("score_1e6").desc, col("doc_id"))
    val wi = Window.partitionBy(col("term"))
      .orderBy(col("rel").desc, col("doc_id"))
    def gain(rank: Column): Column =
      round(col("rel").cast("double") * lit(1e6) * log(lit(2.0)) /
        log(rank.cast("double") + lit(1.0))).cast("long")
    val ranked = scored
      .withColumn("__rs", row_number().over(ws))
      .withColumn("__ri", row_number().over(wi))
      .select(col("term"),
        when(col("__rs") <= k, gain(col("__rs"))).otherwise(0L).as("__g"),
        when(col("__ri") <= k, gain(col("__ri"))).otherwise(0L).as("__ig"))
    ranked.groupBy(col("term"))
      .agg(sum(col("__g")).as("dcg_micro"), sum(col("__ig")).as("idcg_micro"))
      .withColumn("ndcg_milli", expr("dcg_micro * 1000 div idcg_micro"))
  }

  /** Shared eval scoring head for [[evalNdcg]] / [[evalMrr]]: one
    * corpus scan computing per-(doc, term) tf and the BM25 micro-unit
    * score, filtered to tf > 0 — the same one-row stats cross-join
    * shape as [[bm25TopK]]. Returns (doc_id, term, tf, score_1e6).
    */
  private def evalScoredPerTerm(docs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k1: Double,
      b: Double): DataFrame = {
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    val perDoc = docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id") +: size(col("__toks")).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__toks"), x => x === lit(t))).as(s"__tf_$i")
        }: _*)
    val statCols = count(lit(1)).as("__n") +: sum(col("dl")).as("__sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val stacked = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), col("__n"), col("__sumdl"),
        explode(array(terms.indices.map(i =>
          struct(lit(terms(i)).as("term"), col(s"__tf_$i").as("tf"),
            col(s"__df_$i").as("df"))): _*)).as("__e"))
      .select(col("doc_id"), col("dl"), col("__n"), col("__sumdl"),
        col("__e.term").as("term"), col("__e.tf").as("tf"),
        col("__e.df").as("df"))
      .filter(col("tf") > 0)
    val tf = col("tf").cast("double")
    val df = col("df").cast("double")
    val n = col("__n").cast("double")
    val avgdl = col("__sumdl").cast("double") / n
    val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    val norm = tf + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    stacked.select(col("doc_id"), col("term"), col("tf"),
      round(idf * tf * lit(k1 + 1.0) / norm * lit(1e6)).cast("long")
        .as("score_1e6"))
  }

  /** MRR@k + recall@k retrieval EVALUATION against an
    * engine-independent pseudo-qrel: a doc is relevant to a term iff
    * it contains the term AND `doc_id % qrelMod == 0` — a fixed
    * pseudo-random subset both engines re-derive, deliberately NOT a
    * function of the ranking (tf-derived relevance makes MRR
    * degenerate: the top hit always qualifies). Complements
    * [[evalNdcg]]: NDCG grades the whole top-k ordering, MRR grades
    * time-to-first-answer, recall@k grades coverage of the qrel pool.
    *
    * Exact integer units: `mrr_micro = 1e6 div rank_of_first_relevant`
    * within the top k (0 if none), `recall_milli = hits_in_top_k *
    * 1000 div n_rel`. Terms with an empty qrel pool emit no row.
    * Same shape as [[evalNdcg]]: one scan, one-row stats cross-join,
    * one rank window per term.
    */
  def evalMrr(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, qrelMod: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"evalMrr expects 1..32 terms, got ${terms.size}")
    require(k >= 1 && qrelMod >= 1, s"k and qrelMod must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy(col("term"))
      .orderBy(col("score_1e6").desc, col("doc_id"))
    evalScoredPerTerm(docs, idCol, textCol, terms, k1, b)
      .select(col("doc_id"), col("term"),
        when(col("doc_id") % qrelMod === 0, 1L).otherwise(0L).as("rel"),
        col("score_1e6"))
      .withColumn("__rs", row_number().over(ws))
      .groupBy(col("term"))
      .agg(
        min(when(col("rel") === 1 && col("__rs") <= k, col("__rs")))
          .as("__fr"),
        sum(when(col("rel") === 1 && col("__rs") <= k, 1L).otherwise(0L))
          .as("__hit_k"),
        sum(col("rel")).as("n_rel"))
      .filter(col("n_rel") > 0)
      .select(col("term"), col("n_rel"),
        coalesce(expr("1000000 div __fr"), lit(0L)).as("mrr_micro"),
        expr("__hit_k * 1000 div n_rel").as("recall_milli"))
  }

  /** EXACT-PHRASE top-k: rank docs by occurrence count of a literal
    * token phrase. The positional match runs IN-ROW over the token
    * array (a filtered index sequence testing `phrase.size` adjacent
    * elements), so like [[bm25TopK]] the whole query is one scan plus
    * `TakeOrderedAndProject` — no explode, no shuffle. This is the
    * scan form; [[phraseFromIndexTopK]] answers the same query from
    * the standing index's positional postings without touching text.
    */
  def phraseTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, s"phrase needs >= 2 terms, got ${phrase.size}")
    // Native codegen'd kernel: the builtin-composition form (a filtered
    // index sequence probing element_at per position) runs interpreted
    // and re-evaluates the token array per candidate position.
    docs.select(col(idCol).as("doc_id"),
        graft.functions.NativeHashExprs.phraseCount(col(textCol), phrase)
          .as("tf_phrase"))
      .filter(col("tf_phrase") > 0)
      .orderBy(col("tf_phrase").desc, col("doc_id"))
      .limit(k)
  }

  /** SNIPPET extraction over the BM25 top-k — the display half of
    * interactive corpus search: for each of the `k` best docs, the
    * `window`-token span with the MOST query-term hits (ties break on
    * the earliest start). Everything runs IN-ROW over the token array
    * — hit positions via an indexed `transform`+`filter`, the best
    * start via an `array_sort` over (-hits, pos) structs (the same
    * in-row argmax idiom as the IVF cell ranking), the snippet via
    * `slice` — so the whole query is [[bm25TopK]]'s scan +
    * `TakeOrderedAndProject`, plus ONE more corpus scan filtered by a
    * broadcast hash-join on the k winning ids to cut the snippets
    * (at 100 TB a point-lookup store would serve that fetch; the
    * broadcast-semi scan is the engine-native shape). The per-row cost
    * is O(hits^2) with hits bounded by the doc's query-term count —
    * not corpus-dependent.
    */
  def snippetTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, window: Int = 12): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val top = bm25TopK(docs, idCol, textCol, queryTerms, k)
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    // 1-based hit positions of any query term, computed per row.
    val pos = filter(
      transform(col("__toks"), (t, i) =>
        when(t.isin(queryTerms: _*), i + lit(1)).otherwise(lit(0))),
      p => p > 0)
    val best = array_sort(transform(col("__pos"), p =>
      struct(
        (-size(filter(col("__pos"),
          q => q >= p && q < p + lit(window)))).as("negn"),
        p.as("p"))))(0)
    docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .join(broadcast(top.select(col("doc_id"), col("score_1e6"))),
        Seq("doc_id"))
      .withColumn("__pos", pos)
      .withColumn("__best", best)
      .select(col("doc_id"), col("score_1e6"),
        col("__best")("p").cast("long").as("start_pos"),
        (-col("__best")("negn")).cast("long").as("n_hits"),
        concat_ws(" ",
          slice(col("__toks"), col("__best")("p"), lit(window)))
          .as("snippet"))
      .orderBy(col("score_1e6").desc, col("doc_id"))
  }

  /** Build a STANDING INVERTED INDEX under `dir` — the store-side scale
    * path: sign the corpus once, answer every later query from
    * postings without touching document text.
    *
    * Layout (GENERATIONAL — supports the reference's changed-content
    * upsert, `/root/reference/db/postgres_store.py:126-182`
    * `ON CONFLICT ... DO UPDATE`):
    *   - `dir/postings`: (term, doc_id, tf, dl, batch) — doc length
    *     DENORMALIZED into each posting so scoring needs no join back
    *     to a document table; rows repartitioned and sorted by term,
    *     so a term predicate prunes parquet row groups via min/max
    *     stats (at 100 TB you'd bucket this table by term — same
    *     layout idea, zero-exchange probes).
    *   - `dir/docs`: (doc_id, dl, content_hash, batch) — the
    *     membership/version table: a doc's CURRENT generation is its
    *     max committed batch, and `content_hash` is what makes
    *     re-delivery of unchanged text a no-op.
    *   - `dir/_commits/b<batch>`: empty marker created LAST — the
    *     linearization point of an append. A crash between the two
    *     parquet writes leaves slices whose batch id has no marker;
    *     readers never see them, and the next attempt allocates a
    *     FRESH id — max batch present in EITHER parquet table, plus
    *     one, so an orphan on the postings side (written first) is
    *     counted just like a docs-side one and partial appends can
    *     never double a doc's tf/df under a committed id.
    *   - `dir/_lock`: writer lease ([[graft.sources.Commits
    *     .withWriterLock]]) held across every mutation — a concurrent
    *     second writer fails loudly instead of double-allocating a
    *     batch id. Superseded/orphan generations are dead weight until
    *     [[indexVacuum]] rewrites the live state.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    graft.sources.Commits.withWriterLock(spark, dir) {
      // Destructive rebuild: drop the store's tables but keep the held
      // lease file itself.
      Seq("postings", "docs", "_commits", "_vacuum").foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true))
      writeSlice(Upsert.onePerKeyByContent(docs, idCol, textCol),
        idCol, textCol, dir, 0L)
      commitBatch(spark, dir, 0L)
    }
  }

  /** UPSERT a batch into the standing index: new doc ids insert;
    * already-indexed ids with UNCHANGED content_hash are skipped
    * (at-least-once re-delivery converges); ids with CHANGED content
    * get a NEW GENERATION — their old postings stay on disk but stop
    * being visible to [[bm25FromIndexTopK]] (the read side resolves
    * each doc to its max committed batch). Matches the reference's
    * changed-content upsert; [[indexDelete]] is the tombstone side of
    * the same triangle. The standing store is never re-tokenized.
    * Returns docs written (inserted + updated).
    */
  def indexAppend(batch: DataFrame, idCol: String, textCol: String,
      dir: String, heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, dir,
       heldLocks) {
    val spark = batch.sparkSession
    val hashed = Upsert.onePerKeyByContentHashed(batch, idCol, textCol)
      .withColumnRenamed("content_hash", "__ch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Membership resolve plan picked by batch-vs-store size
      // ([[graft.sources.Commits.scopeMutationResolve]]): SCOPED
      // (semi-join before the per-doc aggregate) for micro-batches —
      // an unscoped currentDocs aggregates the whole docs table per
      // mutation, store-linear, measured at 7 s for a 500-doc append
      // against a 5M-doc store (SCALE.md) — but UNSCOPED for
      // backfill-sized batches, where the id set stops broadcasting
      // and the semi-join degrades to a corpus-sized shuffle join
      // worse than the aggregate it was avoiding.
      val committed = committedBatches(spark, dir)
      val cur =
        if (committed.isEmpty) None
        else if (graft.sources.Commits.scopeMutationResolve(hashed.count(),
            graft.sources.Commits.committedRowCount(spark, s"$dir/docs",
              committed)))
          currentDocsFor(spark, dir, hashed.select(col(idCol).as("doc_id")))
        else currentDocs(spark, dir)
      val fresh = (cur match {
        case None => hashed
        case Some(c) =>
          val prev = c.select(col("doc_id").as(idCol),
            col("content_hash").as("__prev"))
          hashed.join(prev, Seq(idCol), "left")
            .filter(col("__prev").isNull || col("__prev") =!= col("__ch"))
            .drop("__prev")
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = graft.Prof("indexAppend.resolve")(fresh.count())
        if (n > 0) {
          val batchId = nextBatchId(spark, dir)
          graft.Prof("indexAppend.writeSlice")(
            writeSlice(fresh, idCol, textCol, dir, batchId))
          commitBatch(spark, dir, batchId)
        }
        n
      } finally { fresh.unpersist(); () }
    } finally { hashed.unpersist(); () }
   }

  /** Tombstone marker in the docs table's content_hash column — real
    * hashes are 64-hex sha256, so no collision is possible.
    */
  private val Tombstone = "__tombstone__"

  /** DELETE docs from the standing index — the tombstone generation
    * completing the write-semantics triangle (insert / changed-content
    * update / delete): each currently-live requested id gets a
    * postings-free docs row whose content_hash is the tombstone
    * marker; on commit the doc's postings stop scoring and it leaves
    * the corpus statistics. Idempotent (absent or already-deleted ids
    * are skipped), and a later [[indexAppend]] of the id resurrects it
    * (tombstone hash never equals a content hash). [[indexVacuum]]
    * physically drops tombstoned docs. Returns docs tombstoned.
    */
  def indexDelete(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(spark, dir, heldLocks) {
    // Adaptive like indexAppend: scoped resolve (only the requested
    // ids' docs rows reach the currency aggregate) for normal
    // takedowns, store-wide aggregate + post-filter for corpus-sized
    // ones where the id semi-join would stop broadcasting.
    val idsF = ids.select(col(ids.columns.head).as("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val committed = committedBatches(spark, dir)
    val cur = (
      if (committed.isEmpty) None
      else if (graft.sources.Commits.scopeMutationResolve(idsF.count(),
          graft.sources.Commits.committedRowCount(spark, s"$dir/docs",
            committed)))
        currentDocsFor(spark, dir, idsF)
      else currentDocs(spark, dir)
        .map(_.join(idsF, Seq("doc_id"), "left_semi"))
    ).getOrElse { idsF.unpersist(); return 0L }
    val victims = cur
      .filter(col("content_hash") =!= Tombstone)
      .select(col("doc_id"), lit(0).as("dl"),
        lit(Tombstone).as("content_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = victims.count()
      if (n > 0) {
        val batchId = nextBatchId(spark, dir)
        victims.withColumn("batch", lit(batchId))
          .write.parquet(s"$dir/docs/b$batchId")
        commitBatch(spark, dir, batchId)
      }
      n
    } finally { victims.unpersist(); idsF.unpersist(); () }
   }

  /** Compact the index to its LIVE state: current committed generation
    * of every non-tombstoned doc rewritten as batch 0,
    * superseded/orphan/deleted rows dropped. Offline maintenance op
    * (writer-lease held, no concurrent readers). Crash safety: the
    * stage is written COMPLETE — tables plus a staged `_commits/b0`
    * ledger — before any live piece is touched, then the LIVE LEDGER IS
    * DROPPED FIRST (so "staged ledger present, live ledger missing"
    * means exactly "swap in progress", and readers fail the loud
    * no-committed-state way rather than see half-swapped tables), then
    * the swap replaces piece-by-piece via renames. A crash anywhere
    * mid-swap is repaired by the next vacuum call, which detects that
    * signature and completes the outstanding renames instead of
    * re-compacting tables that may already be gone; a complete stage
    * whose swap never started (live ledger intact) is DISCARDED, never
    * installed — appends may have landed after the crash, so the stage
    * can be stale.
    */
  def indexVacuum(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
   graft.sources.Commits.withWriterLock(spark, dir) {
    val stage = s"$dir/_vacuum"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (repairCrashedSwap(fs, dir)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(stage))) {
      // Incomplete stage (crash mid-stage-write) or a stage whose swap
      // never started (live ledger intact): discard and re-vacuum.
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    }
    val committed = committedBatches(spark, dir)
    val cur = currentDocs(spark, dir).getOrElse(return)
      .filter(col("content_hash") =!= Tombstone)
    val curKeys = cur.select(col("doc_id"), col("batch"))
    val livePost = readCommittedPostings(spark, dir, committed)
      .join(curKeys, Seq("doc_id", "batch"))
    livePost.withColumn("batch", lit(0L))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.parquet(s"$stage/postings/b0")
    cur.withColumn("batch", lit(0L)).write.parquet(s"$stage/docs/b0")
    graft.sources.Commits.commit(spark, stage, 0L)
    // Swap: drop the live ledger FIRST. Until the staged ledger is
    // renamed in (the swap's last step) the store has no committed
    // state, so a reader — or an append's currentDocs — fails loudly
    // instead of joining batch-0 postings against old-generation doc
    // keys; and the repair branch above keys off exactly this
    // ledger-missing signature, which would otherwise miss crashes
    // during the postings/docs renames and delete the stage holding
    // their only copy.
    graft.sources.Commits.clear(spark, dir)
    swapFromStage(fs, dir, stage)
   }

  /** Detect-and-repair the full vacuum's crashed-mid-swap window:
    * staged ledger present, live ledger missing means the stage (or
    * the pieces already renamed into place) holds the store's ONLY
    * copy — finish the swap. EVERY maintenance entry point must call
    * this BEFORE its orphan sweep: in this window the committed set
    * reads empty, so an unguarded sweep would delete the just-renamed
    * `b0` dirs as orphans and destroy the corpus. Returns true when a
    * repair ran (the caller should re-read the ledger or return).
    */
  private def repairCrashedSwap(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Boolean = {
    val stagedLedger =
      new org.apache.hadoop.fs.Path(s"$dir/_vacuum/_commits/b0")
    if (fs.exists(stagedLedger) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_commits"))) {
      swapFromStage(fs, dir, s"$dir/_vacuum")
      true
    } else false
  }

  /** Replace the live tables + ledger with the staged copies, piece by
    * piece; pieces already renamed by a crashed predecessor are left in
    * place (their staged source is gone).
    */
  private def swapFromStage(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, stage: String): Unit = {
    Seq("postings", "docs", "_commits").foreach { p =>
      val src = new org.apache.hadoop.fs.Path(s"$stage/$p")
      if (fs.exists(src)) {
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true)
        fs.rename(src, new org.apache.hadoop.fs.Path(s"$dir/$p")): Unit
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true): Unit
  }

  /** INCREMENTAL vacuum: reclaim only the DIRTY batches — those holding
    * dead rows (superseded generations, or any row of a tombstoned doc,
    * the tombstone marker included) at a dead fraction of at least
    * `minDeadFraction` — and leave clean batches' files untouched.
    * Maintenance cost scales with the DEAD data, not the corpus: after
    * a 500-doc upsert against a 100 TB store, only the batches holding
    * those 500 docs' old generations rewrite, where [[indexVacuum]]
    * rewrites the full live state (keep it for offline ledger resets).
    *
    * Mechanics: the dirty batches' surviving rows — live current
    * generations, plus tombstones whose doc still has rows in
    * UNSELECTED batches (dropping such a tombstone would RESURRECT the
    * older generation; one carried forward keeps suppressing it) — are
    * rewritten as one fresh committed batch, then the dirty batches'
    * commit markers are removed and their directories deleted.
    *
    * Crash safety, step by step (writer-lease held; attempt markers
    * burn ids as everywhere): a crash before the new batch's commit
    * leaves an invisible orphan dir that the NEXT vacuum's orphan sweep
    * deletes; after the commit but before the marker removals, the old
    * generations are merely superseded by the rewrite (max-batch
    * resolution already ignores them — no double counting, tombstones
    * agree between copies), and the next vacuum reclaims them as
    * all-dead batches; between marker removals and dir deletes, the
    * unmarked dirs are invisible orphans, swept next time. Every state
    * is readable and converges — no staged swap needed.
    *
    * Returns the number of batches reclaimed.
    */
  def indexVacuumIncremental(spark: org.apache.spark.sql.SparkSession,
      dir: String, minDeadFraction: Double = 0.0): Int =
   graft.sources.Commits.withWriterLock(spark, dir) {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A full vacuum crashed mid-swap leaves committed reading empty
    // while the freshly-renamed b0 dirs hold the only copy — repair
    // BEFORE the orphan sweep or the sweep destroys the store.
    repairCrashedSwap(fs, dir): Unit
    val committed = committedBatches(spark, dir)
    // Flat batch ids read ONCE per table for the whole pass (the flat
    // files never change within it — rewrites land in b<id> dirs);
    // reused by both sweeps and the forced-rewrite selection below.
    val flatIds = Seq("postings", "docs").map(t =>
      t -> graft.sources.Commits.flatBatchIds(spark, s"$dir/$t")).toMap
    Seq("postings", "docs").foreach { t =>
      graft.sources.Commits
        .sweepOrphanBatchDirs(spark, s"$dir/$t", committed)
      // File-level analog of the orphan sweep: legacy flat files whose
      // batches are no longer committed (a crash between a previous
      // migration's uncommit and its delete) go now.
      graft.sources.Commits.sweepFlatFiles(spark, s"$dir/$t", committed,
        flatIds(t))
    }
    graft.sources.Commits.pruneAttemptMarkers(spark, dir)
    if (committed.isEmpty) return 0
    // Committed batches still living in the legacy flat-file layout
    // are FORCED into the rewrite regardless of dead fraction — the
    // only way the incremental cadence can ever reclaim their bytes
    // (see Commits.committedFlatBatches).
    val legacyFlat = flatIds.values.flatten.toSeq
      .filter(committed.contains).distinct.sorted
    val selected = (dirtyBatches(spark, dir, committed, minDeadFraction)
      ++ legacyFlat).distinct.sorted
    if (selected.isEmpty) return 0
    vacuumRewriteAndCommit(spark, dir, committed, selected)
    dropReclaimedBatches(spark, fs, dir, selected)
    Seq("postings", "docs").foreach(t => graft.sources.Commits
      .sweepFlatFiles(spark, s"$dir/$t", committedBatches(spark, dir),
        flatIds(t)))
    selected.size
   }

  /** COMPACT the index's committed-batch count down to `maxBatches`:
    * the smallest batches' surviving rows (live current generations +
    * carried tombstones — the same rewrite the incremental vacuum
    * runs, so superseded/fully-dead rows drop on the way) fold into
    * one fresh committed batch, and the folded batches' directories
    * delete. [[indexVacuumIncremental]] bounds the DEAD data without
    * full rewrites; this bounds the BATCH COUNT the micro-batch ingest
    * cadence grows (per-batch directory listings and file handles at
    * 100 TB) — together they close the loop that previously needed the
    * offline full [[indexVacuum]]. Returns batches folded (0 when
    * already within bound).
    */
  def indexCompactBatches(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int = 16): Int =
   graft.sources.Commits.withWriterLock(spark, dir) {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairCrashedSwap(fs, dir): Unit  // see indexVacuumIncremental
    val committed = committedBatches(spark, dir)
    // One flat-batch read per table per pass — see indexVacuumIncremental.
    val flatIds = Seq("postings", "docs").map(t =>
      t -> graft.sources.Commits.flatBatchIds(spark, s"$dir/$t")).toMap
    Seq("postings", "docs").foreach { t =>
      graft.sources.Commits
        .sweepOrphanBatchDirs(spark, s"$dir/$t", committed)
      graft.sources.Commits.sweepFlatFiles(spark, s"$dir/$t", committed,
        flatIds(t))
    }
    graft.sources.Commits.pruneAttemptMarkers(spark, dir)
    if (committed.isEmpty) return 0
    val docs = readCommittedTable(spark, dir, "docs", committed)
      .getOrElse(return 0)
    // Legacy flat batches fold in even when the batch count is within
    // bound — compaction is also the migration off the flat layout.
    val legacyFlat = flatIds.values.flatten.toSeq
      .filter(committed.contains).distinct.sorted
    val selected = (graft.sources.Commits
      .compactionSelection(docs, committed, maxBatches)
      ++ legacyFlat).distinct.sorted
    if (selected.isEmpty) return 0
    vacuumRewriteAndCommit(spark, dir, committed, selected)
    dropReclaimedBatches(spark, fs, dir, selected)
    Seq("postings", "docs").foreach(t => graft.sources.Commits
      .sweepFlatFiles(spark, s"$dir/$t", committedBatches(spark, dir),
        flatIds(t)))
    selected.size
   }

  /** The committed batches whose dead-row fraction reaches the
    * threshold. Dead = superseded by a later generation, or any row of
    * a tombstoned doc. Driver-side result: bounded by the batch COUNT
    * (vacuum cadence), never by rows.
    */
  private[operators] def dirtyBatches(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, committed: Seq[Long],
      minDeadFraction: Double): Seq[Long] = {
    val docs = readCommittedTable(spark, dir, "docs", committed)
      .getOrElse(return Seq.empty)
    val cur = docs.groupBy(col("doc_id"))
      .agg(max(col("batch")).as("__cur_batch"),
        max_by(col("content_hash"), col("batch")).as("__cur_hash"))
    docs.join(cur, Seq("doc_id"))
      .withColumn("__dead",
        col("batch") < col("__cur_batch") || col("__cur_hash") === Tombstone)
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("__total"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("__dead_rows"))
      .collect()
      .filter { r =>
        val dead = r.getAs[Long]("__dead_rows")
        dead > 0 &&
          dead.toDouble / r.getAs[Long]("__total") >= minDeadFraction
      }
      .map(_.getAs[Long]("batch")).toSeq.sorted
  }

  /** Steps 1–2 of the incremental vacuum: rewrite the selected batches'
    * surviving rows as one fresh batch and COMMIT it. Package-private
    * so the spec can simulate a crash exactly here — new batch
    * committed, reclaimed markers still present.
    */
  private[operators] def vacuumRewriteAndCommit(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      committed: Seq[Long], selected: Seq[Long]): Unit = {
    val docs = readCommittedTable(spark, dir, "docs", committed).get
    val cur = docs.groupBy(col("doc_id"))
      .agg(max(col("batch")).as("__cur_batch"),
        max_by(col("content_hash"), col("batch")).as("__cur_hash"))
    val inSelected = col("batch").isin(selected: _*)
    // Live current-generation rows sitting in a selected batch.
    val live = docs.join(cur, Seq("doc_id"))
      .filter(inSelected && col("batch") === col("__cur_batch") &&
        col("__cur_hash") =!= Tombstone)
    // Tombstones in a selected batch whose doc still has rows in an
    // UNSELECTED batch: carried forward, or those rows would resurrect.
    val tomb = docs.join(cur, Seq("doc_id"))
      .filter(inSelected && col("batch") === col("__cur_batch") &&
        col("__cur_hash") === Tombstone)
      .join(docs.filter(!col("batch").isin(selected: _*))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val survivors = live.unionByName(tomb)
      .select(col("doc_id"), col("dl"), col("content_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (survivors.count() > 0) {
        val batchId = graft.sources.Commits.allocateBatchId(spark, dir,
          Seq(s"$dir/docs", s"$dir/postings"))
        val liveKeys = live.select(col("doc_id"), col("batch"))
        readCommittedTable(spark, dir, "postings", selected)
          .foreach(_.join(liveKeys, Seq("doc_id", "batch"))
            .withColumn("batch", lit(batchId))
            .repartition(col("term"))
            .sortWithinPartitions(col("term"), col("doc_id"))
            .write.parquet(s"$dir/postings/b$batchId"))
        survivors.withColumn("batch", lit(batchId))
          .write.parquet(s"$dir/docs/b$batchId")
        graft.sources.Commits.commit(spark, dir, batchId)
      }
    } finally { survivors.unpersist(); () }
  }

  /** Step 3: remove the reclaimed batches' commit markers, then their
    * directories (marker first — a dir without a marker is an
    * invisible orphan; a marker without a dir would be a readable
    * missing batch).
    */
  private def dropReclaimedBatches(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      selected: Seq[Long]): Unit = {
    selected.foreach(b => graft.sources.Commits.uncommit(spark, dir, b))
    for (table <- Seq("postings", "docs"); b <- selected)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$table/b$b"),
        true): Unit
  }

  private def committedBatches(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Long] = graft.sources.Commits.committed(spark, dir)

  private def commitBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: Long): Unit =
    graft.sources.Commits.commit(spark, dir, batch)

  /** Fresh batch id: above every id ever attempted, from one ledger-dir
    * listing ([[graft.sources.Commits.allocateBatchId]] — no data
    * scan). The postings slice is written before the docs slice, so an
    * append crashing between the two leaves a postings-only orphan; its
    * attempt marker (recorded before the write) keeps the id burned, so
    * a retry can never double that batch's tf/df (crash-simulation test
    * in SearchSpec). Legacy marker-less stores fall back to a
    * max(batch) scan over BOTH tables once.
    */
  private def nextBatchId(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    graft.sources.Commits.allocateBatchId(spark, dir,
      Seq(s"$dir/docs", s"$dir/postings"))

  /** Read the COMMITTED generations of `table` (`postings` or `docs`)
    * — [[graft.sources.Commits.readCommittedBatches]] over the shared
    * per-batch-directory layout (a delete-only batch writes no
    * postings slice, so the postings path list can be a strict subset
    * of the committed set).
    */
  private def readCommittedTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, table: String, committed: Seq[Long]): Option[DataFrame] =
    graft.sources.Commits.readCommittedBatches(spark, s"$dir/$table",
      committed)

  /** Committed postings read; a store whose live state is postings-free
    * (every doc tombstoned, or delete-only generations) yields an
    * EMPTY frame with the real schema (doc_id typed from the docs
    * table), so probes return zero hits instead of failing the read.
    */
  private def readCommittedPostings(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, committed: Seq[Long]): DataFrame =
    readCommittedTable(spark, dir, "postings", committed).getOrElse {
      val idType = readCommittedTable(spark, dir, "docs", committed)
        .map(_.schema("doc_id").dataType)
        .getOrElse(org.apache.spark.sql.types.LongType)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("dl",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("positions",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType)),
          org.apache.spark.sql.types.StructField("batch",
            org.apache.spark.sql.types.LongType))))
    }

  /** CURRENT committed generation of every indexed doc:
    * (doc_id, dl, content_hash, batch). None when nothing committed.
    */
  private def currentDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val committed = committedBatches(spark, dir)
    if (committed.isEmpty) None
    // Freshly-maintained shortcut: one committed batch holds one row
    // per doc (every write path dedups within its batch), so the
    // per-doc currency aggregate is the identity — after a full
    // vacuum/compaction-to-one the probe's membership read is a pure
    // scan (same shortcut as Similarity.annCurrentRows).
    else if (committed.sizeIs == 1)
      readCommittedTable(spark, dir, "docs", committed)
        .map(_.select(col("doc_id"), col("dl"), col("content_hash"),
          col("batch")))
    else readCommittedTable(spark, dir, "docs", committed)
      .map(_.groupBy(col("doc_id"))
        .agg(max_by(col("dl"), col("batch")).as("dl"),
          max_by(col("content_hash"), col("batch")).as("content_hash"),
          max(col("batch")).as("batch")))
  }

  /** LIVE membership surface of the standing index — the audit read a
    * platform's cross-store consistency checks need: (doc_id,
    * content_hash) of every doc whose CURRENT committed generation is
    * not a tombstone. None when nothing is committed. Skinny-column
    * scan; postings and text are never touched.
    */
  def indexLiveDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] =
    currentDocs(spark, dir).map(_
      .filter(col("content_hash") =!= Tombstone)
      .select(col("doc_id"), col("content_hash")))

  /** [[currentDocs]] restricted to `ids` (a one-column doc_id frame):
    * the docs scan is semi-joined against the id set BEFORE the
    * per-doc aggregate, so mutation-path currency resolves cost the
    * batch's overlap, not the store's full membership (the read paths
    * keep the corpus-wide [[currentDocs]] — they genuinely need every
    * doc's generation). Package-private so the spec can pin the
    * semi-below-aggregate plan shape.
    */
  private[operators] def currentDocsFor(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame): Option[DataFrame] = {
    val committed = committedBatches(spark, dir)
    if (committed.isEmpty) None
    else readCommittedTable(spark, dir, "docs", committed)
      .map(_.join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(max_by(col("dl"), col("batch")).as("dl"),
          max_by(col("content_hash"), col("batch")).as("content_hash"),
          max(col("batch")).as("batch")))
  }

  private def writeSlice(docs: DataFrame, idCol: String, textCol: String,
      dir: String, batch: Long): Unit = {
    writePostingsSlice(docs, idCol, textCol, dir, batch)
    writeDocsSlice(docs, idCol, textCol, dir, batch)
  }

  /** Postings half of a slice write — the FIRST of the two appends, so
    * a crash right after it is the partial-append state the allocator
    * must count ([[nextBatchId]]); package-private so SearchSpec can
    * simulate exactly that crash. Positions ride in each posting
    * (sorted, 0-based): tf queries never read the column (parquet
    * pruning), and phrase queries become per-doc position-list
    * intersections instead of text rescans ([[phraseFromIndexTopK]]).
    */
  private[operators] def writePostingsSlice(docs: DataFrame, idCol: String,
      textCol: String, dir: String, batch: Long): Unit = {
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    // ONE exchange, not two: hash-partitioning by term alone satisfies
    // the (term, doc_id) groupBy's clustered distribution (equal terms
    // land together, so equal (term, doc_id) do too), so repartitioning
    // FIRST lets the aggregation run in place and the slice write skips
    // the second full shuffle of the positions volume that
    // agg-then-repartition(term) paid. The position lists carry every
    // occurrence either way, so aggregating before shuffling saved no
    // bytes — it only doubled them.
    docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("dl"),
        posexplode(col("__toks")).as(Seq("pos", "term")))
      .repartition(col("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("batch", lit(batch))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.parquet(s"$dir/postings/b$batch")
  }

  private def writeDocsSlice(docs: DataFrame, idCol: String,
      textCol: String, dir: String, batch: Long): Unit = {
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    docs.select(col(idCol).as("doc_id"), size(toks).as("dl"),
        graft.functions.HashFunctions.contentHash(col(textCol))
          .as("content_hash"),
        lit(batch).as("batch"))
      .write.parquet(s"$dir/docs/b$batch")
  }

  /** Operational stats of the standing index — what a store operator
    * watches to schedule [[indexVacuum]] and spot ingest trouble: one
    * row with committed batch count, live vs tombstoned docs,
    * superseded docs-table rows, and live vs total postings rows (the
    * superseded+orphan tail the next vacuum reclaims). Reads the two
    * tables once each with column pruning; no text is touched.
    */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val committed = committedBatches(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = currentDocs(spark, dir).get
    val docsAgg = cur.agg(
      sum(when(col("content_hash") =!= Tombstone, 1L).otherwise(0L))
        .as("live_docs"),
      sum(when(col("content_hash") === Tombstone, 1L).otherwise(0L))
        .as("tombstoned_docs"))
    // Totals COUNT orphan rows (uncommitted batch dirs from crashed
    // appends) — that reclaimable tail is what the stats exist to
    // surface — so they read the whole table dir recursively, not just
    // the committed subdirectories.
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
      .agg(count(lit(1)).as("doc_rows_total"))
    val livePost = readCommittedPostings(spark, dir, committed)
      .join(cur.filter(col("content_hash") =!= Tombstone)
        .select(col("doc_id"), col("batch")), Seq("doc_id", "batch"))
      .agg(count(lit(1)).as("postings_rows_live"))
    val totalPost = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/postings")
      .agg(count(lit(1)).as("postings_rows_total"))
    docsAgg
      .crossJoin(broadcast(docRows))
      .crossJoin(broadcast(livePost))
      .crossJoin(broadcast(totalPost))
      .select(lit(committed.size).as("committed_batches"),
        col("live_docs"), col("tombstoned_docs"),
        (col("doc_rows_total") - col("live_docs") - col("tombstoned_docs"))
          .as("superseded_doc_rows"),
        col("postings_rows_live"), col("postings_rows_total"))
  }

  /** BM25 top-k answered FROM the standing index: filter postings to
    * the query terms (pushed predicate — at scale this reads only the
    * matching row groups / buckets, never the corpus), drop superseded
    * generations by joining the hits against each doc's max committed
    * batch (the hit set is already tiny), per-term df as one tiny
    * aggregate broadcast back on term, then one hash-shuffle on doc_id
    * to sum the per-(doc, term) micro-unit contributions. Bit-identical
    * to [[bm25TopK]] over the index's CURRENT corpus state (same
    * contribution expression, same exact integer sum).
    */
  def bm25FromIndexTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val committed = committedBatches(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = currentDocs(spark, dir).get
      .filter(col("content_hash") =!= Tombstone)
    val hits = readCommittedPostings(spark, dir, committed)
      .filter(col("term").isin(queryTerms: _*))
      .join(cur.select(col("doc_id"), col("batch")), Seq("doc_id", "batch"))
    val stats = cur
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    scoreHits(hits, stats, k, k1, b)
  }

  /** Shared BM25 scoring tail over a resolved hit set (doc_id, tf, dl):
    * per-term df as one tiny aggregate broadcast back on term, the
    * one-row corpus stats broadcast, per-(doc, term) contributions in
    * exact micro-units, ONE doc_id hash-shuffle to sum them.
    */
  private def scoreHits(hits: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val dfs = hits.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val n = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (n - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val norm = tf + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl").cast("double") / avgdl)
    hits
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(idf * tf * lit(k1 + 1.0) / norm * lit(1e6)).cast("long")
          .as("__contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_matched"),
        sum(col("__contrib")).as("score_1e6"))
      .orderBy(col("score_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** Materialize the index's CURRENT live postings as a TERM-BUCKETED
    * catalog table at `dir/postings_bucketed` — the zero-exchange probe
    * layout [[buildIndex]]'s scaladoc points at for 100 TB (same lever
    * as `Store.writeBucketed`). Generation resolution happens ONCE here
    * (committed batches only, each doc's max batch, tombstones
    * dropped), so probes skip both the currentDocs join and the batch
    * filter; a term predicate prunes whole BUCKETS (hash(term) picks
    * the files) instead of row groups, and the probe-side df aggregate
    * reads pre-hashed buckets with no exchange. The table is a
    * SNAPSHOT: rebuild after appends, like any index compaction —
    * the sorted-parquet path stays the always-fresh default.
    * Maintenance op like [[indexVacuum]]: holds the STORE's writer
    * lease (so the resolved generations and the `_snapshot` marker
    * describe one consistent committed set, and two rebuilds cannot
    * interleave), and the overwrite is not readable mid-rebuild —
    * pause probes across a refresh exactly as across a vacuum.
    */
  def bucketPostings(spark: org.apache.spark.sql.SparkSession,
      dir: String, table: String, numBuckets: Int = 32): Unit =
   graft.sources.Commits.withWriterLock(spark, dir) {
    val committed = committedBatches(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = currentDocs(spark, dir).get
      .filter(col("content_hash") =!= Tombstone)
      .select(col("doc_id"), col("batch"))
    readCommittedPostings(spark, dir, committed)
      .join(cur, Seq("doc_id", "batch"))
      // Pre-shuffle on the bucket function (repartition and bucketBy
      // both pmod-murmur3 the column), so each task holds exactly one
      // bucket and writes ONE file — not one file per bucket per task.
      .repartition(numBuckets, col("term"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$dir/postings_bucketed")
      .bucketBy(numBuckets, "term")
      .sortBy("term")
      .saveAsTable(table)
    // Staleness marker: records the committed set THIS snapshot
    // resolved; `Commits.snapshotFresh(spark, s"$dir/postings_bucketed",
    // dir)` tells the maintenance cron whether a rebuild is due.
    graft.sources.Commits.writeSnapshotMarker(spark,
      s"$dir/postings_bucketed", committed)
   }

  /** [[bm25FromIndexTopK]] answered from the [[bucketPostings]] table:
    * bit-identical result (same resolved postings, same scoring tail),
    * but the postings side plans NO shuffle exchange — the term filter
    * selects buckets and the df aggregate reuses the bucket hashing
    * (pinned by PlanRegressionSpec).
    */
  def bm25FromBucketedIndexTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, table: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val cur = currentDocs(spark, dir).get
      .filter(col("content_hash") =!= Tombstone)
    val hits = spark.table(table).filter(col("term").isin(queryTerms: _*))
    val stats = cur
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    scoreHits(hits, stats, k, k1, b)
  }

  /** MORE-LIKE-THIS top-k — BM25 where the query is a whole DOCUMENT's
    * vocabulary, the query-by-document shape [[bm25TopK]]'s scaladoc
    * defers to the exploded pipeline: a literal handful of terms fits
    * in-row, a document's vocabulary does not. Answered FROM the
    * standing index: the query doc's top-`maxTerms` (tf desc, term
    * tie-break) term weights broadcast against the postings (only
    * those terms' postings are read), each (doc, term) hit contributes
    * `round(qtf · idf · tf·(k1+1)/norm · 1e6)` micro-units, and ONE
    * doc_id hash-shuffle sums them — exact BIGINT math, deterministic
    * under any partitioning. The query doc itself is excluded.
    *
    * `queryDoc`: a one-row (id, text) frame; `maxTerms` caps the
    * broadcast at a constant independent of document length.
    */
  def moreLikeThisTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryDoc: DataFrame, k: Int, maxTerms: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val committed = committedBatches(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val idCol = queryDoc.columns(0)
    val textCol = queryDoc.columns(1)
    val toks = filter(split(trim(col(textCol)), " +"), x => x =!= "")
    // Self-exclusion compares ids as STRINGS: buildIndex accepts any id
    // type, and a lossy cast (e.g. long on an alphanumeric id) would
    // null out the comparison and silently drop every hit.
    val qterms = queryDoc
      .select(col(idCol).cast("string").as("__qid"), explode(toks).as("term"))
      .groupBy(col("__qid"), col("term"))
      .agg(count(lit(1)).as("__qtf"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qid"))
          .orderBy(col("__qtf").desc, col("term"))))
      .filter(col("__rn") <= maxTerms)
      .select(col("__qid"), col("term"), col("__qtf"))
    val cur = currentDocs(spark, dir).get
      .filter(col("content_hash") =!= Tombstone)
    // df counts the query doc too (it is part of the corpus) — only
    // the SCORED set excludes it.
    val hits0 = readCommittedPostings(spark, dir, committed)
      .join(broadcast(qterms.withColumn("__qw",
        col("__qtf").cast("double")).drop("__qtf")), Seq("term"))
      .join(cur.select(col("doc_id"), col("batch")), Seq("doc_id", "batch"))
    val hits = hits0.filter(col("doc_id").cast("string") =!= col("__qid"))
    val stats = cur
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfs = hits0.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    scoreWeightedHits(hits, dfs, stats, k, k1, b)
  }

  /** Shared WEIGHTED BM25 scoring tail of the query-by-terms-with-
    * weights retrievers ([[moreLikeThisTopK]], [[rm3TopK]]): `hits`
    * carries (doc_id, term, tf, dl, __qw) where `__qw` is the query-
    * side weight of that term (a tf for MLT, a fixed fusion weight for
    * RM3's expansion terms); each hit contributes
    * `round(qw · idf · tf·(k1+1)/norm · 1e6)` micro-units and ONE
    * doc_id hash-shuffle sums them as exact BIGINTs. One definition so
    * the weighted retrievers can never silently diverge on the
    * contribution formula (same guard as [[rrfFuseWithBm25]]).
    */
  private def scoreWeightedHits(hits: DataFrame, dfs: DataFrame,
      stats: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val n = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (n - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val norm = tf + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl").cast("double") / avgdl)
    hits
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(col("__qw") * idf * tf * lit(k1 + 1.0) / norm
          * lit(1e6)).cast("long").as("__contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_matched"),
        sum(col("__contrib")).as("score_1e6"))
      .orderBy(col("score_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** RM3-style PSEUDO-RELEVANCE-FEEDBACK expansion over the standing
    * index — the relevance-feedback loop interactive corpus search
    * runs when the literal query under-recalls: stage 1 ranks with
    * [[bm25FromIndexTopK]], the top-`fbDocs` docs nominate the
    * `fbTerms` heaviest terms they contain (total tf desc, term
    * tie-break, original terms excluded), and stage 2 re-ranks the
    * corpus with the EXPANDED weighted query — original terms at
    * weight 1.0, expansion terms at `fbWeight` — through the shared
    * [[scoreWeightedHits]] micro-unit algebra. Fully in-plan: the
    * feedback set and expansion vocabulary stay DataFrames (both
    * bounded by fbDocs/fbTerms, so every join broadcasts); nothing is
    * collected to the driver.
    *
    * Scale note: stage 1 pushes its term predicate into the postings
    * scan, but the expansion lookup (terms OF given docs) and the
    * stage-2 dynamic-term join each scan postings once with only a
    * broadcast hash-join filter — the postings layout is term-keyed,
    * not doc-keyed. At 100 TB you'd serve the expansion lookup from a
    * doc-bucketed forward index (same rows, other key) and stage 2
    * from [[bucketPostings]]; the plan shape here (broadcast joins,
    * one final doc_id shuffle) is already the one that survives.
    */
  def rm3TopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: Seq[String], k: Int,
      fbDocs: Int = 5, fbTerms: Int = 8, fbWeight: Double = 0.5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val committed = committedBatches(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = currentDocs(spark, dir).get
      .filter(col("content_hash") =!= Tombstone)
    val fb = bm25FromIndexTopK(spark, dir, queryTerms, fbDocs, k1, b)
      .select(col("doc_id"))
    // Resolve the feedback docs to their current generation, then read
    // their term vectors from the postings (no text is re-tokenized).
    val curFb = cur.select(col("doc_id"), col("batch"))
      .join(broadcast(fb), Seq("doc_id"))
    val expTerms = readCommittedPostings(spark, dir, committed)
      .join(broadcast(curFb), Seq("doc_id", "batch"))
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("__w"))
      .orderBy(col("__w").desc, col("term"))
      .limit(fbTerms)
      .select(col("term"), lit(fbWeight).as("__qw"))
    val origTerms = {
      import spark.implicits._
      queryTerms.toDF("term").select(col("term"), lit(1.0).as("__qw"))
    }
    val qterms = origTerms.unionByName(expTerms)
    val hits = readCommittedPostings(spark, dir, committed)
      .join(broadcast(qterms), Seq("term"))
      .join(cur.select(col("doc_id"), col("batch")), Seq("doc_id", "batch"))
    val stats = cur
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfs = hits.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    scoreWeightedHits(hits, dfs, stats, k, k1, b)
  }

  /** HYBRID retrieval — Reciprocal-Rank Fusion of the BM25 index
    * answer and the ANN store answer, the standard way modern corpus
    * search combines lexical and embedding evidence without score
    * calibration: each doc scores `round(1e6/(rrfK + rank))` micro-
    * units per list it appears in (rank from that list's own ordering,
    * missing side contributes 0), summed exactly as BIGINTs. Both
    * inputs are top-`kEach` lists — constant-size driver-independent
    * frames — so the fusion join is trivially broadcastable whatever
    * the corpus size.
    *
    * `multiprobe` is the recall lever on the vector side: probe every
    * bucket one hyperplane-flip away too
    * ([[graft.operators.Similarity.annStoreTopKProbed]]), so the
    * fusion's embedding evidence does not silently depend on which
    * side of a single hyperplane a neighbor fell — planes+1 bucket
    * reads instead of one.
    *
    * The single-probe ANN side goes through the ROUTE-AWARE probe
    * ([[graft.operators.Similarity.annStoreTopKAuto]]): pass
    * `annPartDir` (the [[graft.operators.Similarity.annStorePartition]]
    * layout the maintenance pass refreshes) and the fusion reads the
    * bucket-pruned partitioned layout while its snapshot is current,
    * falling back to the always-fresh generational store otherwise —
    * same answers either way, the 1000× probe-cost difference decided
    * per call from two file listings.
    */
  def hybridTopK(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, annDir: String, queryTerms: Seq[String],
      queryVec: DataFrame, planes: Int, dims: Int, k: Int,
      kEach: Int = 20, rrfK: Int = 60,
      multiprobe: Boolean = false,
      annPartDir: Option[String] = None): DataFrame = {
    val annTop =
      if (multiprobe) graft.operators.Similarity
        .annStoreTopKProbed(spark, annDir, queryVec, planes, dims, kEach)
      else graft.operators.Similarity
        .annStoreTopKAuto(spark, annDir, queryVec, planes, dims, kEach,
          partDir = annPartDir)
    val ann = annTop.select(col("cid").as("doc_id"), col("rnk").as("r_ann"))
    rrfFuseWithBm25(spark, indexDir, queryTerms, ann, k, kEach, rrfK)
  }

  /** Shared fusion tail of every hybrid retriever: rank the BM25
    * top-`kEach` list, full-outer join the dense side's (doc_id,
    * r_ann) ranks, and sum the oracle-pinned RRF micro-units
    * `round(1e6/(rrfK + rank))` per present side, exact BIGINTs. One
    * definition so the hybrids can never silently diverge on the
    * fusion formula; both inputs are top-`kEach` lists, so the join is
    * constant-size whatever the corpus.
    */
  private[graft] def rrfFuseWithBm25(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryTerms: Seq[String], dense: DataFrame,
      k: Int, kEach: Int, rrfK: Int): DataFrame = {
    val bm = bm25FromIndexTopK(spark, indexDir, queryTerms, kEach)
      .withColumn("r_bm25", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_1e6").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_bm25"))
    bm.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(round(lit(1e6) / (lit(rrfK) + col("r_bm25")))
          .cast("long"), lit(0L)) +
          coalesce(round(lit(1e6) / (lit(rrfK) + col("r_ann")))
            .cast("long"), lit(0L))).as("rrf_1e6"))
      .orderBy(col("rrf_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** HYBRID retrieval with the dense side on the STANDING PQ STORE —
    * [[hybridTopK]]'s fusion (same RRF micro-units, same top-`kEach`
    * lists) but the embedding evidence comes from
    * [[graft.operators.Similarity.pqStoreTopK]]'s ADC probe instead of
    * the int8 ANN store: the scored side is m code ids per vector, the
    * floats never load, and with `nprobe > 0` (store built with
    * `cells`) the probe routes to ~nprobe/cells of the committed code
    * rows via the broadcast cell-id hash join — the 100 TB hybrid
    * plan, where BOTH sides of the fusion are pruned standing-store
    * reads (term-pruned postings, cell-pruned codes).
    */
  def hybridTopKPq(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, pqDir: String, queryTerms: Seq[String],
      queryVec: DataFrame, k: Int, kEach: Int = 20, rrfK: Int = 60,
      nprobe: Int = 0): DataFrame = {
    val pq = graft.operators.Similarity
      .pqStoreTopK(spark, pqDir, queryVec, kEach, nprobe)
      .select(col("cid").as("doc_id"), col("rnk").as("r_ann"))
    rrfFuseWithBm25(spark, indexDir, queryTerms, pq, k, kEach, rrfK)
  }

  /** PRODUCTION hybrid retrieval — BM25 fused with the PQ store's
    * ADC→EXACT-RERANK list instead of the raw ADC list: the routed
    * ADC probe nominates `kCand` candidates per query from code ids
    * alone, only those candidates' float vectors load for an exact
    * squared-L2 top-`kEach`
    * ([[graft.operators.Similarity.pqStoreRerankTopK]]), and THAT
    * exact-ordered list fuses with the BM25 ranks under the shared
    * RRF tail. The dense rank the fusion consumes is therefore free
    * of quantization rank noise — the retrieval stack's production
    * shape (coarse route → ADC shortlist → exact rerank → fuse) —
    * while every join stays candidate-sized: kCand code rows and
    * kCand float vectors per query, never a corpus scan.
    *
    * `vecs` is the float-vector side for the rerank (id, vec) —
    * typically the same embedding table the ANN store was loaded
    * from; it is dims-gated and id-deduped by the rerank.
    */
  def hybridTopKPqRerank(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, pqDir: String, queryTerms: Seq[String],
      queryVec: DataFrame, vecs: DataFrame, kCand: Int, k: Int,
      kEach: Int = 20, rrfK: Int = 60, nprobe: Int = 0): DataFrame = {
    val dense = graft.operators.Similarity
      .pqStoreRerankTopK(spark, pqDir, queryVec, vecs, kCand, kEach, nprobe)
      .select(col("cid").as("doc_id"), col("rnk").as("r_ann"))
    rrfFuseWithBm25(spark, indexDir, queryTerms, dense, k, kEach, rrfK)
  }

  /** EXACT-PHRASE top-k answered FROM the standing index — the
    * positional-postings scale path [[phraseTopK]]'s scaladoc promises:
    * read ONLY the phrase terms' postings (pruned scan, never the
    * corpus text), join them per doc, and fold positional adjacency
    * over the sorted position lists:
    *
    *   occ_1 = positions(t_1);  occ_i = (occ_(i-1)+1) ∩ positions(t_i);
    *   tf_phrase = |occ_n|
    *
    * — overlapping occurrences counted, exactly like the scan kernel,
    * so the answer is bit-identical to [[phraseTopK]] over the index's
    * CURRENT corpus state (generation-resolved like
    * [[bm25FromIndexTopK]]). Per-doc work is a handful of tiny sorted
    * lists; the join fans out only to docs containing every term.
    */
  def phraseFromIndexTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, s"phrase needs >= 2 terms, got ${phrase.size}")
    val committed = committedBatches(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = currentDocs(spark, dir).get
      .filter(col("content_hash") =!= Tombstone)
      .select(col("doc_id"), col("batch"))
    val hits = readCommittedPostings(spark, dir, committed)
      .filter(col("term").isin(phrase.distinct: _*))
      .join(cur, Seq("doc_id", "batch"))
    phrasePositionFold(hits, phrase, k)
  }

  /** [[phraseFromIndexTopK]] against the [[bucketPostings]] table: the
    * positions column rides into the bucketed layout, so the SAME
    * bucket-pruned, exchange-free term read serves phrase queries too —
    * bit-identical to the sorted layout and the scan kernel.
    */
  def phraseFromBucketedIndexTopK(spark: org.apache.spark.sql.SparkSession,
      table: String, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, s"phrase needs >= 2 terms, got ${phrase.size}")
    phrasePositionFold(
      spark.table(table).filter(col("term").isin(phrase.distinct: _*)),
      phrase, k)
  }

  /** Shared positional-adjacency fold over a resolved phrase hit set:
    * occ_1 = positions(t_1); occ_i = (occ_(i-1)+1) ∩ positions(t_i);
    * tf_phrase = |occ_n| — overlapping occurrences counted, exactly
    * like the scan kernel.
    */
  private def phrasePositionFold(hits: DataFrame, phrase: Seq[String],
      k: Int): DataFrame = {
    val frames = phrase.zipWithIndex.map { case (t, i) =>
      hits.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"__p$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, Seq("doc_id")))
    val occ = phrase.indices.tail.foldLeft(col("__p0")) { (acc, i) =>
      array_intersect(transform(acc, p => p + lit(1)), col(s"__p$i"))
    }
    joined.select(col("doc_id"), size(occ).as("tf_phrase"))
      .filter(col("tf_phrase") > 0)
      .orderBy(col("tf_phrase").desc, col("doc_id"))
      .limit(k)
  }
}
