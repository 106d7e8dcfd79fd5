package graft.operators

import graft.sources.{Commits, GenTable, ParquetRead}
import graft.sources.GenTable.Tombstone
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
    *     FRESH id above every id ever attempted (the ledger's attempt
    *     markers), so an orphan on either side can never double a
    *     doc's tf/df under a committed id.
    *   - `dir/_lock`: writer lease ([[graft.sources.Commits
    *     .withWriterLock]]) held across every mutation — a concurrent
    *     second writer fails loudly instead of double-allocating a
    *     batch id. Superseded/orphan generations are dead weight until
    *     [[indexVacuum]] rewrites the live state.
    * A rebuild uncommits the old generations oldest first: a crash there
    * leaves a readable subset of the old corpus, no deleted doc revived.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    Commits.withWriterLock(spark, dir) {
      // Destructive rebuild: uncommit every generation, then drop the
      // tables. The attempt markers stay, so the rebuild commits an id
      // above every id ever attempted — never one a snapshot of the old
      // store recorded — and commits it even when empty, so an empty
      // corpus is still a readable store.
      Commits.committed(spark, dir).sorted
        .foreach(Commits.uncommit(spark, dir, _))
      Seq("postings", "docs").foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true))
      IndexStore.commitGeneration(spark, dir, always = true) { b =>
        writeSlice(Upsert.onePerKeyByContent(docs, idCol, textCol),
          idCol, textCol, dir, b)
        0L
      }: Unit
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
   Commits.withWriterLockUnless(batch.sparkSession, dir,
       heldLocks) {
    val spark = batch.sparkSession
    graft.Cache.using(Upsert.gateRows(batch, idCol, textCol)) { hashed =>
      // Hash gate through the shared currency resolve ([[GenTable
      // .currency]]: scoped to the batch's ids for micro-batches — an
      // unscoped resolve aggregates the whole docs table per mutation,
      // measured at 7 s for a 500-doc append against a 5M-doc store,
      // SCALE.md — store-wide for backfill-sized batches). An empty
      // store's gate passes `hashed` itself, already persisted.
      graft.Cache.using(IndexStore.changed(spark, dir,
          Commits.committed(spark, dir), hashed, idCol, "__ch")) { fresh =>
        val n = graft.Prof("indexAppend.resolve")(fresh.count())
        if (n > 0) IndexStore.commitGeneration(spark, dir) { b =>
          graft.Prof("indexAppend.writeSlice")(
            writeSlice(fresh, idCol, textCol, dir, b))
          n
        }
        n
      }
    }
   }

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
    IndexStore.delete(spark, dir, ids, heldLocks)

  /** The index's lifecycle descriptor ([[GenTable]]): membership `docs`
    * gated on `content_hash`, tombstoned as (dl 0, the marker hash);
    * dependent `postings` rewritten term-clustered (the layout
    * [[buildIndex]] documents). Package-private for the specs' crash
    * hooks.
    */
  private[graft] val IndexStore = new GenTable("doc_id",
    col("content_hash") === Tombstone,
    Seq(lit(0).as("dl"), lit(Tombstone).as("content_hash")), "content_hash",
    GenTable.Table("docs"),
    Seq(GenTable.Table("postings", _
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id")))))

  /** Compact the index to its LIVE state: the current committed
    * generation of every non-tombstoned doc rewritten as one fresh
    * batch, superseded/orphan/deleted rows dropped ([[GenTable
    * .vacuumFull]]: the incremental pass with every batch selected).
    */
  def indexVacuum(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexStore.vacuumFull(spark, dir)

  /** INCREMENTAL vacuum ([[GenTable.vacuumIncremental]]): reclaim only
    * the batches holding dead rows (superseded generations, or any row
    * of a tombstoned doc) at a dead fraction of at least
    * `minDeadFraction`; clean batches' files stay untouched. After a
    * 500-doc upsert against a 100 TB store only the batches holding
    * those docs' old generations rewrite, where [[indexVacuum]]
    * rewrites the full live state. Returns batches reclaimed.
    */
  def indexVacuumIncremental(spark: org.apache.spark.sql.SparkSession,
      dir: String, minDeadFraction: Double = 0.0): Int =
    IndexStore.vacuumIncremental(spark, dir, minDeadFraction)

  /** COMPACT the committed-batch count down to `maxBatches`
    * ([[GenTable.compactBatches]]): the smallest batches' survivors
    * fold into one fresh batch. [[indexVacuumIncremental]] bounds the
    * DEAD data, this bounds the BATCH COUNT the micro-batch cadence
    * grows. Returns batches folded (0 when already within bound).
    */
  def indexCompactBatches(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int = 16): Int =
    IndexStore.compactBatches(spark, dir, maxBatches)

  /** Committed postings read; a store whose live state is postings-free
    * (every doc tombstoned, or delete-only generations) yields an
    * EMPTY frame with the real schema (doc_id typed from the docs
    * table), so probes return zero hits instead of failing the read.
    */
  private def readCommittedPostings(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, committed: Seq[Long]): DataFrame =
    Commits.readCommittedBatches(spark, s"$dir/postings", committed)
      .getOrElse {
        val idType = Commits
          .readCommittedBatches(spark, s"$dir/docs", committed)
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

  /** The live docs' (doc_id, batch) from the index's
    * [[GenTable.current]] view. The caller checked something is
    * committed. */
  private def liveDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    IndexStore.current(spark, dir).get.filter(!col(GenTable.CurTomb))
      .select(col("doc_id"), col("batch"))

  /** BM25's (n_docs, sum_dl), once per committed set. */
  private def corpusStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) =
    IndexStore.memo(spark, dir, "bm25.corpusStats") {
      val r = IndexStore.live(spark, dir).get
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

  /** LIVE membership surface of the standing index — the audit read a
    * platform's cross-store consistency checks need: (doc_id,
    * content_hash) of every doc whose CURRENT committed generation is
    * not a tombstone. None when nothing is committed. Skinny-column
    * scan; postings and text are never touched.
    */
  def indexLiveDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] =
    IndexStore.live(spark, dir).map(_.select("doc_id", "content_hash"))

  private def writeSlice(docs: DataFrame, idCol: String, textCol: String,
      dir: String, batch: Long): Unit = {
    writePostingsSlice(docs, idCol, textCol, dir, batch)
    writeDocsSlice(docs, idCol, textCol, dir, batch)
  }

  /** Postings half of a slice write — the FIRST of the two appends, so
    * a crash right after it is the partial-append state the allocator
    * must count: [[Commits.allocateBatchId]] records the id's attempt
    * marker before this write, so a retry never reuses it and cannot
    * double that batch's tf/df. Package-private so SearchSpec can
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
    val committed = Commits.committed(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = IndexStore.current(spark, dir).get
    val docsAgg = cur.agg(
      sum(when(!col(GenTable.CurTomb), 1L).otherwise(0L)).as("live_docs"),
      sum(when(col(GenTable.CurTomb), 1L).otherwise(0L))
        .as("tombstoned_docs"))
    // Totals COUNT orphan rows (uncommitted batch dirs from crashed
    // appends) — that reclaimable tail is what the stats exist to
    // surface — so they read the whole table dir recursively, not just
    // the committed subdirectories.
    val docRows = ParquetRead(spark, Seq(s"$dir/docs"),
      recursiveFileLookup = true)
      .agg(count(lit(1)).as("doc_rows_total"))
    val livePost = readCommittedPostings(spark, dir, committed)
      .join(cur.filter(!col(GenTable.CurTomb))
        .select(col("doc_id"), col("batch")), Seq("doc_id", "batch"))
      .agg(count(lit(1)).as("postings_rows_live"))
    val totalPost = ParquetRead(spark, Seq(s"$dir/postings"),
      recursiveFileLookup = true)
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
    * generations by joining the hits against the live docs' (doc_id,
    * batch) (a view resolved once per committed set, like the corpus
    * stats), per-term df as one tiny aggregate broadcast back on term,
    * then one hash-shuffle on doc_id to sum the per-(doc, term)
    * micro-unit contributions. Bit-identical to [[bm25TopK]] over the
    * index's CURRENT corpus state (same contribution expression, same
    * exact integer sum).
    */
  def bm25FromIndexTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val committed = Commits.committed(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val hits = readCommittedPostings(spark, dir, committed)
      .filter(col("term").isin(queryTerms: _*))
      .join(liveDocs(spark, dir), Seq("doc_id", "batch"))
    scoreHits(hits, corpusStats(spark, dir), k, k1, b)
  }

  /** Shared BM25 scoring tail over a resolved hit set (doc_id, tf, dl):
    * per-term df as one tiny aggregate broadcast back on term, the
    * corpus stats as literals, per-(doc, term) contributions in exact
    * micro-units, ONE doc_id hash-shuffle to sum them.
    */
  private def scoreHits(hits: DataFrame, stats: (Long, Long), k: Int,
      k1: Double, b: Double): DataFrame = {
    val dfs = hits.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val (n, avgdl) = statLits(stats)
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (n - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val norm = tf + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl").cast("double") / avgdl)
    hits
      .join(broadcast(dfs), Seq("term"))
      .select(col("doc_id"),
        round(idf * tf * lit(k1 + 1.0) / norm * lit(1e6)).cast("long")
          .as("__contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_matched"),
        sum(col("__contrib")).as("score_1e6"))
      .orderBy(col("score_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25's `n` and `avgdl` as double literals (an empty corpus has no
    * hits, so its NaN is never read). */
  private def statLits(stats: (Long, Long)): (Column, Column) =
    (lit(stats._1.toDouble), lit(stats._2.toDouble / stats._1.toDouble))

  /** Materialize the index's CURRENT live postings as a TERM-BUCKETED
    * catalog table at `dir/postings_bucketed` — the zero-exchange probe
    * layout [[buildIndex]]'s scaladoc points at for 100 TB (same lever
    * as `Store.writeBucketed`). Generation resolution happens ONCE here
    * (committed batches only, each doc's max batch, tombstones
    * dropped), so probes skip both the live-docs join and the batch
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
   Commits.withWriterLock(spark, dir) {
    val committed = Commits.committed(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = IndexStore.current(spark, dir, cached = false).get
      .filter(!col(GenTable.CurTomb))
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
    Commits.writeSnapshotMarker(spark,
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
    val hits = spark.table(table).filter(col("term").isin(queryTerms: _*))
    scoreHits(hits, corpusStats(spark, dir), k, k1, b)
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
    val committed = Commits.committed(spark, dir)
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
    // df counts the query doc too (it is part of the corpus) — only
    // the SCORED set excludes it.
    val hits0 = readCommittedPostings(spark, dir, committed)
      .join(broadcast(qterms.withColumn("__qw",
        col("__qtf").cast("double")).drop("__qtf")), Seq("term"))
      .join(liveDocs(spark, dir), Seq("doc_id", "batch"))
    val hits = hits0.filter(col("doc_id").cast("string") =!= col("__qid"))
    val dfs = hits0.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    scoreWeightedHits(hits, dfs, corpusStats(spark, dir), k, k1, b)
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
      stats: (Long, Long), k: Int, k1: Double, b: Double): DataFrame = {
    val (n, avgdl) = statLits(stats)
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (n - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val norm = tf + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl").cast("double") / avgdl)
    hits
      .join(broadcast(dfs), Seq("term"))
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
    val committed = Commits.committed(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val cur = liveDocs(spark, dir)
    val fb = bm25FromIndexTopK(spark, dir, queryTerms, fbDocs, k1, b)
      .select(col("doc_id"))
    // Resolve the feedback docs to their current generation, then read
    // their term vectors from the postings (no text is re-tokenized).
    val curFb = cur
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
      .join(cur, Seq("doc_id", "batch"))
    val dfs = hits.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    scoreWeightedHits(hits, dfs, corpusStats(spark, dir), k, k1, b)
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
    val committed = Commits.committed(spark, dir)
    require(committed.nonEmpty, s"no committed index state under $dir")
    val hits = readCommittedPostings(spark, dir, committed)
      .filter(col("term").isin(phrase.distinct: _*))
      .join(liveDocs(spark, dir), Seq("doc_id", "batch"))
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
