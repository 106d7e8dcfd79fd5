package graft.operators

import graft.functions.{HashFunctions, VectorFunctions}
import graft.sources.{GenTable, ParquetRead}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two paths:
  *   - `bruteForceTopK`: exact cosine top-k. The query set is broadcast;
  *     the corpus streams through one codegen'd projection — no shuffle
  *     of the corpus at all. Ranking is two-stage: a partition-local
  *     top-k (window over (qid, partition)) bounds what reaches the
  *     global per-query window, so small query sets never funnel the
  *     whole scored stream into a handful of reducers.
  *   - `hyperplaneBuckets` / `lshTopK`: random-hyperplane LSH. Each
  *     vector gets a small integer bucket from the signs of `planes`
  *     deterministic hyperplane projections, computed IN-ROW against
  *     broadcast weight literals (`zip_with` dot products — no explode,
  *     no join, no shuffle). Only same-bucket pairs are compared; at
  *     100 TB the bucket id becomes the shuffle/partition key, turning
  *     an O(N*Q) scan into a per-bucket join.
  *
  * Hyperplane weights are +/-1 derived from `stableHash64("hp:p:i")` —
  * fully deterministic, no RNG state, reproducible in SQL oracles.
  */
object Similarity {

  /** Loud pre-side-effect signal from the combined Lloyd trainer that
    * the training set cannot seed the requested codes/cells. A
    * DEDICATED subtype (still an IllegalArgumentException, so callers
    * matching the broad type see no change) so the composed ingest
    * surfaces can DEFER codebook training on a vector-poor first
    * delivery by catching exactly this — the trainer's seed collect
    * doubles as the deferral probe, replacing the separate
    * dedup+limit+count job those paths used to run — while offline
    * builds keep failing loudly. Raised before any store write, batch
    * allocation, or commit, so catching it leaves no side effect.
    */
  final class UndersizedTrainingSet(msg: String)
      extends IllegalArgumentException(msg)

  /** Rounded cosine scores of every (query, candidate) pair.
    * `queries`/`corpus`: (id, vec: array<float>).
    */
  private def scored(queries: DataFrame, corpus: DataFrame, decimals: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"),
      VectorFunctions.toDoubleArray(col("vec")).as("qv"))
    val c = corpus.select(col("id").as("cid"),
      VectorFunctions.toDoubleArray(col("vec")).as("cv"))
    c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), decimals).as("score"))
  }

  /** Per-query top-k of a (qid, cid, score) stream: prune to the top k
    * within each (qid, input partition) first — a shuffle over
    * |qids| x |partitions| keys — then rank the surviving
    * |qids| x |partitions| x k rows globally. The local top-k is a
    * superset of the global one under the same (score desc, cid)
    * order, so results are identical to a single global window.
    */
  private def topKPerQuery(scores: DataFrame, k: Int): DataFrame = {
    val local = Window.partitionBy(col("qid"), col("pid"))
      .orderBy(col("score").desc, col("cid"))
    val global = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    scores
      .withColumn("pid", spark_partition_id())
      .withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= k)
      .drop("pid", "lrnk")
      .withColumn("rnk", row_number().over(global))
      .filter(col("rnk") <= k)
  }

  /** Exact top-k neighbors per query by cosine (desc), id tie-break. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      decimals: Int = 6): DataFrame =
    topKPerQuery(scored(queries, corpus, decimals), k)

  /** Deterministic +/-1 weights of hyperplane `plane` over `dims`
    * dimensions (1-based, matching SQL `generate_subscripts`).
    */
  def hyperplaneWeightArray(plane: Int, dims: Int): Seq[Double] =
    (1 to dims).map(i =>
      if (HashFunctions.stableHash64Local(s"hp:$plane:$i") % 2 == 1) 1.0 else -1.0)

  /** Sign-of-projection LSH bucket per vector: bucket = sum over planes
    * of (proj_p > 0) << p, with proj_p a `zip_with` dot product against
    * the plane's literal weight array — one codegen'd projection, no
    * shuffle. `vecs`: (id, vec: array<float>); `dims` must match the
    * embedding width (a driver-side scan to infer it would be an eager
    * job at plan-construction time).
    */
  def hyperplaneBuckets(vecs: DataFrame, planes: Int, dims: Int): DataFrame =
    vecs.select(col("id"), hyperplaneBucketCol(planes, dims).as("bucket"))

  /** The same LSH bucket as an in-row Column over `vec` — compose with
    * `withColumn` wherever the caller's frame already carries the
    * vector, instead of joining [[hyperplaneBuckets]] back on id (that
    * self-join re-shuffled/broadcast the very frame it was derived
    * from on every append and probe).
    */
  def hyperplaneBucketCol(planes: Int, dims: Int): Column = {
    val v = VectorFunctions.toDoubleArray(col("vec"))
    (0 until planes).map { p =>
      val w = array(hyperplaneWeightArray(p, dims).map(lit): _*)
      when(VectorFunctions.dot(v, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Embedding-cosine near-duplicate pairs: vectors meet only inside
    * their hyperplane-LSH bucket (one bucket per vector, so each pair
    * appears once), then exact cosine >= `minCosine` verifies. The
    * scale shape mirrors MinHash-LSH dedup: candidates are generated by
    * bucket equality, never all-pairs.
    */
  def cosineNearDupPairs(vecs: DataFrame, planes: Int, dims: Int,
      minCosine: Double, decimals: Int = 6): DataFrame = {
    val withBucket = vecs
      .withColumn("bucket", hyperplaneBucketCol(planes, dims))
      .select(col("bucket"), col("id"),
        VectorFunctions.toDoubleArray(col("vec")).as("v"))
    val x = withBucket.select(col("bucket"), col("id").as("a"),
      col("v").as("va"))
    val y = withBucket.select(col("bucket"), col("id").as("b"),
      col("v").as("vb"))
    x.join(y, Seq("bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(VectorFunctions.cosine(col("va"), col("vb")), decimals)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** IVF-style ANN: assign every vector to its nearest of `centroids`
    * (the coarse quantizer; this engine takes the centroids as input —
    * a deterministic subset here, a k-means fit in a real pipeline),
    * probe the `nprobe` nearest cells per query, and rank candidates in
    * the probed cells by exact cosine. Distances use the inner-product
    * identity |a-b|^2 = |a|^2 + |b|^2 - 2ab so both engines compute the
    * same float expression. At scale the cell id is the partition key
    * and each query scans nprobe cells, not the corpus.
    *
    * Cell assignment is IN-ROW: the coarse quantizer is small by
    * definition (~sqrt(N) cells for an N-vector corpus), so it is
    * collected once and shipped as ONE typed literal — a single
    * expression node whatever the centroid count — and every vector
    * ranks cells with an `array_sort` over (d2, cid) structs inside its
    * own row. Zero shuffle, zero join for assignment (the previous
    * crossJoin + `row_number` window was an NxC shuffle+sort that dies
    * at the 4096+ cells a 100 TB corpus needs).
    */
  def ivfTopK(vecs: DataFrame, centroids: DataFrame, queryIds: DataFrame,
      nprobe: Int, k: Int, decimals: Int = 6): DataFrame = {
    val cents: Seq[(Long, Seq[Double])] = centroids
      .select(col("cid").cast("long"),
        VectorFunctions.toDoubleArray(col("cvec")))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    val centsLit = typedLit(cents)

    // Struct natural order = (d2 asc, cid asc) — the oracle's
    // ORDER BY d2, cid. `vv` hoisted so dot(v,v) runs once per row,
    // not once per centroid.
    val ranked = vecs
      .select(col("id"), VectorFunctions.toDoubleArray(col("vec")).as("v"))
      .withColumn("vv", VectorFunctions.dot(col("v"), col("v")))
      .withColumn("rc", array_sort(transform(centsLit, c =>
        struct(
          (col("vv") + VectorFunctions.dot(c("_2"), c("_2")) -
            lit(2.0) * VectorFunctions.dot(col("v"), c("_2"))).as("d2"),
          c("_1").as("cid")))))

    // Corpus side: nearest cell only; query side: nprobe nearest cells.
    val cells = ranked
      .select(col("id").as("cid2"), col("rc")(0)("cid").as("cell"),
        col("v").as("cv2"))
    val probes = ranked
      .join(broadcast(queryIds), Seq("id"), "left_semi")
      .select(col("id").as("qid"),
        explode(transform(slice(col("rc"), 1, nprobe), s => s("cid")))
          .as("cell"),
        col("v").as("qv"))
    val scores = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("cid2") =!= col("qid"))
      .select(col("qid"), col("cid2").as("cid"),
        round(VectorFunctions.cosine(col("qv"), col("cv2")), decimals)
          .as("score"))
    // Rows are unique: a candidate lives in exactly one cell and each
    // (query, cell) probe appears once.
    topKPerQuery(scores, k)
  }

  /** Lloyd's K-MEANS assignment over (id, vec) embeddings — the
    * semantic-clustering step (topic balancing, cluster-based
    * diversity sampling) between dedup and sampling in a training-data
    * pipeline. Deterministic: initial centroids are the `k` lowest-id
    * vectors (ORDER BY id LIMIT k via [[lloydCentroids]], cluster id =
    * seed vector id; fails loudly when the corpus has fewer than `k`
    * vectors instead of silently under-clustering), every iteration assigns
    * in-row against the centroid literal (same `array_sort` over
    * (d2, cid) structs as [[ivfTopK]] — zero shuffle, zero join) and
    * recomputes centroids as per-dimension means. Distances use the
    * inner-product identity so the SQL oracle computes the identical
    * float expression.
    *
    * Scale shape: centroids are K x dims doubles — driver state bounded
    * by construction, exactly like the IVF coarse quantizer. Each
    * iteration is one narrow assignment pass plus one (cluster, dim)
    * aggregate (explodes to rows x dims, combines map-side to
    * K x dims partials). Returns (id, cluster_id, d2) after `iters`
    * assignment rounds.
    */
  def kmeansAssign(vecs: DataFrame, k: Int, iters: Int,
      trainPerMille: Int = 1000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 1, s"iters >= 1 required, got $iters")
    require(trainPerMille > 0 && trainPerMille <= 1000,
      s"trainPerMille must be in (0, 1000], got $trainPerMille")
    val base = vecs
      .select(col("id"), VectorFunctions.toDoubleArray(col("vec")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Seeds + update rounds shared with [[lloydCentroids]]: the `k`
      // lowest-id vectors (ORDER BY id LIMIT k), failing LOUDLY on a
      // corpus with fewer than `k` vectors — a sparse/hash-id corpus
      // no longer silently under-clusters the way a `id < k` filter
      // would. `trainPerMille < 1000` runs the Lloyd passes on the same
      // deterministic stable-hash sample as [[pqStoreBuild]] (seeds =
      // the sample's k lowest ids) while the final assignment below
      // still covers every vector — at corpus scale the training
      // passes, not the single assignment pass, are the dominant term.
      val train =
        if (trainPerMille >= 1000) base
        else base.filter(graft.functions.HashFunctions
          .stableHash64(col("id").cast("string")) % 1000 < trainPerMille)
      val cents = lloydCentroids(train, k, iters)
      val centsLit = typedLit(cents)
      val assigned = base
        .withColumn("vv", VectorFunctions.dot(col("v"), col("v")))
        .withColumn("rc", array_sort(transform(centsLit, c =>
          struct(
            (col("vv") + VectorFunctions.dot(c("_2"), c("_2")) -
              lit(2.0) * VectorFunctions.dot(col("v"), c("_2"))).as("d2"),
            c("_1").as("cid")))))
        .select(col("id"),
          col("rc")(0)("cid").as("cluster_id"),
          col("rc")(0)("d2").as("d2"))
      // Materialize the final assignment (3 narrow columns per vector)
      // so the cached double-array frame is released here rather than
      // living in the session until the ContextCleaner's periodic GC.
      graft.Checkpoints.pinned(assigned)
    } finally base.unpersist()
  }

  /** Deterministic Lloyd iterations returning the final CENTROIDS
    * (cid -> vector), seeds = the `k` lowest-id vectors (taken by
    * ORDER BY id LIMIT k, so a corpus whose ids are non-contiguous or
    * don't start at 0 still seeds exactly `k` codes), same update
    * algebra as [[kmeansAssign]] (in-row argmin against a centroid
    * literal, per-dim `avg` means). Driver state is O(k × dims); a
    * cluster that loses every member drops out of the codebook, which
    * the SQL oracles reproduce (their means CTE groups only assigned
    * rows). A corpus with fewer than `k` vectors fails LOUDLY here —
    * an undersized seed set would otherwise train a degenerate
    * codebook that [[pqStoreBuild]] persists as immutable metadata.
    */
  private def lloydCentroids(base: DataFrame, k: Int,
      iters: Int): Seq[(Long, Seq[Double])] = {
    var cents: Seq[(Long, Seq[Double])] = base.orderBy(col("id")).limit(k)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    require(cents.sizeIs == k,
      s"lloydCentroids: corpus has only ${cents.size} vectors, cannot " +
        s"seed $k codes - pass a larger training set or fewer codes")
    (1 until iters).foreach { _ =>
      val centsLit = typedLit(cents)
      val assigned = base
        .withColumn("vv", VectorFunctions.dot(col("v"), col("v")))
        .withColumn("rc", array_sort(transform(centsLit, c =>
          struct(
            (col("vv") + VectorFunctions.dot(c("_2"), c("_2")) -
              lit(2.0) * VectorFunctions.dot(col("v"), c("_2"))).as("d2"),
            c("_1").as("cid")))))
        .select(col("v"), col("rc")(0)("cid").as("cluster_id"))
      val means = assigned
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg(avg(col("x")).as("x"))
        .collect()
      cents = means.groupBy(_.getLong(0)).toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }
        .sortBy(_._1)
    }
    cents
  }

  /** One-collect, one-aggregate-per-round Lloyd training of ALL the
    * per-subspace PQ codebooks and (optionally) the IVF coarse
    * quantizer together. Structurally equivalent to running
    * [[lloydCentroids]] per book: the seeds are the train set's
    * `max(codes, cells)` lowest-id vectors collected ONCE (each book's
    * `codes` seeds are the per-subspace slices of the same lowest-id
    * rows — exactly what per-book ORDER BY id LIMIT codes returns),
    * every update round assigns in-row with the identical
    * `vv + cc - 2·vc` algebra, and the per-(book, cid, dim) means
    * aggregate over the same member rows. Equality with the per-book
    * path is exact whenever the mean's float sums are order-independent
    * (dyadic fractions, as PqTrainerParitySpec pins); on arbitrary
    * doubles the combined union aggregate's partial-sum merge order can
    * differ from the per-book jobs, so centroids agree only up to
    * FP-sum reassociation — which the 4-dp probe rounding downstream
    * absorbs (tolerance-pinned on non-dyadic data in
    * PqTrainerParitySpec). What changes is only the JOB count: 2
    * driver round-trips
    * instead of 2 x (m + 1) — the training passes of a standing-store
    * build were m+1 separate seed collects plus m+1 separate mean
    * aggregates over the same persisted frame, pure scheduling overhead
    * that session-density multiplies (r17's driver bench ran exactly
    * these builds 2-4x their quiet-session cost).
    */
  private def lloydBooksAndCoarse(train: DataFrame, m: Int, subDims: Int,
      codes: Int, cells: Int, iters: Int)
      : (Seq[Seq[(Long, Seq[Double])]], Option[Seq[(Long, Seq[Double])]]) = {
    val needSeeds = math.max(codes, cells)
    val seedRows = train.orderBy(col("id")).limit(needSeeds)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    if (!(seedRows.sizeIs == needSeeds))
      throw new UndersizedTrainingSet(
        s"lloydBooksAndCoarse: training set has only ${seedRows.size} " +
          s"vectors, cannot seed $needSeeds codes/cells - pass a larger " +
          "training set or fewer codes")
    var books: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map { j =>
      seedRows.take(codes).map { case (id, v) =>
        (id, v.slice(j * subDims, (j + 1) * subDims))
      }
    }
    var coarse: Option[Seq[(Long, Seq[Double])]] =
      if (cells == 0) None else Some(seedRows.take(cells))
    def argminCid(vc: Column, cents: Seq[(Long, Seq[Double])]): Column = {
      val vv = VectorFunctions.dot(vc, vc)
      array_sort(transform(typedLit(cents), c =>
        struct((vv + VectorFunctions.dot(c("_2"), c("_2")) -
          lit(2.0) * VectorFunctions.dot(vc, c("_2"))).as("d2"),
          c("_1").as("cid"))))(0)("cid")
    }
    (1 until iters).foreach { _ =>
      val bookCids = (0 until m).map(j =>
        argminCid(pqSubCol(j, subDims), books(j)).as(s"__c$j"))
      val coarseCid = coarse.map(cc => argminCid(col("v"), cc).as("__cc"))
      val assigned = train
        .select(col("v") +: (bookCids ++ coarseCid.toSeq): _*)
        .select(posexplode(col("v")).as(Seq("dim", "x")) +:
          ((0 until m).map(j => col(s"__c$j")) ++
            coarse.map(_ => col("__cc")).toSeq): _*)
      val cidArr = array((0 until m).map(j => col(s"__c$j")): _*)
      val bookRows = assigned.select(
        expr(s"int(dim div $subDims)").as("book"),
        element_at(cidArr, expr(s"int(dim div $subDims) + 1")).as("cid"),
        (col("dim") % subDims).cast("long").as("sub_dim"), col("x"))
      val all = coarse.fold(bookRows)(_ => bookRows.unionByName(
        assigned.select(lit(-1).as("book"), col("__cc").as("cid"),
          col("dim").cast("long").as("sub_dim"), col("x"))))
      val means = all.groupBy(col("book"), col("cid"), col("sub_dim"))
        .agg(avg(col("x")).as("x"))
        .collect()
      def rebuild(rows: Array[org.apache.spark.sql.Row])
          : Seq[(Long, Seq[Double])] =
        rows.groupBy(_.getLong(1)).toSeq
          .map { case (cid, rs) =>
            (cid, rs.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq)
          }
          .sortBy(_._1)
      books = (0 until m).map(j => rebuild(means.filter(_.getInt(0) == j)))
      coarse = coarse.map(_ => rebuild(means.filter(_.getInt(0) == -1)))
    }
    (books, coarse)
  }

  /** `j`-th subspace slice of the working double-array column `v`. */
  private def pqSubCol(j: Int, subDims: Int): Column =
    slice(col("v"), j * subDims + 1, subDims)

  /** Squared L2 via the inner-product identity, association pinned to
    * `vv + cc - 2·vc` — the exact expression every PQ SQL oracle
    * writes. */
  private def pqD2(a: Column, b: Column): Column =
    VectorFunctions.dot(a, a) + VectorFunctions.dot(b, b) -
      lit(2.0) * VectorFunctions.dot(a, b)

  /** In-row argmin code for subspace `j`: d2 asc, cid tie-break via
    * the sorted (d2, cid) struct array. */
  private def pqCodeExpr(book: Seq[(Long, Seq[Double])], j: Int,
      subDims: Int): Column =
    array_sort(transform(typedLit(book), c =>
      struct(pqD2(pqSubCol(j, subDims), c("_2")).as("d2"),
        c("_1").as("code"))))(0)("code")

  /** Per-query ADC table for subspace `j`: cid -> d2(query subvector,
    * centroid), an in-row map literal lookup-joined by code id (keyed,
    * not positional, so a codebook that lost a cluster still resolves
    * correctly). */
  private def pqTabCol(book: Seq[(Long, Seq[Double])], j: Int,
      subDims: Int): Column =
    map_from_entries(transform(typedLit(book), c =>
      struct(c("_1"), pqD2(pqSubCol(j, subDims), c("_2"))))).as(s"tab_$j")

  /** Fail-loudly dimension gate on the working double-array column `v`:
    * any row whose vector is not exactly `expected` dims raises instead
    * of flowing on — `slice`/`zip_with` would otherwise pad a
    * mismatched vector with nulls and silently encode it to garbage
    * codes (or rank it on a NULL distance). A pure narrow codegen'd
    * check: `when(size ok, v).otherwise(raise_error)`, no extra pass.
    */
  private def pqRequireDims(df: DataFrame, expected: Int,
      site: String): DataFrame =
    df.withColumn("v",
      when(size(col("v")) === expected, col("v"))
        .otherwise(raise_error(concat(
          lit(s"$site: vector for id "), col("id").cast("string"),
          lit(" has "), size(col("v")).cast("string"),
          lit(s" dims, expected $expected")))))

  /** In-row coarse-cell argmin over the FULL working vector `v` against
    * the coarse-centroid list (d2 asc, cell-id tie-break) — the IVF
    * routing step, shared by the standing store's build/append encode
    * and its probe's query routing. */
  private def pqCellExpr(coarse: Seq[(Long, Seq[Double])]): Column =
    array_sort(transform(typedLit(coarse), c =>
      struct(pqD2(col("v"), c("_2")).as("d2"), c("_1").as("cell"))))(0)("cell")

  /** PRODUCT-QUANTIZED ANN (PQ + asymmetric-distance scoring): split
    * the `m × subDims` dims into `m` subspaces, Lloyd-train a `codes`-
    * entry codebook per subspace (seeds = lowest ids, like
    * [[kmeansAssign]]), ENCODE every corpus vector to its per-subspace
    * nearest-code ids, and score query→corpus as the sum of per-
    * subspace exact d2 between the query subvector and the code's
    * centroid (ADC). Returns (qid, cid, approx_d2, rnk) with
    * `rnk <= k` per query, self-matches excluded.
    *
    * 100 TB shape — this is the memory lever past int8: the scored
    * corpus side carries only `m` code ids per vector (m bytes against
    * 4·dims for float32 — 64× at m=4, dims=64), so the scoring scan
    * streams the CODE table, never the vectors. Codebooks and the
    * per-query distance tables (m × codes doubles each) ride as
    * in-row literals/maps on a broadcast of the query set — no shuffle
    * of the corpus at any stage; training cost is `iters` narrow
    * aggregate passes per subspace over subvectors. The ADC sum folds
    * left-to-right (t0+t1)+t2… so the SQL oracle can reproduce it
    * bit-for-bit.
    *
    * Contract: `queryIds` MUST name ids present in `vecs` — the query
    * vectors are resolved by semi-joining the corpus, so an absent id
    * contributes no output rows (it has no vector to score with). For
    * queries carrying their own vectors use [[pqStoreTopK]].
    */
  def pqTopK(vecs: DataFrame, queryIds: DataFrame, m: Int, subDims: Int,
      codes: Int, iters: Int, k: Int): DataFrame = {
    require(m > 0 && subDims > 0 && codes > 0 && k > 0,
      s"m/subDims/codes/k must be positive, got $m/$subDims/$codes/$k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = pqRequireDims(vecs
      .select(col("id"), VectorFunctions.toDoubleArray(col("vec")).as("v")),
      m * subDims, "pqTopK")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map { j =>
        lloydCentroids(base.select(col("id"),
          pqSubCol(j, subDims).as("v")), codes, iters)
      }
      // Encode: per subspace an in-row argmin against the codebook
      // literal ([[pqCodeExpr]] — d2 asc, cid tie-break) — the corpus
      // leaves this projection as m small ids per vector.
      val encoded = base.select(col("id").as("cid") +: (0 until m).map { j =>
        pqCodeExpr(books(j), j, subDims).as(s"code_$j")
      }: _*)
      // Per-query ADC tables: cid -> d2(query subvector, centroid) maps
      // computed in-row on the (small) query side, then broadcast.
      val qtab = base
        .join(queryIds.select(col("id")), Seq("id"), "left_semi")
        .select(col("id").as("qid") +: (0 until m).map { j =>
          pqTabCol(books(j), j, subDims)
        }: _*)
      val approx = (0 until m)
        .map(j => element_at(col(s"tab_$j"), col(s"code_$j")))
        .reduceLeft(_ + _)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("approx_d2"), col("cid"))
      encoded.crossJoin(broadcast(qtab))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), round(approx, 4).as("approx_d2"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("cid"), col("approx_d2"), col("rnk"))
    } finally { base.unpersist(); () }
  }

  /** IVF + PQ — the composed scale architecture: the coarse quantizer
    * ([[ivfTopK]]'s cell routing, corpus to its nearest cell, queries
    * to their `nprobe` nearest) PRUNES the candidate set, then PQ/ADC
    * ([[pqTopK]]'s per-subspace codebooks) scores only the candidates,
    * from `m` code ids per vector. At 100 TB the scored relation is
    * (cell, m codes) per vector — the probe touches ~nprobe/cells of
    * the corpus and never a float vector — and the join is a broadcast
    * HASH join on the cell id, not a cross join. Same output contract
    * as [[pqTopK]]: (qid, cid, approx_d2, rnk <= k), self excluded,
    * left-assoc d2 fold for bit-exact SQL oracles.
    *
    * Contract: `queryIds` MUST name ids present in `vecs` (see
    * [[pqTopK]] — query vectors resolve by semi-joining the corpus).
    */
  def ivfPqTopK(vecs: DataFrame, centroids: DataFrame,
      queryIds: DataFrame, nprobe: Int, m: Int, subDims: Int, codes: Int,
      iters: Int, k: Int): DataFrame = {
    require(nprobe > 0 && m > 0 && subDims > 0 && codes > 0 && k > 0,
      s"nprobe/m/subDims/codes/k must be positive, " +
        s"got $nprobe/$m/$subDims/$codes/$k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val coarse: Seq[(Long, Seq[Double])] = centroids
      .select(col("cid").cast("long"),
        VectorFunctions.toDoubleArray(col("cvec")))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    val coarseLit = typedLit(coarse)
    val base = pqRequireDims(vecs
      .select(col("id"), VectorFunctions.toDoubleArray(col("vec")).as("v")),
      m * subDims, "ivfPqTopK")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map { j =>
        lloydCentroids(base.select(col("id"),
          pqSubCol(j, subDims).as("v")), codes, iters)
      }
      val ranked = base
        .withColumn("vv", VectorFunctions.dot(col("v"), col("v")))
        .withColumn("rc", array_sort(transform(coarseLit, c =>
          struct(
            (col("vv") + VectorFunctions.dot(c("_2"), c("_2")) -
              lit(2.0) * VectorFunctions.dot(col("v"), c("_2"))).as("d2"),
            c("_1").as("cid")))))
      val encoded = ranked.select(
        col("id").as("cid") +: col("rc")(0)("cid").as("cell") +:
          (0 until m).map { j =>
            pqCodeExpr(books(j), j, subDims).as(s"code_$j")
          }: _*)
      val qtab = ranked
        .join(queryIds.select(col("id")), Seq("id"), "left_semi")
        .select(col("id").as("qid") +:
          explode(transform(slice(col("rc"), 1, nprobe), s => s("cid")))
            .as("cell") +:
          (0 until m).map { j =>
            pqTabCol(books(j), j, subDims)
          }: _*)
      val approx = (0 until m)
        .map(j => element_at(col(s"tab_$j"), col(s"code_$j")))
        .reduceLeft(_ + _)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("approx_d2"), col("cid"))
      // Unique (qid, cid): a vector lives in exactly one cell and each
      // (query, cell) probe appears once — same argument as ivfTopK.
      encoded.join(broadcast(qtab), Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), round(approx, 4).as("approx_d2"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("cid"), col("approx_d2"), col("rnk"))
    } finally { base.unpersist(); () }
  }

  /** Read the standing PQ store's codebook: per-subspace (cid ->
    * centroid) lists, subspace-ordered. Small by construction
    * (m × codes × subDims doubles). */
  private def pqReadCodebook(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Seq[Seq[(Long, Seq[Double])]] = {
    val rows = ParquetRead(spark, s"$storeDir/codebook")
      .select(col("subspace"), col("cid"), col("centroid"))
      .collect()
    require(rows.nonEmpty, s"$storeDir/codebook is empty")
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.toSeq.map(r => (r.getLong(1), r.getSeq[Double](2).toSeq))
        .sortBy(_._1)
    }
  }

  /** [[pqReadCodebook]] once per committed set, for probes. */
  private def pqProbeCodebook(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Seq[Seq[(Long, Seq[Double])]] =
    PqStore.memo(spark, storeDir, "pq.codebook")(
      pqReadCodebook(spark, storeDir))

  /** Read the store's COARSE (IVF) centroids: the `coarse/b<id>` dir
    * of the largest `committed` id that has one ([[GenTable
    * .carriedDir]]). None for unrouted stores. */
  private def pqReadCoarse(spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      committed: Seq[Long]): Option[Seq[(Long, Seq[Double])]] =
    PqStore.carriedDir(spark, storeDir, committed, "coarse").map(d =>
      ParquetRead(spark, d._2)
        .select(col("cid"), col("centroid"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1))

  /** Write `coarse` as generation `batch`'s coarse centroids. */
  private def pqWriteCoarse(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, batch: Long,
      coarse: Seq[(Long, Seq[Double])]): Unit = {
    import spark.implicits._
    coarse.toDF("cid", "centroid").coalesce(1)
      .write.parquet(s"$storeDir/coarse/b$batch")
  }

  /** Encode `fresh` (id, v double-array, __vh) with `books` and commit
    * it as one generation of the PQ store, after `before` writes the
    * generation's other tables. Store rows are
    * (id, codes array<long>, cell, vec_hash, batch) — m longs of code
    * plus the coarse IVF cell id per vector (-1 on unrouted stores). */
  private def pqCommitEncoded(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, fresh: DataFrame,
      books: Seq[Seq[(Long, Seq[Double])]], subDims: Int,
      coarse: Option[Seq[(Long, Seq[Double])]],
      before: Long => Unit = _ => ()): Long = {
    val rows = fresh.select(col("id"),
        array(books.indices.map(j => pqCodeExpr(books(j), j, subDims)): _*)
          .as("codes"),
        coarse.fold(lit(-1L))(cb => pqCellExpr(cb)).as("cell"),
        col("__vh").as("vec_hash"))
    // ONE action, not two: the encode pass (the big pqCodeExpr
    // min-distance trees) used to run count() + write() over a
    // persisted frame; an Observation folds the gating row count into
    // the write job itself (guide §1.2 "don't compute things you throw
    // away" — the separate count was a full second evaluation whose
    // only output was n). n == 0 leaves an UNCOMMITTED empty batch dir
    // — invisible to every reader (committed-marker filtered), swept
    // like any crash orphan — while the commit marker still only
    // appears for n > 0, exactly as before.
    // (obs.get blocks until the write's listener fires, so n is the
    // exact committed row count, same value the old count() returned.)
    PqStore.commitGeneration(spark, storeDir) { b =>
      before(b)
      val obs = org.apache.spark.sql.Observation()
      PqStore.writeMembership(rows.observe(obs, count(lit(1)).as("n")),
        storeDir, b)
      obs.get("n").asInstanceOf[Long]
    }
  }

  /** STANDING PQ store, train-once: Lloyd the per-subspace codebooks
    * from the build corpus, write them as store metadata, and commit
    * the build corpus's codes as generation one. Refuses a store that
    * already has commits — the codebook is immutable after build,
    * which is what makes append encodings comparable across
    * generations. Returns rows encoded.
    *
    * `cells > 0` additionally Lloyd-trains an IVF coarse quantizer
    * over the FULL vectors, writes it under the build's generation
    * (`coarse/b<id>`), and
    * stamps every committed code row with its nearest cell — the probe
    * can then route ([[pqStoreTopK]] with `nprobe`) instead of
    * ADC-scanning every committed code row per query, which is the
    * difference between O(corpus) and O(nprobe/cells × corpus) per
    * query at 100 TB.
    *
    * `trainPerMille < 1000` trains BOTH codebooks on a deterministic
    * stable-hash sample of the build corpus
    * ([[Corpus.stratifiedSample]] — no rand(), reproducible across
    * retries) while still encoding and committing every vector: at
    * 100 TB the Lloyd passes are the build's dominant term and codebook
    * quality needs a sample, not the corpus, so this is the lever that
    * decouples training cost from corpus size. The sample keeps the
    * k lowest ids iff they survive the hash filter — seeds are the
    * sample's own k lowest ids, and an undersized sample fails loudly
    * in [[lloydCentroids]] instead of persisting a degenerate codebook.
    */
  def pqStoreBuild(vecs: DataFrame, storeDir: String, m: Int, subDims: Int,
      codes: Int, iters: Int, cells: Int = 0,
      trainPerMille: Int = 1000,
      heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(vecs.sparkSession, storeDir,
       heldLocks) {
    val spark = vecs.sparkSession
    require(m > 0 && subDims > 0 && codes > 0 && iters >= 1,
      s"bad PQ parameters m=$m subDims=$subDims codes=$codes iters=$iters")
    require(cells >= 0, s"cells must be >= 0, got $cells")
    require(trainPerMille > 0 && trainPerMille <= 1000,
      s"trainPerMille must be in (0, 1000], got $trainPerMille")
    require(graft.sources.Commits.committed(spark, storeDir).isEmpty,
      s"$storeDir already has committed generations; the codebook is " +
        "trained ONCE at build - use pqStoreAppend for new batches")
    val base = pqRequireDims(vecs.dropDuplicates("id")
      .withColumn("__vh", xxhash64(col("vec")))
      .withColumn("v", VectorFunctions.toDoubleArray(col("vec"))),
      m * subDims, "pqStoreBuild")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val train =
        if (trainPerMille >= 1000) base
        else Corpus.stratifiedSample(
          base.withColumn("__stratum", lit("all")), "id", "__stratum",
          Map("all" -> trainPerMille)).drop("__stratum")
      val (books, coarse) = graft.Prof("pqBuild.lloyd")(lloydBooksAndCoarse(
        train.select(col("id"), col("v")), m, subDims, codes, cells, iters))
      import spark.implicits._
      // Two independent single-task writes of driver-local seqs to two
      // different dirs — overlapped (guide §2.6) so a routed build pays
      // one write's fixed overhead, not two. Crash ordering between
      // them is unobservable: both land inside the rows generation,
      // before its commit, and an uncommitted store has no readers.
      def writeBooksAndCoarse(batch: Long): Unit =
        graft.Prof("pqBuild.codebookWrite")(graft.Par.run(Seq[() => Unit](
          () => books.zipWithIndex
            .flatMap { case (book, j) =>
              book.map { case (cid, v) => (j, cid, v) }
            }
            .toDF("subspace", "cid", "centroid")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$storeDir/codebook"),
          () => coarse.foreach(pqWriteCoarse(spark, storeDir, batch, _))))):
          Unit
      graft.Prof("pqBuild.encodeCommit")(
        pqCommitEncoded(spark, storeDir, base.select(col("id"), col("v"),
          col("__vh")), books, subDims, coarse, writeBooksAndCoarse))
    } finally { base.unpersist(); () }
   }

  /** Incremental PQ append: encode a batch with the STORED codebook
    * (no retraining — one codebook read plus one narrow encode pass)
    * and commit only rows whose vector hash differs from the store's
    * current generation for that id, so an unchanged redelivery is a
    * no-op and a re-embedded vector supersedes via max-batch currency
    * — the ingest family's at-least-once convergence contract, through
    * the stores' shared hash gate ([[GenTable.changed]]). An id whose
    * current generation is a [[pqStoreDelete]] tombstone RESURRECTS
    * here (a real vector's hash never equals the tombstone's 0). On a
    * cell-routed store the batch's rows are stamped with their coarse
    * cell from the store's current coarse centroids.
    */
  def pqStoreAppend(batch: DataFrame, storeDir: String,
      heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, storeDir,
       heldLocks) {
    val spark = batch.sparkSession
    val committed = graft.sources.Commits.committed(spark, storeDir)
    require(committed.nonEmpty,
      s"$storeDir has no committed build - run pqStoreBuild first")
    val books = pqReadCodebook(spark, storeDir)
    val subDims = books.head.head._2.size
    val coarse = pqReadCoarse(spark, storeDir, committed)
    val hashed = pqRequireDims(batch.dropDuplicates("id")
      .withColumn("__vh", xxhash64(col("vec")))
      .withColumn("v", VectorFunctions.toDoubleArray(col("vec"))),
      books.size * subDims, "pqStoreAppend")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = PqStore.changed(spark, storeDir, committed, hashed, "id",
        "__vh")
      pqCommitEncoded(spark, storeDir, fresh.select(col("id"), col("v"),
        col("__vh")), books, subDims, coarse)
    } finally { hashed.unpersist(); () }
   }

  /** The PQ store's LIVE rows (id, codes, cell, vec_hash, batch): each
    * id's max committed generation, tombstones dropped
    * ([[GenTable.current]]; the reroute reads uncached). */
  private def pqCurrentRows(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, cached: Boolean = true): DataFrame =
    PqStore.current(spark, storeDir, cached).getOrElse(
        sys.error(s"$storeDir has no committed build - run pqStoreBuild " +
          "first"))
      .filter(!col(GenTable.CurTomb))

  /** LIVE membership surface of the standing PQ store — the audit read
    * cross-store consistency checks need: every currently-live id
    * (committed, max generation, not tombstoned). Skinny-column scan.
    */
  def pqStoreLiveIds(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    pqCurrentRows(spark, storeDir).select(col("id"))

  /** ONE-GENERATION scoped sync of the standing PQ store —
    * [[pqStoreAppend]]'s hash-gated upsert and [[pqStoreDelete]]'s
    * vanished-id tombstones in a SINGLE commit, for the composed
    * passage surface that previously ran them as two back-to-back
    * mutations of the same store under the same lease (two commits,
    * three currency resolves of the same committed state per
    * micro-batch — pure per-action overhead at micro-batch scale,
    * guide §1.2/§2.4). One read of the committed rows serves both the
    * upsert gate (max-generation vec_hash per id) and the tombstone
    * candidates (live ids in scope absent from the batch); fresh
    * encodes and tombstones land as ONE generation — strictly MORE
    * atomic than the old delete-then-append pair (no window where the
    * vanish committed but the re-encode didn't).
    *
    * `scopeKeys` (single column) scopes the sync: a live id is
    * tombstoned iff `keyOf(id)` is in `scopeKeys` AND the id is absent
    * from `batch`. REQUIREMENT: every batch id must itself satisfy
    * `keyOf(id) IN scopeKeys` — the currency resolve only reads the
    * scoped slice, so an out-of-scope batch id would miss its stored
    * hash and re-encode a redundant generation row (breaking the
    * redelivery no-op contract). The passage caller satisfies this by
    * construction (batch = the delivered docs' chunks, scope = the
    * delivered doc ids).
    *
    * Tombstone rows are exactly [[pqStoreDelete]]'s (empty codes,
    * cell -1, vec_hash 0), only-if-live, so redelivery stays a no-op
    * and later appends resurrect. Returns vectors encoded (the
    * [[pqStoreAppend]] return the ingest counts expose); tombstone
    * count is observable from the store like any delete.
    */
  def pqStoreSync(batch: DataFrame, storeDir: String,
      scopeKeys: DataFrame, keyOf: Column => Column,
      heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, storeDir,
       heldLocks) {
    val spark = batch.sparkSession
    val committed = graft.sources.Commits.committed(spark, storeDir)
    require(committed.nonEmpty,
      s"$storeDir has no committed build - run pqStoreBuild first")
    val books = pqReadCodebook(spark, storeDir)
    val subDims = books.head.head._2.size
    val coarse = pqReadCoarse(spark, storeDir, committed)
    val scope = broadcast(
      scopeKeys.select(col(scopeKeys.columns.head).as("__k"))
        .dropDuplicates("__k"))
    val hashed = pqRequireDims(batch.dropDuplicates("id")
      .withColumn("__vh", xxhash64(col("vec")))
      .withColumn("v", VectorFunctions.toDoubleArray(col("vec"))),
      books.size * subDims, "pqStoreSync")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cur = graft.sources.Commits
      .readCommittedBatches(spark, s"$storeDir/rows", committed).get
      .join(scope, keyOf(col("id")) === col("__k"), "left_semi")
      .groupBy(col("id"))
      .agg(max_by(col("vec_hash"), col("batch")).as("__prev"),
        max_by(size(col("codes")), col("batch")).as("__clen"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = hashed
        .join(cur.select(col("id"), col("__prev")), Seq("id"), "left")
        .filter(col("__prev").isNull || col("__prev") =!= col("__vh"))
        .select(col("id"),
          array(books.indices.map(j =>
            pqCodeExpr(books(j), j, subDims)): _*).as("codes"),
          coarse.fold(lit(-1L))(cb => pqCellExpr(cb)).as("cell"),
          col("__vh").as("vec_hash"))
      val stale = cur.filter(col("__clen") > 0)
        .join(hashed.select(col("id")), Seq("id"), "left_anti")
        .select(col("id") +: PqStore.tombstone: _*)
      // ONE action: encode + tombstones ride one write; the gating
      // counts ride it as an Observation (same shape as
      // [[pqCommitEncoded]] — an all-quiet sync leaves an uncommitted
      // empty dir, invisible and swept like any crash orphan).
      val obs = org.apache.spark.sql.Observation()
      PqStore.commitGeneration(spark, storeDir) { b =>
        PqStore.writeMembership(fresh.unionByName(stale)
          .observe(obs, count(lit(1)).as("n"),
            sum(when(size(col("codes")) > 0, 1L).otherwise(0L)).as("enc")),
          storeDir, b)
        obs.get("n").asInstanceOf[Long]
      }: Unit
      Option(obs.get("enc")).map(_.asInstanceOf[Long]).getOrElse(0L)
    } finally { cur.unpersist(); hashed.unpersist(); () }
   }

  /** DELETE ids from the standing PQ store — a tombstone generation
    * (empty codes, cell -1, vec_hash 0) per currently-live requested
    * id; idempotent, and a later [[pqStoreAppend]] resurrects the id.
    * The store-family takedown contract ([[annStoreDelete]]'s twin): a
    * taken-down doc must leave EVERY read surface, including this one.
    * Returns ids tombstoned.
    */
  def pqStoreDelete(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: DataFrame,
      heldLocks: Set[String] = Set.empty): Long =
    PqStore.delete(spark, storeDir, ids, heldLocks)

  /** ADC probe of the standing PQ store: one codebook read, per-query
    * distance tables as in-row maps on the broadcast query side, and
    * the store's LIVE rows (max committed generation per id, tombstones
    * dropped) scored from their code ids alone — the float vectors
    * never load. Output contract matches [[pqTopK]]; queries carry
    * their OWN vectors (id, vec), unlike [[pqTopK]]'s corpus-resolved
    * query ids.
    *
    * `nprobe > 0` routes each query to its `nprobe` nearest coarse
    * cells (store must be built with `cells > 0`) and scores ONLY the
    * code rows living in those cells — a broadcast HASH join on the
    * cell id instead of the cross join, touching ~nprobe/cells of the
    * store per query. `nprobe = cells` reduces exactly to the unrouted
    * scan (every cell probed). `nprobe = 0` keeps the full ADC scan —
    * correct on any store, the right choice only for small stores or
    * recall audits.
    */
  def pqStoreTopK(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queries: DataFrame, k: Int,
      nprobe: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe >= 0, s"nprobe must be >= 0, got $nprobe")
    val committed = graft.sources.Commits.committed(spark, storeDir)
    require(committed.nonEmpty,
      s"$storeDir has no committed build - run pqStoreBuild first")
    val books = pqProbeCodebook(spark, storeDir)
    val subDims = books.head.head._2.size
    val cur = pqCurrentRows(spark, storeDir)
      .select(col("id").as("cid") +: col("cell") +:
        books.indices.map(j =>
          element_at(col("codes"), j + 1).as(s"code_$j")): _*)
    val qbase = pqRequireDims(queries.dropDuplicates("id")
      .withColumn("v", VectorFunctions.toDoubleArray(col("vec"))),
      books.size * subDims, "pqStoreTopK")
    val approx = books.indices
      .map(j => element_at(col(s"tab_$j"), col(s"code_$j")))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx_d2"), col("cid"))
    val scored =
      if (nprobe == 0) {
        val qtab = qbase.select(col("id").as("qid") +:
          books.indices.map(j => pqTabCol(books(j), j, subDims)): _*)
        cur.crossJoin(broadcast(qtab))
      } else {
        val coarse = PqStore.memo(spark, storeDir, "pq.coarse")(
            pqReadCoarse(spark, storeDir, committed)).getOrElse(
          sys.error(s"$storeDir has no coarse centroids - routed probes " +
            "need a store built with cells > 0 (pqStoreBuild's cells " +
            "parameter)"))
        val rc = array_sort(transform(typedLit(coarse), c =>
          struct(pqD2(col("v"), c("_2")).as("d2"), c("_1").as("cell"))))
        val qtab = qbase
          .withColumn("__rc", rc)
          .select(col("id").as("qid") +:
            explode(transform(slice(col("__rc"), 1, nprobe),
              s => s("cell"))).as("cell") +:
            books.indices.map(j => pqTabCol(books(j), j, subDims)): _*)
        cur.join(broadcast(qtab), Seq("cell"))
      }
    scored
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(approx, 4).as("approx_d2"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("approx_d2"), col("rnk"))
  }

  /** PQ-candidates → EXACT rerank — the production retrieval shape: the
    * standing store's (optionally cell-routed) ADC probe nominates
    * `kCand` candidates per query from code ids alone, then ONLY those
    * candidates' float vectors load (a candidate-sized hash join
    * against `vecs`, never a corpus scan) for an exact squared-L2
    * top-`k`. Output (qid, cid, d2, rnk <= k), exact distances — the
    * approximation decides WHO is scored, never the final order.
    *
    * The `vecs` side gets the same [[pqRequireDims]] gate and id-dedup
    * as the build/probe paths: a wrong-dims candidate vector would
    * otherwise zip to a NULL d2 that Spark's ASC NULLS FIRST window
    * silently ranks FIRST, and duplicate ids would occupy multiple
    * ranks — both corrupting the "exact" final order.
    */
  def pqStoreRerankTopK(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queries: DataFrame, vecs: DataFrame, kCand: Int,
      k: Int, nprobe: Int = 0): DataFrame = {
    require(kCand >= k && k > 0,
      s"need kCand >= k > 0, got kCand=$kCand k=$k")
    val books = pqProbeCodebook(spark, storeDir)
    val dims = books.size * books.head.head._2.size
    val cand = pqStoreTopK(spark, storeDir, queries, kCand, nprobe)
      .select(col("qid"), col("cid"))
    val q = queries.dropDuplicates("id")
      .select(col("id").as("qid"),
        VectorFunctions.toDoubleArray(col("vec")).as("qv"))
    val cv = pqRequireDims(vecs.dropDuplicates("id")
        .withColumn("v", VectorFunctions.toDoubleArray(col("vec"))),
        dims, "pqStoreRerankTopK")
      .select(col("id").as("cid"), col("v").as("cv"))
    val d2 = VectorFunctions.dot(col("qv"), col("qv")) +
      VectorFunctions.dot(col("cv"), col("cv")) -
      lit(2.0) * VectorFunctions.dot(col("qv"), col("cv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d2"), col("cid"))
    cand.join(cv, Seq("cid")).join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"), round(d2, 4).as("d2"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("d2"), col("rnk"))
  }

  /** The PQ store's lifecycle descriptor ([[GenTable]]): code rows
    * under `rows/` gated on `vec_hash`, tombstoned as (empty codes,
    * cell -1, vec_hash 0), and the per-generation `coarse` routing
    * centroids carried beside them. The train-once codebook is never
    * touched. Package-private for the specs' crash hooks.
    */
  private[graft] val PqStore = new GenTable("id", size(col("codes")) === 0,
    Seq(array().cast("array<bigint>").as("codes"), lit(-1L).as("cell"),
      lit(0L).as("vec_hash")), "vec_hash",
    GenTable.Table("rows"), carried = Seq("coarse"))

  /** Compact the PQ store's code rows to their live state (one batch,
    * one row per id, tombstones gone) through [[GenTable.vacuumFull]].
    */
  def pqStoreVacuum(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Unit =
    PqStore.vacuumFull(spark, storeDir)

  /** INCREMENTAL PQ vacuum ([[GenTable.vacuumIncremental]]): reclaim
    * only the batches whose dead fraction (superseded generations, or
    * any row of a tombstoned id) reaches `minDeadFraction`. Returns
    * batches reclaimed.
    */
  def pqStoreVacuumIncremental(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, minDeadFraction: Double = 0.0): Int =
    PqStore.vacuumIncremental(spark, storeDir, minDeadFraction)

  /** COMPACT the PQ store's committed-batch count down to `maxBatches`
    * ([[GenTable.compactBatches]]). Returns batches folded.
    */
  def pqStoreCompactBatches(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxBatches: Int = 16): Int =
    PqStore.compactBatches(spark, storeDir, maxBatches)

  /** GROW/RESHAPE the PQ store's coarse routing — re-train the IVF
    * quantizer at a new cell count and re-stamp every live code row's
    * cell, WITHOUT the original vectors: training runs on the code
    * RECONSTRUCTIONS (each row's per-subspace centroids concatenated —
    * the classic recipe for (re)training coarse quantizers from
    * quantized data). This is how a deployment grows `cells` with the
    * corpus — the lever SCALE.md's routed-probe line names: the
    * nprobe/cells pruning ratio only holds if cells scales up as the
    * store does. The subspace CODEBOOK is untouched (train-once stays
    * train-once — encodings remain comparable); only the routing
    * metadata and the `cell` column change, so ADC scores are
    * IDENTICAL before and after — routing prunes candidates, never
    * perturbs distances.
    *
    * Maintenance op (writer lease): the re-stamped live rows and the
    * new coarse centroids are written and committed as ONE generation
    * ([[GenTable.replaceAll]]), then every batch committed before it is
    * reclaimed — like [[pqStoreVacuum]], the store ends as one batch
    * with tombstones gone. `trainPerMille`
    * samples the reconstructions for the Lloyd passes like
    * [[pqStoreBuild]]. Works on unrouted stores too — the upgrade
    * path from a `cells = 0` build to a routed one.
    */
  def pqStoreReroute(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, cells: Int, iters: Int = 2,
      trainPerMille: Int = 1000): Unit =
   graft.sources.Commits.withWriterLock(spark, storeDir) {
    require(cells > 0, s"cells must be positive, got $cells")
    require(trainPerMille > 0 && trainPerMille <= 1000,
      s"trainPerMille must be in (0, 1000], got $trainPerMille")
    val books = pqReadCodebook(spark, storeDir)
    val subDims = books.head.head._2.size
    // Reconstruction: per subspace, the code id looks up its centroid
    // from an in-row map literal; flatten to one working double array.
    val recon = flatten(array(books.indices.map { j =>
      element_at(
        map_from_entries(transform(typedLit(books(j)), c =>
          struct(c("_1"), c("_2")))),
        element_at(col("codes"), j + 1))
    }: _*))
    val live = pqCurrentRows(spark, storeDir, cached = false)
      .select(col("id"), col("codes"), col("vec_hash"),
        recon.as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val train =
        if (trainPerMille >= 1000) live
        else Corpus.stratifiedSample(
          live.withColumn("__stratum", lit("all")), "id", "__stratum",
          Map("all" -> trainPerMille)).drop("__stratum")
      val coarse = lloydCentroids(
        train.select(col("id"), col("v")), cells, iters)
      // New coarse centroids and new cell stamps must become visible
      // TOGETHER (new routing against old stamps would silently drop
      // candidates), so both commit under one marker; the two writes
      // go to different dirs and overlap like the build's.
      PqStore.replaceAll(spark, storeDir) { b =>
        graft.Par.run(Seq[() => Unit](
          () => pqWriteCoarse(spark, storeDir, b, coarse),
          () => PqStore.writeMembership(live.select(col("id"), col("codes"),
            pqCellExpr(coarse).as("cell"), col("vec_hash")), storeDir, b))):
          Unit
      }
    } finally { live.unpersist(); () }
   }

  /** Operational stats of the standing PQ store — [[annStoreStats]]'
    * twin, the vacuum-scheduling / ingest-health read: one row with
    * committed batch count, live vs tombstoned ids, superseded rows
    * (including crashed appends' orphan rows — the reclaimable tail
    * the stats exist to surface), and occupied coarse cells (1 on an
    * unrouted store: every live row carries the -1 sentinel cell,
    * which count_distinct reports as one occupied "cell"). Skinny
    * columns only; vectors never existed here to read.
    *
    * REROUTE ADVISORY — the policy half of [[pqStoreReroute]], as a
    * recommendation the maintenance cron reads (never an
    * auto-mutation: a reroute is an offline full-rewrite):
    * `reroute_advised` flips TRUE exactly when the live rows per
    * occupied cell exceed `maxRowsPerCell` — the routed probe touches
    * ~nprobe cells, so per-cell load IS the probe's scan cost, and it
    * only stays flat as the corpus grows if cells grow with it
    * (SCALE.md's routed-probe line). `advised_cells` is the target to
    * pass to [[pqStoreReroute]]: sized so the post-reroute load is
    * `hysteresis` × the threshold (default 0.5 — 2× headroom), which
    * is what keeps the advisory from flipping again on the very next
    * ingest wave. On an unrouted store the sentinel counts as one
    * cell, so the advisory doubles as the upgrade trigger.
    */
  def pqStoreStats(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxRowsPerCell: Long = 100000L,
      hysteresis: Double = 0.5): DataFrame = {
    require(maxRowsPerCell > 0,
      s"maxRowsPerCell must be positive, got $maxRowsPerCell")
    require(hysteresis > 0.0 && hysteresis <= 1.0,
      s"hysteresis must be in (0, 1], got $hysteresis")
    val committed = graft.sources.Commits.committed(spark, storeDir)
    require(committed.nonEmpty, s"no committed PQ state under $storeDir")
    val curAgg = liveCensus(PqStore.current(spark, storeDir).get, "cell",
      "occupied_cells")
    val total = ParquetRead(spark, Seq(s"$storeDir/rows"),
      recursiveFileLookup = true)
      .agg(count(lit(1)).as("rows_total"))
    // Exact integer comparison (live > threshold × cells), no division
    // — the flip point is bit-precise, which the spec pins.
    val advised = col("live_ids") > lit(maxRowsPerCell) * col("occupied_cells")
    curAgg.crossJoin(broadcast(total))
      .select(lit(committed.size).as("committed_batches"),
        col("live_ids"), col("tombstoned_ids"),
        (col("rows_total") - col("live_ids") - col("tombstoned_ids"))
          .as("superseded_rows"),
        col("occupied_cells"),
        advised.as("reroute_advised"),
        when(advised, ceil(col("live_ids") /
            lit(maxRowsPerCell * hysteresis)).cast("long"))
          .otherwise(lit(0L)).as("advised_cells"))
  }

  /** Per-group SEMANTIC OUTLIERS: exact per-dimension centroid of each
    * group's embeddings, then the `topK` members farthest (squared L2)
    * from their group centroid — the corpus-QA pass that surfaces
    * mislabeled / off-topic docs inside a source or cluster.
    *
    * Determinism/scale shape: per-dim centroid sums run as integer
    * micro-units (exact under any aggregation order); the group×dims
    * centroid table is driver-bounded (like the IVF/k-means centroid
    * literals) and comes back as one in-row map literal, so the
    * distance pass is a pure narrow projection — one explode-aggregate
    * plus one window shuffle on the group key, total. d2 uses the same
    * `vv + cc - 2·vc` sequential-fold algebra the k-means oracle pins.
    *
    * `vecs`: (id, vec, `groupCol`) with a numeric group key.
    *
    * `maxGroups` ENFORCES the driver bound instead of assuming it: the
    * centroid literal is group-cardinality × dims doubles, which is
    * fine for the intended per-source / per-cluster keys but OOMs the
    * driver if someone passes a doc-level key — a cheap
    * `approx_count_distinct` pre-check rejects that loudly up front
    * (same contract style as `Search.bm25TopK`'s term cap). The 1.1×
    * headroom absorbs approx_count_distinct's error so a legitimate
    * group count at the limit is never falsely rejected.
    */
  def centroidOutliers(vecs: DataFrame, groupCol: String,
      topK: Int, maxGroups: Int = 10000): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val base = vecs.select(col("id"),
      VectorFunctions.toDoubleArray(col("vec")).as("v"),
      col(groupCol).cast("long").as("grp"))
    val approxGroups = base
      .select(approx_count_distinct(col("grp")).as("n"))
      .head().getLong(0)
    require(approxGroups <= maxGroups * 1.1,
      s"centroidOutliers: ~$approxGroups distinct '$groupCol' groups " +
        s"exceed maxGroups=$maxGroups — the group×dims centroid literal " +
        "would not be driver-bounded; pass a coarser group key (source, " +
        "cluster) or raise maxGroups deliberately")
    val centRows = base
      .select(col("grp"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("grp"), col("dim"))
      .agg(sum(round(col("x") * lit(1e6)).cast("long")).as("sm"),
        count(lit(1)).as("n"))
      .collect()
    val centMap: Map[Long, Seq[Double]] = centRows
      .groupBy(_.getLong(0))
      .map { case (g, rows) =>
        g -> rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2).toDouble / r.getLong(3).toDouble / 1e6)
          .toSeq
      }
    val c = element_at(typedLit(centMap), col("grp"))
    val d2 = VectorFunctions.dot(col("v"), col("v")) +
      VectorFunctions.dot(c, c) -
      lit(2.0) * VectorFunctions.dot(col("v"), c)
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("d2").desc, col("id"))
    base
      .withColumn("d2", round(d2, 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("grp"), col("id"), col("d2"), col("rnk"))
  }

  /** Approximate top-k: brute-force cosine restricted to same-bucket
    * candidates (the scale path — bucket is the join/partition key).
    */
  /** UPSERT a batch of (id, vec) embeddings into the STANDING ANN
    * store: each vector lands int8-quantized (4x memory cut) with its
    * scale and its hyperplane-LSH bucket — signed once, never
    * recomputed, the embedding twin of the inverted index's
    * generational postings. Ids already present with the SAME vector
    * are skipped (at-least-once re-delivery converges); a RE-EMBEDDED
    * id (changed vector — new model, new doc text) gets a new
    * generation whose commit atomically supersedes the old row, even
    * when the new vector lands in a different bucket. Commit-marker
    * atomicity via [[graft.sources.Commits]]: a crash mid-append is
    * invisible to readers and redelivery converges (single table, so
    * the data and the id allocator can never disagree). Mutations run
    * under the store's writer lease ([[graft.sources.Commits
    * .withWriterLock]]): a concurrent second writer fails loudly
    * instead of double-allocating a batch id. Returns rows written
    * (inserted + updated).
    */
  def annStoreAppend(batch: DataFrame, storeDir: String, planes: Int,
      dims: Int, heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, storeDir,
       heldLocks) {
    val spark = batch.sparkSession
    val hashed = batch.dropDuplicates("id")
      .withColumn("__vh", xxhash64(col("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hash gate through the shared currency resolve ([[GenTable
    // .currency]]): scoped to the batch's ids for fixed-size mutations
    // — measured at 1000x sf0.1 (2M store rows) an unscoped aggregate
    // made a 500-vector append cost 9.6 s, store-linear; scoped it is
    // flat (SCALE.md) — store-wide for backfill-sized batches.
    val fresh = AnnStore.changed(spark, storeDir,
      graft.sources.Commits.committed(spark, storeDir), hashed, "id", "__vh")
    val v = VectorFunctions.toDoubleArray(col("vec"))
    val rows = fresh
      .withColumn("bucket", hyperplaneBucketCol(planes, dims))
      .withColumn("scale", VectorFunctions.int8Scale(v))
      .select(col("id"),
        VectorFunctions.quantizeInt8(v, col("scale")).as("qvec"),
        col("scale"), col("bucket"), col("__vh").as("vec_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rows.count()
      if (n > 0) AnnStore.commitGeneration(spark, storeDir) { b =>
        AnnStore.writeMembership(rows, storeDir, b)
        n
      }
      n
    } finally { rows.unpersist(); hashed.unpersist(); () }
   }

  /** The store's LIVE rows: each id's max committed generation,
    * tombstones dropped ([[GenTable.current]]; the partitioned layout's
    * rebuild, a maintenance op, reads uncached). */
  private def annCurrentRows(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, cached: Boolean = true): DataFrame =
    AnnStore.current(spark, storeDir, cached).getOrElse(
        throw new IllegalArgumentException(
          s"no committed ANN state under $storeDir"))
      .filter(!col(GenTable.CurTomb))

  /** LIVE membership surface of the standing ANN store — the audit
    * read a platform's cross-store consistency checks need: the id of
    * every currently-live vector (committed, max generation, not
    * tombstoned). Skinny-column scan; vectors are never read.
    */
  def annStoreLiveIds(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    annCurrentRows(spark, storeDir).select(col("id"))

  /** DELETE ids from the standing ANN store — a tombstone generation
    * (empty qvec) per currently-live requested id; idempotent, and a
    * later [[annStoreAppend]] resurrects the id (a real vector's hash
    * never equals the tombstone's). Returns ids tombstoned.
    */
  def annStoreDelete(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: DataFrame,
      heldLocks: Set[String] = Set.empty): Long =
    AnnStore.delete(spark, storeDir, ids, heldLocks)

  /** The ANN store's lifecycle descriptor ([[GenTable]]): one table,
    * the store dir itself, gated on `vec_hash`, tombstoned as (empty
    * qvec, scale 0, bucket -1, vec_hash 0). Package-private for the
    * specs' crash hooks.
    */
  private[graft] val AnnStore = new GenTable("id", size(col("qvec")) === 0,
    Seq(array().cast("array<tinyint>").as("qvec"), lit(0.0).as("scale"),
      lit(-1L).as("bucket"), lit(0L).as("vec_hash")), "vec_hash",
    GenTable.Table(""))

  /** Compact the ANN store to its live state (one batch, one row per
    * id), like `Search.indexVacuum`, through [[GenTable.vacuumFull]].
    */
  def annStoreVacuum(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Unit =
    AnnStore.vacuumFull(spark, storeDir)

  /** INCREMENTAL ANN vacuum ([[GenTable.vacuumIncremental]]): reclaim
    * only the batches whose dead fraction (superseded generations, or
    * any row of a tombstoned id) reaches `minDeadFraction`, leaving
    * clean batches' files untouched. Returns batches reclaimed.
    */
  def annStoreVacuumIncremental(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, minDeadFraction: Double = 0.0): Int =
    AnnStore.vacuumIncremental(spark, storeDir, minDeadFraction)

  /** COMPACT the ANN store's committed-batch count down to `maxBatches`
    * ([[GenTable.compactBatches]]). Returns batches folded.
    */
  def annStoreCompactBatches(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxBatches: Int = 16): Int =
    AnnStore.compactBatches(spark, storeDir, maxBatches)

  /** Operational stats of the standing ANN store — the vacuum-
    * scheduling / ingest-health twin of `Search.indexStats`: one row
    * with committed batch count, live vs tombstoned ids, superseded
    * rows, and distinct occupied buckets (probe-selectivity signal).
    * Skinny-column scans only; vectors are never read.
    */
  def annStoreStats(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame = {
    val committed = graft.sources.Commits.committed(spark, storeDir)
    require(committed.nonEmpty, s"no committed ANN state under $storeDir")
    val curAgg = liveCensus(AnnStore.current(spark, storeDir).get, "bucket",
      "occupied_buckets")
    // Total COUNTS orphan rows (crashed appends' uncommitted dirs) —
    // the reclaimable tail the stats exist to surface.
    val total = ParquetRead(spark, Seq(storeDir),
      recursiveFileLookup = true)
      .agg(count(lit(1)).as("rows_total"))
    curAgg.crossJoin(broadcast(total))
      .select(lit(committed.size).as("committed_batches"),
        col("live_ids"), col("tombstoned_ids"),
        (col("rows_total") - col("live_ids") - col("tombstoned_ids"))
          .as("superseded_rows"),
        col("occupied_buckets"))
  }

  /** Live and tombstoned ids, and distinct live `occupied` values. */
  private def liveCensus(cur: DataFrame, occupied: String,
      name: String): DataFrame = {
    val tomb = col(GenTable.CurTomb)
    cur.agg(sum(when(!tomb, 1L).otherwise(0L)).as("live_ids"),
      sum(when(tomb, 1L).otherwise(0L)).as("tombstoned_ids"),
      count_distinct(when(!tomb, col(occupied))).as(name))
  }

  /** Compact the ANN store's LIVE rows into a bucket-PARTITIONED
    * layout at `outDir` — one directory per hyperplane bucket, the
    * vector twin of `Search.bucketPostings`: generation resolution
    * happens ONCE here, and a probe against this layout reads ONLY the
    * probed buckets' directories. The probe's broadcast bucket join
    * carries Spark's dynamic partition pruning (the bucket list is
    * only known at run time), so at 100 TB the scan plans the handful
    * of matching partitions instead of the store
    * ([[annStorePartitionedTopK]], plan pinned). Snapshot semantics
    * like the bucketed postings: rebuild after appends; the single-
    * table generational store stays the always-fresh default.
    * Maintenance op: holds the STORE's writer lease (consistent
    * committed set for data + `_snapshot` marker, no interleaved
    * rebuilds); pause probes of `outDir` across a refresh — the
    * overwrite is not readable mid-rebuild.
    */
  def annStorePartition(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String): Unit =
   graft.sources.Commits.withWriterLock(spark, storeDir) {
    val committed = graft.sources.Commits.committed(spark, storeDir)
    annCurrentRows(spark, storeDir, cached = false).drop(GenTable.CurTomb)
      .withColumn("batch", lit(0L))
      // Align the shuffle with the layout: without this every upstream
      // task writes one file into every bucket dir it sees (tasks x
      // buckets tiny files); repartitioned, each bucket dir gets a few
      // full files — the difference between an object-store listing
      // nightmare and a scan-friendly layout at 100 TB.
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    // Staleness marker, same contract as `Search.bucketPostings`:
    // `Commits.snapshotFresh(spark, outDir, storeDir)` tells the
    // maintenance cron whether a rebuild is due.
    graft.sources.Commits.writeSnapshotMarker(spark, outDir, committed)
   }

  /** [[annStoreTopK]] against the [[annStorePartition]] layout:
    * identical candidates and scores (same hyperplanes, same
    * dequantized cosine), but the candidate read prunes whole bucket
    * partitions dynamically from the broadcast query side.
    */
  def annStorePartitionedTopK(spark: org.apache.spark.sql.SparkSession,
      partDir: String, queries: DataFrame, planes: Int, dims: Int,
      k: Int, decimals: Int = 6): DataFrame = {
    val store = ParquetRead(spark, partDir)
    // Partition-column type inference may narrow `bucket` (e.g. to
    // int); cast the BROADCAST side to match so the store side keeps a
    // bare partition-column reference — a cast there would defeat the
    // dynamic pruning this layout exists for.
    val bucketType = store.schema("bucket").dataType
    val q = queries
      .withColumn("bucket", hyperplaneBucketCol(planes, dims))
      .select(col("id").as("qid"),
        VectorFunctions.toDoubleArray(col("vec")).as("qv"),
        col("bucket").cast(bucketType).as("bucket"))
    val c = store
      .select(col("id").as("cid"),
        VectorFunctions.dequantizeInt8(col("qvec"), col("scale")).as("cv"),
        col("bucket"))
    val scores = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), decimals)
          .as("score"))
    topKPerQuery(scores, k)
  }

  /** Query the standing ANN store: bucket the (id, vec) queries with
    * the SAME hyperplanes the store was signed with, broadcast them
    * against their store bucket only, score exact cosine on the
    * dequantized vectors, return per-query top-k. Never all-pairs; the
    * candidate read is bucket-pruned, and generation currency is the
    * committed-set view: one aggregate over the store by the first
    * probe after a commit, none by the probes after it (see
    * [[annCurrentRows]]).
    */
  def annStoreTopK(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queries: DataFrame, planes: Int, dims: Int,
      k: Int, decimals: Int = 6): DataFrame = {
    val q = queries
      .withColumn("bucket", hyperplaneBucketCol(planes, dims))
      .select(col("id").as("qid"),
        VectorFunctions.toDoubleArray(col("vec")).as("qv"), col("bucket"))
    val c = annCurrentRows(spark, storeDir)
      .select(col("id").as("cid"),
        VectorFunctions.dequantizeInt8(col("qvec"), col("scale")).as("cv"),
        col("bucket"))
    val scores = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), decimals)
          .as("score"))
    topKPerQuery(scores, k)
  }

  /** Committed-bytes size past which a plain [[annStoreTopK]] probe is
    * considered expensive enough to deserve the partitioned layout
    * (SCALE.md: plain probe 3.6 s vs partitioned 1.9 s at 1000x
    * post-maintenance). Listing-only signal; deliberately NOT
    * annStoreStats, which scans the store.
    */
  val AnnRouteBytes: Long = 64L << 20

  /** ROUTE-AWARE store probe — same results as [[annStoreTopK]] /
    * [[annStorePartitionedTopK]] (identical hyperplanes and scoring),
    * with the layout choice made here instead of by the caller:
    *
    *  - `partDir` exists with a CURRENT `_snapshot` marker
    *    ([[graft.sources.Commits.snapshotFresh]]) -> probe the
    *    partitioned layout. Generation resolution was paid once at
    *    [[annStorePartition]] time and the candidate read prunes
    *    whole bucket partitions dynamically; on a big store this is
    *    strictly the better plan, on a small one the difference is
    *    noise.
    *  - marker stale or no `partDir` -> probe the generational store
    *    directly (always-fresh), and when the store's committed bytes
    *    pass [[AnnRouteBytes]] warn that maintenance owes it an
    *    [[annStorePartition]] refresh — the 1000x plain-probe growth
    *    must not bite a caller who never read SCALE.md.
    *
    * The routing signals are two file listings (committed set twice,
    * marker read); no store data is opened to decide.
    *
    * TOCTOU hazard: [[snapshotFresh]] can pass immediately before a
    * concurrent [[annStorePartition]] refresh recreates `partDir`
    * (overwrite removes the dir first), so the partitioned read can
    * find the dir gone. The plan-construction failure (read.parquet
    * lists files eagerly) is caught here and retried through the
    * always-fresh generational branch; a file that vanishes later,
    * at ACTION time mid-scan, is not recoverable from inside this
    * method — a caller probing across an in-flight refresh should
    * either pause probes over the refresh (annStorePartition's
    * contract) or retry the action, which re-routes through the
    * now-stale snapshot check to the generational store.
    */
  def annStoreTopKAuto(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queries: DataFrame, planes: Int, dims: Int,
      k: Int, decimals: Int = 6, partDir: Option[String] = None,
      routeBytes: Long = AnnRouteBytes): DataFrame = {
    val fresh = partDir.filter(d =>
      graft.sources.Commits.snapshotFresh(spark, d, storeDir))
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val partitioned = fresh.flatMap { d =>
      def probe() =
        annStorePartitionedTopK(spark, d, queries, planes, dims, k, decimals)
      // Only the refresh race is recoverable here: the layout (or its
      // files) vanished between the snapshot check and the plan's
      // eager file listing — recognizable as PATH_NOT_FOUND or the
      // dir being gone on a re-probe. Any OTHER analysis failure
      // (schema drift, a corrupt partitioned layout) must surface:
      // swallowing it would route every call to the slow generational
      // path forever, with a warning misnaming the cause as a stale
      // snapshot.
      def raceEvidence(e: org.apache.spark.sql.AnalysisException): Boolean = {
        val p = new org.apache.hadoop.fs.Path(d)
        val dirGone = !p
          .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        dirGone ||
          Option(e.getCondition).exists(_.startsWith("PATH_NOT_FOUND"))
      }
      def fallBack(e: org.apache.spark.sql.AnalysisException): Option[Nothing] = {
        log.warn(
          s"annStoreTopKAuto: partitioned layout at $d vanished between " +
            s"the snapshot check and the read (${e.getMessage}) - a " +
            "refresh is in flight; falling back to the generational store")
        None
      }
      try Some(probe())
      catch { case e: org.apache.spark.sql.AnalysisException =>
        if (raceEvidence(e)) fallBack(e)
        else if (graft.sources.Commits.snapshotFresh(spark, d, storeDir)) {
          // No race evidence NOW, but a refresh that COMPLETED inside
          // this catch window recreates the dir and re-commits the
          // marker — indistinguishable after the fact from genuine
          // schema drift. One retry separates them: a completed
          // refresh probes clean; real drift throws the same way
          // again and surfaces.
          log.warn(
            s"annStoreTopKAuto: partitioned probe of $d failed " +
              s"(${e.getMessage}) but the snapshot is fresh - a refresh " +
              "may have completed mid-probe; retrying once")
          try Some(probe())
          catch { case e2: org.apache.spark.sql.AnalysisException =>
            if (raceEvidence(e2)) fallBack(e2) else throw e2
          }
        } else {
          // The marker went stale between the entry check and here:
          // a concurrent mutation (new store batch or an in-flight
          // refresh) invalidated the layout mid-probe. The
          // generational store is the always-fresh answer.
          log.warn(
            s"annStoreTopKAuto: snapshot at $d went stale while the " +
              s"partitioned probe failed (${e.getMessage}); falling " +
              "back to the generational store")
          None
        }
      }
    }
    partitioned.getOrElse {
      val bytes =
        graft.sources.Commits.committedDataBytes(spark, storeDir)
      if (bytes >= routeBytes)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"annStoreTopKAuto: probing $storeDir (${bytes >> 20} MiB " +
            "committed) through the generational layout because " +
            partDir.fold("no partitioned layout was given")(p =>
              s"the snapshot at $p is stale") +
            "; at this size the first probe after each commit resolves " +
            "generations over the full store - run annStorePartition " +
            "in the maintenance pass (Streams.fanoutVacuum annPartDir)")
      annStoreTopK(spark, storeDir, queries, planes, dims, k, decimals)
    }
  }

  /** MULTI-PROBE variant of [[annStoreTopK]]: each query also probes
    * every bucket one hyperplane-flip away (planes+1 buckets total), so
    * near neighbors that fell on the other side of a single hyperplane
    * are still candidates — the standard recall lever that costs
    * probes x candidate-reads instead of a bigger store. Candidate
    * pairs are deduped before scoring (a neighbor can match through
    * several probes).
    */
  def annStoreTopKProbed(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queries: DataFrame, planes: Int, dims: Int,
      k: Int, decimals: Int = 6): DataFrame = {
    val probes = (0 until planes).map(p =>
      col("bucket").bitwiseXOR(lit(1L << p)))
    val q = queries
      .withColumn("bucket", hyperplaneBucketCol(planes, dims))
      .select(col("id").as("qid"),
        VectorFunctions.toDoubleArray(col("vec")).as("qv"),
        explode(array(col("bucket") +: probes: _*)).as("bucket"))
    val c = annCurrentRows(spark, storeDir)
      .select(col("id").as("cid"), col("qvec"), col("scale"), col("bucket"))
    val cand = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .dropDuplicates("qid", "cid")
    val scores = cand.select(col("qid"), col("cid"),
      round(VectorFunctions.cosine(col("qv"),
        VectorFunctions.dequantizeInt8(col("qvec"), col("scale"))),
        decimals).as("score"))
    topKPerQuery(scores, k)
  }

  def lshTopK(vecs: DataFrame, queryIds: DataFrame, planes: Int, dims: Int,
      k: Int, decimals: Int = 6): DataFrame = {
    val all = vecs
      .withColumn("bucket", hyperplaneBucketCol(planes, dims))
    val q = all.join(broadcast(queryIds), Seq("id"))
      .select(col("id").as("qid"),
        VectorFunctions.toDoubleArray(col("vec")).as("qv"), col("bucket"))
    val c = all.select(col("id").as("cid"),
      VectorFunctions.toDoubleArray(col("vec")).as("cv"), col("bucket"))
    val scores = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), decimals).as("score"))
    topKPerQuery(scores, k)
  }
}
