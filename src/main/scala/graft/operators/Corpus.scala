package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Corpus-construction operators for LLM training-data pipelines:
  * benchmark decontamination, deterministic stratified sampling, and
  * concatenate-and-chunk sequence packing — the steps between "deduped
  * documents" and "training batches".
  */
object Corpus {

  /** Benchmark DECONTAMINATION: drop every doc sharing at least
    * `minOverlap` distinct hashed n-gram shingles with the benchmark
    * set — the standard guard against eval contamination, on the same
    * 60-bit hashed shingling the dedup family uses (so oracle SQL and
    * engine agree bit-for-bit).
    *
    * 100 TB shape: benchmark suites are KB-MB scale, so their distinct
    * shingle index BROADCASTS (the default); doc shingles flow through
    * one semi-join (map-side, no shuffle of the corpus) and one
    * hash-shuffle on doc_id for the overlap count, over only the rows
    * that hit a benchmark shingle — a tiny fraction of the corpus.
    * Docs too short to shingle cannot be contaminated and pass through.
    * When the held-out side is NOT benchmark-sized — scrubbing train
    * against val+test splits that are a fixed FRACTION of the corpus —
    * pass `broadcastIndex = false`: the forced broadcast would ship a
    * corpus-proportional shingle set to every executor; without the
    * hint the semi-join shuffles on `bh` at scale while AQE still
    * converts it to a broadcast join whenever the index side turns out
    * small at runtime.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int, minOverlap: Int,
      broadcastIndex: Boolean = true): DataFrame =
    decontaminateAgainstIndex(docs,
      Dedup.shingles(benchmark, idCol, textCol, n).select(col("bh")).distinct(),
      idCol, textCol, n, minOverlap, broadcastIndex)

  /** Deterministic STRATIFIED SAMPLING: keep a row iff
    * `stableHash64(id) % 1000 < ratePerMille(stratum)` — a pure narrow
    * filter (no shuffle, no rand(): reproducible across retries and
    * re-runs, and a doc's fate never depends on partitioning). Strata
    * absent from `ratesPerMille` fall to `defaultPerMille`. This is
    * how a corpus is reweighted to a target source mix at any scale —
    * the filter pushes to the scan.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      ratesPerMille: Map[String, Int],
      defaultPerMille: Int = 0): DataFrame = {
    require((ratesPerMille.values ++ Seq(defaultPerMille))
      .forall(r => r >= 0 && r <= 1000), "rates must be in [0, 1000]")
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) {
      case (acc, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(
      HashFunctions.stableHash64(col(idCol).cast("string")) % 1000 < rate)
  }

  /** Concatenate-and-chunk SEQUENCE PACKING: per stratum, docs in id
    * order form a virtual token stream that is cut every `budget`
    * tokens; each doc is stamped with the chunk its first token lands
    * in and its offset inside that chunk (docs may straddle chunk
    * boundaries — the concat-then-chunk packing real LLM pipelines
    * run, not bin packing). Deterministic: the assignment depends only
    * on (stratum, id order, token counts).
    *
    * The prefix sum runs as one window per stratum, so each stratum
    * lands on one reducer: right when strata (sources, domains,
    * languages) are numerous relative to executors, which is the
    * training-corpus shape. A single giant stratum would instead take
    * the two-pass distributed prefix sum (partition-local sums +
    * broadcast per-partition offsets).
    */
  def packSequences(df: DataFrame, idCol: String, stratumCol: String,
      tokenCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cum",
        coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("chunk_id", floor(col("__cum") / budget))
      .withColumn("chunk_offset", col("__cum") % budget)
      .drop("__cum")
  }

  /** Sliding-window CHUNKING with overlap: each doc's whitespace
    * tokens split into windows of `window` tokens advancing by
    * `window - overlap`, the doc→passage step of embedding/retrieval
    * pipelines (a trailing partial window is kept; a doc at or under
    * `window` tokens is one chunk). Output: (id, chunk_seq, n_tokens,
    * chunk_text).
    *
    * 100 TB shape: a pure narrow projection — tokenize, compute the
    * chunk count arithmetically, posexplode a `sequence`, slice. No
    * shuffle, no state; parallelism is the scan's. Each token is
    * copied at most ceil(window/stride) times (bounded fan-out chosen
    * by the caller, not data-dependent).
    */
  def chunkSlidingWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    // The canonical tokenizer — chunk boundaries must agree with every
    // token count the rest of the pipeline derives from the same text.
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      // chunks = 1 + ceil((n - window) / stride) for n > window, else 1.
      // `div` is SQL integer floor-division — exact for ANY integral
      // width, with no round-trip through double (Column `/` is double
      // division, which is only exact below ~2^53).
      .withColumn("__q", col("__n") - window + (stride - 1))
      .withColumn("__nc",
        when(col("__n") <= window, lit(1)).otherwise(
          (lit(1) + expr(s"__q div $stride")).cast("int")))
      .drop("__q")
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), col("__nc") - 1)))
      .withColumn("__chunk", slice(col("__toks"), col("pos") * stride + 1,
        lit(window)))
      .select(col(idCol), col("pos").cast("long").as("chunk_seq"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** MIXTURE-WEIGHTED BUDGET TAKE: compose a training mix by filling
    * each stratum's token budget — `weightPerMille(stratum) / 1000 *
    * totalTokens`, integer-exact — with that stratum's docs in id
    * order; the first doc that would overflow its budget is cut there
    * (kept docs satisfy cumulative(tokens) <= budget). Deterministic:
    * a doc's fate depends only on ids at or before it in its stratum.
    *
    * 100 TB shape: same single hash-exchange running-sum window as
    * [[packSequences]] — one shuffle on the stratum key, no driver
    * state, no global sort. The budgets ship as a BROADCAST
    * (stratum, budget) frame, not a per-weight CASE chain — a real mix
    * names thousands of sources, and a thousands-deep nested `when`
    * would blow codegen long before the data became the problem.
    * Strata without a weight (or with weight 0) take nothing — the
    * mix is exactly what the weights name.
    */
  def mixtureBudgetTake(df: DataFrame, idCol: String, stratumCol: String,
      tokenCol: String, weightsPerMille: Map[String, Int],
      totalTokens: Long): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive")
    require(weightsPerMille.values.forall(w => w >= 0 && w <= 1000),
      "weights must be in [0, 1000]")
    val spark = df.sparkSession
    val budgets = spark.createDataFrame(
      weightsPerMille.toSeq.map { case (stratum, w) =>
        (stratum, totalTokens * w / 1000L)
      }).toDF(stratumCol, "__budget")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.join(broadcast(budgets), Seq(stratumCol), "left")
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      // The __budget > 0 guard also evicts zero-token docs from
      // unweighted/zero-weight strata (their running sum is 0, which
      // a bare __cum <= budget comparison would admit).
      .filter(col("__budget") > 0 && col("__cum") <= col("__budget"))
      .withColumn("cum_tokens", col("__cum"))
      .drop("__cum", "__budget")
  }

  /** The per-mille rate column `stratifiedSample` uses — exposed for
    * tests that assert the keep/drop boundary directly.
    */
  def sampleHash(idCol: Column): Column =
    HashFunctions.stableHash64(idCol.cast("string")) % 1000

  /** Deterministic TRAIN/VAL/TEST SPLIT assignment: the same
    * stable-hash-per-mille mechanism as [[stratifiedSample]], cut into
    * named bands — `splits` maps split name to its per-mille width, in
    * declaration order (e.g. `Seq("train" -> 950, "val" -> 25,
    * "test" -> 25)`). A doc's split depends only on its id: adding or
    * removing other docs never moves it (no rand(), no row_number), so
    * eval sets stay stable as the corpus grows — the property that
    * matters for decontamination. Pure narrow projection.
    */
  def assignSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000,
      s"split widths must sum to 1000 per mille, got ${splits.map(_._2).sum}")
    require(splits.forall(_._2 > 0), "every split needs positive width")
    val h = sampleHash(col(idCol))
    val cuts = splits.scanLeft(0)(_ + _._2).tail  // exclusive upper bounds
    val expr = splits.zip(cuts).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), acc) => when(h < cut, lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Corpus DATASHEET: the per-source summary a corpus release ships
    * with (Datasheets for Datasets shape) — document/language counts,
    * size and token totals, exact-duplicate rate, and mean quality.
    *
    * One scan, one hash-shuffle on source (count_distinct expands the
    * Expand way, still a single aggregate). Quality is averaged via
    * exact integer micro-units (`sum(round(q*1e6))::bigint / n`) so the
    * result hashes identically under any aggregation order — double
    * sums across rows would not.
    */
  def datasheet(docs: DataFrame, sourceCol: String,
      textCol: String, langCol: String): DataFrame = {
    val q = graft.functions.TextFunctions.qualityScoreOf(col("__tokarr"))
    docs
      // Tokenize once per row (its own projection, kept by
      // CollapseProject because the alias is referenced 4x), then derive
      // token count and quality from the array.
      .select(col(sourceCol).as("source"),
        col(langCol).as("__lang"),
        length(col(textCol)).as("__chars"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__tokarr"),
        HashFunctions.contentHash(col(textCol)).as("__ch"))
      .select(col("source"), col("__lang"), col("__chars"),
        size(col("__tokarr")).as("__toks"), col("__ch"),
        round(q * lit(1e6)).cast("long").as("__q1e6"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("__lang")).as("n_langs"),
        sum(col("__chars")).as("total_chars"),
        sum(col("__toks")).as("total_tokens"),
        countDistinct(col("__ch")).as("n_distinct_contents"),
        sum(col("__q1e6")).as("__qsum"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_chars"), col("total_tokens"),
        round(lit(1.0) - col("n_distinct_contents").cast("double")
          / col("n_docs").cast("double"), 4).as("dup_rate"),
        round(col("__qsum").cast("double") / col("n_docs").cast("double")
          / lit(1e6), 4).as("avg_quality"))
  }

  /** [[packSequences]] for a GIANT stratum (or no stratum at all): the
    * classic two-pass distributed prefix sum instead of a one-reducer
    * window. Pass 1 range-partitions by (stratum, id) — so partition
    * order IS stream order — and computes each partition's local token
    * sum (a tiny aggregate, one row per partition). The per-partition
    * base offsets (exclusive prefix over those sums, grouped per
    * stratum on the driver: O(#partitions), not O(rows)) broadcast
    * back, and pass 2 adds the partition-local running sum in one
    * narrow mapPartitions. Output is identical to [[packSequences]]
    * (PackSpec asserts exact equality); wall-clock now scales with
    * partitions instead of serializing each stratum through one task.
    *
    * A stratum's rows may span several partitions; a partition may hold
    * several strata — both are handled: local sums are tracked PER
    * (partition, stratum), and the base offset for (p, s) sums only
    * earlier partitions' s-sums.
    */
  def packSequencesDistributed(df: DataFrame, idCol: String,
      stratumCol: String, tokenCol: String, budget: Int,
      numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val cum = stratumRunningTotals(df, idCol, stratumCol, tokenCol,
      numPartitions)
    // `div` is SQL integer floor-division — exact for any long, no
    // round-trip through double.
    val packed = cum.select(col("__s").as(stratumCol),
      col("__id").as(idCol),
      expr(s"__cum div $budget").as("chunk_id"),
      (col("__cum") % budget).as("chunk_offset"))
    df.join(packed, Seq(stratumCol, idCol))
  }

  /** [[mixtureBudgetTake]] for a mix of FEW GIANT strata — the same
    * output (MixtureSpec asserts exact equality), but the per-stratum
    * running sum comes from the two-pass distributed prefix sum
    * ([[stratumRunningTotals]]) instead of a one-reducer-per-stratum
    * window. A production mix names a handful of mega-sources next to
    * thousands of small ones; the windowed plan serializes each
    * mega-source through one task, this one scales with partitions.
    */
  def mixtureBudgetTakeDistributed(df: DataFrame, idCol: String,
      stratumCol: String, tokenCol: String,
      weightsPerMille: Map[String, Int], totalTokens: Long,
      numPartitions: Int = 0): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive")
    require(weightsPerMille.values.forall(w => w >= 0 && w <= 1000),
      "weights must be in [0, 1000]")
    val spark = df.sparkSession
    val budgets = spark.createDataFrame(
      weightsPerMille.toSeq.map { case (stratum, w) =>
        (stratum, totalTokens * w / 1000L)
      }).toDF(stratumCol, "__budget")
    val cum = stratumRunningTotals(df, idCol, stratumCol, tokenCol,
      numPartitions)
    // The window in mixtureBudgetTake is INCLUSIVE of the current row;
    // the shared engine's prefix is exclusive — add the row's tokens.
    val incl = cum.select(col("__s").as(stratumCol),
      col("__id").as(idCol), (col("__cum") + col("__tok")).as("__cum"))
    df.join(incl, Seq(stratumCol, idCol))
      .join(broadcast(budgets), Seq(stratumCol), "left")
      .filter(col("__budget") > 0 && col("__cum") <= col("__budget"))
      .withColumn("cum_tokens", col("__cum"))
      // Same output SCHEMA as the windowed mixtureBudgetTake, not just
      // the same rows — drop-in consumers select(*) / unionByName.
      .drop("__cum", "__budget")
  }

  /** Two-pass distributed EXCLUSIVE per-stratum running token sum in
    * (stratum, id) order — the shared engine of
    * [[packSequencesDistributed]] and [[mixtureBudgetTakeDistributed]].
    * Pass 1 range-partitions by (stratum, id) — so partition order IS
    * stream order — and computes each partition's local token sum (a
    * tiny aggregate, one row per (partition, stratum), collected to
    * the driver: bounded by partition count, NOT row count). The
    * exclusive prefix over those sums broadcasts back, and pass 2 adds
    * the partition-local running sum in one narrow mapPartitions — no
    * window, no single-reducer stratum.
    *
    * A stratum's rows may span several partitions; a partition may
    * hold several strata — both are handled: local sums are tracked
    * PER (partition, stratum), and the base offset for (p, s) sums
    * only earlier partitions' s-sums.
    *
    * Returns (__s string, __id long, __tok long, __cum long), PINNED
    * (lineage cut) against range-boundary re-sampling: a re-executed
    * range exchange re-samples its partition boundaries (the sample
    * seed derives from the fresh RDD id), which would desync pass 2's
    * partition membership from pass 1's collected sums.
    */
  private def stratumRunningTotals(df: DataFrame, idCol: String,
      stratumCol: String, tokenCol: String,
      numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .select(col(stratumCol).cast("string").as("__s"),
        col(idCol).cast("long").as("__id"),
        col(tokenCol).cast("long").as("__tok"))
      .repartitionByRange(parts, col("__s"), col("__id"))
      .sortWithinPartitions(col("__s"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val localSums = ranged
      .mapPartitions { it =>
        var pid = -1
        val sums = scala.collection.mutable.LinkedHashMap[String, Long]()
        it.foreach { r =>
          pid = org.apache.spark.TaskContext.getPartitionId()
          sums.updateWith(r.getString(0)) {
            case Some(v) => Some(v + r.getLong(2)); case None => Some(r.getLong(2))
          }
        }
        sums.iterator.map { case (s, sum) => (pid, s, sum) }
      }.collect()
    val base = scala.collection.mutable.Map[(Int, String), Long]()
    localSums.groupBy(_._2).foreach { case (s, rows) =>
      var acc = 0L
      rows.sortBy(_._1).foreach { case (pid, _, sum) =>
        base((pid, s)) = acc
        acc += sum
      }
    }
    val baseB = spark.sparkContext.broadcast(base.toMap)
    val summed = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val running = scala.collection.mutable.Map[String, Long]()
      it.map { r =>
        val (s, id, tok) = (r.getString(0), r.getLong(1), r.getLong(2))
        val cum = baseB.value.getOrElse((pid, s), 0L) +
          running.getOrElse(s, 0L)
        running(s) = running.getOrElse(s, 0L) + tok
        (s, id, tok, cum)
      }
    }.toDF("__s", "__id", "__tok", "__cum")
    val stamped = graft.Checkpoints.pinned(summed)
    ranged.unpersist()
    stamped
  }

  /** Global ORDER BY rank (1-based row_number) — and, with `sumCol`,
    * the EXCLUSIVE running sum — over ARBITRARY order keys, without a
    * single-task window: the generalization of
    * [[stratumRunningTotals]]'s two-pass distributed prefix sum to the
    * `Window.orderBy(...)` (no partitionBy) sites, which WindowExec
    * executes as "move the whole table to one task" (the
    * `WindowExec: No Partition Defined` warning — the guide's §2
    * one-reducer anti-pattern). Pass 1 range-partitions by the order
    * keys — so partition order IS rank order — and collects each
    * partition's (row count, local sum): O(#partitions) driver rows,
    * never O(rows). The exclusive prefix over those broadcasts back
    * and pass 2 stamps rank (+ running sum) in one narrow
    * mapPartitions. Also returns the TOTAL row count and sum — the
    * callers' `count() OVER ()` / `sum() OVER ()` scalars, free from
    * the same pass-1 stats instead of two more single-task windows.
    *
    * `orderCols` must be a TOTAL order (tie-break to a unique column,
    * as any deterministic ranking already must); `sumCol` must be a
    * LongType column. Result is PINNED (lineage cut) for the same
    * reason as [[stratumRunningTotals]]: a re-executed range exchange
    * re-samples its partition boundaries, which would desync pass 2's
    * partition membership from pass 1's collected stats.
    */
  def globalOrderedRank(df: DataFrame, orderCols: Seq[Column],
      rnCol: String, sumCol: Option[String] = None,
      cumCol: String = "__cum", numPartitions: Int = 0)
      : (DataFrame, Long, Long) = {
    val spark = df.sparkSession
    val sumIdx = sumCol.map { c =>
      val i = df.columns.indexOf(c)
      require(i >= 0, s"globalOrderedRank: no column '$c' in " +
        df.columns.mkString("[", ", ", "]"))
      require(df.schema(i).dataType ==
        org.apache.spark.sql.types.LongType,
        s"globalOrderedRank: sum column '$c' must be LongType, got " +
          df.schema(i).dataType)
      i
    }
    // The range exchange SAMPLES its child to pick boundaries — an
    // unpersisted input would run its whole upstream chain twice
    // (once for the sample, once for the materialization), measured
    // as most of the helper's overhead on the classifier-calibration
    // caller. Persist the (skinny) input so upstream evaluates once.
    val in = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // With no explicit numPartitions the range exchange is left
    // WITHOUT a fixed partition count so AQE coalesces it to the
    // advisory size (guide §2.2) — a small aggregate frame collapses
    // to one or two tasks instead of paying numShufflePartitions
    // empty-task overheads, and a 100 TB frame still fans out to
    // advisory-sized ranges. Both passes read the same PERSISTED
    // materialization, so whatever AQE chose, pass-2 membership
    // matches pass-1 stats.
    val ranged =
      (if (numPartitions > 0)
        in.repartitionByRange(numPartitions, orderCols: _*)
      else in.repartitionByRange(orderCols: _*))
      .sortWithinPartitions(orderCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import spark.implicits._
    val local = ranged.mapPartitions { it =>
      var pid = -1
      var n = 0L
      var s = 0L
      it.foreach { r =>
        pid = org.apache.spark.TaskContext.getPartitionId()
        n += 1
        sumIdx.foreach(i => s += r.getLong(i))
      }
      if (n == 0L) Iterator.empty else Iterator.single((pid, n, s))
    }.collect()
    var totalN = 0L
    var totalS = 0L
    val base = local.sortBy(_._1).map { case (pid, n, s) =>
      val b = (pid, (totalN, totalS))
      totalN += n
      totalS += s
      b
    }.toMap
    val baseB = spark.sparkContext.broadcast(base)
    val outSchema = sumIdx match {
      case Some(_) => ranged.schema
        .add(rnCol, org.apache.spark.sql.types.LongType, nullable = false)
        .add(cumCol, org.apache.spark.sql.types.LongType, nullable = false)
      case None => ranged.schema
        .add(rnCol, org.apache.spark.sql.types.LongType, nullable = false)
    }
    val out = ranged.mapPartitions({ it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val (bn, bs) = baseB.value.getOrElse(pid, (0L, 0L))
      var rn = bn
      var cum = bs
      it.map { r =>
        rn += 1
        sumIdx match {
          case Some(i) =>
            val row = org.apache.spark.sql.Row.fromSeq(
              r.toSeq :+ rn :+ cum)
            cum += r.getLong(i)
            row
          case None =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rn)
        }
      }
    })(org.apache.spark.sql.Encoders.row(outSchema))
    val stamped = graft.Checkpoints.pinned(out)
    ranged.unpersist()
    in.unpersist()
    (stamped, totalN, totalS)
  }

  /** DETERMINISTIC CORPUS SHUFFLE — the global training order every
    * run of a corpus must reproduce bit-identically: each row's sort
    * key is the portable seeded hash of its id
    * ([[HashFunctions.stableHash64]], so any engine — including the
    * DuckDB oracle — derives the same order), and `pos` is the row's
    * 0-based position in the (key, id) order. Changing `seed` is a
    * fresh epoch permutation; same seed, same corpus → same order on
    * any cluster, any partitioning.
    *
    * Scale shape: ONE range exchange on the hash key (Spark's
    * distributed sort), then positions by the two-pass trick
    * [[packSequencesDistributed]] uses — per-partition row counts
    * (driver-side O(#partitions)), exclusive prefix, narrow second
    * pass. No global window, no single-reducer row_number.
    *
    * Returns (idCol, shuffle_key, pos); join back to the full rows on
    * idCol (kept skinny here so the exchange moves ids, not text).
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
      numPartitions: Int = 0): DataFrame = {
    // Integral ids only: the silent long cast would null out string
    // ids (collapsing distinct docs and NPE-ing the position pass
    // deep inside a task) — fail at plan time instead.
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"deterministicShuffle needs an integral id column; '$idCol' is " +
          s"$other (hash the string form into a surrogate id first)")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .select(col(idCol).cast("long").as("__id"))
      .withColumn("__k", HashFunctions.stableHash64(
        concat(lit(s"$seed:"), col("__id").cast("string"))))
      .repartitionByRange(parts, col("__k"), col("__id"))
      .sortWithinPartitions(col("__k"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = ranged.mapPartitions { it =>
      var pid = -1
      var n = 0L
      it.foreach { _ =>
        pid = org.apache.spark.TaskContext.getPartitionId(); n += 1
      }
      if (n > 0) Iterator((pid, n)) else Iterator.empty
    }.collect()
    val base = scala.collection.mutable.Map[Int, Long]()
    var acc = 0L
    counts.sortBy(_._1).foreach { case (pid, n) =>
      base(pid) = acc; acc += n
    }
    val baseB = spark.sparkContext.broadcast(base.toMap)
    val positioned = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = baseB.value.getOrElse(pid, 0L)
      it.map { r =>
        val out = (r.getLong(0), r.getLong(1), i); i += 1; out
      }
    }.toDF("__id", "shuffle_key", "pos")
    // Lineage cut BEFORE unpersist — a re-executed range exchange
    // re-samples partition boundaries, which would desync pass 2's
    // membership from the collected counts (same invariant as
    // packSequencesDistributed).
    val stamped = graft.Checkpoints.pinned(positioned)
    ranged.unpersist()
    stamped.select(col("__id").as(idCol), col("shuffle_key"), col("pos"))
  }

  /** BOILERPLATE RATIO: per doc, the fraction of its distinct hashed
    * n-gram shingles that are corpus-common (document frequency >=
    * `minDf`) — the RefinedWeb/C4-style signal for template/navigation
    * text a quality gate thresholds on. Docs too short to shingle are
    * absent from the output (no signal).
    *
    * Two shuffles: the df count over exploded shingles and the per-doc
    * counts. The common-shingle set is the df-filtered tail; pick
    * `minDf` as a corpus-relative rarity bound (boilerplate = "appears
    * in far more docs than organic text would") so the set stays small
    * enough for the join's build side at any scale — the optimizer
    * broadcasts it when it fits.
    */
  def boilerplateRatio(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val sh = Dedup.shingles(docs, idCol, textCol, n)
    val common = sh.groupBy(col("bh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("bh"), lit(1).as("__common"))
    // One per-doc pass: total and common-hit counts from the same
    // left join against the (small, optimizer-broadcast) common set —
    // not a separate semi-join aggregate stitched back on afterwards.
    sh.join(common, Seq("bh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__common")).as("n_common"))
      .select(col("doc_id").as(idCol), col("n_shingles"), col("n_common"),
        round(col("n_common").cast("double") / col("n_shingles"), 4)
          .as("boilerplate_ratio"))
  }

  /** PARAGRAPH-LEVEL exact dedup (the CCNet shape): across the whole
    * corpus, keep only the FIRST occurrence of every distinct text unit
    * (paragraph/line) — ordered by (doc id, position) — and reassemble
    * each document from its surviving units. Docs whose units were all
    * seen earlier come back empty and are dropped.
    *
    * `units`: one row per (idCol, posCol, unitCol). Output: idCol,
    * n_kept, n_dropped, new_text (units joined by \n in position
    * order).
    *
    * Scale shape: one shuffle on the unit text for the first-occurrence
    * window (at 100 TB you'd key the exchange on xxhash64(unit) and
    * carry the text alongside — same plan shape; the string key keeps
    * the oracle exact here), one shuffle back on doc id for
    * reassembly. The in-partition sort_array bounds memory by document
    * size, never corpus size.
    */
  def dedupParagraphs(units: DataFrame, idCol: String, posCol: String,
      unitCol: String): DataFrame = {
    val w = Window.partitionBy(col(unitCol))
      .orderBy(col(idCol), col(posCol))
    val totals = units.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_total"))
    val kept = units
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(posCol).as("p"),
              col(unitCol).as("u")))),
            x => x.getField("u")),
          "\n").as("new_text"))
    totals.join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        col("new_text"))
      .filter(col("n_kept") > 0)
  }

  /** EXACT SUBSTRING-SPAN DEDUP — the token-granular cousin of
    * [[dedupParagraphs]], after the approach popularized for LLM
    * training corpora (remove every duplicated span of at least `k`
    * tokens, wherever it occurs): a token is removed iff it lies
    * inside some k-gram whose exact text occurs at least twice in the
    * corpus (within-document repeats count — a doc's own boilerplate
    * dedups against itself). Fixed-k gram marking is the standard
    * practical approximation of suffix-array substring dedup: every
    * duplicated run of >= k tokens is exactly the union of its
    * duplicated k-windows, so marked-position coverage equals the
    * duplicated-substring coverage at k-token resolution.
    *
    * Output: one row per input doc — (idCol, n_tokens, n_dup_grams,
    * n_removed, clean_text). Docs shorter than k tokens pass through
    * untouched; a doc whose every token is covered returns an empty
    * clean_text (the caller's length filter decides its fate).
    *
    * Scale shape at 100 TB: positional k-gram hashes are ONE in-row
    * native pass per doc ([[graft.functions.NativeHashExprs
    * .positionalKgramHashes]] — 60-bit md5-derived, engine-portable);
    * the duplicated-gram screen is one hash exchange on the gram hash
    * (map-side partial counts), whose exchange ReuseExchange shares
    * with the join back; the per-doc duplicated-position collect is
    * one exchange on doc id, bounded per task by a doc's own gram
    * count. Span merging and token removal happen in-row (interval
    * coverage via flattened index ranges). No driver state, nothing
    * quadratic: a gram repeated R times contributes R posting rows,
    * not R² pairs.
    */
  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2 tokens, got $k")
    val toks = kgramTokens(docs, idCol, textCol, k)
    val grams = kgramPositions(toks, idCol)
    val dupGrams = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("gh"))
    screenCoveredSpans(toks, grams, dupGrams, idCol, k)
  }

  /** (idCol, __toks, __gh): the tokenization + positional k-gram
    * hashes substrate of the substring-dedup family — one native
    * in-row pass per doc.
    */
  private def kgramTokens(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol),
      // The SAME tokenization rule as the native kernel — positional
      // gram indices must match __toks token-for-token.
      graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"),
      graft.functions.NativeHashExprs
        .positionalKgramHashes(col(textCol), k).as("__gh"))

  /** Exploded (idCol, pos, gh) gram postings. Safe explode shape:
    * generate from the materialized-attribute transform, never a bare
    * posexplode over the hash projection (the Dedup.lshBandsFromKeys
    * codegen hazard).
    */
  private def kgramPositions(toks: DataFrame, idCol: String): DataFrame =
    toks.select(col(idCol),
      explode(transform(col("__gh"), (g, i) =>
        struct(i.as("pos"), g.as("gh")))).as("pg"))
      .select(col(idCol), col("pg.pos").as("pos"), col("pg.gh").as("gh"))

  /** Shared tail of the substring-dedup family: positions of `grams`
    * rows whose gh is in `dupGrams` are collected per doc, their
    * k-wide spans merged in-row, covered tokens removed. Span merging
    * and token removal run as LINEAR native two-pointer kernels over
    * the sorted position array ([[graft.functions.NativeHashExprs
    * .removeCoveredTokens]]/[[graft.functions.NativeHashExprs
    * .coveredCount]]) — the per-token `array_contains` membership form
    * was O(tokens × covered) per row, a single mostly-boilerplate
    * 100k-token document stalling its whole task.
    */
  private def screenCoveredSpans(toks: DataFrame, grams: DataFrame,
      dupGrams: DataFrame, idCol: String, k: Int): DataFrame =
    coveredSpanTail(toks,
      grams.join(dupGrams, Seq("gh")).select(col(idCol), col("pos")),
      idCol, k)

  /** Shared final step: `removePos` rows (idCol, pos) name the gram
    * positions each doc loses; their k-wide spans merge in-row and the
    * covered tokens are removed by the linear native kernels.
    */
  private def coveredSpanTail(toks: DataFrame, removePos: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val dupPos = removePos
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__dup_pos"))
    toks.join(dupPos, Seq(idCol), "left")
      .withColumn("__dup_pos",
        coalesce(col("__dup_pos"), typedLit(Array.empty[Int])))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__dup_pos")).cast("long").as("n_dup_grams"),
        graft.functions.NativeHashExprs.coveredCount(col("__dup_pos"), k)
          .cast("long").as("n_removed"),
        graft.functions.NativeHashExprs
          .removeCoveredTokens(col("__toks"), col("__dup_pos"), k)
          .as("clean_text"))
  }

  /** QUALITY-RANKED span survivorship — [[exactSubstringDedup]] where
    * every corpus-duplicated k-gram keeps exactly ONE home instead of
    * none: its highest-`qualityCol` carrier (ties broken to the lowest
    * id — ids must be numeric, like the family's lowest-id-wins exact
    * screens) keeps the span's tokens, every other carrier loses them.
    * Blanket removal deletes repeated boilerplate from the corpus
    * entirely; this attributes each repeated span to its best home, so
    * exactly one intact copy of every span survives corpus-wide.
    *
    * Duplication is counted per OCCURRENCE like the rest of the
    * family, so a span repeated only WITHIN one doc has a single
    * carrier — that doc wins its own span and keeps both copies (the
    * in-doc repetition gates are [[repetitionSignals]]' job).
    *
    * Same shape as [[exactSubstringDedup]] plus one winner resolution:
    * gram explosion → per-gram argmax over (quality, -id) → loser
    * positions → native span-merge removal. One extra hash aggregate
    * over the gram stream; no new shuffle family at scale.
    */
  def exactSubstringDedupKeepBest(corpus: DataFrame, idCol: String,
      textCol: String, qualityCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2 tokens, got $k")
    val toks = kgramTokens(corpus, idCol, textCol, k)
    val grams = kgramPositions(toks, idCol)
    val q = corpus.select(col(idCol),
      col(qualityCol).cast("double").as("__q"))
    val winners = grams.join(q, Seq(idCol))
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("__cnt"),
        min_by(col(idCol),
          struct((-col("__q")).as("__nq"), col(idCol).as("__id")))
          .as("__win"))
      .filter(col("__cnt") >= 2)
      .select(col("gh"), col("__win"))
    val loserPos = grams.join(winners, Seq("gh"))
      .filter(col(idCol) =!= col("__win"))
      .select(col(idCol), col("pos"))
    coveredSpanTail(toks, loserPos, idCol, k)
  }

  /** INCREMENTAL [[exactSubstringDedup]] — the daily shape at 100 TB,
    * where recomputing corpus-wide gram frequencies per ingest wave is
    * an O(corpus) job to serve an O(batch) screen. A standing
    * GRAM-FREQUENCY store at `dir` (per-gram occurrence counts,
    * appended per batch as committed `b<id>` generations on the shared
    * [[graft.sources.Commits]] ledger — sum-merge on read, so a
    * mutation writes O(batch) and never rewrites the store) carries
    * the corpus history; a batch doc's token is removed iff its gram's
    * batch count plus STORE count reaches 2 — i.e. the span is
    * duplicated against everything ever ingested, including the batch
    * itself. Forward-only by design: earlier generations' documents
    * are not retro-cleaned when a later batch duplicates them (the
    * screen gates what ENTERS the corpus), which is the same reading
    * as the near-dup ingest gate.
    *
    * Scale shape: the store side is SCOPED to the batch's gram set
    * with a semi-join BEFORE its sum (the batch's distinct grams
    * broadcast; only matching store rows aggregate) — the
    * [[graft.sources.Commits.scopeMutationResolve]] discipline, so
    * screen cost follows the batch, not the accumulated corpus.
    *
    * This SCREENS only. Call [[gramIndexAppend]] with the same batch
    * afterwards to advance the store — on the AS-DELIVERED text, not
    * the cleaned text: a span that first became duplicated WITHIN the
    * batch is removed from every copy, so cleaned-text counts would
    * record zero occurrences and the next wave's copy would pass the
    * screen (the inflation of already-duplicated spans' counts is
    * harmless — the screen only tests >= 2).
    */
  def exactSubstringDedupIncremental(batch: DataFrame, idCol: String,
      textCol: String, k: Int, dir: String): DataFrame = {
    requireGramK(batch.sparkSession, dir, k, pin = false)
    exactSubstringDedupAgainst(batch, idCol, textCol, k,
      readGramStore(batch.sparkSession, dir))
  }

  /** Pin (write paths) or check (all paths) a gram store's span length.
    *
    * The gram hash space EMBEDS k — the hash input is the k-token
    * string — so two callers disagreeing on k never collide loudly:
    * the mismatched screen finds no duplicated grams against the
    * store's accumulated counts and silently passes everything, which
    * is the worst failure mode a dedup gate can have. The store
    * records its k in a `_gram_k` marker on first write; every later
    * write and incremental screen refuses a different k. Stores
    * written before the marker existed check clean until their next
    * append pins them (a read path never writes the marker).
    */
  def requireGramK(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, pin: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_gram_k")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(): Unit = {
      val out = fs.create(p, true)
      try out.write(k.toString.getBytes("UTF-8")) finally out.close()
    }
    if (fs.exists(p)) {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      txt.toIntOption match {
        case Some(stored) => require(stored == k,
          s"$dir is a k=$stored gram store; refusing k=$k (the gram hash " +
            "embeds k, so a mixed-k screen would silently match nothing)")
        case None =>
          // A truncated marker (crash mid-create) must not brick the
          // store: warn, and let a write path re-pin. The counts the
          // crashed writer may have committed under a DIFFERENT k are
          // unknowable from here — that is the marker's own crash
          // window (one tiny create), not a new hazard.
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"requireGramK: unreadable _gram_k marker '$txt' under $dir" +
              (if (pin) s" - re-pinning to k=$k" else ""))
          if (pin) write()
      }
    } else if (pin) write()
  }

  /** [[exactSubstringDedupIncremental]] with the store's (gh, df) rows
    * passed as a frame (repeated gh rows across generations sum) —
    * the composable form for stores whose gram table lives under a
    * SHARED ledger with other tables ([[graft.streaming.Streams
    * .substringIngestBatch]]'s docs+grams store), where reading
    * committed generations is the caller's job.
    *
    * `scopeStore` is the [[graft.sources.Commits.scopeMutationResolve]]
    * trade for this path: true (default, right for micro-batches)
    * semi-joins the store down to the batch's gram set BEFORE its sum,
    * so the screen costs O(batch) — but a backfill-sized batch makes
    * that gram set non-broadcastable and the semi-join degrades to a
    * corpus-wide shuffle; pass false for batches approaching the store
    * to aggregate the whole store once instead.
    *
    * K-PIN HAZARD: this frame-based form cannot verify the store rows'
    * span length — (gh, df) rows carry no provenance, and a store
    * built at a different k hashes a DISJOINT gram space, so the
    * screen would silently match nothing and pass everything. The
    * dir-based paths ([[exactSubstringDedupIncremental]],
    * [[gramIndexAppend]], `Streams.substringIngestBatch`) check the
    * store's `_gram_k` marker ([[requireGramK]]); a caller composing
    * its own store read owns that check.
    */
  def exactSubstringDedupAgainst(batch: DataFrame, idCol: String,
      textCol: String, k: Int, store: Option[DataFrame],
      scopeStore: Boolean = true): DataFrame = {
    require(k >= 2, s"span length k must be >= 2 tokens, got $k")
    val toks = kgramTokens(batch, idCol, textCol, k)
    val grams = kgramPositions(toks, idCol)
    val batchCnt = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("__bdf"))
    val dupGrams = store match {
      case None => batchCnt.filter(col("__bdf") >= 2).select(col("gh"))
      case Some(s) =>
        val scoped =
          if (scopeStore)
            s.join(batchCnt.select(col("gh")), Seq("gh"), "left_semi")
              .groupBy(col("gh")).agg(sum(col("df")).as("__sdf"))
          else s.groupBy(col("gh")).agg(sum(col("df")).as("__sdf"))
        batchCnt.join(scoped, Seq("gh"), "left")
          .filter(col("__bdf") + coalesce(col("__sdf"), lit(0L)) >= 2)
          .select(col("gh"))
    }
    screenCoveredSpans(toks, grams, dupGrams, idCol, k)
  }

  /** Per-gram occurrence counts (gh, df) of `docs` — the unit every
    * gram-store generation holds.
    */
  def gramCounts(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    kgramPositions(kgramTokens(docs, idCol, textCol, k), idCol)
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))

  /** The gram store: one additive table of (gh, df, batch) counts at
    * the store dir ([[graft.sources.AdditiveStore]]). */
  private[graft] val GramStore =
    new graft.sources.AdditiveStore(Seq(gramTable("")))

  /** A gram-count table of an additive store at `dir`: a fold sums
    * `df` per gram under the fold's id. */
  private[graft] def gramTable(dir: String) =
    graft.sources.AdditiveStore.Table(dir, (rows, id) =>
      rows.groupBy(col("gh")).agg(sum(col("df")).as("df"))
        .withColumn("batch", lit(id)))

  /** The gram store's live counts (repeated gh rows across generations
    * sum); None while nothing is committed. */
  def readGramStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = GramStore.read(spark, dir)

  /** FOLD the gram store's generation count down to `maxBatches`
    * ([[graft.sources.AdditiveStore.fold]]). Returns generations folded.
    */
  def gramIndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBatches: Int = 16): Int =
    GramStore.fold(spark, dir, maxBatches)

  /** Append `docs`' per-gram occurrence counts to the standing
    * gram-frequency store at `dir` as one committed generation —
    * writer-lease serialized, attempt-marker id allocation, commit
    * marker LAST (crash anywhere earlier leaves an invisible orphan
    * generation). Returns the number of distinct grams appended.
    */
  def gramIndexAppend(docs: DataFrame, idCol: String, textCol: String,
      k: Int, dir: String): Long =
   graft.sources.Commits.withWriterLock(docs.sparkSession, dir) {
    val spark = docs.sparkSession
    requireGramK(spark, dir, k, pin = true)
    val counts = gramCounts(docs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = counts.count()
    if (n > 0) {
      val batchId = graft.sources.Commits
        .allocateBatchId(spark, dir)
      counts.withColumn("batch", lit(batchId))
        .write.mode("errorifexists").parquet(s"$dir/b$batchId")
      graft.sources.Commits.commit(spark, dir, batchId)
    }
    counts.unpersist()
    n
   }

  /** Gopher-style REPETITION signals per document, from pre-split text
    * units (lines/paragraphs): the duplicate-unit fraction, the
    * fraction of characters living in duplicated units, and the
    * character share of the single most repeated unit — the gates that
    * catch listing/template spam exact-dedup misses.
    *
    * Two hash aggregates — (doc, unit) counts, then per-doc — both with
    * map-side partial aggregation; no windows, no full-row
    * materialization. Per-task memory is bounded by distinct units per
    * doc, never corpus size.
    */
  def repetitionSignals(units: DataFrame, idCol: String,
      unitCol: String): DataFrame = {
    val perUnit = units
      .groupBy(col(idCol), col(unitCol))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__chars", col("__cnt") * length(col(unitCol)))
    perUnit
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_units"),
        count(lit(1)).as("n_distinct"),
        sum(col("__chars")).as("n_chars_total"),
        sum(when(col("__cnt") > 1, col("__chars")).otherwise(0L))
          .as("n_chars_dup"),
        max(col("__chars")).as("__max_unit_chars"))
      .select(col(idCol), col("n_units"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_units"), 4)
          .as("dup_unit_frac"),
        round(col("n_chars_dup").cast("double") / col("n_chars_total"), 4)
          .as("dup_char_frac"),
        round(col("__max_unit_chars").cast("double") / col("n_chars_total"), 4)
          .as("top_unit_char_frac"))
  }

  /** Persist the benchmark's distinct hashed-shingle index — the
    * standing screen a continuous ingest decontaminates against
    * (`Streams.decontamNeardupIngestBatch`). Benchmark suites are
    * KB-MB scale, so the index is one small parquet dir built once per
    * benchmark release and broadcast on every use.
    */
  def buildBenchmarkIndex(benchmark: DataFrame, idCol: String,
      textCol: String, n: Int, dir: String): Unit =
    Dedup.shingles(benchmark, idCol, textCol, n)
      .select(col("bh")).distinct()
      .write.mode("overwrite").parquet(dir)

  /** `decontaminate` against a prebuilt benchmark shingle index
    * (as written by [[buildBenchmarkIndex]]).
    */
  def decontaminateAgainstIndex(docs: DataFrame, benchShingles: DataFrame,
      idCol: String, textCol: String, n: Int,
      minOverlap: Int, broadcastIndex: Boolean = true): DataFrame =
    docs.join(
      contaminationReport(docs, benchShingles, idCol, textCol, n,
        minOverlap, broadcastIndex).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** CONTAMINATION REPORT — the audit surface behind
    * [[decontaminateAgainstIndex]]'s binary drop: per doc reaching
    * `minOverlap`, its distinct-shingle overlap count with the
    * benchmark index, so a decontamination pass can be reviewed
    * (which docs would go, and how hard they hit) before it runs.
    * Same shape as the drop: broadcast semi-join against the KB-MB
    * benchmark shingle set, then one doc_id aggregation over only the
    * rows that hit — the corpus itself never shuffles.
    * `broadcastIndex = false` for a corpus-proportional held-out side
    * (see [[decontaminate]]).
    */
  def contaminationReport(docs: DataFrame, benchShingles: DataFrame,
      idCol: String, textCol: String, n: Int,
      minOverlap: Int, broadcastIndex: Boolean = true): DataFrame = {
    require(minOverlap > 0, s"minOverlap must be positive, got $minOverlap")
    val index = benchShingles.select(col("bh"))
    Dedup.shingles(docs, idCol, textCol, n)
      .join(if (broadcastIndex) broadcast(index) else index, Seq("bh"),
        "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc_id").as(idCol), col("n_overlap"))
  }

  /** DSIR-style IMPORTANCE-weighted data selection (Xie et al. 2023):
    * score every document by how much its hashed-unigram distribution
    * looks like a TARGET domain rather than the raw corpus, and keep
    * the top `k` — the data-selection step between quality filtering
    * and mixture sampling when a pipeline wants "more like this slice"
    * without a trained classifier.
    *
    * Mechanics (bit-shared with the DuckDB oracle): every token hashes
    * to one of `buckets` features (60-bit md5 hash, pmod); one
    * aggregate over the exploded corpus yields per-bucket raw and
    * target counts (map-side combined to <= `buckets` partials); each
    * bucket's weight is the add-one-smoothed log-likelihood ratio
    *   `round((ln((tgt_b+1)/(T+B)) - ln((raw_b+1)/(R+B))) * 1e6)`
    * in integer micro-units (computed IN-PLAN so both engines round
    * identically); a doc's score is the exact BIGINT sum of its
    * tokens' bucket weights. Zero-token docs are not scored.
    *
    * Scale shape: the weight table is `buckets` rows — driver-bounded
    * by construction, like the IVF/PQ codebooks — and ships back as
    * ONE map literal, so the scoring pass is a pure per-row fold over
    * the token array: no join, no shuffle, no explode of the corpus on
    * the second pass. Two corpus scans total (count, score) plus a
    * TakeOrderedAndProject for the top-k.
    */
  def importanceTopK(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int, k: Int): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 20),
      s"buckets must be in (0, 2^20], got $buckets")
    val bucketsOf = transform(
      graft.functions.TextFunctions.tokens(col(textCol)),
      t => pmod(HashFunctions.stableHash64(t), lit(buckets.toLong)))
    val featurized = docs.select(col(idCol).as("doc_id"),
      isTarget.as("__t"), bucketsOf.as("__bs"))

    // One aggregate: per-bucket raw and target occurrence counts.
    val cnts = featurized
      .select(col("__t"), explode(col("__bs")).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("tc"))
    val tot = cnts.agg(sum(col("rc")), sum(col("tc"))).head()
    val (rTot, tTot) = (tot.getLong(0), tot.getLong(1))
    // Weights rounded IN-PLAN (Catalyst round = half away from zero,
    // same as DuckDB round — weights can be negative, where JVM
    // math.round would disagree on exact halves).
    val weights: Map[Long, Long] = cnts
      .select(col("b"),
        round((log((col("tc") + lit(1L)).cast("double") /
            lit((tTot + buckets).toDouble)) -
          log((col("rc") + lit(1L)).cast("double") /
            lit((rTot + buckets).toDouble))) * lit(1e6)).cast("long")
          .as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wmap = typedLit(weights)

    featurized
      .select(col("doc_id"), size(col("__bs")).cast("long").as("n_tokens"),
        aggregate(col("__bs"), lit(0L),
          (acc, b) => acc + element_at(wmap, b)).as("score_1e6"))
      .filter(col("n_tokens") > 0)
      .orderBy(col("score_1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** SNAPSHOT DIFF: per-key metric deltas between two aggregate
    * frames (e.g. per-source corpus rollups of two corpus versions) —
    * the release-to-release data-ops check ("which sources grew,
    * shrank, appeared, vanished, and by how many tokens"). Full-outer
    * on the key; every metric becomes `<m>_delta = after - before`
    * (absent side counts 0, exact integers); `status` is
    * added/removed/common. One join of two already-aggregated frames.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCol: String,
      metricCols: Seq[String]): DataFrame = {
    require(metricCols.nonEmpty, "snapshotDiff needs at least one metric")
    val b = before.select(col(keyCol) +:
      lit(1).as("__in_b") +:
      metricCols.map(m => col(m).cast("long").as(s"__b_$m")): _*)
    val a = after.select(col(keyCol) +:
      lit(1).as("__in_a") +:
      metricCols.map(m => col(m).cast("long").as(s"__a_$m")): _*)
    b.join(a, Seq(keyCol), "full_outer")
      .select(col(keyCol) +:
        when(col("__in_b").isNull, "added")
          .when(col("__in_a").isNull, "removed")
          .otherwise("common").as("status") +:
        metricCols.map(m =>
          (coalesce(col(s"__a_$m"), lit(0L)) -
            coalesce(col(s"__b_$m"), lit(0L))).as(s"${m}_delta")): _*)
  }

  /** CURRICULUM PHASES: order the whole corpus by a quality score
    * (best first, id tie-break) and cut the resulting token stream
    * into fixed-budget training phases — curriculum learning's data
    * side ("feed the cleanest tokens first, anneal into the tail").
    * Returns (idCol, scoreCol, tokenCol, cum_tokens EXCLUSIVE, phase).
    *
    * 100 TB shape: the global order is ONE range exchange on
    * (-score, id) — Spark's distributed sort — and the running token
    * sum is the same two-pass trick [[deterministicShuffle]] uses:
    * per-partition token sums (driver-side O(#partitions)), exclusive
    * prefix, narrow second pass. No global window, no single reducer.
    * Result is pinned (lineage cut) against range-boundary
    * re-sampling, the shared invariant of the two-pass family.
    */
  def curriculumPhases(df: DataFrame, idCol: String, scoreCol: String,
      tokenCol: String, phaseBudget: Long,
      numPartitions: Int = 0): DataFrame = {
    require(phaseBudget > 0, s"phaseBudget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .select(col(idCol).cast("long").as("__id"),
        col(scoreCol).cast("long").as("__sc"),
        col(tokenCol).cast("long").as("__tok"))
      .withColumn("__neg", -col("__sc"))
      .repartitionByRange(parts, col("__neg"), col("__id"))
      .sortWithinPartitions(col("__neg"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = ranged.mapPartitions { it =>
      var pid = -1
      var s = 0L
      it.foreach { r =>
        pid = org.apache.spark.TaskContext.getPartitionId()
        s += r.getLong(2)
      }
      if (pid >= 0) Iterator((pid, s)) else Iterator.empty
    }.collect()
    val base = scala.collection.mutable.Map[Int, Long]()
    var acc = 0L
    sums.sortBy(_._1).foreach { case (pid, s) => base(pid) = acc; acc += s }
    val baseB = spark.sparkContext.broadcast(base.toMap)
    val cum = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var run = baseB.value.getOrElse(pid, 0L)
      it.map { r =>
        val out = (r.getLong(0), r.getLong(1), r.getLong(2), run)
        run += r.getLong(2)
        out
      }
    }.toDF("__id", "__sc", "__tok", "cum_tokens")
    val stamped = graft.Checkpoints.pinned(cum)
    ranged.unpersist()
    stamped.select(col("__id").as(idCol), col("__sc").as(scoreCol),
      col("__tok").as(tokenCol), col("cum_tokens"),
      expr(s"cum_tokens div $phaseBudget").as("phase"))
  }

  /** TEMPERATURE-SCALED mixture sampling (the multilingual-corpus
    * rebalancing recipe: sample source i with probability proportional
    * to n_i^alpha, alpha = 0.5, so head sources shrink and tail
    * sources survive). Per-source rates derive from the live corpus
    * itself — no hand-written weight map — then docs keep/drop by the
    * same stable-hash-threshold mechanism as [[stratifiedSample]]
    * (no rand(), reproducible, pushes to the scan).
    *
    * Exact integer derivation (both engines reproduce it bit-for-bit):
    * weight w_i = floor(sqrt(n_i * 1e6)) — sqrt is IEEE-754
    * correctly-rounded in the JVM and in DuckDB, so the floor is
    * portable; target t_i = budgetDocs * w_i div sum(w); rate per
    * mille = min(1000, t_i * 1000 div n_i). Sampling is
    * expected-rate (hash-threshold), the same contract as
    * [[stratifiedSample]].
    *
    * 100 TB shape: one count aggregate (rows bounded by #sources), the
    * rate frame broadcasts back, the filter is narrow. `n_i * 1e6`
    * stays exact in the double sqrt up to ~9e9 docs per source.
    *
    * Returns the kept rows with their stratum's `rate_pm` stamped.
    */
  def temperatureSample(df: DataFrame, idCol: String, stratumCol: String,
      budgetDocs: Long): DataFrame = {
    require(budgetDocs > 0, s"budgetDocs must be positive, got $budgetDocs")
    val sizes = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w",
        floor(sqrt(col("__n").cast("double") * lit(1e6))).cast("long"))
    val totW = sizes.agg(sum(col("__w"))).head().getLong(0)
    val rates = sizes.select(col(stratumCol), col("__n"), col("__w"))
      .withColumn("rate_pm",
        least(lit(1000L),
          expr(s"($budgetDocs * __w div $totW) * 1000 div __n")))
      .drop("__n", "__w")
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(
        HashFunctions.stableHash64(col(idCol).cast("string")) % 1000 <
          col("rate_pm"))
  }

  /** UNIMAX token-budget allocation (Chung et al. 2023): spread a
    * total training budget UNIFORMLY across sources, capping each at
    * `epochCap` epochs of its own size — the fairest mix that never
    * over-repeats a small source. Exact integer waterfill:
    * sort sources by cap = epochCap * n ascending; source r is CAPPED
    * iff giving every not-yet-filled source its cap level still fits
    * (`cap_r * (N - r + 1) <= budget - prefix_{r-1}`); the uncapped
    * rest split the remaining budget evenly (integer level L, the
    * first `remainder` of them in (cap, stratum) order get +1 so the
    * allocations sum EXACTLY to min(budget, sum(cap))).
    *
    * Runs entirely on the per-source frame (rows bounded by #sources —
    * thousands at most), so the unpartitioned windows are fine at any
    * corpus scale; the heavy work is whatever aggregate produced
    * `sizes`. Returns (stratum, sizeCol, cap, alloc, epochs_milli).
    */
  def unimaxAllocate(sizes: DataFrame, stratumCol: String, sizeCol: String,
      budget: Long, epochCap: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(epochCap > 0, s"epochCap must be positive, got $epochCap")
    val w = Window.orderBy(col("__cap"), col(stratumCol))
    val full = Window.orderBy(col("__cap"), col(stratumCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = sizes
      .select(col(stratumCol), col(sizeCol).cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__cap", col("__n") * epochCap)
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__pfx", sum(col("__cap")).over(w))
      .withColumn("__nsrc", count(lit(1)).over(full))
      .withColumn("__capped",
        col("__cap") * (col("__nsrc") - col("__r") + 1L) <=
          lit(budget) - (col("__pfx") - col("__cap")))
      .withColumn("__rstar",
        coalesce(max(when(col("__capped"), col("__r"))).over(full), lit(0L)))
      .withColumn("__pfxstar",
        coalesce(max(when(col("__capped"), col("__pfx"))).over(full),
          lit(0L)))
    staged
      .withColumn("__level",
        when(col("__nsrc") > col("__rstar"),
          expr(s"($budget - __pfxstar) div (__nsrc - __rstar)"))
          .otherwise(lit(0L)))
      .withColumn("__rem",
        when(col("__nsrc") > col("__rstar"),
          expr(s"($budget - __pfxstar) % (__nsrc - __rstar)"))
          .otherwise(lit(0L)))
      .withColumn("alloc",
        when(col("__capped"), col("__cap"))
          .otherwise(col("__level") +
            when(col("__r") - col("__rstar") <= col("__rem"), 1L)
              .otherwise(0L)))
      .select(col(stratumCol), col("__n").as(sizeCol),
        col("__cap").as("cap"), col("alloc"),
        expr("alloc * 1000 div __n").as("epochs_milli"))
  }

  /** LENGTH-BUCKETED BATCH assembly: group docs into token-length
    * buckets (`bucket = n_tokens div bucketWidth`) and cut each
    * bucket, in id order, into fixed-size training batches — the
    * padding-efficiency batching every seq2seq/encoder pipeline runs.
    * Returns the per-batch manifest: doc count, max/sum token length,
    * and `pad_waste` (tokens of padding a max-length-padded batch
    * burns) — the number the bucketWidth/batchSize trade-off tunes.
    *
    * 100 TB shape: the per-bucket 0-based index comes from the
    * two-pass distributed prefix sum ([[stratumRunningTotals]] over
    * unit weights), not a one-reducer-per-bucket window — buckets are
    * few and huge, exactly the giant-stratum shape. One final
    * hash-aggregate on (bucket, batch).
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokenCol: String,
      bucketWidth: Int, batchSize: Int): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive")
    require(batchSize > 0, s"batchSize must be positive")
    val based = df
      .select(col(idCol).cast("long").as("__doc"),
        col(tokenCol).cast("long").as("__tok"))
      .withColumn("__bucket", expr(s"__tok div $bucketWidth"))
      .withColumn("__one", lit(1L))
    val idx = stratumRunningTotals(based, "__doc", "__bucket", "__one", 0)
      .select(col("__s").cast("long").as("bucket"),
        col("__id").as("__doc"), col("__cum").as("__idx"))
    based.join(idx, Seq("__doc"))
      .select(col("bucket"), expr(s"__idx div $batchSize").as("batch_id"),
        col("__tok"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("__tok")).as("max_tokens"),
        sum(col("__tok")).as("sum_tokens"))
      .withColumn("pad_waste",
        col("max_tokens") * col("n_docs") - col("sum_tokens"))
  }

  /** MEDIAN-ABSOLUTE-DEVIATION outlier gate — the robust twin of the
    * IQR fences (`pl_iqr_outliers`) for distributions where even the
    * quartiles are dragged by a heavy tail: median and MAD are
    * 50%-breakdown estimators. Flags values outside
    * `median ± k * MAD`. Exact over integer inputs: Spark's
    * `percentile` and DuckDB's `quantile_cont` interpolate
    * identically, and the fence arithmetic is the same double ops in
    * the same order on both sides.
    *
    * Two aggregate passes (median, then MAD of deviations) each
    * cross-joining a ONE-ROW broadcast stats frame — the same
    * stats-then-apply shape as the IQR gate. Memory: Spark's exact
    * percentile buffers (value -> count), bounded by the DISTINCT
    * value domain, not row count.
    */
  def madOutliers(df: DataFrame, valueCol: String,
      k: Double = 3.0): DataFrame = {
    val v = df.select(col(valueCol).cast("long").as("__v"))
    val med = v.agg(expr("percentile(__v, 0.5)").as("med"))
    val mad = v.crossJoin(broadcast(med))
      .groupBy(col("med"))
      .agg(expr("percentile(abs(__v - med), 0.5)").as("mad"))
    val lo = col("med") - lit(k) * col("mad")
    val hi = col("med") + lit(k) * col("mad")
    v.crossJoin(broadcast(mad))
      .groupBy(col("med"), col("mad"))
      .agg(sum(when(col("__v") < lo, 1L).otherwise(0L)).as("n_low"),
        sum(when(col("__v") > hi, 1L).otherwise(0L)).as("n_high"))
      .select(round(col("med"), 2).as("median_v"),
        round(col("mad"), 2).as("mad_v"),
        round(lo, 2).as("lo_fence"), round(hi, 2).as("hi_fence"),
        col("n_low"), col("n_high"))
  }

  /** DISTRIBUTION DRIFT between strata: the exact two-sample
    * Kolmogorov–Smirnov statistic `max_v |F_a(v) - F_b(v)|` for every
    * stratum pair, over an integer value column — the snapshot-vs-
    * snapshot / source-vs-source data-QA check that catches a length
    * or score distribution silently shifting. Integer-exact: each
    * ECDF step is `cum * 1e6 div n` (per-source micro-units, no
    * overflow for sources under ~9e12 rows), the statistic is the max
    * absolute difference of those integers — both engines reproduce
    * it bit-for-bit.
    *
    * Shape: one (stratum, value) count aggregate; the ECDF grid is
    * |distinct values| x |strata| rows (value DOMAIN bounded — e.g.
    * document lengths — not row-count bounded), built by
    * cross-joining the distinct-value frame with the BROADCAST
    * per-stratum totals (rows = #strata, tiny by construction); one
    * window per stratum over the grid; the pair join fans each value
    * to #strata^2 rows before the max-aggregate — intended for the
    * tens-to-hundreds-of-sources regime.
    */
  def distributionDrift(df: DataFrame, stratumCol: String,
      valueCol: String): DataFrame = {
    val v = df.select(col(stratumCol).as("__s"),
      col(valueCol).cast("long").as("__v"))
    val cnt = v.groupBy(col("__s"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val totals = cnt.groupBy(col("__s")).agg(sum(col("__c")).as("__n"))
    val grid = cnt.select(col("__v")).distinct()
      .crossJoin(broadcast(totals))
      .join(cnt, Seq("__s", "__v"), "left")
      .na.fill(0L, Seq("__c"))
    val ecdf = grid
      .withColumn("__f", expr("sum(__c) OVER (PARTITION BY __s " +
        "ORDER BY __v) * 1000000 div __n"))
    val a = ecdf.select(col("__s").as("src_a"), col("__v"),
      col("__f").as("__fa"))
    val b = ecdf.select(col("__s").as("src_b"), col("__v"),
      col("__f").as("__fb"))
    a.join(b, Seq("__v"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(abs(col("__fa") - col("__fb"))).as("ks_micro"))
  }
}
