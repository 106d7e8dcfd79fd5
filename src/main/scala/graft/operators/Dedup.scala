package graft.operators

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for the training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH banding, n-gram Jaccard with
  * blocking, and SimHash with band-blocked Hamming pairs.
  *
  * Scale stance (100 TB):
  *   - Exact dedup is a single hash-shuffle on the 64-hex content hash.
  *   - Per-document signatures (MinHash, SimHash) are computed INSIDE
  *     array expressions — `array_min`/`filter`/`transform` over the
  *     shingle/token array of each row. No explode, no groupBy: the
  *     signature stage is embarrassingly parallel with zero shuffle,
  *     which is what survives a 1000-executor scale-up.
  *   - MinHash-LSH never materializes all pairs: docs are joined only
  *     within equal LSH-band buckets (the candidate set), then verified.
  *   - Jaccard verification joins each candidate pair to the two
  *     documents' distinct-shingle ARRAYS and intersects in-row
  *     (`array_intersect`), instead of re-exploding the corpus per side.
  *   - The raw shingle-blocking join caps shingle document frequency
  *     (hot shingles are dropped from blocking, the standard guard
  *     against quadratic blow-up on stop-shingles).
  *   - All hashes are md5-derived (`HashFunctions.stableHash64`) —
  *     deterministic, seedable, and reproducible in any engine.
  */
object Dedup {

  /** Exact dedup by whitespace-normalized sha256: one row per distinct
    * content hash, keeping the lowest id as the canonical representative
    * (the reference's ON CONFLICT (content_hash) DO NOTHING,
    * `/root/reference/db/postgres_store.py:84-103`).
    */
  def exactByContent(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("content_hash", HashFunctions.contentHash(col(textCol)))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, sh_set) — the distinct word n-gram shingles of each doc as
    * an array column. Docs with no shingles (fewer than n tokens) are
    * dropped, matching the exploded form where they produce no rows.
    */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        array_distinct(TextFunctions.shingles(col(textCol), n)).as("sh_set"))
      .filter(size(col("sh_set")) > 0)

  /** (doc_id, hs) — the distinct shingles as their 60-bit md5-derived
    * hashes (hashed shingling). Every downstream stage — blocking keys,
    * intersection counts, MinHash bases — needs shingle IDENTITY, not
    * the text, and 8-byte longs through the shuffles beat 20+-char
    * strings. 60-bit space makes collisions negligible, and the SQL
    * oracle hashes identically so both engines see the same sets.
    *
    * Computed by the fused native expression (one in-row pass;
    * bit-identical to `array_distinct(transform(shingleArrays,
    * stableHash64))`, which ran interpreted and quadratic per doc —
    * see [[graft.functions.NativeHashExprs]]).
    */
  def hashedShingleArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeHashExprs.hashedShingles(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Exploded (doc_id, bh) hashed-shingle pairs — only needed where a
    * shingle-keyed inverted index is genuinely required (blocking).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    hashedShingleArrays(docs, idCol, textCol, n)
      .select(col("doc_id"), explode(col("hs")).as("bh"))

  /** Universal-hash family for MinHash: h_i(x) = (a_i*(x mod p) + b_i)
    * mod p over a 31-bit prime, so products stay under 2^62 — identical
    * (overflow-free) arithmetic in Spark and the SQL oracle. One strong
    * md5-derived base hash per shingle; the k signature hashes are pure
    * arithmetic on it, which is what makes 128 hashes affordable.
    */
  val MinhashPrime = 2147483647L

  /** Deterministic (a_i, b_i) coefficients, a_i != 0. */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      (HashFunctions.stableHash64Local(s"mh:a:$i") % (MinhashPrime - 1) + 1,
        HashFunctions.stableHash64Local(s"mh:b:$i") % MinhashPrime)
    }

  /** MinHash signature columns mh0..mh{k-1}: per doc, the min universal
    * hash over its hashed shingle set (doc_id, hs) — computed in-row
    * (no explode, no shuffle), all k hashes in ONE pass over the array
    * via the fused native expression (the k-`transform` builtin form
    * ran k interpreted passes per row). The signature array gets its
    * own projection; the mh columns are cheap element_at reads of it
    * (CollapseProject keeps the non-cheap array expression single).
    */
  def minhashSignatures(hashedShingles: DataFrame, numHashes: Int): DataFrame =
    hashedShingles
      .select(col("doc_id"),
        graft.functions.NativeHashExprs.minhashSig(col("hs"),
          minhashCoeffs(numHashes), MinhashPrime).as("sig"))
      .select(col("doc_id") +:
        (0 until numHashes).map(i =>
          element_at(col("sig"), i + 1).as(s"mh$i")): _*)

  /** Per-doc LSH band-key ARRAY: (doc_id, band_keys) with one row per
    * doc, band_keys(b) = the 60-bit md5-derived hash of band b's
    * concatenated minhashes (same truncation the shingle hashes use —
    * 8-byte longs through every shuffle, reproducible in any engine).
    * This compact form is the band STORAGE format for standing stores
    * (16 longs per doc beats 16 exploded rows of 32-char md5 strings)
    * and what the candidate join carries in-row for witness dedup.
    */
  def lshBandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val keyCols = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      conv(substring(md5(concat_ws("_", cols: _*)), 1, 15), 16, 10)
        .cast("long")
    }
    sigs.select(col("doc_id"), array(keyCols: _*).as("band_keys"))
  }

  /** Exploded banded form of [[lshBandKeys]] output: (doc_id, band,
    * band_key, band_keys) — one row per (doc, band), each row still
    * carrying the doc's full key array so the candidate join can
    * compute a pair's minimum matching band IN-ROW (witness dedup).
    *
    * The generator is `explode(transform(band_keys, …))`, NOT
    * `posexplode(band_keys)` — a measured 20× whole-stage-codegen
    * difference on the SAME logical rows when `band_keys` is an
    * unmaterialized expensive projection (fresh [[lshBandKeys]]
    * output): with a bare posexplode over the attribute, the child
    * Project's band-key array (16 md5s over the 128-element native
    * minhash signature) ends up re-evaluated inside the per-output-row
    * Generate loop (~16×/doc — 20.3 s vs ~1 s at sf0.1, BENCH_r11's
    * one regression), while the transform-wrapped generator forces the
    * array to evaluate once per INPUT row before the loop.
    * PlanRegressionSpec pins the shape (no bare posexplode in the
    * dd_* plans).
    */
  def lshBandsFromKeys(keys: DataFrame): DataFrame =
    keys
      .select(col("doc_id"), col("band_keys"),
        explode(transform(col("band_keys"), (k, i) =>
          struct(i.as("band"), k.as("band_key")))).as("bk"))
      .select(col("doc_id"), col("band_keys"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  // (not expressed via narrowBands: this carried-array form exists for
  // the witness consumers of the full banded frame; the generator
  // expression is kept textually identical to narrowBands'.)

  /** LSH banding: signature -> (doc_id, band, band_key, band_keys). */
  def lshBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    lshBandsFromKeys(lshBandKeys(sigs, numHashes, bands))

  /** The pair's minimum matching band, computed IN-ROW from the two
    * carried key arrays: 0-based index of the first position where the
    * arrays agree. The joined band always matches, so a minimum exists
    * and `band === minMatchingBand` keeps exactly one emission per
    * pair — the witness trick ([[blockedJaccard]], [[simhashPairs]])
    * that replaces a full exchange of the candidate stream with a
    * 16-element zip per joined row.
    */
  private def minMatchingBand(ka: Column, kb: Column): Column =
    array_position(zip_with(ka, kb, (p, q) => p === q), true) - 1

  /** Candidate pairs (a < b) from the COMPACT per-doc key frame
    * (doc_id, band_keys — [[lshBandKeys]] output, or a standing
    * store's band table read back from parquet) — the scale path.
    *
    * WITNESS DEDUP, no pair-`distinct()` exchange: a pair agreeing in
    * k bands meets once per matching band, and only the emission from
    * the pair's minimum matching band survives, in-row. The witness
    * needs both docs' full key arrays — but carrying them ON the
    * banded rows ships every doc's array once PER BAND through the
    * bucket-join shuffle (16× duplication: measured 13 GB/side vs
    * 1.6 GB narrow at 5 M docs — the 1000× rehearsal's dominant cost).
    * So the bucket join here is NARROW (band, band_key, doc_id); the
    * key arrays join back onto the EMISSION stream (tiny by
    * construction — banding exists to keep it near the true-pair
    * count) by doc id, each doc's array shipped once per side. Same
    * emissions, same witness predicate, ~8× less shuffle.
    *
    * `keys` is read four times (two explode sides, two witness
    * joins) — persist it; it is the compact 16-longs-per-doc frame,
    * orders of magnitude under the corpus.
    */
  /** The ONE narrow banding shape every candidate path explodes
    * through: (doc_id, band, band_key) via explode(transform(…)) —
    * never a bare posexplode (the codegen hazard PlanRegressionSpec
    * pins) and never with the key array carried on the banded rows
    * (the shuffle-width hazard [[lshCandidatePairsFromKeys]]
    * documents). Keeping it in one place keeps both hazards fixed
    * everywhere at once.
    */
  private def narrowBands(keys: DataFrame): DataFrame =
    keys.select(col("doc_id"),
      explode(transform(col("band_keys"), (k, i) =>
        struct(i.as("band"), k.as("band_key")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))

  def lshCandidatePairsFromKeys(keys: DataFrame): DataFrame = {
    val bands = narrowBands(keys)
    val emissions = bands.select(col("band"), col("band_key"),
        col("doc_id").as("a"))
      .join(bands.select(col("band"), col("band_key"),
        col("doc_id").as("b")), Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("band"))
    emissions
      .join(keys.select(col("doc_id").as("a"), col("band_keys").as("__ka")),
        Seq("a"))
      .join(keys.select(col("doc_id").as("b"), col("band_keys").as("__kb")),
        Seq("b"))
      .filter(col("band") === minMatchingBand(col("__ka"), col("__kb")))
      .select(col("a"), col("b"))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band bucket. The
    * join key is (band, band_key) — only same-bucket docs ever meet.
    *
    * WITNESS DEDUP, no pair-`distinct()` exchange: a pair agreeing in
    * k bands meets once per matching band; each side carries its full
    * band-key array and only the emission from the pair's minimum
    * matching band survives, in-row. At 100 TB the near-dup candidate
    * stream is the corpus build's biggest intermediate; re-shuffling
    * it just to drop duplicate emissions was the last pair-
    * `distinct()` in the dedup family. NOTE the carried arrays ship
    * once per (doc, band) through the bucket join — when starting
    * from compact keys, [[lshCandidatePairsFromKeys]] is the same
    * witness with ~8× less shuffle and is what the registered queries
    * and the ingest path use. Banded input without the `band_keys`
    * column (the md5-string band rows of an old band table) is
    * REJECTED ([[LegacyBandMsg]]).
    */
  def lshCandidatePairs(bands: DataFrame): DataFrame = {
    require(bands.columns.contains("band_keys"), LegacyBandMsg)
    val x = bands.select(col("band"), col("band_key"),
      col("doc_id").as("a"), col("band_keys").as("__ka"))
    val y = bands.select(col("band"), col("band_key"),
      col("doc_id").as("b"), col("band_keys").as("__kb"))
    x.join(y, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .filter(col("band") === minMatchingBand(col("__ka"), col("__kb")))
      .select(col("a"), col("b"))
  }

  /** The one message every band-format rejection carries. */
  private[graft] val LegacyBandMsg: String =
    "LSH band rows without a band_keys column (legacy md5-string band " +
      "rows) cannot be probed: the witness-deduped candidate joins " +
      "need each doc's carried key array. Band signatures with " +
      "lshBandKeys or lshBands; a store whose band table is in the " +
      "md5-string form must be re-ingested into a fresh store."

  /** Incremental LSH candidates: a NEW ingest batch against a STANDING
    * store's band table — the daily shape of dedup at 100 TB. A full
    * re-dedup re-pairs the whole store every run (O(store²) candidate
    * work); here the store's bands are computed once and kept (written
    * next to the store in the compact [[lshBandKeys]] form), and an
    * incremental run computes signatures only for the batch and joins
    * them against the standing index — store×store and batch×batch
    * pairs are never generated. Output: (a = store doc, b = batch doc).
    * Witness-deduped like [[lshCandidatePairs]]; both inputs must
    * carry `band_keys` (legacy md5-string rows are rejected: the key
    * spaces are disjoint, so a mixed join would be silently empty).
    */
  /** [[lshIncrementalCandidates]] from COMPACT key frames (doc_id,
    * band_keys) on both sides — the standing store's band table is
    * STORED in exactly this form, so the store side explodes narrow
    * rows straight off the scan and no side ever ships key arrays
    * through the bucket join (the [[lshCandidatePairsFromKeys]]
    * shuffle argument; the witness joins the compact frames back onto
    * the cross-emission stream). Output: (a = store doc, b = batch
    * doc), exactly one row per candidate pair.
    */
  def lshIncrementalCandidatesFromKeys(storeKeys: DataFrame,
      batchKeys: DataFrame): DataFrame = {
    val emissions = narrowBands(storeKeys)
      .select(col("band"), col("band_key"), col("doc_id").as("a"))
      .join(narrowBands(batchKeys)
        .select(col("band"), col("band_key"), col("doc_id").as("b")),
        Seq("band", "band_key"))
      .select(col("a"), col("b"), col("band"))
    emissions
      .join(storeKeys.select(col("doc_id").as("a"),
        col("band_keys").as("__ka")), Seq("a"))
      .join(batchKeys.select(col("doc_id").as("b"),
        col("band_keys").as("__kb")), Seq("b"))
      .filter(col("band") === minMatchingBand(col("__ka"), col("__kb")))
      .select(col("a"), col("b"))
  }

  def lshIncrementalCandidates(storeBands: DataFrame,
      batchBands: DataFrame): DataFrame = {
    require(storeBands.columns.contains("band_keys") &&
      batchBands.columns.contains("band_keys"), LegacyBandMsg)
    storeBands.select(col("band"), col("band_key"),
      col("doc_id").as("a"), col("band_keys").as("__ka"))
      .join(batchBands.select(col("band"), col("band_key"),
        col("doc_id").as("b"), col("band_keys").as("__kb")),
        Seq("band", "band_key"))
      .filter(col("band") === minMatchingBand(col("__ka"), col("__kb")))
      .select(col("a"), col("b"))
  }

  /** Exact Jaccard for (a, b) candidate pairs: join each side to its
    * hashed-shingle array (doc_id, hs), intersect in-row. Two joins on
    * doc id — the candidate set is small by construction, so this never
    * re-shuffles the corpus-wide shingle index.
    */
  def jaccard(pairs: DataFrame, hashedShingles: DataFrame): DataFrame =
    pairs
      .join(hashedShingles.select(col("doc_id").as("a"), col("hs").as("hs_a")),
        Seq("a"))
      .join(hashedShingles.select(col("doc_id").as("b"), col("hs").as("hs_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).as("n_inter"),
        size(col("hs_a")).as("n_a"), size(col("hs_b")).as("n_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))

  /** Candidate pairs by raw shingle blocking over exploded (doc_id, bh)
    * rows, with a document-frequency cap: shingles occurring in more
    * than `maxDf` docs don't block (else a stop-shingle makes the
    * self-join quadratic).
    *
    * PRECONDITION: `shingleDf` rows must be distinct on (doc_id, bh) —
    * e.g. exploded from per-document distinct shingle arrays
    * (`hashedShingleArrays`). Duplicate (doc_id, bh) rows would put the
    * same id twice in a posting list, and the df cap would count rows
    * instead of docs. A belt-and-braces `a < b` filter below keeps
    * (x, x) self-pairs out of the output regardless.
    *
    * ONE groupBy builds the inverted index AND applies the df cap, with
    * bounded memory: the posting lists are collected by the native
    * [[graft.functions.CappedSortedList]] aggregate, whose buffers
    * (partial and final) hold at most maxDf+1 longs — a stop-shingle
    * never materializes its full posting list in one task, it just
    * overflows to maxDf+1 elements and is dropped by the size filter.
    * The <= maxDf^2/2 pairs per shingle are generated in-row from the
    * sorted posting list (no shingle-keyed self-join, which would
    * shuffle the full index twice).
    *
    * The `distinct()` here is LOAD-BEARING, not redundant: the
    * witnessed stream emits one row per (pair, shared blocking
    * shingle) — a pair sharing k blocking shingles appears k times —
    * and the witness FILTER (keep only the minimum shared blocking
    * shingle's emission) can only be evaluated once each side's rare-
    * shingle array is joined in, which is exactly the verify join this
    * standalone candidate API doesn't have. Callers who go on to
    * verify should use [[blockedJaccard]], where the witness filter is
    * fused into the verify join and no candidate exchange exists.
    */
  def shingleBlockedPairs(shingleDf: DataFrame, maxDf: Int): DataFrame =
    shingleBlockedPairsWitnessed(shingleDf, maxDf)
      .select(col("a"), col("b"))
      .distinct()

  /** Candidate (a, b, bh) rows WITHOUT the dedup exchange: each pair
    * appears once per shared blocking shingle, tagged with that
    * shingle's hash `bh`. Meant to be consumed by [[jaccardWitnessed]],
    * which keeps exactly ONE emission per pair in-row (the one whose
    * `bh` is the pair's minimum shared blocking shingle) — the
    * candidate stream never needs its own `distinct()` exchange, which
    * at corpus scale re-shuffles every (near-dup doc pair × shared
    * shingle) emission just to drop the duplicates that the verify
    * join could have dropped for free.
    */
  def shingleBlockedPairsWitnessed(shingleDf: DataFrame,
      maxDf: Int): DataFrame = {
    val groups = shingleDf
      .groupBy(col("bh"))
      .agg(graft.functions.CappedSortedList(col("doc_id"), maxDf).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        b => struct(a.as("a"), b.as("b")))))
    groups.select(col("bh"), explode(pairs).as("p"))
      .filter(col("p.a") < col("p.b"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("bh"))
  }

  /** Blocked-Jaccard pipeline FUSED end-to-end with witness dedup —
    * candidate generation and exact verification with NO candidate-pair
    * `distinct()` exchange and NO driver-side state.
    *
    * Semantics (identical to `jaccard(shingleBlockedPairs(...), ...)`):
    * all pairs sharing at least one blocking shingle (document
    * frequency in [2, maxDf]), with their exact full-set Jaccard.
    *
    * How the distinct() disappears: candidate rows carry their emitting
    * shingle `bh` ([[shingleBlockedPairsWitnessed]]), and the verify
    * join keeps only the emission whose `bh` equals the pair's MINIMUM
    * shared blocking shingle — exactly one emission per pair survives,
    * in-row. The subtlety is that the minimum shared shingle overall
    * may be a NON-blocking one (df > maxDf stop-shingle, or df = 1),
    * which never emitted anything, so the witness must be the minimum
    * over shared BLOCKING shingles only. To know blocking-ness in-row,
    * each doc's shingle array is pre-split into `hs_rare` (its df in
    * [2, maxDf] shingles — derived from the SAME posting-list aggregate
    * that generates the pairs, so Spark's ReuseExchange computes that
    * shuffle once) and `hs_hot` (the rest). The verify join then
    * intersects the two splits separately:
    *   - witness  = bh == array_min(hs_rare_a ∩ hs_rare_b)
    *   - n_inter  = |hs_rare_a ∩ hs_rare_b| + |hs_hot_a ∩ hs_hot_b|
    * (shingles only ever shared within the same split, so the split
    * intersections partition the full intersection), which makes the
    * witness check cost the SAME array_intersect the Jaccard needed
    * anyway — no second pass, no df lookup, no hot-vocabulary literal.
    *
    * Scale shape at 100 TB: one hash-exchange builds the df-capped
    * posting lists (memory-bounded by [[graft.functions
    * .CappedSortedList]]); the rare-split table is one small exchange
    * over the rare postings (Σ df ≤ maxDf per shingle — orders of
    * magnitude below the pair stream the deleted distinct() was
    * shuffling); the verify join carries each candidate emission
    * exactly once. Nothing collects to the driver.
    *
    * `hashedShingles`: (doc_id, hs) from [[hashedShingleArrays]] —
    * persist it, both the posting index and the verify join read it.
    *
    * `broadcastDocs`: the verify join must NEVER build on the pair
    * stream (its Generate-fanout cardinality is invisible to Catalyst,
    * which happily broadcast 10^6+ candidate rows in testing — 7×
    * slower). True (default) pins the per-doc split table as the
    * broadcast build side; set false when the corpus is too large to
    * broadcast, which degrades to a doc_id sort-merge join on both
    * sides — the correct 1000-executor plan.
    */
  def blockedJaccard(hashedShingles: DataFrame, maxDf: Int,
      broadcastDocs: Boolean = true): DataFrame = {
    val exploded = hashedShingles
      .select(col("doc_id"), explode(col("hs")).as("bh"))
    // Shared subplan: identical in the pair branch and the rare-split
    // branch, so ReuseExchange materializes the aggregation once.
    def groups(): DataFrame = exploded
      .groupBy(col("bh"))
      .agg(graft.functions.CappedSortedList(col("doc_id"), maxDf).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    val pairsExpr = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        b => struct(a.as("a"), b.as("b")))))
    val pairs = groups().select(col("bh"), explode(pairsExpr).as("p"))
      .filter(col("p.a") < col("p.b"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("bh"))
    val rareArrs = groups()
      .select(explode(col("ids")).as("doc_id"), col("bh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("bh"))).as("hs_rare"))
    val docs = hashedShingles
      .join(rareArrs, Seq("doc_id"), "left")
      .withColumn("hs_rare",
        coalesce(col("hs_rare"), typedLit(Array.empty[Long])))
      // hs_hot SORTED like hs_rare: the verify join's witness and
      // count run as two-pointer merges over sorted arrays (native
      // kernels below) instead of an OpenHashSet per row.
      .select(col("doc_id"), size(col("hs")).as("n_sh"), col("hs_rare"),
        sort_array(array_except(col("hs"), col("hs_rare"))).as("hs_hot"))
    // The two sides differ only in aliases, so their canonicalized
    // broadcast subtrees are identical and ReuseExchange materializes
    // the split table ONCE; likewise the pair branch and the rare
    // branch share the posting-list aggregation's shuffle exchange.
    def side(tag: String) = {
      val s = docs.select(col("doc_id").as(tag), col("hs_rare").as(s"r$tag"),
        col("hs_hot").as(s"h$tag"), col("n_sh").as(s"n_$tag"))
      if (broadcastDocs) broadcast(s) else s.hint("merge")
    }
    import graft.functions.NativeHashExprs.{sortedInterCount, sortedInterMin}
    pairs
      .join(side("a"), Seq("a"))
      .join(side("b"), Seq("b"))
      .filter(col("bh") === sortedInterMin(col("ra"), col("rb")))
      .select(col("a"), col("b"),
        (sortedInterCount(col("ra"), col("rb")) +
          sortedInterCount(col("ha"), col("hb"))).as("n_inter"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
  }

  /** 60-bit SimHash per document over frequency-weighted tokens,
    * computed entirely in-row: hash every token once, then per bit
    * position the +/-1 weight sum is `2 * count(bit set) - count(all)`.
    * Zero shuffle and no row amplification (the old form exploded every
    * token into 60 bit-rows before aggregating). Docs with no tokens are
    * dropped (they have no signal and would all collide on simhash=0).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeHashExprs.simhash60(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Connected components over near-dup pairs: every doc's label
    * converges to the smallest doc id reachable through the pair graph —
    * that id is the cluster's canonical representative (what a dedup
    * pipeline keeps).
    *
    * Each round fuses min-label propagation over the edge relation with
    * TWO pointer jumps — label'(v) = min over the chain p(v) =
    * min(label(v), neighbors' labels), then p'(v) = min(p(v),
    * label(p(v))), then min(p'(v), label(p'(v))) — in ONE lazy plan
    * whose every join input is the checkpointed pre-round label table
    * (every label is itself a node, since labels start as ids and only
    * move down through existing ids). Each jump adds the pre-round
    * reach d on top, so per-round reach grows 3d+1 — convergence in
    * O(log diameter) rounds instead of O(diameter): a 100-node
    * boilerplate chain (A~B~C~...) converges in 5 working rounds + a
    * stability check, where plain propagation needs 99. Jumping against
    * the PRE-round state (vs the derived post-propagation frame) is
    * what lets the whole round be one plan over materialized inputs —
    * the earlier two-phase form self-joined an unmaterialized frame and
    * computed the propagation join twice per round.
    * State is DataFrames + reliable checkpoints, the same shape as the
    * BFS frontier, so the loop runs unchanged at cluster scale.
    *
    * Exiting at `maxIter` with changes still flowing means some
    * component was NOT fully merged (its members would keep distinct
    * labels and split one cluster into several) — that is loudly
    * warned, not silently returned.
    *
    * Input: (a, b) pairs. Output: (doc_id, component) for every doc
    * that appears in some pair.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    graft.Checkpoints.ensure(spark)
    // Static: read on every round, so pinned under the base checkpoint
    // dir, outside the rotation.
    val edges = graft.Checkpoints.pinned(pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val rot = new graft.Checkpoints.Rotating(spark)
    // Label init fused with the first propagation: label0(v) =
    // min(v, neighbors(v)) falls out of the same groupBy that would
    // otherwise only build the distinct node set — one whole round
    // (three joins + a checkpoint) cheaper than starting from identity
    // labels.
    var labels = rot.checkpoint(edges
      .groupBy(col("a")).agg(min(col("b")).as("nb"))
      .select(col("a").as("node"), least(col("a"), col("nb")).as("label")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      i += 1
      rot.advance()
      val neighborMin = edges
        .join(labels.select(col("node").as("b"), col("label").as("lb")),
          Seq("b"))
        .groupBy(col("a")).agg(min(col("lb")).as("nl"))
        .select(col("a").as("node"), col("nl"))
      // Fused round: propagation + two pointer jumps in ONE plan, every
      // join input the checkpointed pre-round state (see scaladoc). The
      // pre-round label rides along as `old`, so the convergence check
      // is an aggregate over the same frame.
      val step1 = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      val step2 = step1
        .join(labels.select(col("node").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("node"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
      val step3 = step2
        .join(labels.select(col("node").as("label"), col("label").as("ll2")),
          Seq("label"), "left")
        .select(col("node"), col("old"),
          least(col("label"), coalesce(col("ll2"), col("label"))).as("label"))
      // The convergence count rides the checkpoint write as an observed
      // metric — no separate count job, and the loop exits on the
      // EARLIEST stable round instead of the next even one.
      val obs = org.apache.spark.sql.Observation(s"cc-round-$i")
      val next = rot.checkpoint(step3.observe(obs,
        sum(when(col("label") =!= col("old"), 1L).otherwise(0L))
          .as("changed")))
      changed = Option(obs.get("changed")).map(_.asInstanceOf[Long])
        .getOrElse(0L)
      labels = next.select(col("node"), col("label"))
    }
    rot.close()
    if (changed > 0)
      System.err.println(s"[graft] connectedComponents exited at " +
        s"maxIter=$maxIter with $changed labels still changing — " +
        "components may be split; raise maxIter")
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** Near-dup pairs by SimHash: block on `bands` disjoint bit bands
    * (pairs meet when ANY band matches), then keep pairs with Hamming
    * distance <= maxHamming. Multiple small bands give several shots at
    * recall and spread hot near-identical clusters over more, smaller
    * buckets than a single wide band would (a single hot bucket going
    * quadratic is the classic boilerplate-dedup failure).
    *
    * WITNESS DEDUP, no pair-`distinct()` exchange: a pair matching in k
    * of the bands meets once per matching band, and which bands match
    * is fully determined in-row by `sim_a XOR sim_b` (band b matches
    * iff the XOR's band-b bits are all zero). Each emission keeps only
    * the row whose band IS the pair's minimum matching band — exactly
    * one emission per pair survives, for the price of a bit-test chain
    * instead of re-shuffling the whole pair stream just to drop
    * duplicates (the same min-witness trick as [[blockedJaccard]]; at
    * 100 TB the dedup pair stream is the corpus build's biggest
    * intermediate, and this keeps it exchange-free).
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int,
      bands: Int = 4): DataFrame = {
    val bits = 60 / bands
    val mask = (1L << bits) - 1
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("b"),
        (shiftright(col("simhash"), b * bits).bitwiseAND(lit(mask))).as("bv"))
    }
    val banded = sims
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.b").as("b"), col("bk.bv").as("bv"))
    val x = banded.select(col("b"), col("bv"), col("doc_id").as("a"),
      col("simhash").as("sim_a"))
    val y = banded.select(col("b"), col("bv"), col("doc_id").as("b2"),
      col("simhash").as("sim_b"))
    // Minimum matching band of the pair, computed from the XOR in-row:
    // the first band (lowest b) whose bits are all zero in the XOR.
    def bandZero(xor: Column, b: Int): Column =
      shiftright(xor, b * bits).bitwiseAND(lit(mask)) === 0L
    def minMatchingBand(xor: Column): Column =
      (bands - 1 to 0 by -1).foldLeft(lit(bands): Column) { (acc, b) =>
        when(bandZero(xor, b), lit(b)).otherwise(acc)
      }
    x.join(y, Seq("b", "bv"))
      .filter(col("a") < col("b2"))
      .withColumn("__xor", col("sim_a").bitwiseXOR(col("sim_b")))
      // Witness filter: only the emission from the pair's minimum
      // matching band survives (the joined band ALWAYS matches, so a
      // minimum exists and b == min picks exactly one row per pair).
      .filter(col("b") === minMatchingBand(col("__xor")))
      .withColumn("hamming", bit_count(col("__xor")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b2").as("b"), col("hamming"))
  }

  /** Canonical-representative selection by SCORE — the policy a
    * production dedup actually wants: picking the min-id member keeps
    * an ARBITRARY copy of each near-dup cluster, while this keeps the
    * copy worth training on (highest quality, id tie-break). `scores`
    * is one row per doc (`idCol`, `scoreCol`, ...); `clusters` is the
    * (doc_id, component) membership from [[connectedComponents]]. Docs
    * in no cluster pass through with their own id as the cluster.
    * Cost: one hash-shuffle on component for the per-cluster argmax
    * window; the membership join is on doc id and broadcasts whenever
    * the clustered fraction is small (the usual case).
    */
  def keepBestPerCluster(scores: DataFrame, idCol: String,
      scoreCol: String, clusters: DataFrame): DataFrame = {
    val members = clusters
      .select(col("doc_id").as(idCol), col("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    val best = scores.join(members, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val singles = scores
      .join(members.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("component", col(idCol))
    best.unionByName(singles)
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embedding space, then prune near-duplicates WITHIN each cluster by
    * exact cosine — the embedding analog of [[keepBestPerCluster]], and
    * the data-selection step the reference's content-hash dedup
    * (`/root/reference/db/postgres_store.py:84-103`) cannot express
    * (paraphrases and re-encodings hash differently but embed nearby).
    *
    * Deterministic contract (shared with the DuckDB oracle): clusters
    * come from [[Similarity.kmeansAssign]] (lowest-id seeds, d2 via the
    * inner-product identity, `(d2, cid)` tie-break), and a row is
    * DROPPED iff some LOWER-id row of the same cluster has
    * `round(cosine, decimals) >= minCosine` — the greedy keep-lowest-id
    * rule, evaluation-order-free because it only quantifies over pairs.
    *
    * Scale shape: the pair join is keyed on `cluster_id` — never
    * all-pairs. At corpus scale you pick `k` so the expected cluster
    * size stays bounded (SemDeDup trains k ~ N/1000 clusters); the
    * quadratic term is then per-cluster and constant, and the whole op
    * is one kmeans pass + one cluster-keyed shuffle + one anti-join.
    * Returns survivors as (id, cluster_id).
    */
  def semDedup(vecs: DataFrame, k: Int, iters: Int, minCosine: Double,
      decimals: Int = 6, trainPerMille: Int = 1000): DataFrame = {
    import graft.functions.VectorFunctions
    val assigned = Similarity.kmeansAssign(vecs, k, iters, trainPerMille)
      .select(col("id"), col("cluster_id"))
    // Persist the assigned double-array frame: it feeds BOTH sides of
    // the per-cluster pair join AND the survivor projection — three
    // lazy evaluations, each of which would otherwise re-scan the
    // source, re-cast every vector and re-run the id join (guide §5:
    // reuse x recompute cost; measured 20 parquet scans / 0 cache
    // scans in this plan before the pin).
    val withV = vecs
      .select(col("id"), VectorFunctions.toDoubleArray(col("vec")).as("v"))
      .join(assigned, Seq("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lo = withV.select(col("cluster_id"), col("id").as("a"),
      col("v").as("va"))
    val hi = withV.select(col("cluster_id"), col("id").as("b"),
      col("v").as("vb"))
    val drops = lo.join(hi, Seq("cluster_id"))
      .filter(col("a") < col("b"))
      .filter(round(VectorFunctions.cosine(col("va"), col("vb")), decimals)
        >= minCosine)
      .select(col("b").as("id")).distinct()
    withV.select(col("id"), col("cluster_id"))
      .join(drops, Seq("id"), "left_anti")
  }

  /** CROSS-SOURCE OVERLAP MATRIX: for every stratum (source) pair, the
    * MinHash-ESTIMATED Jaccard of their shingle sets next to the EXACT
    * one — the corpus-level contamination/diversity audit ("how much
    * does crawl A repeat crawl B?") and a self-check of the estimator
    * the doc-level dedup family trusts. Same 60-bit hashed shingling
    * and universal-hash MinHash family as the doc-level ops, so the
    * oracle reproduces both numbers bit-for-bit (integer milli units).
    *
    * 100 TB shape: per-source shingle sets via one distinct over
    * (source, bh); signatures are `numHashes` min-aggregates in ONE
    * hash-aggregate pass (rows out = #sources); the exact intersection
    * joins the set against itself ON bh — per-shingle fanout is
    * bounded by #sources, so no pair blowup. The pair frame is the
    * #sources^2/2 product of two TINY aggregate frames, built on a
    * constant equi-key (hash join, not a cartesian plan). Pairs with
    * empty intersections still report (0 exact, estimator noise floor).
    */
  def crossSourceOverlap(docs: DataFrame, textCol: String,
      stratumCol: String, n: Int, numHashes: Int): DataFrame = {
    val p = MinhashPrime
    val hs = docs
      .select(col(stratumCol).cast("string").as("__s"),
        graft.functions.NativeHashExprs.hashedShingles(col(textCol), n)
          .as("__hs"))
      .select(col("__s"), explode(col("__hs")).as("__bh"))
      .distinct()
      .withColumn("__m", col("__bh") % p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = hs.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val sigExprs = minhashCoeffs(numHashes).zipWithIndex.map {
      case ((a, b), i) => min((col("__m") * a + b) % p).as(s"mh$i")
    }
    val sigs = hs.groupBy(col("__s")).agg(sigExprs.head, sigExprs.tail: _*)
    val sa = sigs.select(col("__s").as("src_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"__a$i")): _*)
      .withColumn("__one", lit(1))
    val sb = sigs.select(col("__s").as("src_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"__b$i")): _*)
      .withColumn("__one", lit(1))
    val matches = (0 until numHashes).map(i =>
      when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = sa.join(sb, Seq("__one"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), matches.as("__match"))
    val common = hs.select(col("__s").as("src_a"), col("__bh"))
      .join(hs.select(col("__s").as("src_b"), col("__bh")), Seq("__bh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("__common"))
    val za = sizes.select(col("__s").as("src_a"), col("__n").as("__na"))
    val zb = sizes.select(col("__s").as("src_b"), col("__n").as("__nb"))
    est
      .join(common, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("__common"))
      .join(broadcast(za), Seq("src_a"))
      .join(broadcast(zb), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        expr(s"__match * 1000 div $numHashes").as("est_jaccard_milli"),
        expr("__common * 1000 div (__na + __nb - __common)")
          .as("jaccard_milli"))
  }

  /** CONTRASTIVE PAIR MINING: turn the dedup family's verified pair
    * streams into (anchor, positive, hard-negative) training triples
    * for embedding/retrieval models — the positive is the anchor's
    * MOST similar verified near-dup, the hard negative its LEAST
    * similar same-block candidate (textually adjacent enough to share
    * a blocking key, but verified dissimilar: exactly the "hard" part
    * of hard-negative mining). Both inputs are (a, b, jaccard) pair
    * frames — e.g. the LSH-verified near-dups for positives and the
    * low-Jaccard tail of the df-capped shingle blocks for negatives.
    * Anchors need BOTH a positive and a negative to emit a triple.
    *
    * Scale shape: pairs symmetrize (each side can anchor), then one
    * argmax/argmin window PER ANCHOR (partition-bounded by the
    * candidate fanout the upstream blocking already capped), and a
    * hash join on the anchor id. No corpus scan, no all-pairs — cost
    * is candidate-set-sized, like everything upstream of it.
    */
  def contrastivePairs(positives: DataFrame,
      negatives: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sym(pairs: DataFrame) = pairs
      .select(col("a").as("anchor"), col("b").as("cand"), col("jaccard"))
      .unionByName(pairs
        .select(col("b").as("anchor"), col("a").as("cand"), col("jaccard")))
    val wp = Window.partitionBy(col("anchor"))
      .orderBy(col("jaccard").desc, col("cand"))
    val wn = Window.partitionBy(col("anchor"))
      .orderBy(col("jaccard").asc, col("cand"))
    val pos = sym(positives).withColumn("__r", row_number().over(wp))
      .filter(col("__r") === 1)
      .select(col("anchor"), col("cand").as("pos_id"),
        round(col("jaccard"), 4).as("pos_jaccard"))
    val neg = sym(negatives).withColumn("__r", row_number().over(wn))
      .filter(col("__r") === 1)
      .select(col("anchor"), col("cand").as("neg_id"),
        round(col("jaccard"), 4).as("neg_jaccard"))
    pos.join(neg, Seq("anchor"))
  }
}
