package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The combined Lloyd trainer (`lloydBooksAndCoarse` behind
  * [[Similarity.pqStoreBuild]]) is structurally equivalent to training
  * each per-subspace codebook and the coarse quantizer separately:
  * seeds = the train set's k lowest-id vectors (sliced per book), the
  * `vv + cc - 2·vc` assignment algebra with (d2, cid) tie-break, and
  * per-(cid, dim) means over the same member rows. This spec pins that
  * contract against a LOCAL driver-side reference implementation two
  * ways: exactly (==) on a dyadic-fraction fixture where every float
  * sum is order-independent, and to 1e-9 relative tolerance on a
  * non-dyadic fixture where the combined union aggregate's partial-sum
  * merge order may legally differ from the per-book jobs (the 4-dp
  * probe rounding downstream absorbs far more than 1e-9).
  */
class PqTrainerParitySpec extends SparkSpec {
  import spark.implicits._

  /** Reference per-book Lloyd: mirrors the engine's algebra verbatim
    * (vv + cc - 2·vc distances, (d2, cid) argmin, arithmetic-mean
    * update, empty clusters drop).
    */
  private def localLloyd(vs: Seq[(Long, Seq[Double])], k: Int,
      iters: Int): Seq[(Long, Seq[Double])] = {
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    var cents = vs.sortBy(_._1).take(k)
    (1 until iters).foreach { _ =>
      val members = vs.map { case (_, v) =>
        val vv = dot(v, v)
        val cid = cents.map { case (c, cv) =>
          (vv + dot(cv, cv) - 2.0 * dot(v, cv), c)
        }.min._2
        (cid, v)
      }
      cents = members.groupBy(_._1).toSeq.map { case (cid, rows) =>
        val dims = rows.head._2.indices
        (cid, dims.map(d => rows.map(_._2(d)).sum / rows.size).toSeq)
      }.sortBy(_._1)
    }
    cents
  }

  /** The md5-prefix BIGINT convention [[graft.functions.HashFunctions
    * .stableHash64]] computes, evaluated on the driver.
    */
  private def stableHash64Local(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  // Dyadic-valued 4-dim corpus: two clusters per subspace with enough
  // members that the second Lloyd round actually moves the means.
  private val fixture: Seq[(Long, Seq[Double])] = Seq(
    0L -> Seq(0.0, 0.25, 8.0, 8.5),
    1L -> Seq(8.0, 8.25, 0.0, 0.5),
    2L -> Seq(0.5, 0.0, 8.5, 8.0),
    3L -> Seq(8.5, 8.0, 0.25, 0.0),
    4L -> Seq(0.25, 0.5, 8.25, 8.25),
    5L -> Seq(8.25, 8.5, 0.5, 0.25),
    6L -> Seq(0.75, 0.125, 7.5, 8.75),
    7L -> Seq(7.5, 8.75, 0.75, 0.125))

  private def readBook(dir: String): Map[(Int, Long), Seq[Double]] =
    spark.read.parquet(s"$dir/codebook")
      .select(col("subspace"), col("cid"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toSeq)
      .toMap

  private def readCoarse(dir: String): Map[Long, Seq[Double]] =
    // The build's generation holds the store's one coarse dir.
    spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/coarse")
      .select(col("cid"), col("centroid"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .toMap

  test("pqStoreBuild's combined trainer matches per-book local Lloyd " +
    "exactly (books + coarse, two update rounds)") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-parity").toString + "/store"
    val df = fixture.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("id", "vec")
    assert(Similarity.pqStoreBuild(df, dir, m = 2, subDims = 2,
      codes = 2, iters = 3, cells = 2) == fixture.size)
    val books = readBook(dir)
    (0 until 2).foreach { j =>
      val sliced = fixture.map { case (id, v) =>
        (id, v.slice(j * 2, (j + 1) * 2))
      }
      localLloyd(sliced, k = 2, iters = 3).foreach { case (cid, cv) =>
        assert(books((j, cid)) == cv,
          s"book $j cid $cid: engine ${books((j, cid))} vs local $cv")
      }
    }
    val coarse = readCoarse(dir)
    localLloyd(fixture, k = 2, iters = 3).foreach { case (cid, cv) =>
      assert(coarse(cid) == cv,
        s"coarse cid $cid: engine ${coarse(cid)} vs local $cv")
    }
  }

  test("combined trainer matches local Lloyd to 1e-9 relative on " +
    "non-dyadic doubles (FP-sum reassociation bound)") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-parity-nd").toString + "/store"
    // Non-dyadic values (decimal fractions like 0.1 are inexact in
    // binary), so sums ARE order-sensitive at the ulp level.
    val nd: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(0.1, 0.3, 7.9, 8.3),
      1L -> Seq(8.1, 8.3, 0.1, 0.7),
      2L -> Seq(0.7, 0.1, 8.3, 7.9),
      3L -> Seq(8.3, 7.9, 0.3, 0.1),
      4L -> Seq(0.3, 0.7, 8.1, 8.1),
      5L -> Seq(7.9, 8.1, 0.7, 0.3),
      6L -> Seq(0.9, 0.2, 7.7, 8.7),
      7L -> Seq(7.7, 8.7, 0.9, 0.2))
    val df = nd.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("id", "vec")
    // Float32 ingestion widens to double on the engine side; mirror it.
    val ndAsF = nd.map { case (id, v) =>
      (id, v.map(x => x.toFloat.toDouble))
    }
    assert(Similarity.pqStoreBuild(df, dir, m = 2, subDims = 2,
      codes = 2, iters = 3, cells = 2) == nd.size)
    def relClose(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a),
        math.abs(b)))
    val books = readBook(dir)
    (0 until 2).foreach { j =>
      val sliced = ndAsF.map { case (id, v) =>
        (id, v.slice(j * 2, (j + 1) * 2))
      }
      localLloyd(sliced, k = 2, iters = 3).foreach { case (cid, cv) =>
        val got = books((j, cid))
        assert(got.size == cv.size &&
          got.zip(cv).forall { case (a, b) => relClose(a, b) },
          s"book $j cid $cid: engine $got vs local $cv beyond 1e-9 rel")
      }
    }
    val coarse = readCoarse(dir)
    localLloyd(ndAsF, k = 2, iters = 3).foreach { case (cid, cv) =>
      val got = coarse(cid)
      assert(got.size == cv.size &&
        got.zip(cv).forall { case (a, b) => relClose(a, b) },
        s"coarse cid $cid: engine $got vs local $cv beyond 1e-9 rel")
    }
  }

  test("sampled training trains on exactly the stable-hash sample " +
    "while encoding everything") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-parity-s").toString + "/store"
    // Rate chosen so the sample is a strict, seedable subset.
    val rate = 700
    val sample = fixture.filter { case (id, _) =>
      stableHash64Local(id.toString) % 1000 < rate
    }
    assert(sample.size >= 2 && sample.size < fixture.size,
      s"fixture must split under rate $rate, sampled ${sample.size}")
    val df = fixture.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("id", "vec")
    assert(Similarity.pqStoreBuild(df, dir, m = 2, subDims = 2,
      codes = 2, iters = 3, cells = 2, trainPerMille = rate)
      == fixture.size)
    val books = readBook(dir)
    (0 until 2).foreach { j =>
      val sliced = sample.map { case (id, v) =>
        (id, v.slice(j * 2, (j + 1) * 2))
      }
      localLloyd(sliced, k = 2, iters = 3).foreach { case (cid, cv) =>
        assert(books((j, cid)) == cv,
          s"sampled book $j cid $cid: engine ${books((j, cid))} vs " +
            s"local $cv")
      }
    }
    val coarse = readCoarse(dir)
    localLloyd(sample, k = 2, iters = 3).foreach { case (cid, cv) =>
      assert(coarse(cid) == cv,
        s"sampled coarse cid $cid: engine ${coarse(cid)} vs local $cv")
    }
  }
}
