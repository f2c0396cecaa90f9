package graft

import graft.functions.VectorFunctions
import graft.operators.{KMeans, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF, PQ and IVF-PQ top-k are exact by bound: their ids and 6-dp
  * scores equal the brute-force cosine top-k (vec_id tiebreak) on any
  * corpus, and on a clustered one the bounds also prune. Plus the
  * driver-side trainer they share, and the rule that an ANN key leaves
  * no cache or conf behind.
  */
class AnnExactSpec extends SparkSpecBase {

  /** The sf0.01 tables next to the suite's own: the gate corpus. */
  private val gateDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Brute-force top-k of `probeId` over every other vector. */
  private def brute(dir: String, probeId: Long, k: Int): Seq[(Long, Double)] = {
    VectorFunctions.register(spark)
    val emb = Tables.t(spark, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === probeId).select(col("embedding").as("p"))
    rows(emb.filter(col("vec_id") =!= probeId).crossJoin(probe)
      .select(col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), col("p")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(k))
  }

  /** Each family's (top-k, scored rows) at `nprobe`/`rerank` settings
    * that leave the bound real work on a small corpus.
    */
  private def families(dir: String, probeId: Long, k: Int,
      tight: Boolean): Seq[(String, (DataFrame, DataFrame))] = {
    val (nprobe, rerank) = if (tight) (1, k) else (4, 32)
    Seq(
      "ivf" -> Similarity.annIvfScan(spark, dir, probeId, k, nlist = 16, nprobe = nprobe),
      "pq" -> Similarity.annPqScan(spark, dir, probeId, k, m = 8, ksub = 16,
        rerank = rerank),
      "ivfpq" -> Similarity.annIvfPqScan(spark, dir, probeId, k, nlist = 16,
        nprobe = nprobe, m = 8, ksub = 16, rerank = rerank))
  }

  test("IVF, PQ and IVF-PQ return the exact top-k on the gate corpus") {
    for (probeId <- Seq(0L, 1L, 17L, 123L, 511L); k <- Seq(1, 5)) {
      val want = brute(gateDir, probeId, k)
      assert(want.length == (if (probeId < 500) k else 0))
      val got = Seq(
        "ivf" -> Similarity.annIvfTopK(spark, gateDir, probeId, k),
        "pq" -> Similarity.annPqTopK(spark, gateDir, probeId, k),
        "ivfpq" -> Similarity.annIvfPqTopK(spark, gateDir, probeId, k))
      got.foreach { case (name, df) =>
        assert(rows(df) == want, s"$name probe $probeId k $k")
      }
    }
  }

  /** 5 tight blobs of 64 unit vectors, each a short arc plus small
    * noise; ids interleave the blobs, so the lowest ids seed every blob
    * and the quarter sample holds all five.
    */
  private lazy val blobs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val ends = Array.fill(5)((unit(Array.fill(64)(rnd.nextGaussian())),
      unit(Array.fill(64)(rnd.nextGaussian()))))
    (0 until 320).map { i =>
      val (a, b) = ends(i % 5)
      val t = 0.25 * (i / 5) / 63.0
      (i.toLong, unit(Array.tabulate(64)(d =>
        a(d) * (1 - t) + b(d) * t + 0.0005 * rnd.nextGaussian())).map(_.toFloat).toSeq)
    }
  }

  private lazy val blobDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-blobs").toString
    import spark.implicits._
    blobs.toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("on clustered vectors the top-k stays exact and the bounds prune") {
    // probes whose exact top-5 spans two cells of the quantizer IVF
    // trains: at nprobe 1 only the radius bound reaches the second cell
    val pts = blobs.map(_._2.map(_.toDouble).toArray).toArray
    val quant = Similarity.IvfQuantizer.train(pts, nlist = 16)
    def cos(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val straddling = pts.indices.filter { p =>
      val top5 = pts.indices.filter(_ != p).sortBy(j => -cos(pts(p), pts(j))).take(5)
      top5.map(j => quant.cellOf(pts(j))).distinct.length > 1
    }.map(_.toLong)
    assert(straddling.nonEmpty)
    // the tight settings (nprobe 1, rerank k) leave the most to the bounds
    val cases = (straddling.take(6) ++ (0 until 6).map(i => i * 53L % 320))
      .map((_, 5, true)) ++ (0L until 4L).map((_, 1, false))
    val n = 319L // every vector but the probe
    val pruned = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((probeId, k, tight) <- cases) {
      val want = brute(blobDir, probeId, k)
      families(blobDir, probeId, k, tight).foreach { case (name, (top, scored)) =>
        assert(rows(top) == want, s"$name probe $probeId k $k tight $tight")
        pruned(name) += n - scored.count()
      }
    }
    Seq("ivf", "pq", "ivfpq").foreach(f => assert(pruned(f) > 0, s"$f pruned nothing"))
  }

  test("lloyd: deterministic, seeded on the lowest ids, empty cells keep their centroid") {
    val rnd = new scala.util.Random(3)
    val pts = Array.fill(60)(Array.fill(4)(rnd.nextGaussian()))
    val a = KMeans.lloyd(pts, 5, iters = 10)
    val b = KMeans.lloyd(pts.map(_.clone), 5, iters = 10)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // no iteration: the seeds are the first k points, as given
    assert(KMeans.lloyd(pts, 5, iters = 0).map(_.toSeq).toSeq ==
      pts.take(5).map(_.toSeq).toSeq)
    // two identical seeds: every tie goes to cell 0, so cell 1 stays
    // empty and keeps its seed while cell 0 moves to the mean
    val dup = Array(Array(0.0, 0.0), Array(0.0, 0.0), Array(6.0, 3.0))
    val c = KMeans.lloyd(dup, 2, iters = 1)
    assert(c(0).toSeq == Seq(2.0, 1.0) && c(1).toSeq == Seq(0.0, 0.0))
    assert(KMeans.lloyd(dup, 5, iters = 1).length == 3)
  }

  test("an ANN key leaves no cache and no conf behind") {
    spark.catalog.clearCache()
    val conf = spark.conf.getAll
    Seq(Similarity.annIvfChecked _, Similarity.annPqChecked _,
        Similarity.annIvfPqChecked _).foreach { key =>
      assert(key(spark, sfDir).collect().length == 1)
      assert(spark.sharedState.cacheManager.isEmpty)
      assert(spark.conf.getAll == conf)
    }
  }
}
