package graft

import org.apache.spark.sql.functions._

/** Round-18 optimization pins: the shared deterministic fixtures
  * introduced this round must equal the inline kernels they replaced —
  * fixture ≡ inline is the whole correctness argument for the
  * memoization, so it lives in CI, not just in the round's one-off
  * dump diffs. Also pins the replay gates' thread-safety surface:
  * gates of different families called from two threads at once (each
  * starting its own replay under the shared gate-conf monitor) return
  * the same rows as a later serial call (FixtureMemo single-flight is
  * pinned separately in Round17Spec).
  */
class Round18Spec extends SparkSpecBase {

  import graft.operators.{Dedup, KMeans, TextAnalysis}

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("minhash pair fixture ≡ inline kernel (dedup_minhash_lsh)") {
    val inline = Dedup.minhashLshPairs(
      Tables.t(spark, sfDir, "documents"), 0.7)
    assert(sortedRows(Dedup.minhashLsh(spark, sfDir, 0.7)) ==
      sortedRows(inline))
  }

  test("cluster fixture ≡ inline label propagation (dedup_clusters)") {
    val inline = Dedup.clustersOfPairs(
      Dedup.minhashLshPairs(Tables.t(spark, sfDir, "documents"), 0.7)
        .select(col("i"), col("j")))
    assert(sortedRows(Dedup.nearDupClusters(spark, sfDir, 0.7)) ==
      sortedRows(inline))
  }

  test("emb_kmeans summary off the assignment fixture ≡ inline kmeansOf") {
    val inline = KMeans.kmeansOf(Tables.t(spark, sfDir, "embeddings"),
      k = 4, iters = 2)
    assert(sortedRows(KMeans.kmeansClusters(spark, sfDir)) ==
      sortedRows(inline))
  }

  test("BPE merge fixture ≡ inline training (text_bpe_merges/encode)") {
    val docs = Tables.t(spark, sfDir, "documents")
    val inline = TextAnalysis.bpeTrainOf(docs, 6)
    assert(sortedRows(TextAnalysis.bpeMerges(spark, sfDir, 6)) ==
      sortedRows(inline))
    // encode consumes the fixture's (lft, rgt) in rank order — its
    // output must equal encoding with the freshly trained merges
    val merges = inline.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(sortedRows(TextAnalysis.bpeEncode(spark, sfDir, 6)) ==
      sortedRows(TextAnalysis.bpeEncodeOf(docs, merges)))
  }

  test("shingle fixture ≡ inline derive (containment consumer)") {
    val inline = Dedup.containmentOf(
      Tables.t(spark, sfDir, "documents"), 9, 10)
    assert(sortedRows(Dedup.containmentPairs(spark, sfDir, 9, 10)) ==
      sortedRows(inline))
  }

  test("pooled replay warm: concurrent gate calls agree with each other") {
    // two gates of DIFFERENT families asked for from two threads, so
    // both replays may start and run at once: both must return their
    // family's exact memoized output (same rows as asking again)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(sortedRows(
      graft.streaming.StreamingOps.streamTumbleGate(spark, sfDir)))
    val fb = Future(sortedRows(
      graft.streaming.StreamingOps.streamDedupGate(spark, sfDir)))
    val (a, b) = (Await.result(fa, 600.seconds),
      Await.result(fb, 600.seconds))
    assert(a == sortedRows(
      graft.streaming.StreamingOps.streamTumbleGate(spark, sfDir)))
    assert(b == sortedRows(
      graft.streaming.StreamingOps.streamDedupGate(spark, sfDir)))
  }
}
