package graft.operators

import graft.Tables
import graft.Tables.t
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (SURVEY.md §2.3 Q26).
  *
  * Scale posture: the probe side (query vectors) is broadcast; the corpus
  * side streams partition-local through the codegen'd cosine kernel, so
  * the brute-force path is a single map-side pass + a top-k
  * (TakeOrderedAndProject) — no shuffle of the corpus at any scale. The
  * LSH path cuts the scanned fraction for large corpora at identical
  * output (verified against brute force).
  */
object Similarity {

  /** Brute-force cosine top-5 for probe vec_id=0 (the exactness baseline).
    * Broadcast the 1-row probe; corpus never moves.
    */
  def q26CosineTopK(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), col("probe_emb")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
  }

  /** Filtered vector search — top-k under a metadata predicate (the
    * vector-store "search where label = X" feature). The predicate is a
    * plain pushed-down filter AHEAD of the kernel, so selective filters
    * cut kernel evaluations proportionally; with a partitioned/z-ordered
    * layout on the metadata column the scan itself prunes at 100 TB.
    * Joined with `documents` metadata to make the predicate cross-table
    * (lang of the matching doc), which is the realistic shape.
    */
  def q26cFilteredTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val meta = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    emb.filter(col("vec_id") =!= 0)
      .join(meta, emb("vec_id") === meta("doc_id"))
      .filter(col("lang") === "en" && col("label") % 2 === 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("lang"), col("label"),
        round(VectorFunctions.cosineSim(col("embedding"), col("probe_emb")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Multi-probe brute-force top-k: the whole probe set is broadcast at
    * once and one corpus pass scores every probe — the batch-retrieval
    * shape (probes ≪ corpus, so the broadcast is small and the corpus
    * never shuffles; per-probe top-k is a window rank on the scored rows).
    */
  def q26bTopKMulti(s: SparkSession, dir: String, nProbes: Int = 5,
      k: Int = 3): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("score").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), col("probe_emb")), 6)
          .as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk").cast(LongType).as("rk"),
        col("vec_id"), col("score"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** emb_hard_negatives — hard-negative mining for contrastive training:
    * for each anchor, the most-similar vectors carrying a DIFFERENT
    * label (high-similarity wrong-class examples are the gradient-rich
    * negatives). Same one-corpus-pass multi-probe shape as q26b with the
    * label-inequality predicate fused into the scan; per-anchor ranking
    * over the already-scored rows. At index scale the exact pass swaps
    * for any of the ANN families (LSH/IVF/PQ) unchanged.
    */
  def hardNegatives(s: SparkSession, dir: String, nAnchors: Int = 5,
      k: Int = 3): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val anchors = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("anchor_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("score").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("vec_id"), col("label"),
        round(VectorFunctions.cosineSim(col("embedding"), col("anchor_emb")), 6)
          .as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("rk").cast(LongType).as("rk"),
        col("vec_id"), col("label"), col("score"))
      .orderBy(col("anchor_id"), col("rk"))
  }

  /** Per-label embedding centroids — the class-prototype aggregation a
    * training pipeline runs (nearest-centroid classification, cluster
    * seeding). posexplode → one key-partitioned aggregation on
    * (label, dim); element sums go through decimal after a 6-dp quantize
    * so the result is independent of shuffle order at any scale (float
    * sums are not associative; decimal sums are).
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(round(
        sum(round(col("col").cast(DoubleType), 6).cast(DecimalType(20, 10)))
          .cast(DoubleType) / count(lit(1)), 6).as("c"))
      .select(col("label"), (col("pos") + 1).cast(LongType).as("idx"), col("c"))
      .orderBy(col("label"), col("idx"))

  /** emb_label_balance — class-balance report for a labeled training set:
    * per-label counts and shares, plus the whole-distribution diagnostics
    * (Shannon entropy in nats, max/min imbalance ratio) every training
    * pipeline checks before sampling weights are chosen. One keyed count
    * + one label-cardinality-sized summary aggregation, cross-joined back
    * onto the label rows (1-row broadcast). Entropy terms go through the
    * round-then-decimal-sum recipe so the report is engine-reproducible.
    */
  def labelBalance(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "embeddings")
      .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val withTot = counts.crossJoin(
      broadcast(counts.agg(sum(col("n_vecs")).as("__tot"))))
      .withColumn("__share", col("n_vecs").cast(DoubleType) / col("__tot"))
    val summary = withTot.agg(
      round(sum(round(-log(col("__share")) * col("__share"), 8)
        .cast(DecimalType(20, 10))).cast(DoubleType), 6).as("entropy_nats"),
      round(max(col("n_vecs")).cast(DoubleType) / min(col("n_vecs")), 6)
        .as("imbalance"))
    withTot.crossJoin(broadcast(summary))
      .select(col("label"), col("n_vecs"), round(col("__share"), 6).as("share"),
        col("entropy_nats"), col("imbalance"))
      .orderBy(col("label"))
  }

  /** Random-hyperplane signs for LSH bucketing, derived from a fixed seed
    * so plans are stable across runs/engines. nPlanes sign bits → bucket id.
    */
  private def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** LSH-bucketed ANN: bucket corpus by hyperplane sign pattern, probe the
    * query's bucket plus all Hamming≤1 neighbor buckets (multiprobe), then
    * exact-rerank candidates with the codegen'd cosine. At 100 TB the
    * bucketing is a one-time shuffle (or a write-time partitioning) and
    * each probe touches (nPlanes+1)/2^nPlanes of the corpus.
    *
    * Approximation contract: returned scores are exact (same kernel as
    * brute force) but the candidate set is a bucket-limited subset, so
    * recall < 1 on near-orthogonal corpora like this one (max pairwise
    * cosine ≈ 0.37 — there are no "planted" neighbors for LSH to catch).
    * SimilaritySpec checks the subset/score-correctness contract against
    * [[q26CosineTopK]].
    */
  def annLshTopK(s: SparkSession, dir: String, probeId: Long = 0, k: Int = 5,
      nPlanes: Int = 6): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val dim = 64
    val planes = hyperplanes(nPlanes, dim)

    // sign bit for plane p: dot(embedding, plane_p) >= 0 — one fused
    // codegen'd loop (native HyperplaneBucket expression), not a
    // nPlanes×dim Column tree (which exceeded codegen limits and fell
    // back to interpreted evaluation)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_bucket",
      exprs => graft.functions.HyperplaneBucket(exprs.head, planes), "built-in")
    def bucketExpr(embCol: org.apache.spark.sql.Column) =
      call_function("hyperplane_bucket", embCol)

    val bucketed = emb.withColumn("bucket", bucketExpr(col("embedding")))
    val probeRow = bucketed.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"), col("bucket").as("probe_bucket"))
    // multiprobe: query bucket + flip each single bit
    val probeBuckets = probeRow.select(col("probe_emb"),
      explode(array(
        col("probe_bucket") +: (0 until nPlanes).map(p =>
          col("probe_bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))

    bucketed.filter(col("vec_id") =!= probeId)
      .join(broadcast(probeBuckets), "bucket")
      .select(col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), col("probe_emb")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  def annLsh(s: SparkSession, dir: String): DataFrame = annLshTopK(s, dir)

  // ---- IVF, PQ and IVF-PQ: quantized candidates, exact top-k by bound ----
  //
  // Each family trains its quantizer with KMeans.lloyd on vectors
  // collected once, then answers in two steps: a cheap pass over the
  // quantized candidates finds an exact k-th best score s_k, and one more
  // pass scores exactly every row (or cell) whose upper bound on the
  // cosine reaches s_k − 1e-6. The top-k is therefore the brute-force
  // top-k, ids and 6-dp scores alike; the index decides only how much is
  // scored. The slack of 1e-6 keeps a row within half a unit of the 6th
  // place below s_k, which rounds to s_k and can win on the vec_id
  // tiebreak.

  /** (vec_id, vector) rows of `emb` in vec_id order: a quantizer's one
    * training collect.
    */
  private def collectVecs(emb: DataFrame): Array[(Long, Array[Double])] =
    emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> toDoubles(r.getSeq[Float](1)))
      .sortBy(_._1)

  private def toDoubles(e: Seq[Float]): Array[Double] = e.map(_.toDouble).toArray

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** Exact cosine top-k of `rows` (vec_id, embedding) against `q`: the
    * brute-force kernel, rounding and tiebreak of [[q26CosineTopK]].
    */
  private def exactTopK(rows: DataFrame, q: Array[Float], k: Int): DataFrame =
    rows.select(col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), typedLit(q)), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  /** The least bound that can still reach the top-k: s_k − 1e-6 for the
    * k-th best score of `top`, or −∞ while it holds fewer than k scores.
    */
  private def boundFloor(top: DataFrame, k: Int): Double = {
    val scores = top.collect().filterNot(_.isNullAt(1)).map(_.getDouble(1))
    if (scores.length < k) Double.NegativeInfinity else scores.min - 1e-6
  }

  /** An IVF coarse quantizer: the cell centroids and, per cell, the radius
    * ρ_c = max ‖v/‖v‖ − c‖ over its members (−∞ while a cell is empty;
    * zero vectors have no cosine and are not counted). For a unit probe
    * q̂ each member v has cos(q, v) = q̂·c + q̂·(v/‖v‖ − c) ≤ q̂·c + ρ_c
    * (Cauchy–Schwarz): the bound that makes the IVF top-k exact. A vector
    * belongs to its [[KMeans.nearest]] centroid.
    */
  case class IvfQuantizer(centroids: Array[Array[Double]], radii: Array[Double]) {
    def cellOf(v: Array[Double]): Int = KMeans.nearest(v, centroids)

    private[Similarity] def cover(acc: Array[Double], v: Array[Double]): Unit = {
      val n = norm(v)
      if (n > 0) {
        val c = cellOf(v)
        acc(c) = math.max(acc(c), math.sqrt(KMeans.sqDist(v.map(_ / n), centroids(c))))
      }
    }

    /** This quantizer with its radii widened to cover the (vec_id,
      * embedding) `rows`: one aggregate pass, no shuffle.
      */
    def covering(rows: DataFrame): IvfQuantizer = {
      val widened = rows.select(col("embedding")).rdd.aggregate(radii.clone)(
        (acc, r) => { cover(acc, toDoubles(r.getSeq[Float](0))); acc },
        (a, b) => a.indices.map(i => math.max(a(i), b(i))).toArray)
      copy(radii = widened)
    }
  }

  object IvfQuantizer {
    /** Coarse training, 10 Lloyd's iterations over `points` (vec_id
      * order), with the radii of the points themselves.
      */
    def train(points: Array[Array[Double]], nlist: Int): IvfQuantizer = {
      val cents = KMeans.lloyd(points, nlist, iters = 10)
      val quant = IvfQuantizer(cents, Array.fill(cents.length)(Double.NegativeInfinity))
      points.foreach(quant.cover(quant.radii, _))
      quant
    }
  }

  private def withCell(rows: DataFrame, quant: IvfQuantizer): DataFrame =
    rows.withColumn("cell",
      udf((e: Seq[Float]) => quant.cellOf(toDoubles(e))).apply(col("embedding")))

  /** The `nprobe` cells whose centroids are nearest `q` by cosine. */
  private def nearestCells(cents: Array[Array[Double]], q: Array[Double],
      nprobe: Int): Seq[Int] = {
    val qn = norm(q)
    def cos(c: Array[Double]): Double = {
      val cn = norm(c)
      if (cn == 0 || qn == 0) -2 else dot(q, c) / (cn * qn)
    }
    cents.indices.sortBy(c => -cos(cents(c))).take(nprobe)
  }

  /** IVF top-k over `rows` (vec_id, embedding, cell): score the `nprobe`
    * cells nearest `q`, then every other cell whose bound q̂·c + ρ_c
    * reaches the floor. Returns the top-k and the rows it scores.
    */
  private def ivfExact(rows: DataFrame, quant: IvfQuantizer, q: Array[Float],
      k: Int, nprobe: Int): (DataFrame, DataFrame) = {
    val qd = q.map(_.toDouble); val qn = norm(qd)
    val cents = quant.centroids
    val probed = nearestCells(cents, qd, nprobe)
    def inCells(cs: Seq[Int]) = rows.filter(col("cell").isin(cs: _*))
    val floor = boundFloor(exactTopK(inCells(probed), q, k), k)
    val more = cents.indices.filter(c => !probed.contains(c) &&
      (qn == 0 || dot(qd, cents(c)) / qn + quant.radii(c) >= floor))
    val scored = inCells(probed ++ more)
    (exactTopK(scored, q, k), scored)
  }

  /** IVF ANN: a k-means coarse quantizer ([[IvfQuantizer]], trained by
    * [[KMeans.lloyd]] on the collected corpus) partitions the corpus
    * into `nlist` cells. A probe scores the `nprobe` cells whose
    * centroids are nearest, which gives an exact k-th best score s_k;
    * then it scores every other cell whose radius bound q̂·c + ρ_c
    * reaches s_k − 1e-6, since only those can hold a better row. The
    * result is the exact top-k (ids and scores of [[q26CosineTopK]]);
    * `nprobe` sets how good s_k is after the first pass, and the bound
    * how many cells follow. This is the production shape for 100 TB:
    * train on a sample, write the corpus partitioned by cell
    * ([[writeIvfIndex]]), and a query reads the cells it scores.
    */
  def annIvfTopK(s: SparkSession, dir: String, probeId: Long = 0, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    annIvfScan(s, dir, probeId, k, nlist, nprobe)._1

  /** [[annIvfTopK]] and the (vec_id, embedding, cell) rows it scores. */
  private[graft] def annIvfScan(s: SparkSession, dir: String, probeId: Long,
      k: Int, nlist: Int, nprobe: Int): (DataFrame, DataFrame) = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val vecs = collectVecs(emb)
    val quant = IvfQuantizer.train(vecs.map(_._2), nlist)
    val rows = emb.filter(col("vec_id") =!= probeId)
    withProbe(vecs, probeId, rows)(ivfExact(withCell(rows, quant), quant, _, k, nprobe))
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = annIvfTopK(s, dir)

  /** `run` on the probe's vector, found among the collected `vecs`; a
    * probe missing from the corpus gets no rows, as from brute force.
    */
  private def withProbe(vecs: Array[(Long, Array[Double])], probeId: Long,
      rows: DataFrame)(run: Array[Float] => (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    vecs.collectFirst { case (id, v) if id == probeId => run(v.map(_.toFloat)) }
      .getOrElse((exactTopK(rows.limit(0), Array.emptyFloatArray, 1), rows.limit(0)))

  /** A product quantizer: `cb(mi)` holds subspace mi's centroids. A
    * vector's code is its [[KMeans.nearest]] centroid per subspace, and
    * its reconstruction v̂ the concatenation of those centroids.
    */
  private case class Pq(cb: Array[Array[Array[Double]]]) {
    private val dsub = cb(0)(0).length

    private def sub(v: Array[Double], mi: Int) = v.slice(mi * dsub, (mi + 1) * dsub)

    /** v's codes and its reconstruction error ‖v − v̂‖. */
    def encode(v: Array[Double]): (Array[Int], Double) = {
      var e2 = 0.0
      val codes = cb.indices.map { mi =>
        val c = KMeans.nearest(sub(v, mi), cb(mi))
        e2 += KMeans.sqDist(sub(v, mi), cb(mi)(c))
        c
      }.toArray
      (codes, math.sqrt(e2))
    }

    /** ADC table: dot(u_mi, cb(mi)(c)) per (subspace, code). */
    def dots(u: Array[Double]): Array[Array[Double]] =
      cb.indices.map(mi => cb(mi).map(dot(sub(u, mi), _))).toArray

    /** Σ_mi tbl(mi)(codes(mi)). */
    def lookup(tbl: Array[Array[Double]], codes: Array[Int]): Double = {
      var d = 0.0; var mi = 0
      while (mi < codes.length) { d += tbl(mi)(codes(mi)); mi += 1 }
      d
    }
  }

  private object Pq {
    /** m codebooks of `ksub` centroids, 5 Lloyd's iterations each, over
      * `points` in vec_id order.
      */
    def train(points: Array[Array[Double]], m: Int, ksub: Int): Pq = {
      require(points.head.length % m == 0)
      val dsub = points.head.length / m
      Pq(Array.tabulate(m)(mi =>
        KMeans.lloyd(points.map(_.slice(mi * dsub, (mi + 1) * dsub)), ksub, iters = 5)))
    }
  }

  /** The PQ bound on cos(q, v) from v's codes: (q·v̂ + ‖q‖·e_v)/(‖q‖·‖v‖),
    * as q·v = q·v̂ + q·(v − v̂) ≤ q·v̂ + ‖q‖·‖v − v̂‖. +∞ (always scored)
    * where either norm is 0.
    */
  private def pqBound(qDotRecon: Double, qn: Double, err: Double, vn: Double): Double =
    if (qn == 0 || vn == 0) Double.PositiveInfinity
    else (qDotRecon + qn * err) / (qn * vn)

  /** PQ top-k: re-rank exactly the `rerank` rows of `adcRows` best by
    * `adc` to get the floor, then score every row of `rows` whose `bound`
    * reaches it. Returns the top-k and the rows it scores.
    */
  private def pqExact(adcRows: DataFrame, adc: Column, rows: DataFrame,
      bound: Column, q: Array[Float], k: Int, rerank: Int): (DataFrame, DataFrame) = {
    val floor = boundFloor(exactTopK(
      adcRows.orderBy(adc.desc, col("vec_id").asc).limit(rerank), q, k), k)
    val scored = rows.filter(bound >= floor)
    (exactTopK(scored, q, k), scored)
  }

  /** Product-quantization ANN (the third index family after LSH and IVF,
    * completing the vector-search set: brute / LSH / IVF / int8 / PQ):
    * the 64-dim space splits into `m` subspaces, each with its own
    * `ksub`-centroid codebook, so every corpus vector compresses to m
    * small codes — 8 bytes here, a 32× shrink, the RAM-resident scan form
    * real vector stores use. All m codebooks train by [[KMeans.lloyd]]
    * from one collected quarter sample (quantizer training is the offline
    * step of an index build, and subspace centroids converge on far less
    * data than the corpus).
    *
    * Query-time ADC (asymmetric distance computation): the probe
    * precomputes dot/norm lookup tables per (subspace, code), driver
    * state the size of the codebook. The `rerank` best rows by ADC score
    * re-rank exactly to give an exact k-th best score s_k; then every
    * row whose bound (q·v̂ + ‖q‖·e_v)/(‖q‖·‖v‖) reaches s_k − 1e-6 is
    * scored exactly, where q·v̂ comes from the ADC tables and e_v = ‖v −
    * v̂‖ is the row's reconstruction error. The result is the exact top-k
    * of [[q26CosineTopK]]; `rerank` sets only how tight s_k is.
    *
    * At 100 TB the codes column is what you materialize (cf.
    * writeIvfIndex), with ‖v‖ and e_v next to it: the fleet scans codes
    * and two doubles per row, and reads full vectors only for the rows
    * the bound cannot rule out.
    */
  def annPqTopK(s: SparkSession, dir: String, probeId: Long = 0, k: Int = 5,
      m: Int = 8, ksub: Int = 16, rerank: Int = 32): DataFrame =
    annPqScan(s, dir, probeId, k, m, ksub, rerank)._1

  /** [[annPqTopK]] and the (vec_id, embedding) rows it scores. */
  private[graft] def annPqScan(s: SparkSession, dir: String, probeId: Long,
      k: Int, m: Int, ksub: Int, rerank: Int): (DataFrame, DataFrame) = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    // the quarter sample and the probe in one collect
    val vecs = collectVecs(
      emb.filter(pmod(col("vec_id"), lit(4)) === 0 || col("vec_id") === probeId))
    val pq = Pq.train(quarter(vecs), m, ksub)
    val rows = emb.filter(col("vec_id") =!= probeId)
    withProbe(vecs, probeId, rows) { q =>
      val qd = q.map(_.toDouble); val qn = norm(qd)
      val dots = pq.dots(qd)
      val nrm2 = pq.cb.map(_.map(c => dot(c, c)))
      val adc = udf { (e: Seq[Float]) =>
        val codes = pq.encode(toDoubles(e))._1
        val n2 = pq.lookup(nrm2, codes)
        if (n2 == 0 || qn == 0) -2.0 else pq.lookup(dots, codes) / (qn * math.sqrt(n2))
      }
      val bound = udf { (e: Seq[Float]) =>
        val v = toDoubles(e)
        val (codes, err) = pq.encode(v)
        pqBound(pq.lookup(dots, codes), qn, err, norm(v))
      }
      pqExact(rows, adc(col("embedding")), rows, bound(col("embedding")), q, k, rerank)
    }
  }

  /** The deterministic quarter sample (vec_id ≡ 0 mod 4) PQ codebooks
    * train on.
    */
  private def quarter(vecs: Array[(Long, Array[Double])]): Array[Array[Double]] =
    vecs.collect { case (id, v) if Math.floorMod(id, 4L) == 0 => v }

  def annPq(s: SparkSession, dir: String): DataFrame = annPqTopK(s, dir)

  /** IVF-PQ ANN — the two index families COMPOSED, i.e. the IVFADC
    * layout production vector stores default to (FAISS's IVFPQ): the
    * coarse IVF quantizer routes a query to `nprobe` of `nlist` cells,
    * and within each cell vectors are stored as product-quantized
    * RESIDUALS (vector − cell centroid). Residual encoding is what makes
    * the composition better than either part: after subtracting the
    * centroid the residual distribution is centered and much tighter
    * than the raw vectors, so the same 8-byte code budget quantizes far
    * more precisely than PQ over raw vectors. The coarse quantizer trains
    * by [[KMeans.lloyd]] on the collected corpus, and the m residual
    * codebooks on the quarter sample of the same collect.
    *
    * Query-time ADC reconstructs cosine against v̂ = c_cell + r̂ from
    * driver-resident tables only (all parameter-sized, like IVF's
    * quantizer and PQ's codebook):
    *   dot(q, v̂)  = dot(q, c_cell) + Σ_mi dot(q_mi, cb[mi][code])
    *   ‖v̂‖²       = ‖c_cell‖² + 2·Σ_mi dot(c_cell,mi, cb[mi][code])
    *                 + Σ_mi ‖cb[mi][code]‖²
    * The `rerank` best rows by ADC in the `nprobe` nearest cells
    * re-rank exactly to give s_k; then every row, in any cell, whose
    * bound (q·v̂ + ‖q‖·e_v)/(‖q‖·‖v‖) reaches s_k − 1e-6 is scored
    * exactly (e_v = ‖v − v̂‖ = ‖r − r̂‖). The result is the exact top-k
    * of [[q26CosineTopK]].
    *
    * At 100 TB this is exactly the shape to materialize (cf.
    * writeIvfIndex): corpus partitioned by cell, codes, ‖v‖ and e_v
    * resident, full vectors fetched only for the rows the bound cannot
    * rule out.
    */
  def annIvfPqTopK(s: SparkSession, dir: String, probeId: Long = 0,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 6, m: Int = 8,
      ksub: Int = 16, rerank: Int = 64): DataFrame =
    annIvfPqScan(s, dir, probeId, k, nlist, nprobe, m, ksub, rerank)._1

  /** [[annIvfPqTopK]] and the (vec_id, embedding) rows it scores. */
  private[graft] def annIvfPqScan(s: SparkSession, dir: String, probeId: Long,
      k: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
      rerank: Int): (DataFrame, DataFrame) = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val vecs = collectVecs(emb)
    val centers = KMeans.lloyd(vecs.map(_._2), nlist, iters = 10)
    def residOf(v: Array[Double]): (Int, Array[Double]) = {
      val cell = KMeans.nearest(v, centers)
      (cell, v.indices.map(i => v(i) - centers(cell)(i)).toArray)
    }
    val pq = Pq.train(quarter(vecs).map(residOf(_)._2), m, ksub)
    val rows = emb.filter(col("vec_id") =!= probeId)
    withProbe(vecs, probeId, rows) { q =>
      val qd = q.map(_.toDouble); val qn = norm(qd)
      // driver-side ADC state, all parameter-sized
      val qdotc = centers.map(dot(qd, _))
      val cn2 = centers.map(c => dot(c, c))
      val dotsR = pq.dots(qd)
      val rn2 = pq.cb.map(_.map(c => dot(c, c)))
      val cdotr = centers.map(pq.dots)
      val adc = udf { (e: Seq[Float]) =>
        val (cell, r) = residOf(toDoubles(e))
        val codes = pq.encode(r)._1
        val d = qdotc(cell) + pq.lookup(dotsR, codes)
        val n2 = cn2(cell) + 2.0 * pq.lookup(cdotr(cell), codes) + pq.lookup(rn2, codes)
        if (n2 <= 0 || qn == 0) -2.0 else d / (qn * math.sqrt(n2))
      }
      val bound = udf { (e: Seq[Float]) =>
        val v = toDoubles(e)
        val (cell, r) = residOf(v)
        val (codes, err) = pq.encode(r)
        pqBound(qdotc(cell) + pq.lookup(dotsR, codes), qn, err, norm(v))
      }
      val cellOf = udf((e: Seq[Float]) => residOf(toDoubles(e))._1)
      val probed = nearestCells(centers, qd, nprobe)
      pqExact(rows.filter(cellOf(col("embedding")).isin(probed: _*)),
        adc(col("embedding")), rows, bound(col("embedding")), q, k, rerank)
    }
  }

  def annIvfPq(s: SparkSession, dir: String): DataFrame = annIvfPqTopK(s, dir)

  /** Driver-gate self-check harness for the ANN families: turns each
    * family's approximation CONTRACT into hash-checkable data. The row
    * carries (a) the definitional exact top-1 (id + score), which the
    * DuckDB oracle recomputes from the raw vectors; (b) contract
    * verdicts the oracle pins to their required values: `ann_k` results
    * returned, `scores_exact` of them carrying the true cosine of their
    * id (re-derived here with the same kernel — ANN may prune
    * candidates but must never fabricate scores), and `bounded` of them
    * at or below the global best score (the subset property). The recall
    * addenda (`top1_found`, `recall_at5 ≥ 3`) are claimed by IVF, PQ and
    * IVF-PQ on every corpus, by a bound: each scores exactly every cell
    * or row whose upper bound on the cosine reaches the k-th best exact
    * score it has found, so it returns the exact top-5 (see the section
    * comment above [[annIvfTopK]]). LSH multiprobe has no such bound and
    * recall ≈ 0 here (near-orthogonal vectors, no planted neighbors), so
    * it claims none, exactly as its scaladoc states.
    */
  private def annCheckedStats(s: SparkSession, dir: String,
      ann: DataFrame): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    val exact = q26CosineTopK(s, dir) // (vec_id, score) — exact top-5
    val top1 = exact.orderBy(col("score").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id").as("exact_top1_id"),
        col("score").as("exact_top1_score"))
    val rescored = ann
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("score"),
        round(VectorFunctions.cosineSim(col("embedding"), col("probe_emb")), 6)
          .as("true_score"))
    val hits = exact.select(col("vec_id"), lit(1L).as("in_exact"))
    rescored.join(hits, Seq("vec_id"), "left")
      .crossJoin(broadcast(top1))
      .groupBy(col("exact_top1_id"), col("exact_top1_score"))
      .agg(count(lit(1)).as("ann_k"),
        sum(when(col("score") === col("true_score"), 1L).otherwise(0L))
          .as("scores_exact"),
        sum(when(col("score") <= col("exact_top1_score"), 1L).otherwise(0L))
          .as("bounded"),
        sum(coalesce(col("in_exact"), lit(0L))).as("recall_at5"),
        max(when(col("vec_id") === col("exact_top1_id"), 1L).otherwise(0L))
          .as("top1_found"))
  }

  private val annBaseCols = Seq("exact_top1_id", "exact_top1_score",
    "ann_k", "scores_exact", "bounded").map(col)

  def annLshChecked(s: SparkSession, dir: String): DataFrame =
    annCheckedStats(s, dir, annLshTopK(s, dir)).select(annBaseCols: _*)

  def annIvfChecked(s: SparkSession, dir: String): DataFrame =
    annCheckedStats(s, dir, annIvfTopK(s, dir))
      .select(annBaseCols :+ col("top1_found"): _*)

  def annPqChecked(s: SparkSession, dir: String): DataFrame =
    annCheckedStats(s, dir, annPqTopK(s, dir))
      .select(annBaseCols ++ Seq(col("top1_found"),
        (col("recall_at5") >= 3).cast("long").as("recall_ge_3")): _*)

  def annIvfPqChecked(s: SparkSession, dir: String): DataFrame =
    annCheckedStats(s, dir, annIvfPqTopK(s, dir))
      .select(annBaseCols ++ Seq(col("top1_found"),
        (col("recall_at5") >= 3).cast("long").as("recall_ge_3")): _*)

  /** Exact all-pairs embedding near-dup (cosine ≥ thr). Exactness makes
    * the n²/2 kernel evaluations inherent; what must NOT be inherent is
    * the nested-loop broadcast of the whole corpus that a bare `i < j`
    * join plans to. Block-grid shape instead: the left side is exploded
    * to every block id (B× inflation), the join is a key-partitioned
    * equi-join on the right row's block — work spreads evenly over
    * B partitions and no executor ever holds the full table. Size B to
    * the cluster's parallelism (B ≈ √cores); kernel-eval total is
    * unchanged, only the distribution strategy.
    */
  /** SemDeDup-style semantic dedup: k-means partitions the corpus, then
    * near-duplicate pruning runs WITHIN each cluster only — the pairwise
    * kernel never crosses cluster boundaries, so total work is
    * Σ|cluster|², bounded by choosing k proportional to corpus size
    * (SemDeDup's own recipe: cluster count grows with the corpus so
    * cluster cardinality stays fixed, keeping the per-cluster quadratic
    * constant-sized while the clustering itself stays one broadcast-
    * centroid assignment pass). Dedup rule, deterministic: within a
    * cluster, any vector whose cosine to a LOWER-id cluster-mate meets
    * the threshold is dropped; the lowest id of each semantic group
    * survives. Output: every vector with its cluster and kept verdict.
    */
  def semDedup(s: SparkSession, dir: String, k: Int = 4, iters: Int = 2,
      thr: Double = 0.4): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val asg = semAsgShared(s, dir, k, iters)
    // the flagship gate keeps the CAPPED kernel (the k-heap admission
    // path must execute under the hash gate — capped ≡ uncapped at
    // every cell the gate corpus produces, see DefaultMaxCell's doc)
    val dropped = semDedupDropped(emb, asg, thr, Some(DefaultMaxCell))
    asg.join(dropped.withColumn("dup", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid").cast("long").as("cluster"),
        col("dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  // ---- shared gate fixtures (the cepMultiReplayed precedent, r15
  // verdict item 2): the four emb_semdedup* gates each re-ran the SAME
  // deterministic k-means assignment pass (k=4, iters=2) and three of
  // them the SAME uncapped flat drop set — 4 Lloyd's + 3 quadratic
  // kernels per bench pass for provably identical tables. Memoize each
  // once per (JVM, dir, params) as a parquet PATH (session-independent
  // plain data — a cached DataFrame would pin a stopped SparkSession;
  // each call re-reads through the CURRENT session, paying one footer
  // read) and slice the gates off it. Outputs are bit-identical: the
  // memoized tables are the exact computations the gates ran inline
  // before (re-dumped and diffed against the r15-verified dump).
  // [[graft.FixtureMemo]] is nesting-safe: semFlatShared's builder
  // calls semAsgShared on the same memo.
  private def memoPath(kind: String, key: String)(build: => String): String =
    graft.FixtureMemo.of(kind, key)(build)

  /** The (vec_id, cid) coarse assignment table shared by all four
    * emb_semdedup* gates — [[KMeans.assignmentsOf]] at the gate
    * parameters, computed once per (JVM, dir, k, iters).
    */
  private def semAsgShared(s: SparkSession, dir: String, k: Int,
      iters: Int): DataFrame =
    // the fixture now lives in KMeans (r18 — emb_kmeans summarizes the
    // SAME assignment run, so one memoized table serves both; this
    // accessor keeps the (vec_id, cid) slice its consumers saw before)
    Tables.parquet(s, KMeans.assignmentsPath(s, dir, k, iters))
      .select(col("vec_id"), col("cid"))

  /** The UNCAPPED flat drop set off the shared assignment — the
    * definitional fact the bounded/hier/rec contract gates all compare
    * against, computed once per (JVM, dir, k, iters, thr).
    */
  private def semFlatShared(s: SparkSession, dir: String, k: Int,
      iters: Int, thr: Double): DataFrame = {
    val path = memoPath("sem_flat", s"$dir|$k|$iters|$thr") {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-sem-flat").toString)
      semDedupDropped(t(s, dir, "embeddings"),
        semAsgShared(s, dir, k, iters), thr, None)
        .write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** The one-level sub-assignment table off the shared coarse
    * assignment (r17, the rec fixture's sibling) —
    * [[KMeans.subAssignmentsOf]] at the hier gate's parameters,
    * computed once per (JVM, dir, params); deterministic for the same
    * reason as [[semRefShared]]. The hier gate keeps its live
    * refined-cell kernel run.
    */
  private def semSubShared(s: SparkSession, dir: String, k: Int,
      iters: Int, targetCell: Int, subIters: Int): DataFrame = {
    val path = memoPath("sem_sub",
        s"$dir|$k|$iters|$targetCell|$subIters") {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-sem-sub").toString)
      KMeans.subAssignmentsOf(t(s, dir, "embeddings"),
        semAsgShared(s, dir, k, iters), targetCell, subIters)
        .write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** The recursive-refinement assignment table off the shared coarse
    * assignment (r17) — [[KMeans.refineToTarget]] at the rec gate's
    * parameters, computed once per (JVM, dir, params). The refinement
    * is deterministic (seeded Lloyd's over a fixed split order), so
    * slicing it onto a fixture is output-neutral; the rec gate keeps
    * its LIVE kernel run (the cell-bounded pair join + forced
    * verdicts), exactly the sem_flat/sem_asg accounting.
    */
  private def semRefShared(s: SparkSession, dir: String, k: Int,
      iters: Int, targetCell: Int, subIters: Int, fanout: Int,
      maxLevels: Int): DataFrame = {
    val path = memoPath("sem_ref",
        s"$dir|$k|$iters|$targetCell|$subIters|$fanout|$maxLevels") {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-sem-ref").toString)
      KMeans.refineToTarget(t(s, dir, "embeddings"),
        semAsgShared(s, dir, k, iters), targetCell, subIters,
        fanout, maxLevels)
        .write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** Library-facing form over any (vec_id, embedding) DataFrame. Caller
    * must have run `VectorFunctions.register` on the session (the cosine
    * kernel resolves through the function registry).
    *
    * `maxCell` is the OCCUPANCY GUARDRAIL for the within-cell quadratic
    * (the same cap-and-account pattern as
    * [[Dedup.minhashLshPairsBounded]]'s bucket cap and the TF-IDF df
    * cap): the SemDeDup recipe holds cell cardinality constant by
    * scaling k with the corpus, but nothing about k-means *enforces*
    * it — one near-duplicate-heavy semantic cluster (crawl corpora are
    * exactly that) makes a single cell quadratic. With the cap, each
    * cell admits only its `maxCell` LOWEST vec_ids into the pair join
    * (selected by the bounded k-heap aggregate — map-side partials,
    * O(cap) state, never a per-cell sort; id ordering is exact below
    * 2⁵³), so candidate volume is ≤ k·cap²/2 BY CONSTRUCTION. Recall
    * accounting, deterministic and one-sided: unadmitted vectors are
    * KEPT (never compared, never dropped, and — because the survivor
    * rule keeps the lowest id of a semantic group and admission takes
    * the lowest ids — an unadmitted vector can only lose a comparison
    * against a kept lower admitted id, so capped output drops a SUBSET
    * of the uncapped drops). Production recipe stays "scale k with the
    * corpus"; the cap is the backstop that turns the skewed-cell worst
    * case from quadratic into a bounded, audited recall trade.
    *
    * The cap is ON BY DEFAULT (10 000): a 100 TB library must make the
    * bounded form the path of least resistance, so the unsafe
    * (uncapped) variant is the explicit opt-out `maxCell = None`, not
    * the signature default. The recall trade at the default: a cell
    * must exceed 10 000 members before ANY comparison is skipped, and
    * then only members above the 10 000 lowest ids go uncompared (and
    * are KEPT — the one-sided direction above); candidate volume is
    * ≤ k·5·10⁷ pairs by construction. Cells that small-corpus gates
    * and typical SemDeDup recipes produce (10²–10⁴) are untouched —
    * capped ≡ uncapped there, which is why the hash gate runs through
    * the default cap.
    */
  val DefaultMaxCell: Int = 10000

  def semDedupOf(emb: DataFrame, k: Int, iters: Int, thr: Double,
      maxCell: Option[Int] = Some(DefaultMaxCell)): DataFrame = {
    val asg = KMeans.assignmentsOf(emb, k, iters)
      .select(col("vec_id"), col("cid")).localCheckpoint(true)
    val dropped = semDedupDropped(emb, asg, thr, maxCell)
    asg.join(dropped.withColumn("dup", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid").cast("long").as("cluster"),
        col("dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The dropped-id set for a given (vec_id, cid) assignment table — the
    * layer the occupancy cap acts on; the kept verdict is a
    * deterministic left-outer read of this set.
    */
  private[graft] def semDedupDropped(emb: DataFrame, asg: DataFrame,
      thr: Double, maxCell: Option[Int]): DataFrame = {
    val admitted = maxCell.map { cap =>
      graft.functions.TopKFunctions.register(emb.sparkSession)
      asg.groupBy(col("cid"))
        .agg(graft.functions.TopKFunctions.topkByValue(
          -col("vec_id").cast("double"), col("vec_id"), cap).as("t"))
        .select(col("cid"), explode(col("t.id")).as("vec_id"))
    }.getOrElse(asg)
    val e = emb.join(admitted, "vec_id")
    // cluster-blocked pair generation: equi-join on cid (key-partitioned
    // shuffle), ids ordered so each unordered pair appears once
    val a = e.select(col("cid"), col("vec_id").as("i"), col("embedding").as("ea"))
    val b = e.select(col("cid"), col("vec_id").as("j"), col("embedding").as("eb"))
    a.join(b, Seq("cid"))
      .filter(col("i") < col("j"))
      .filter(VectorFunctions.cosineSim(col("ea"), col("eb")) >= thr)
      .select(col("j").as("vec_id")).distinct()
  }

  /** emb_semdedup_bounded — self-checking contract for the cap, the
    * [[Dedup.minhashBoundedChecked]] shape transplanted: `n_vecs` and
    * `n_dropped` (the UNCAPPED drop count, which the DuckDB oracle
    * recomputes definitionally via its own Lloyd's + pair-join replay),
    * `loose_cap_eq` = a RUN of the capped kernel at a loose cap (1000,
    * far above the ~25-vector cells here) drops EXACTLY the uncapped
    * set — the admission code path itself executes and its output is
    * set-compared both directions, so a broken admission (wrong heap
    * order, off-by-one, dropped cell) flips the verdict; and
    * `tight_cap_subset` = a biting cap (3) only ever REMOVES drops.
    * The falsifiability of loose_cap_eq is itself spec-pinned: the
    * same symmetric-difference test run at cap=1 is asserted NON-empty
    * (the mutation case — a check that cannot fail proves nothing).
    * Verdicts compare the dropped-id sets — the layer the cap acts on;
    * the kept verdict is a deterministic downstream read.
    */
  def semDedupBoundedChecked(s: SparkSession, dir: String, k: Int = 4,
      iters: Int = 2, thr: Double = 0.4): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val asg = semAsgShared(s, dir, k, iters)
    // full drops feed two consumers (count / exceptAll) and two sibling
    // gates — the shared parquet fixture serves all of them off one
    // quadratic kernel run
    val full = semFlatShared(s, dir, k, iters, thr)
    val nVec = asg.agg(count(lit(1)).as("n_vecs"))
    val nDrop = full.agg(count(lit(1)).as("n_dropped"))
    // loose-cap equality by EXECUTION: run the capped kernel at a cap
    // above every cell's occupancy and set-compare its drops against
    // the uncapped run, both directions — this exercises the k-heap
    // admission path the verdict claims to prove (the former
    // occupancy-table shortcut was true by construction and could
    // never fail)
    val loose = semDedupDropped(emb, asg, thr, Some(1000))
    val dEq = loose.exceptAll(full).unionAll(full.exceptAll(loose))
      .agg(count(lit(1)).as("d1"))
    val tight = semDedupDropped(emb, asg, thr, Some(3))
    val dSub = tight.exceptAll(full).agg(count(lit(1)).as("d2"))
    nVec.crossJoin(nDrop).crossJoin(dEq).crossJoin(dSub)
      .select(col("n_vecs"), col("n_dropped"),
        when(col("d1") === 0, 1L).otherwise(0L).as("loose_cap_eq"),
        when(col("d2") === 0, 1L).otherwise(0L).as("tight_cap_subset"))
  }

  /** Hierarchical SemDeDup — the verdict's other named mitigation,
    * alongside the cap: coarse k-means cells are REFINED by
    * [[KMeans.subAssignmentsOf]] (per-cell grouped Lloyd's,
    * s(cell) = ⌈occ/targetCell⌉ sub-centroids) and the pair join runs
    * within REFINED cells, so the typical oversized-but-diverse cell's
    * quadratic shrinks toward targetCell² per sub-cell. Refinement
    * PARTITIONS coarse cells, so hierarchical drops ⊆ flat drops (the
    * one-sided recall trade, same direction as the cap) — and a
    * near-identical-vector cell, which no Lloyd's can split (all
    * distances tie), falls through to `maxCell` as the hard backstop.
    * Output adds the sub-cell id next to the coarse cluster.
    */
  def semDedupHierOf(emb: DataFrame, k: Int, iters: Int, thr: Double,
      targetCell: Int,
      maxCell: Option[Int] = Some(DefaultMaxCell)): DataFrame = {
    val asg = KMeans.assignmentsOf(emb, k, iters)
      .select(col("vec_id"), col("cid")).localCheckpoint(true)
    val sub = KMeans.subAssignmentsOf(emb, asg, targetCell, iters)
      .localCheckpoint(true)
    val refined = sub.select(col("vec_id"),
      (col("cid").cast("long") * 4294967296L + col("sub")).as("cid"))
    val dropped = semDedupDropped(emb, refined, thr, maxCell)
    sub.join(dropped.withColumn("dup", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid").cast("long").as("cluster"),
        col("sub").cast("long").as("subcluster"), col("dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Recursive SemDeDup — the near-linear composition of the
    * hierarchy: [[KMeans.refineToTarget]] splits oversized cells with a
    * BOUNDED per-level fanout (each level ≤ n·fanout·d assignment work,
    * ≈ log_fanout(occ/target) levels, only still-oversized cells
    * touched), then the pair join runs within the final cells. Same
    * one-sided recall direction as the single-level form (refinement
    * partitions cells ⇒ drops ⊆ flat drops); `maxCell` remains the
    * hard backstop for Lloyd's-unsplittable cells. This is the form
    * whose cost survives a fixed coarse k at 100 TB.
    */
  def semDedupRecursiveOf(emb: DataFrame, k: Int, iters: Int, thr: Double,
      targetCell: Int, fanout: Int = 16, maxLevels: Int = 4,
      maxCell: Option[Int] = Some(DefaultMaxCell)): DataFrame = {
    val asg = KMeans.assignmentsOf(emb, k, iters)
      .select(col("vec_id"), col("cid")).localCheckpoint(true)
    val refined = KMeans.refineToTarget(emb, asg, targetCell, iters,
      fanout, maxLevels)
    val dropped = semDedupDropped(emb, refined, thr, maxCell)
    refined.join(dropped.withColumn("dup", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid").as("cluster"),
        col("dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** emb_semdedup_hier — contract gate for the hierarchical form:
    * `n_vecs`/`n_dropped` are the FLAT (coarse-cell, uncapped) facts the
    * DuckDB oracle replays definitionally; `hier_subset` forces
    * "refinement only removes drops" (refined cells partition coarse
    * cells, so refined pairs ⊆ coarse pairs) and `refine_no_growth`
    * forces "no refined cell outgrows the widest coarse cell". The
    * quantitative split behavior (diverse cells shrink toward
    * targetCell; degenerate identical-vector cells don't split and the
    * cap catches them) is spec-pinned, where it can be asserted against
    * constructed corpora rather than hash-frozen. The refinement runs
    * ONE sub-Lloyd's iteration — the contract (subset / no-growth)
    * holds for ANY refinement quality, so the gate doesn't pay for
    * convergence it doesn't assert; the coarse side keeps the oracle's
    * pinned 2 iterations.
    */
  def semDedupHierChecked(s: SparkSession, dir: String, k: Int = 4,
      iters: Int = 2, thr: Double = 0.4, targetCell: Int = 50): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val asg = semAsgShared(s, dir, k, iters)
    val flat = semFlatShared(s, dir, k, iters, thr)
    // r17: the sub-assignment slices off the shared fixture (the rec
    // fixture's pattern); the refined-cell pair-join kernel stays live
    val sub = semSubShared(s, dir, k, iters, targetCell, subIters = 1)
    val refined = sub.select(col("vec_id"),
      (col("cid").cast("long") * 4294967296L + col("sub")).as("cid"))
    val hier = semDedupDropped(emb, refined, thr, None)
    val nVec = asg.agg(count(lit(1)).as("n_vecs"))
    val nDrop = flat.agg(count(lit(1)).as("n_dropped"))
    val dSub = hier.exceptAll(flat).agg(count(lit(1)).as("d1"))
    val occCoarse = asg.groupBy(col("cid")).agg(count(lit(1)).as("o"))
      .agg(max(col("o")).as("mc"))
    val occRef = refined.groupBy(col("cid")).agg(count(lit(1)).as("o"))
      .agg(max(col("o")).as("mr"))
    nVec.crossJoin(nDrop).crossJoin(dSub)
      .crossJoin(occCoarse).crossJoin(occRef)
      .select(col("n_vecs"), col("n_dropped"),
        when(col("d1") === 0, 1L).otherwise(0L).as("hier_subset"),
        when(col("mr") <= col("mc"), 1L).otherwise(0L).as("refine_no_growth"))
  }

  /** emb_semdedup_rec — contract gate for the RECURSIVE form, the
    * declared 100 TB production path ([[semDedupRecursiveOf]] /
    * [[KMeans.refineToTarget]]): `n_vecs`/`n_dropped` are the same
    * flat (coarse-cell, uncapped) facts the DuckDB oracle replays
    * definitionally; the recursive refinement then runs LIVE under the
    * gate and two verdict columns force its contracts every round:
    * `rec_subset` — recursive drops ⊆ flat drops (each refinement
    * level PARTITIONS cells, so refined pairs ⊆ coarse pairs; this is
    * exactly the invariant the round-10 id-collision bug violated —
    * cold cells left unshifted aliased hot sub ids, merging unrelated
    * cells and creating drops flat never made — so the gate would have
    * caught it); `rec_partition` — the refined assignment is a
    * PARTITION of the corpus (one row per vec_id, none lost, none
    * duplicated across cells). The refinement runs 1 sub-Lloyd's
    * iteration and a small fanout so the gate pays for the contract,
    * not for convergence; the measured cost ladder is recorded in
    * PLANS.md.
    */
  def semDedupRecChecked(s: SparkSession, dir: String, k: Int = 4,
      iters: Int = 2, thr: Double = 0.4, targetCell: Int = 50): DataFrame = {
    VectorFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val asg = semAsgShared(s, dir, k, iters)
    val flat = semFlatShared(s, dir, k, iters, thr)
    // r17: the per-level refinement slices off the shared fixture
    // (recomputing it was the most expensive batch key's whole pass2
    // cost); the pair-join kernel below stays live under the gate
    val refined = semRefShared(s, dir, k, iters, targetCell,
      subIters = 1, fanout = 4, maxLevels = 3)
    val rec = semDedupDropped(emb, refined, thr, None)
    val nVec = asg.agg(count(lit(1)).as("n_vecs"))
    val nDrop = flat.agg(count(lit(1)).as("n_dropped"))
    val dSub = rec.exceptAll(flat).agg(count(lit(1)).as("d1"))
    val part = refined.groupBy(col("vec_id")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_ids"), max(col("c")).as("mx"))
    nVec.crossJoin(nDrop).crossJoin(dSub).crossJoin(part)
      .select(col("n_vecs"), col("n_dropped"),
        when(col("d1") === 0, 1L).otherwise(0L).as("rec_subset"),
        when(col("n_ids") === col("n_vecs") && col("mx") === 1, 1L)
          .otherwise(0L).as("rec_partition"))
  }

  def embeddingNearDup(s: SparkSession, dir: String, blocks: Int = 16,
      thr: Double = 0.4): DataFrame = {
    VectorFunctions.register(s)
    val a = t(s, dir, "embeddings").select(
      col("vec_id").as("i"), col("embedding").as("ea"))
      .withColumn("blk", explode(sequence(lit(0), lit(blocks - 1))))
    val b = t(s, dir, "embeddings").select(
      col("vec_id").as("j"), col("embedding").as("eb"))
      .withColumn("blk", pmod(col("j"), lit(blocks)))
    a.join(b, Seq("blk"))
      .filter(col("i") < col("j"))
      .withColumn("score", VectorFunctions.cosineSim(col("ea"), col("eb")))
      .filter(col("score") >= thr)
      .select(col("i"), col("j"), round(col("score"), 6).as("score"))
      .orderBy(col("i"), col("j"))
  }

  /** LSH-pruned embedding near-dup — the 100 TB path the exact
    * block-grid form ([[embeddingNearDup]]) deliberately is not: banded
    * hyperplane signatures (nBands independent bands of planesPerBand
    * planes; a pair is a CANDIDATE iff it collides in at least one
    * band — the MinHash-LSH banding scheme transplanted to random
    * hyperplanes), then the exact codegen'd cosine re-ranks candidates
    * only. Kernel evaluations are candidate-proportional, not n²/B: the
    * per-band self-join is a key-partitioned equi-join on the band
    * bucket, the same shuffle shape as `Dedup.minhashLsh`. Collision
    * probability for a pair at angle θ is 1 − (1 − (1−θ/π)^r)^b, so
    * recall is a banding-parameter dial, not a hope — at the defaults
    * (8 bands × 3 planes) a cosine-0.4 pair is caught w.p. ~0.90 and a
    * cosine-0.7 pair w.p. ~0.996; missed pairs are the documented
    * trade, audited by the checked gate form below.
    *
    * Output ⊆ [[embeddingNearDup]] with identical scores by
    * construction (same kernel, same threshold, pruned candidates).
    */
  def embeddingNearDupLsh(s: SparkSession, dir: String, nBands: Int = 8,
      planesPerBand: Int = 3, thr: Double = 0.4): DataFrame = {
    VectorFunctions.register(s)
    val dim = 64
    // one seeded stream sliced into per-band plane matrices — bands are
    // independent by construction, deterministic across runs
    val rnd = new scala.util.Random(4242)
    val all = Array.fill(nBands * planesPerBand, dim)(rnd.nextGaussian())
    (0 until nBands).foreach { b =>
      val planes = all.slice(b * planesPerBand, (b + 1) * planesPerBand)
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        s"hp_band_$b",
        exprs => graft.functions.HyperplaneBucket(exprs.head, planes),
        "built-in")
    }
    val emb = t(s, dir, "embeddings")
    // (band, bucket) signature rows: ids only — the candidate shuffle
    // moves 16-byte pairs, never the 256-byte vectors
    val sigs = emb.select(col("vec_id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          call_function(s"hp_band_$b", col("embedding")).as("bucket"))): _*))
        .as("sig"))
      .select(col("vec_id"),
        col("sig.band").as("band"), col("sig.bucket").as("bucket"))
    val candidates = sigs.select(col("band"), col("bucket"),
        col("vec_id").as("i"))
      .join(sigs.select(col("band"), col("bucket"), col("vec_id").as("j")),
        Seq("band", "bucket"))
      .filter(col("i") < col("j"))
      // a pair colliding in several bands is one candidate, not several
      .select(col("i"), col("j")).distinct()
    // vectors re-attach by key-partitioned hash joins at re-rank time
    candidates
      .join(emb.select(col("vec_id").as("i"), col("embedding").as("ea")),
        Seq("i"))
      .join(emb.select(col("vec_id").as("j"), col("embedding").as("eb")),
        Seq("j"))
      .withColumn("score", VectorFunctions.cosineSim(col("ea"), col("eb")))
      .filter(col("score") >= thr)
      .select(col("i"), col("j"), round(col("score"), 6).as("score"))
      .orderBy(col("i"), col("j"))
  }

  /** Driver-gate self-check for [[embeddingNearDupLsh]]: one row
    * carrying the definitional exact pair count (DuckDB recomputes it
    * from the raw vectors) plus the two contract verdicts pinned to 1 —
    * `subset_ok` (every LSH pair is an exact pair with the identical
    * rounded score: LSH may prune, never invent) and `recall_ge_80`
    * (the banding parameters catch ≥ 80% of true pairs on this corpus;
    * cross-multiplied integers, no floats in the verdict).
    */
  def embeddingNearDupLshChecked(s: SparkSession, dir: String): DataFrame = {
    val exact = embeddingNearDup(s, dir)
      .select(col("i"), col("j"), col("score").as("exact_score"))
    val lsh = embeddingNearDupLsh(s, dir)
    val joined = lsh.join(exact, Seq("i", "j"), "left")
    val lshStats = joined.agg(
      count(lit(1)).as("n_lsh"),
      sum(when(col("exact_score").isNotNull &&
        col("score") === col("exact_score"), 1L).otherwise(0L)).as("n_matched"))
    val exactStats = exact.agg(count(lit(1)).as("n_exact"))
    lshStats.crossJoin(exactStats)
      .select(col("n_exact"),
        (col("n_matched") === col("n_lsh")).cast("long").as("subset_ok"),
        (col("n_matched") * 5 >= col("n_exact") * 4).cast("long")
          .as("recall_ge_80"))
  }

  /** Materialized LSH index: the corpus written parquet-PARTITIONED by
    * its hyperplane bucket. This is the write-time form of [[annLshTopK]]
    * — at 100 TB the bucketing shuffle happens once here, and every probe
    * afterwards is a directory-pruned read of (nPlanes+1)/2^nPlanes of
    * the data (the scan never touches non-candidate buckets).
    */
  def writeLshIndex(s: SparkSession, emb: DataFrame, outDir: String,
      nPlanes: Int = 6): Unit = {
    val planes = hyperplanes(nPlanes, 64)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_bucket",
      exprs => graft.functions.HyperplaneBucket(exprs.head, planes), "built-in")
    emb.withColumn("bucket", call_function("hyperplane_bucket", col("embedding")))
      .write.partitionBy("bucket").mode("overwrite").parquet(outDir)
  }

  /** Materialized IVF index: train the coarse quantizer on the collected
    * `emb` ([[IvfQuantizer.train]]; a sample at scale, widened over the
    * rest with [[IvfQuantizer.covering]]), write the corpus
    * parquet-PARTITIONED by cell id, and return the quantizer — the
    * centroids and cell radii, the driver-side state a real index keeps.
    * A probe ([[probeIvfIndex]]) reads only the cell directories it
    * scores.
    */
  def writeIvfIndex(s: SparkSession, emb: DataFrame, outDir: String,
      nlist: Int = 16): IvfQuantizer = {
    val quant = IvfQuantizer.train(collectVecs(emb).map(_._2), nlist)
    withCell(emb, quant).write.partitionBy("cell").mode("overwrite").parquet(outDir)
    quant
  }

  /** Probe a [[writeIvfIndex]] index for the exact top-k of `probeVec`:
    * rank the centroids against it driver-side, read the `nprobe`
    * nearest cell directories for an exact k-th best score, then read
    * every other cell whose radius bound reaches it (the rule of
    * [[annIvfTopK]]). Exact as long as `quant`'s radii cover the index's
    * rows, which holds for the value [[writeIvfIndex]],
    * [[appendToIvfIndex]] or [[writeIvfIndexAssigned]] returned for it.
    */
  def probeIvfIndex(s: SparkSession, indexDir: String, quant: IvfQuantizer,
      probeVec: Array[Float], k: Int = 5, nprobe: Int = 4): DataFrame = {
    VectorFunctions.register(s)
    ivfExact(s.read.parquet(indexDir), quant, probeVec, k, nprobe)._1
  }

  /** Incremental LSH index maintenance: hash NEW vectors into the
    * existing bands (the hyperplanes are deterministic quantizer state,
    * so generation-0 and appended buckets are bit-compatible) and append
    * them to the same partitioned layout — no rebuild, no touch of the
    * existing files. A probe reads both generations through the one
    * directory tree. At 100 TB this is the serving story: the daily
    * ingest appends its delta, the full corpus is never rewritten.
    */
  def appendToLshIndex(s: SparkSession, newEmb: DataFrame, indexDir: String,
      nPlanes: Int = 6): Unit = {
    val planes = hyperplanes(nPlanes, 64)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_bucket",
      exprs => graft.functions.HyperplaneBucket(exprs.head, planes), "built-in")
    newEmb.withColumn("bucket",
        call_function("hyperplane_bucket", col("embedding")))
      .write.partitionBy("bucket").mode("append").parquet(indexDir)
  }

  /** Incremental IVF index maintenance: assign NEW vectors to the
    * nearest existing centroid (the quantizer is NOT retrained — exactly
    * how a production IVF index absorbs deltas) and append them to the
    * existing cell partitions. Probes read both generations via the one
    * directory tree; directory pruning still holds because the cell
    * domain is unchanged. Returns the quantizer with its radii widened
    * to cover the appended rows, which keeps probes exact.
    */
  def appendToIvfIndex(s: SparkSession, newEmb: DataFrame, indexDir: String,
      quant: IvfQuantizer): IvfQuantizer = {
    withCell(newEmb, quant).write.partitionBy("cell").mode("append").parquet(indexDir)
    quant.covering(newEmb)
  }

  /** Full write of an IVF layout under a FIXED quantizer (no retrain) —
    * the reference point incremental append must reproduce: append(B) on
    * an index of A is file-for-row equivalent to this over A ∪ B.
    * Returns the quantizer with radii over exactly the written rows.
    */
  def writeIvfIndexAssigned(s: SparkSession, emb: DataFrame, outDir: String,
      quant: IvfQuantizer): IvfQuantizer = {
    withCell(emb, quant).write.partitionBy("cell").mode("overwrite").parquet(outDir)
    quant.copy(radii = quant.radii.map(_ => Double.NegativeInfinity)).covering(emb)
  }

  /** Probe a [[writeLshIndex]] index: multiprobe buckets are computed
    * driver-side from the probe vector (the quantizer is driver state,
    * like a real index), and the `bucket IN (…)` filter prunes to those
    * partition directories before any row is read. Scores exact; same
    * candidate contract as [[annLshTopK]].
    */
  def probeLshIndex(s: SparkSession, indexDir: String, probeVec: Array[Float],
      k: Int = 5, nPlanes: Int = 6): DataFrame = {
    VectorFunctions.register(s)
    val planes = hyperplanes(nPlanes, 64)
    // same helper as the HyperplaneBucket expression itself — the probe
    // bucket is bit-identical to the stored buckets by construction
    val bucket = graft.functions.HyperplaneBucket.bucketOf(probeVec, planes)
    val probeBuckets = bucket +: (0 until nPlanes).map(p => bucket ^ (1L << p))
    s.read.parquet(indexDir)
      .filter(col("bucket").isin(probeBuckets: _*))
      .select(col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"),
          typedLit(probeVec)), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }
}
