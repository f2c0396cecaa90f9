package graft.operators

import graft.Tables
import graft.Tables.t
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection over `documents` — the dedup family a
  * training-data pipeline needs (exact, MinHash+LSH, SimHash, exact
  * n-gram Jaccard). All variants are shuffle-conscious: candidate
  * generation goes through bucket keys (LSH bands / simhash bands /
  * shingle inverted index), never an all-pairs cartesian; the exact
  * verification join only touches candidate pairs.
  */
object Dedup {

  private val NumPerms = 128   // minhash permutations
  private val BandRows = 4     // rows per LSH band
  private val NumBands = NumPerms / BandRows // 32 bands → P(detect J=.8) ≈ 1-2e-8

  /** Exact dedup groups by full text: keeper = min doc_id per text. */
  def exactText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Incremental-ingest dedup: which docs of a new batch are NOT already
    * in the accumulated snapshot corpus? Driver-gate split: snapshot =
    * doc_id % 3 ≠ 0, batch = doc_id % 3 = 0.
    */
  def bloomSnapshotDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    bloomSnapshotDedupOf(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0))
  }

  /** Library-facing form. The naive plan anti-joins the batch against the
    * full snapshot — at 100 TB that shuffles the accumulated corpus's
    * digests every ingest tick. Here the snapshot collapses once into a
    * fixed-size bloom sketch over xxhash64(text) (scalar subquery, same
    * machinery as decontamBloom); batch rows that miss the sketch are
    * definitively new (bloom has no false negatives) and short-circuit
    * past any join, and only the sketch hits — true dups + the fpp tail,
    * a candidate-proportional sliver — reach the exact anti-join confirm.
    * The confirm joins on the 16-byte md5 digest, not the text payload,
    * so its shuffle carries digests even when documents are megabytes.
    */
  def bloomSnapshotDedupOf(batch: DataFrame, snapshot: DataFrame): DataFrame = {
    import graft.functions.BloomBridge
    val sketch = snapshot
      .select(xxhash64(col("text")).as("h")).distinct()
      .agg(BloomBridge.bloomAgg(col("h"), 1L << 20, 1L << 23).as("bf"))
    val probed = batch
      .select(col("doc_id"), col("text"),
        BloomBridge.mightContain(sketch, xxhash64(col("text"))).as("hit"))
    val definitelyNew = probed.filter(!col("hit")).select(col("doc_id"))
    val confirmedNew = probed.filter(col("hit"))
      .select(col("doc_id"), md5(col("text")).as("d"))
      .join(snapshot.select(md5(col("text")).as("d")).distinct(),
        Seq("d"), "left_anti")
      .select(col("doc_id"))
    definitelyNew.union(confirmedNew).orderBy(col("doc_id"))
  }

  /** (doc_id, shingle-hash) exploded pairs — the shared input of the
    * minhash and Jaccard paths. Shingles are collapsed to xxhash64 longs
    * immediately: every downstream join/groupBy/permutation then runs on
    * 8-byte keys instead of ~20-char strings (a large constant-factor win
    * at any scale), and the distinct-set semantics are unchanged up to a
    * ~n²/2⁶⁴ collision probability (≈4e-11 here).
    */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    docShinglesOf(t(s, dir, "documents"))

  /** The corpus shingle table (doc_id, 8-byte shingle hash), memoized
    * as a parquet PATH per (process, dir) — the containment,
    * ngram-jaccard and minhash kernels all explode the same
    * tokenize→shingle→hash projection over `documents` (r18; the
    * projection itself, [[docShinglesOf]], is unchanged).
    */
  private[graft] def docShinglesPath(s: SparkSession, dir: String): String =
    graft.FixtureMemo.of("doc_shingles", dir) {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-doc-shingles").toString)
      docShinglesOf(t(s, dir, "documents"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Works over any (doc_id, text) DataFrame — the library-facing form. */
  private[graft] def docShinglesOf(docs: DataFrame): DataFrame =
    docs
      // bind the token array before shingling: expression trees do not
      // CSE, so element_at(tokens(text), i) inside the shingle transform
      // would re-run the regexp split per element reference
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles3(col("toks"))).as("shingle_str"))
      .select(col("doc_id"), xxhash64(col("shingle_str")).as("shingle"))

  /** Exact-verify candidate pairs: intersection via a shingle-key join
    * restricted to candidates, |A∪B| = |A|+|B|−|A∩B|, keep Jaccard ≥ thr.
    */
  /** One row per doc with its (already-distinct) shingle set as an array —
    * the verification-side state shape (bounded by document length).
    */
  private[graft] def shingleArrays(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("shs"))

  private def verifyJaccard(cand: DataFrame, sh: DataFrame, thr: Double): DataFrame =
    verifyJaccardArrays(cand, shingleArrays(sh), thr)

  /** Exact-Jaccard verification against a per-doc shingle-ARRAY table:
    * joins the tiny candidate list to it twice (key-partitioned, one row
    * per doc) instead of shuffling an exploded shingle table through two
    * joins — per-doc arrays are bounded by document length, so this holds
    * at any corpus size.
    */
  private[graft] def verifyJaccardArrays(cand: DataFrame, shArrRaw: DataFrame,
      thr: Double): DataFrame = {
    val shArr = shArrRaw
      .select(col("doc_id"), col("shs"), size(col("shs")).as("sz"))
    cand
      .join(shArr.select(col("doc_id").as("i"), col("shs").as("sa"),
        col("sz").as("sza")), "i")
      .join(shArr.select(col("doc_id").as("j"), col("shs").as("sb"),
        col("sz").as("szb")), "j")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("sza") + col("szb") - col("inter")))
      .filter(col("jac") >= thr)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
      .orderBy(col("i"), col("j"))
  }

  /** MinHash + LSH banding: 128 permutations via seeded xxhash64 over
    * the 8-byte shingle hash, 32 bands of 4 → bucket-join candidates →
    * exact-Jaccard verify ≥ 0.7. The only shuffles are the per-doc
    * signature aggregation and the band-bucket join; nothing is O(n²).
    * (The cheaper affine-permutation trick, a_p·x + b_p wrapping mod
    * 2⁶⁴, is off the table: Spark 4's default ANSI mode raises on long
    * overflow rather than wrapping.)
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def minhashLsh(s: SparkSession, dir: String, thr: Double = 0.7): DataFrame =
    // read the memoized pair table; re-assert the kernel's (i, j) output
    // order (parquet round-trips rows, not order)
    Tables.parquet(s, lshPairsPath(s, dir, thr)).orderBy(col("i"), col("j"))

  /** (doc_id, band, bhash) LSH band table for a shingle-hash frame: the
    * 128-permutation minhash signature collapsed to 32 4-row band hashes.
    * The signature table (one array[128] row per doc) is materialized so
    * downstream self-joins (broadcast build side) don't recompute the
    * signature aggregation.
    */
  private[graft] def bandTable(sh: DataFrame): DataFrame = {
    val sig = sh.groupBy(col("doc_id"))
      .agg(array((0 until NumPerms).map(p =>
        min(xxhash64(lit(p), col("shingle")))): _*).as("sig"))
      .localCheckpoint(true)
    sig.select(col("doc_id"),
      posexplode(array((0 until NumBands).map(b =>
        xxhash64(lit(b) +: (0 until BandRows).map(r =>
          element_at(col("sig"), b * BandRows + r + 1)): _*)): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bhash"))
  }

  /** Library-facing form over any (doc_id, text) DataFrame; `shOpt`
    * lets a caller supply the (doc_id, shingle) table directly (the
    * memoized corpus fixture) instead of re-deriving it from text.
    */
  def minhashLshPairs(docs: DataFrame, thr: Double,
      shOpt: Option[DataFrame] = None): DataFrame = {
    val sh = shOpt.getOrElse(docShinglesOf(docs)).cache()
    bandPairs(bandTable(sh), sh, thr, None)
  }

  /** Verified near-dup pair table (i, j, jac) at `thr` over the corpus
    * at `dir`, memoized as a parquet PATH per (process, dir, thr) — the
    * emb_semdedup shared-fixture pattern applied to the minhash family
    * (r18): dedup_minhash_lsh, dedup_clusters, dedup_canonical,
    * pipe_train_shards and text_leakage_split each recomputed this
    * identical deterministic kernel from scratch. The kernel itself is
    * unchanged; the first caller builds, later callers read.
    */
  private[graft] def lshPairsPath(s: SparkSession, dir: String,
      thr: Double): String =
    graft.FixtureMemo.of(s"minhash_pairs|$thr", dir) {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-minhash-pairs").toString)
      minhashLshPairs(t(s, dir, "documents"), thr,
        shOpt = Some(Tables.parquet(s, docShinglesPath(s, dir))))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Connected-component table over the memoized pair graph, memoized
    * the same way (label propagation is deterministic — converged
    * min-label fixpoint).
    */
  private[graft] def clustersPath(s: SparkSession, dir: String,
      thr: Double): String =
    graft.FixtureMemo.of(s"minhash_clusters|$thr", dir) {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-minhash-clusters").toString)
      clustersOfPairs(Tables.parquet(s, lshPairsPath(s, dir, thr))
        .select(col("i"), col("j")))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Band-bucket candidate join with an optional OCCUPANCY CAP — the
    * production guardrail for the LSH worst case: a megabucket (a band
    * hash shared by m docs) contributes m²/2 candidate pairs, so one
    * pathological bucket can quadratic-bomb an otherwise linear job.
    * With a cap, buckets holding more than `maxBucket` docs are excluded
    * from candidate generation BEFORE the self-join — cost becomes
    * ≤ 32·cap²/2 pairs per bucket by construction, at a bounded, known
    * recall cost (a true near-dup pair is lost only if ALL 32 of its
    * shared bands are oversubscribed; with 50 %-collision bands that
    * probability decays geometrically). The occupancy count is one keyed
    * agg over the band table — no extra scan of the corpus.
    */
  private def bandPairs(bands: DataFrame, sh: DataFrame, thr: Double,
      maxBucket: Option[Long]): DataFrame =
    verifyJaccard(bandCandidates(bands, maxBucket), sh, thr)

  /** The candidate (i, j) set of the band join — the layer the occupancy
    * cap acts on; verification is a deterministic function of this set.
    */
  private def bandCandidates(bands: DataFrame,
      maxBucket: Option[Long]): DataFrame = {
    val kept = maxBucket.map { c =>
      val ok = bands.groupBy(col("band"), col("bhash"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") <= c)
        .select(col("band"), col("bhash"))
      bands.join(ok, Seq("band", "bhash"))
    }.getOrElse(bands)
    kept.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Bounded form of [[minhashLshPairs]]: see [[bandPairs]]. */
  def minhashLshPairsBounded(docs: DataFrame, thr: Double,
      maxBucket: Long): DataFrame = {
    val sh = docShinglesOf(docs).cache()
    bandPairs(bandTable(sh), sh, thr, Some(maxBucket))
  }

  /** dedup_minhash_bounded — self-checking contract for the cap:
    * `n_pairs` (the unbounded pair count, which the DuckDB oracle
    * recomputes definitionally), `loose_cap_eq` = a cap far above any
    * real occupancy changes nothing, `tight_cap_subset` = a biting cap
    * only ever REMOVES pairs. The cap verdicts compare the CANDIDATE
    * sets — the layer the cap acts on; verification is a deterministic
    * downstream map, so candidate equality/subset implies the same for
    * verified pairs (and candidate-level subset is the sharper claim) —
    * which keeps the expensive exact-Jaccard kernel to a single run.
    */
  def minhashBoundedChecked(s: SparkSession, dir: String,
      thr: Double = 0.7): DataFrame = {
    // sh feeds only the band table now (the verify pass moved to the
    // shared pair fixture), so no cache; full feeds only the exceptAll
    val sh = Tables.parquet(s, docShinglesPath(s, dir))
    val bands = bandTable(sh).cache()
    val full = bandCandidates(bands, None)
    // loose-cap equality via occupancy alone: if NO bucket exceeds the
    // cap, the filtered band table — and hence the candidate join — is
    // identical by construction; no second band join needed
    val dEq = bands.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > (1L << 30))
      .agg(count(lit(1)).as("d1"))
    // the tight cap (2) keeps only occupancy-2 buckets, so its candidate
    // join runs over a sharply reduced table
    val tight = bandCandidates(bands, Some(2L))
    // n_pairs is the verified-pair count — the exact kernel the memoized
    // pair table already ran (verifyJaccard over the uncapped band
    // candidates); count the shared table instead of re-verifying (r18)
    val nFull = Tables.parquet(s, lshPairsPath(s, dir, thr))
      .agg(count(lit(1)).as("n_pairs"))
    val dSub = tight.exceptAll(full).agg(count(lit(1)).as("d2"))
    nFull.crossJoin(dEq).crossJoin(dSub)
      .select(col("n_pairs"),
        when(col("d1") === 0, 1L).otherwise(0L).as("loose_cap_eq"),
        when(col("d2") === 0, 1L).otherwise(0L).as("tight_cap_subset"))
  }

  /** Exact n-gram Jaccard via prefix filtering (the PPJoin-family
    * candidate pruner): order each doc's shingles rarest-first and index
    * only the first ⌊(1−τ)·|A|⌋+1 of them — any pair with Jaccard ≥ τ
    * must collide inside both prefixes, so pruning is lossless. A length
    * filter (τ·|B| ≤ |A|) removes size-incompatible pairs before the
    * exact verification join. Candidate volume drops from Σ df² over all
    * shingles to Σ df² over prefix (rare) shingles — the difference
    * between O(n²)-ish and near-linear on corpora with common shingles.
    */
  def ngramJaccard(s: SparkSession, dir: String, thr: Double = 0.7): DataFrame =
    ngramJaccardOf(graft.Tables.t(s, dir, "documents"), thr,
      shOpt = Some(Tables.parquet(s, docShinglesPath(s, dir))))

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def ngramJaccardOf(docs: DataFrame, thr: Double,
      shOpt: Option[DataFrame] = None): DataFrame = {
    // sh is per-doc DISTINCT (shingles3 array_distincts before explode),
    // so the size/df counts here and the set-based verify are consistent
    val sh = shOpt.getOrElse(docShinglesOf(docs)).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("shingle").asc)
    val prefixes = sh.join(df, "shingle")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <= floor(lit(1.0 - thr) * col("sz")) + 1)
      .select(col("doc_id"), col("shingle"), col("sz"))
      .cache() // referenced twice by the self-join
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: τ·max ≤ min is necessary for J ≥ τ
          least(col("a.sz"), col("b.sz")) >=
            lit(thr) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    verifyJaccard(cand, sh, thr)
  }

  /** Exact asymmetric CONTAINMENT join: ordered pairs (i, j) where doc j
    * holds ≥ τ of doc i's distinct shingles — the sub-document duplicate
    * detector (quoted articles, boilerplate-wrapped copies, snippet
    * expansion) that symmetric Jaccard misses: a short doc fully quoted
    * inside a long one has high containment but low Jaccard, because the
    * union in Jaccard's denominator is dominated by the long side.
    *
    * Prefix filter, asymmetric form: C(i→j) ≥ τ means at most
    * (1−τ)·|S_i| of i's shingles are absent from j, so i's rarest
    * ⌊(1−τ)·|S_i|⌋+1 shingles (the same rarest-first prefix as the
    * Jaccard pruner) must intersect S_j — indexing only i's prefix
    * against j's FULL shingle set is lossless. The B-side can't be
    * pruned (containment has no upper length bound), but the candidate
    * join is still Σ (prefix-df × df) over RARE shingles: a common
    * shingle enters a prefix only for docs that have nothing rarer.
    * |S_j| ≥ τ·|S_i| is necessary (the intersection can't exceed |S_j|)
    * and drops size-incompatible pairs before verification.
    *
    * τ is a RATIONAL (thrNum/thrDen) and every threshold comparison is
    * integer cross-multiplication: `common·den ≥ num·sz` — a double
    * `0.9·sz` is off by an ulp exactly when containment lands ON the
    * threshold (DuckDB parses 0.9 as exact DECIMAL; doubles don't have
    * it), and a boundary pair is precisely the case a dedup gate must
    * not lose.
    */
  def containmentPairs(s: SparkSession, dir: String,
      thrNum: Int = 9, thrDen: Int = 10): DataFrame =
    containmentOf(graft.Tables.t(s, dir, "documents"), thrNum, thrDen,
      shOpt = Some(Tables.parquet(s, docShinglesPath(s, dir))))

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def containmentOf(docs: DataFrame, thrNum: Int, thrDen: Int,
      shOpt: Option[DataFrame] = None): DataFrame = {
    require(0 < thrNum && thrNum <= thrDen, "need 0 < thrNum/thrDen <= 1")
    val sh = shOpt.getOrElse(docShinglesOf(docs)).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("shingle").asc)
    // prefix length ⌊(1−τ)·sz⌋+1 = (den−num)·sz div den + 1, integers only
    val prefixes = sh.join(df, "shingle")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <=
        floor(lit(thrDen - thrNum) * col("sz") / lit(thrDen)) + 1)
      .select(col("doc_id").as("i"), col("shingle"), col("sz").as("sz_i"))
    val full = sh.join(sizes, "doc_id")
      .select(col("doc_id").as("j"), col("shingle"), col("sz").as("sz_j"))
    val cand = prefixes.join(full, "shingle")
      .filter(col("i") =!= col("j") &&
        col("sz_j") * thrDen >= col("sz_i") * thrNum)
      .select(col("i"), col("j")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("i"), col("shingle")), "i")
      .join(sh.select(col("doc_id").as("j"), col("shingle")), Seq("j", "shingle"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("common"))
    inter.join(sizes.select(col("doc_id").as("i"), col("sz").as("sz_i")), "i")
      .filter(col("common") * thrDen >= col("sz_i") * thrNum)
      .select(col("i"), col("j"),
        round(col("common").cast("double") / col("sz_i"), 6).as("containment"))
      .orderBy(col("i"), col("j"))
  }

  /** Signature width: 60 bits = 15 hex chars of md5, chosen because md5
    * is the one hash both this engine and the DuckDB oracle implement
    * identically (xxhash64 seeds differ across engines), and 60 bits
    * stays positive in a signed 64-bit long.
    */
  val SimhashBits = 60

  /** Near-dup clusters from the verified pair graph: connected components
    * by iterative min-label propagation (each node adopts the smallest
    * doc_id reachable; iterate to fixpoint). Components here have tiny
    * diameter (dup clusters), so convergence is 2–3 rounds; each round is
    * one join + one aggregation, all key-partitioned — the distributed
    * union-find a dedup pipeline runs to pick one keeper per cluster.
    * Output: (doc_id, cluster_rep) for every doc that has a near-dup.
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def nearDupClusters(s: SparkSession, dir: String, thr: Double = 0.7): DataFrame =
    Tables.parquet(s, clustersPath(s, dir, thr)).orderBy(col("doc_id"))

  /** The last mile of near-dup dedup: WHICH copy to keep. Every doc is
    * assigned its cluster (its own id if unclustered — singleton groups
    * make the policy uniform), and each group keeps its best doc under a
    * deterministic policy (longest text, doc_id tiebreak; production
    * swaps in a quality score — the plan is policy-invariant). One left
    * join of documents to the cluster table + one keyed max_by: the
    * argmax ships one candidate struct per group per partition, no group
    * is ever sorted. Keeping the LATEST is exact dedup's job (q25); this
    * is the near-dup twin where "duplicates" are only similar.
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def nearDupCanonical(s: SparkSession, dir: String,
      thr: Double = 0.7): DataFrame = {
    // unordered read — the cluster table feeds a join, not the output
    val clusters = Tables.parquet(s, clustersPath(s, dir, thr))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_rep"), col("doc_id")))
      .groupBy(col("grp"))
      .agg(
        max_by(col("doc_id"), struct(col("n_chars"), negate(col("doc_id"))))
          .as("kept_doc_id"),
        max_by(col("n_chars"), struct(col("n_chars"), negate(col("doc_id"))))
          .as("kept_n_chars"),
        count(lit(1)).as("n_docs"))
      .select(col("grp").as("cluster_rep"), col("kept_doc_id"),
        col("kept_n_chars"), col("n_docs"))
      .orderBy(col("cluster_rep"))
  }

  /** Connected components over an (i, j) pair graph. Each round takes,
    * per node, the min over {own label} ∪ {labels of all ORIGINAL-edge
    * neighbors} ∪ {label(label)} — the edge relaxation is what guarantees
    * convergence to the true component minimum (pointer jumping alone is
    * not enough: with pairs (5,6),(1,6), node 5's label 5 is a pointer-
    * jump fixed point even though its component min is 1); pointer
    * jumping stays as an O(log diameter) accelerator. Labels are
    * monotonically non-increasing, so "sum of labels unchanged" is an
    * exact, single-aggregation convergence test (decimal sum: no overflow
    * at any node count). All joins are key-partitioned; nothing is
    * proportional to component count squared.
    */
  private[graft] def clustersOfPairs(rawPairs: DataFrame): DataFrame = {
    // localCheckpoint: the pair graph is tiny relative to its lineage
    // (the whole minhash pipeline) — truncate so propagation rounds don't
    // re-plan/re-execute it
    val pairs = rawPairs.localCheckpoint(true)
    // clean corpus → no pairs → no clusters (guard: the decimal label-sum
    // convergence test below reads a NULL aggregate on an empty frame)
    if (pairs.isEmpty)
      return pairs.select(col("i").as("doc_id"), col("i").as("cluster_rep"))
    // undirected edge list, both directions (the relaxation set)
    val edges = pairs.select(col("i").as("node"), col("j").as("peer"))
      .union(pairs.select(col("j").as("node"), col("i").as("peer")))
      .localCheckpoint(true)
    var labels = edges
      .union(edges.select(col("node"), col("node").as("peer"))) // self-loop
      .groupBy(col("node")).agg(min(col("peer")).as("label"))
      .localCheckpoint(true)
    def labelSum(l: DataFrame): java.math.BigDecimal = l
      .agg(sum(col("label").cast(DecimalType(38, 0)))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // candidates: own label, every neighbor's label, label-of-label
      val viaEdges = edges
        .join(labels.select(col("node").as("peer"), col("label")), Seq("peer"))
        .select(col("node"), col("label"))
      val viaJump = labels.as("l")
        .join(labels.select(col("node").as("ln"), col("label").as("ll")),
          col("l.label") === col("ln"), "left")
        .select(col("l.node").as("node"),
          coalesce(col("ll"), col("l.label")).as("label"))
      labels = labels.union(viaEdges).union(viaJump)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(true) // one action per round
      val s2 = labelSum(labels)
      converged = s2.compareTo(prevSum) == 0
      prevSum = s2
      rounds += 1
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** SimHash signatures: fingerprint from token-multiset hashes — per-bit
    * ±1 vote over every token occurrence, bit set where votes are
    * positive. Weight-sensitive (unlike MinHash's set semantics), so it
    * catches boilerplate-heavy near-dups.
    */
  def simhashSigs(docs: DataFrame): DataFrame = {
    val toksTbl = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("h",
        conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10)
          .cast("long"))
    val bitVotes = (0 until SimhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"bit$i")
    }
    toksTbl.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(i =>
          when(col(s"bit$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Map-side simhash: the same 60-bit signature as [[simhashSigs]]
    * (bit-identical — Round4Spec asserts it) computed as ONE expression
    * over the token array, with no groupBy. One `aggregate` pass carries
    * a 60-counter vote array across tokens; the finish lambda folds the
    * votes into the signature long. This is the STREAMING form: a
    * stateless per-row projection, so a stream can attach signatures
    * without a stateful aggregation — state is then spent only on the
    * dedup itself ([[graft.streaming.StreamingOps.nearDupDedupStream]]).
    *
    * Batch keeps the agg form: higher-order-function lambdas evaluate
    * INTERPRETED per element (60-counter zip_with per token), measured
    * ~1.8x slower than the codegen'd explode+groupBy at sf0.1 (0.8 s vs
    * 1.5 s warm, a one-off timing) — and the agg form's shuffle is already
    * tiny (one 60-column partial-agg row per doc, combined map-side).
    * This form's value is streaming statelessness, not batch speed.
    */
  def simhashMapSide(text: Column): Column = {
    val b = SimhashBits
    val hs = transform(tokens(text), t =>
      conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"))
    val idx = sequence(lit(0), lit(b - 1))
    val votes = aggregate(hs, array_repeat(lit(0L), b),
      (acc, h) => zip_with(acc, idx, (c, i) =>
        c + when(call_function("shiftright", h, i)
            .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, idx, (c, i) =>
        when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** SimHash near-dup pairs with EXACT recall at the threshold: the 64
    * bits split into (maxHamming+1) contiguous bands, so by pigeonhole any
    * pair within maxHamming flips shares at least one untouched band —
    * banding is a pure candidate pruner, never a recall loss. Candidates
    * then pass an exact bit_count(xor) filter.
    */
  def simhash(s: SparkSession, dir: String, maxHamming: Int = 8): DataFrame =
    // materialize the signatures (one 16-byte row per doc) before the band
    // self-join: the join broadcasts one side, which otherwise recomputes
    // the whole tokenize→md5→60-bit-vote pipeline a second time
    simhashPairs(simhashSigs(t(s, dir, "documents")).localCheckpoint(true),
      maxHamming)

  def simhashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val base = SimhashBits / nBands; val rem = SimhashBits % nBands
    // first `rem` bands are one bit wider; offsets partition the bit range
    val widths = (0 until nBands).map(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val bandCols = (0 until nBands).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      shiftrightunsigned(col("simhash"), offsets(b)).bitwiseAND(mask)
    }
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"),
        col("col").as("bval"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // exact Hamming check BEFORE the dedup shuffle: bit_count is a cheap
      // map-side expression, so only true near-dup pairs (tiny) reach
      // distinct() instead of the full candidate volume (which grows as
      // ~bands·n²/2^bandwidth — the dominant cost at any scale)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("i"), col("j"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs with EXACT recall at the
    * threshold, blocked by text length: lev(a,b) ≥ |len(a)−len(b)|, so any
    * qualifying pair sits within maxDist characters of length — with band
    * width maxDist+1 that means the same or an adjacent length band. The
    * lower-banded side of each candidate probes bands {f, f+1} (a bounded
    * 2× explode), candidates meet on a partitioned equi-join, and the
    * levenshtein kernel runs only on candidates — never the n²/2 raw
    * pairs. Emission is exactly-once by construction (same band →
    * id-ordered; adjacent band → only the lower side probes upward), so
    * no distinct over text payloads.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0)
    val bandW = maxDist + 1
    // character-class count filter (Ed-Join-family count filtering): one
    // edit moves at most two class counts by one each, so
    // lev(a,b) ≥ L1(hist_a, hist_b)/2 — a pure-arithmetic, codegen'd
    // pruner that kills random-pair candidates long before the
    // per-candidate DP kernel (which costs ~len·maxDist char ops each)
    val classes = Seq("a-e", "f-m", "n-s", "t-z", "A-Z", "0-9", "\\s")
    def hists(c: Column): Seq[Column] = {
      val known = classes.map(cl =>
        length(regexp_replace(c, s"[^$cl]", "")))
      known :+ (length(c) - known.reduce(_ + _)) // residual class
    }
    // ONE histogram projection, materialized: it feeds both join sides,
    // and without the barrier the inferred not-null filter on the join
    // attributes pushes BELOW this projection and re-inlines all eight
    // regexes into the filter condition (computed twice per row per side)
    val d = docs
      .select(Seq(col("doc_id"), col("text"),
        length(col("text")).as("len")) ++
        hists(col("text")).zipWithIndex.map { case (h, i) => h.as(s"h$i") }: _*)
      .localCheckpoint(true)
    val probe = d
      .withColumn("fband", floor(col("len") / bandW))
      .withColumn("band", explode(array(col("fband"), col("fband") + 1)))
    val build = d
      .select(Seq(col("doc_id").as("b_id"), col("text").as("b_text"),
        col("len").as("b_len")) ++
        (0 until classes.size + 1).map(i => col(s"h$i").as(s"g$i")): _*)
      .withColumn("band", floor(col("b_len") / bandW))
    val l1 = (0 to classes.size)
      .map(i => abs(col(s"h$i") - col(s"g$i"))).reduce(_ + _)
    probe.join(build, Seq("band"))
      .filter(when(col("fband") === col("band"), col("doc_id") < col("b_id"))
        .otherwise(lit(true)))
      .filter(abs(col("len") - col("b_len")) <= maxDist)
      .filter(l1 <= 2 * maxDist)
      // threshold form = banded DP with early abandon: O(maxDist·len) per
      // candidate instead of O(len²); yields -1 past the threshold
      .withColumn("lev", levenshtein(col("text"), col("b_text"), maxDist))
      .filter(col("lev") >= 0)
      .select(least(col("doc_id"), col("b_id")).as("i"),
        greatest(col("doc_id"), col("b_id")).as("j"),
        col("lev").cast(LongType).as("lev"))
      .orderBy(col("i"), col("j"))
  }

  /** dedup_levenshtein — fuzzy (typo-level) duplicate pairs over the
    * corpus at edit distance ≤ 4.
    */
  def levenshteinPairs(s: SparkSession, dir: String): DataFrame =
    editDistancePairs(t(s, dir, "documents"), maxDist = 4)
}
