package graft.operators

import graft.Tables
import graft.Tables.t
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over `documents` (SURVEY.md §2.3 Q27 + the
  * training-data-pipeline extensions): token statistics, corpus top-k
  * tokens, marker-based language ID, quality scoring, fingerprinting.
  * Everything is map-side expression work + one aggregation; nothing
  * collects to the driver.
  */
object TextAnalysis {

  /** Q27 — corpus-level top-10 tokens: tokenize → explode → count.
    * Catalyst's partial aggregation makes the explode→groupBy map-side
    * combine before the single shuffle on token.
    */
  def q27TopTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(10)

  /** Per-document token counts (whitespace-word and BPE-ish) + distinct
    * count — the token-budget accounting a training pipeline runs.
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      // materialize the token array once per row — Catalyst does not CSE
      // the regexp split across the three downstream expressions
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        // BPE-ish token count = alnum runs + single punct chars; counting
        // punct via a length diff avoids the costly alternation regex
        (length(lower(col("text"))) -
          length(regexp_replace(lower(col("text")), "[^a-z0-9\\s]", "")))
          .cast(LongType).as("n_punct"))
      .select(
        col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
        (size(col("toks")) + col("n_punct")).cast(LongType).as("n_bpeish"))
      .orderBy(col("doc_id"))

  /** Language-marker word lists. On this synthetic corpus every language
    * shares one vocabulary, so predictions skew 'en' — the *operator*
    * (deterministic marker scoring + fixed precedence) is what is under
    * test, and the oracle replicates it exactly.
    */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "los", "una", "por", "con"),
    "fr" -> Seq("le", "les", "des", "est", "dans"),
    "en" -> Seq("the", "a", "of", "and", "is"))

  private def markerHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast(LongType)

  /** N-gram-heuristic language ID: count marker-word occurrences per
    * language; highest count wins, ties resolved by the fixed precedence
    * de > es > fr > en; all-zero → 'und' (undetermined).
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    // two projection stages: bind toks once, then bind the four hit
    // counts once — the predicate tree references each count 5× and
    // expression trees do not CSE
    val hitCols = markers.map { case (lang, ws) =>
      markerHits(col("toks"), ws).as(s"h_$lang")
    }
    val hits = markers.map { case (lang, _) => lang -> col(s"h_$lang") }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = hits.foldRight(lit("und")) { case ((lang, h), elseCol) =>
      when(h > 0 && h === best, lit(lang)).otherwise(elseCol)
    }
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id") +: col("lang") +: hitCols: _*)
      .select(col("doc_id"), pred.as("pred_lang"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: the length/punctuation/stopword-ratio heuristics a
    * pretraining filter applies. All ratios are single double divisions of
    * exact integers (bit-stable across engines).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val nTokens = size(col("toks")).cast(LongType)
    val nChars = length(col("text")).cast(LongType)
    val nPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
      .cast(LongType)
    val stopHits = markerHits(col("toks"), markers.toMap.apply("en"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        nTokens.as("n_tokens"),
        (length(col("text")).cast(DoubleType) / nTokens).as("avg_tok_span"),
        (nPunct.cast(DoubleType) / nChars).as("punct_ratio"),
        (stopHits.cast(DoubleType) / nTokens).as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Gate: cutoffs sized to the synthetic corpus's 31-type vocabulary
    * so the boundary math (including a cut INSIDE a 2-type count class)
    * is actually exercised — production callers pass 2^15/2^16/2^17-ish
    * candidate vocab sizes.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame =
    vocabCoverageOf(t(s, dir, "documents"), Seq(5L, 15L, 30L), 32)

  /** Vocabulary coverage curve — for each candidate vocabulary size k,
    * the share of corpus token OCCURRENCES covered by the k most
    * frequent token types (the tokenizer-design question: how big must
    * the vocab be before OOV mass is negligible).
    *
    * The naive form ranks the whole vocabulary with a global ordered
    * window — one task holding every type at 100 TB vocab sizes. This
    * plan never ranks tokens at all:
    *   1. type frequencies (one keyed agg, vocabulary-sized),
    *   2. collapse to the COUNT HISTOGRAM (c, n_types) — its size is
    *      bounded by the number of distinct count values ≤ √(total
    *      occurrences) regardless of vocabulary size,
    *   3. running totals of types and occurrences in c-DESC order via
    *      the sharded prefix sum (both cumsums share one shard
    *      structure; the only global window is the ≤ nShards offset
    *      table — the accepted P-row pattern),
    *   4. each cutoff k finds its boundary class (cum_types ≥ k >
    *      cum_types − n_types) and closes the partial class in EXACT
    *      integer arithmetic: covered = cum_occ − (cum_types − k)·c.
    * Within a count class types are interchangeable for coverage, so no
    * tie-break rank is ever needed — the k-th/k+1-th type ambiguity that
    * forces a total order in the ranking formulation cancels out.
    * Everything is integer until the final 6dp ratio.
    */
  def vocabCoverageOf(docs: DataFrame, cutoffs: Seq[Long],
      nShards: Int): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val freq = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    // histogram-sized (≤ √total-occurrences rows) and consumed by four
    // downstream lineages (bounds, offsets, the main cumsum pass, tot) —
    // truncate here or the full corpus tokenizes once per consumer
    val hist = freq.groupBy(col("c")).agg(count(lit(1)).as("n_types"))
      .withColumn("occ", col("c") * col("n_types"))
      .localCheckpoint(true)
    val withNeg = hist.withColumn("negc", -col("c"))
    val bounds = withNeg.agg(min(col("negc")).as("lo"),
      (max(col("negc")) + 1L).as("hi"))
    val sharded = withNeg.crossJoin(broadcast(bounds))
      .withColumn("pid",
        PrefixSum.rangePid(col("negc"), col("lo"), col("hi"), nShards))
      .drop("lo", "hi")
    val localW = Window.partitionBy(col("pid")).orderBy(col("negc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("pid"))
      .agg(sum(col("n_types")).as("__t1"), sum(col("occ")).as("__t2"))
      .withColumn("off_types", coalesce(sum(col("__t1")).over(offW), lit(0L)))
      .withColumn("off_occ", coalesce(sum(col("__t2")).over(offW), lit(0L)))
      .select(col("pid"), col("off_types"), col("off_occ"))
    val cum = sharded
      .withColumn("__lt", sum(col("n_types")).over(localW))
      .withColumn("__lo", sum(col("occ")).over(localW))
      .join(broadcast(offsets), "pid")
      .select(col("c"), col("n_types"),
        (col("__lt") + col("off_types")).as("cum_types"),
        (col("__lo") + col("off_occ")).as("cum_occ"))
    val tot = hist.agg(sum(col("n_types")).as("vocab"),
      sum(col("occ")).as("total_occ"))
    val covered = col("cum_occ") - (col("cum_types") - col("k_eff")) * col("c")
    cutoffs.toDF("cutoff").crossJoin(broadcast(tot))
      .withColumn("k_eff", least(col("cutoff"), col("vocab")))
      .join(cum, col("cum_types") >= col("k_eff") &&
        col("cum_types") - col("n_types") < col("k_eff"))
      .select(col("cutoff"), col("k_eff").as("vocab_used"),
        covered.as("covered_occ"), col("total_occ"),
        round(covered.cast(DoubleType) / col("total_occ"), 6).as("coverage"))
      .orderBy(col("cutoff"))
  }

  /** Tokenizer fertility report — per language: document count, mean
    * tokens per document, and mean characters per token (the
    * "fertility" a tokenizer designer watches per language: high
    * chars/token means the vocab under-serves that language). One
    * map-side tokenize + one |langs|-row aggregation; all sums integer,
    * doubles only in the final ratios.
    */
  def textFertility(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"),
        length(col("text")).cast(LongType).as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        round(sum(col("n_toks")).cast(DoubleType) / count(lit(1)), 6)
          .as("tokens_per_doc"),
        round(sum(col("n_chars")).cast(DoubleType) / sum(col("n_toks")), 6)
          .as("chars_per_token"))
      .orderBy(col("lang"))

  def calibrationReport(s: SparkSession, dir: String): DataFrame =
    calibrationReportOf(t(s, dir, "documents"))

  /** Classifier-calibration report (reliability diagram + ECE terms)
    * for the marker-based language classifier: the Laplace-smoothed
    * 'en' share of marker hits is the model's CONFIDENCE, the corpus
    * `lang` column the ground truth. Docs bin by confidence decile
    * (bin boundary computed in INTEGER arithmetic — `(h+1)·10 div
    * denom` — so no float-floor edge can straddle engines); per bin the
    * report emits count, mean confidence, empirical accuracy, and the
    * |accuracy − confidence| gap whose n-weighted sum is the Expected
    * Calibration Error. Every pipeline that gates training data on a
    * model score needs this: an uncalibrated quality/toxicity/langid
    * score makes threshold choices meaningless.
    *
    * One scan + one 10-row aggregation; mean confidence goes through
    * the round-then-DECIMAL-sum recipe so the per-bin means are
    * shuffle-order-independent. The gap is computed from the ROUNDED
    * per-bin means (both engines see identical inputs).
    */
  def calibrationReportOf(docs: DataFrame): DataFrame = {
    val hitCols = markers.map { case (l, ws) =>
      markerHits(col("toks"), ws).as(s"h_$l")
    }
    val binned = docs
      .select(col("lang"), tokens(col("text")).as("toks"))
      .select(col("lang") +: hitCols: _*)
      .select(
        expr("least((h_en + 1) * 10 div (h_de + h_es + h_fr + h_en + 4), 9)")
          .as("bin"),
        expr("cast(h_en + 1 as double) / (h_de + h_es + h_fr + h_en + 4)")
          .as("conf"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(round(col("conf"), 9).cast(DecimalType(20, 12)))
          .cast(DoubleType) / count(lit(1)), 6).as("avg_conf"),
        round(sum(col("is_en")).cast(DoubleType) / count(lit(1)), 6)
          .as("frac_true"))
      .select(col("bin"), col("n_docs"), col("avg_conf"), col("frac_true"),
        round(abs(col("frac_true") - col("avg_conf")), 6).as("abs_gap"))
      .orderBy(col("bin"))
  }

  /** Repetition filter (the Gopher/C4-family quality rule): fraction of
    * duplicated 3-gram shingles per document — boilerplate and
    * degenerate-loop text scores high. Pure map-side expression work.
    */
  def repetitionScore(s: SparkSession, dir: String): DataFrame =
    repetitionScoreOf(t(s, dir, "documents"))

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def repetitionScoreOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - 2, lit(0)).cast(LongType).as("n_grams"),
        size(shingles3(col("toks"))).cast(LongType).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0,
          round(lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_grams"), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy(col("doc_id"))

  /** Unigram log-probability quality score (the KenLM-proxy filter): mean
    * −ln P(token) under the corpus unigram distribution. Two
    * key-partitioned aggregations (corpus counts, per-doc mean via a
    * token join); the corpus total rides along as a 1-row broadcast.
    * Exact-decimal mean: the per-token logprob sum goes through
    * DECIMAL so shuffle order cannot perturb the hash.
    */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame =
    unigramLogprobOf(t(s, dir, "documents"))

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def unigramLogprobOf(docs: DataFrame): DataFrame = {
    // the tokenized frame feeds both the frequency aggregation and the
    // scoring join; recomputing the tokenize (two scans) beats caching
    // the exploded token table — at scale the cache is the memory hazard
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // corpus total derived from freq — no third pass over the tokens
    val total = freq.agg(sum(col("cnt")).as("total"))
    // the unigram table is vocabulary-sized (bounded, heavy-tailed —
    // ~100k entries even at 100 TB after any sane min-count cut), so
    // broadcast it: scoring becomes map-side explode → hash-probe →
    // partial agg, and the exploded token table never shuffles
    toks.join(broadcast(freq), "token").crossJoin(broadcast(total))
      .select(col("doc_id"),
        // quantize each token's logprob to 6 dp BEFORE the decimal sum so
        // the aggregation is exact and order-free
        round(-log(col("cnt").cast(DoubleType) / col("total")), 6)
          .cast(DecimalType(20, 10)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(round((sum(col("nll")).cast(DoubleType) / count(lit(1))), 6)
        .as("avg_nll"), count(lit(1)).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-size overlapping chunking — the context-window splitter every
    * pretraining/RAG pipeline runs before packing or embedding. Pure
    * map-side: the token array is bound ONCE in a projection (the
    * generator-adjacency lesson — an expression next to explode()
    * re-evaluates per emitted row), the generator explodes only the
    * cheap start-offset sequence, and each chunk row slices the bound
    * array. No shuffle except the output sort; at 100 TB this is a scan.
    */
  def chunkDocs(s: SparkSession, dir: String, chunkTokens: Int = 64,
      stride: Int = 48): DataFrame =
    chunkDocsOf(t(s, dir, "documents"), chunkTokens, stride)

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def chunkDocsOf(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens)
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      // no `.filter(n > 0)`: alias substitution would push it into the
      // scan as a second full tokenization per row. A NULL generator
      // input drops the row inside Generate itself (outer=false), which
      // is the same semantics for free.
      .select(col("doc_id"), col("toks"), col("n"),
        explode(when(col("n") > 0,
          sequence(lit(0), col("n") - 1, lit(stride)))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast(LongType).as("chunk_no"),
        concat_ws(" ",
          slice(col("toks"), col("start") + 1, lit(chunkTokens))).as("chunk"),
        least(lit(chunkTokens), col("n") - col("start"))
          .cast(LongType).as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_no"))
  }

  /** Greedy sequential sequence-packing (token-budget binning): documents
    * are chunked, in doc_id order within each language, into training
    * sequences targeting `budget` tokens by exclusive-prefix-sum binning.
    * A bin may overflow by exactly its final document (the deterministic
    * streaming-packer contract); when every document fits the budget,
    * bin ids are contiguous per language — a document larger than the
    * budget can skip bins. Partitioned by lang: each language packs
    * independently and in parallel; for 100 TB, sub-partition by hash
    * bucket inside lang the same way.
    */
  def packSequences(s: SparkSession, dir: String, budget: Int = 512): DataFrame =
    packSequencesOf(t(s, dir, "documents"), budget)

  /** Library-facing form over any (doc_id, lang, text) DataFrame. */
  def packSequencesOf(docs: DataFrame, budget: Int): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"))
      .withColumn("cum_incl", sum(col("n_toks")).over(w))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        floor((col("cum_incl") - col("n_toks")) / budget).as("seq_id"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the cheap exact-dedup key.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(regexp_replace(trim(lower(col("text"))), "[^a-z0-9]+", " ")
          .cast(BinaryType)).as("fp"))
      .orderBy(col("doc_id"))

  /** PII redaction: scrub emails and phone-shaped tokens before training.
    * The corpus has none, so deterministic synthetic PII is appended per
    * doc to prove the scrubber fires; output carries the redacted-text
    * fingerprint plus match counts. Patterns stay in the RE2 ∩ java.regex
    * common subset so both engines agree.
    */
  def redactPii(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "555-[0-9]+"
    val synth = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com or 555-"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), synth.as("synth"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("synth"), lit(emailRe), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("synth"), lit(phoneRe), lit(0)))
          .cast(LongType).as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("synth"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]").cast(BinaryType)).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic hash-based train/val split — stable across runs,
    * engines, and re-partitioning (the property random() splits lack):
    * bucket = md5(doc_id) mod 100, <90 → train.
    */
  /** The one md5 percent-bucket definition shared by every deterministic
    * splitter/sampler here (and mirrored in their DuckDB oracles): first
    * 15 hex chars of md5(id-as-string) as a long, mod 100.
    */
  private[graft] def md5Bucket(id: Column): Column =
    conv(substring(md5(id.cast(StringType).cast(BinaryType)), 1, 15),
      16, 10).cast(LongType) % 100

  def trainValSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), md5Bucket(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))

  /** text_leakage_split — LEAKAGE-SAFE train/val split: the assignment
    * unit is the near-dup CLUSTER, not the document, so near-duplicate
    * copies can never straddle the train/val boundary (the classic
    * eval-contamination failure of per-doc splits — a val doc whose
    * near-copy sits in train). Unclustered docs are their own singleton
    * cluster (rep = doc_id), keeping the policy uniform; the md5 bucket
    * is computed on the cluster REP and inherited by every member, so
    * membership alone decides the side. Plan: the cluster table is
    * pair-graph-sized (≪ corpus); one key-shuffle left join attaches it,
    * bucketing is map-side arithmetic.
    */
  def leakageSafeSplit(s: SparkSession, dir: String,
      thr: Double = 0.7): DataFrame = {
    // memoized cluster table (unordered — it feeds a join)
    val clusters = Tables.parquet(s, 
      graft.operators.Dedup.clustersPath(s, dir, thr))
    t(s, dir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
      .select(col("doc_id"), col("rep").as("cluster_rep"),
        md5Bucket(col("rep")).as("bucket"),
        when(md5Bucket(col("rep")) < 90, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))
  }

  /** pipe_train_shards — end-to-end training-shard assembly, the
    * composition a corpus pipeline actually runs: near-dup clusters are
    * computed ONCE and feed both the canonical keeper (longest text,
    * doc_id tiebreak — the dedup_canonical policy) and the leakage-safe
    * train-side filter (md5 bucket of the cluster REP < 90); surviving
    * docs are then assigned token-budget shards by running token count
    * in doc_id order. The running count uses the distributed sharded
    * prefix sum ([[PrefixSum.shardedCumSum]]) — per-shard local windows
    * plus a broadcast offset table — so no data-sized sequence ever
    * crosses a single-task window; a shard may overshoot the budget by
    * at most one document (greedy packing, the standard contract).
    */
  def trainShards(s: SparkSession, dir: String, thr: Double = 0.7,
      budget: Long = 2048, nShards: Int = 32): DataFrame =
    trainShardsOf(t(s, dir, "documents"), thr, budget, nShards,
      // memoized cluster table shared with the dedup/leakage gates
      clustersOpt = Some(Tables.parquet(s, 
        graft.operators.Dedup.clustersPath(s, dir, thr))))

  /** Library-facing form over any (doc_id, n_chars, text) DataFrame;
    * `clustersOpt` lets a caller supply a precomputed near-dup cluster
    * table (doc_id, cluster_rep) instead of re-running the minhash +
    * label-propagation kernel.
    */
  def trainShardsOf(docs: DataFrame, thr: Double = 0.7,
      budget: Long = 2048, nShards: Int = 32,
      clustersOpt: Option[DataFrame] = None): DataFrame = {
    val clusters = clustersOpt.getOrElse(graft.operators.Dedup.clustersOfPairs(
      graft.operators.Dedup.minhashLshPairs(docs, thr)
        .select(col("i"), col("j"))))
    val labeled = docs
      .select(col("doc_id"), col("n_chars"), col("text"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_rep"), col("doc_id")))
    val keep = labeled.groupBy(col("grp"))
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), negate(col("doc_id")))).as("doc_id"))
    val kept = labeled.join(keep, Seq("grp", "doc_id"))
      .filter(md5Bucket(col("grp")) < 90)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"))
      // PrefixSum instantiates its input twice; truncate the minhash+
      // clustering lineage so the offset pass doesn't recompute it
      .localCheckpoint(true)
    packShards(kept, budget, nShards)
  }

  /** The packing stage alone: greedy token-budget shard assignment of a
    * (doc_id, n_toks) table by exclusive running token count in doc_id
    * order, offset by `baseToks` tokens already packed. `baseToks` is
    * what makes the stage INCREMENTAL: packing a batch that starts
    * after `baseToks` accumulated tokens continues the exact global
    * prefix a full rebuild would compute (prefix sums compose by
    * offset), so append ≡ rebuild as long as batches arrive in doc_id
    * order — the rebuild's own order. See [[appendShards]].
    */
  def packShards(kept: DataFrame, budget: Long, nShards: Int,
      baseToks: Long = 0L): DataFrame = {
    val bounds = kept.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val sharded = kept.crossJoin(broadcast(bounds))
      .withColumn("pid",
        PrefixSum.rangePid(col("doc_id"), col("lo"), col("hi"), nShards))
      .drop("lo", "hi")
    PrefixSum.shardedCumSum(sharded, Seq.empty, "pid", "doc_id", "n_toks")
      .withColumn("shard_id",
        floor((col("cum") - col("n_toks") + baseToks) / budget))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tok_sum"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  /** Incremental shard maintenance: pack a NEW batch (doc ids strictly
    * above the packed range) continuing from the existing table's tail —
    * old docs are never re-read; only their token total (one scalar off
    * the existing SHARD table, not the corpus) seeds the offset, and the
    * possibly half-full last shard merges with the batch's first rows.
    * The append analogue of `Similarity.appendToLshIndex` for the shard
    * layout.
    */
  def appendShards(existing: DataFrame, newKept: DataFrame, budget: Long,
      nShards: Int): DataFrame = {
    val prev = existing.agg(
      coalesce(sum(col("tok_sum")), lit(0L)).as("base")).head.getLong(0)
    existing.unionByName(packShards(newKept, budget, nShards, prev))
      .groupBy(col("shard_id"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tok_sum")).as("tok_sum"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  /** text_intra_dedup — WITHIN-document repetition removal (the C4-family
    * step; `text_span_dedup` is its ACROSS-corpus sibling): the token
    * stream tiles into fixed 3-token chunks, a tile equal to an earlier
    * tile of the same document is dropped, and the survivors rejoin in
    * order. Keyed on an md5 of the tile text so neither engine needs
    * array-valued grouping; wholly map-side + one (doc, tile)-keyed
    * window + one doc-keyed agg — no cross-document work at all, so it
    * scales embarrassingly. Emits counts plus the md5 of the cleaned
    * text, which pins the reconstruction byte-for-byte.
    */
  def intraDocDedup(s: SparkSession, dir: String, tile: Int = 3): DataFrame =
    intraDocDedupOf(t(s, dir, "documents"), tile)

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def intraDocDedupOf(docs: DataFrame, tile: Int): DataFrame = {
    // bind the token array in its own projection (the Catalyst no-CSE
    // lesson), then tile with HOFs: tile i = slice(toks, i·t+1, t)
    val tiles = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            floor((size(col("toks")) + tile - 1) / lit(tile))
              .cast(IntegerType) - 1),
          i => concat_ws(" ", slice(col("toks"), i * tile + 1, lit(tile))))))
      .select(col("doc_id"), col("pos"), col("col").as("tile_str"))
    val w = Window.partitionBy(col("doc_id"),
      md5(col("tile_str").cast(BinaryType)))
    tiles
      .withColumn("first_pos", min(col("pos")).over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(when(col("pos") === col("first_pos"), 1L).otherwise(0L))
          .as("n_kept"),
        md5(array_join(
          transform(
            sort_array(filter(
              collect_list(struct(col("pos"), col("tile_str"),
                col("first_pos"))),
              x => x.getField("pos") === x.getField("first_pos"))),
            x => x.getField("tile_str")),
          " ").cast(BinaryType)).as("cleaned_md5"))
      .select(col("doc_id"), col("n_tiles"), col("n_kept"),
        (col("n_tiles") - col("n_kept")).as("n_removed"), col("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top terms per document: tf = in-doc occurrences, idf =
    * ln(N/df) over the corpus, top-k by rounded score with token
    * tie-break. Two key-partitioned aggregations (doc,token → token) +
    * one broadcast of the single-row corpus count + one window rank —
    * the shape survives any corpus size because nothing is per-corpus
    * except the count.
    */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfTopTermsOf(t(s, dir, "documents"), k)

  /** Library-facing form over any (doc_id, text) DataFrame. */
  def tfidfTopTermsOf(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // round BEFORE ranking so the rank order is defined on exactly the
    // values both engines compare (ties then break on token)
    // df_ is vocabulary-sized (see unigramLogprobOf) — broadcast so the
    // (doc, token) tf table never reshuffles on token
    val scored = tf.join(broadcast(df_), "token").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf").cast(DoubleType) *
        log(col("n_docs").cast(DoubleType) / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast(LongType).as("rk"),
        col("token"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  def bm25TopDocs(s: SparkSession, dir: String): DataFrame =
    bm25TopDocsOf(t(s, dir, "documents"),
      Seq("join", "stream", "sort"), k = 10)

  /** BM25 ranked retrieval for a fixed query-term set — the lexical
    * scoring function every retrieval / RAG corpus pipeline starts
    * from (Robertson-Spärck Jones idf, Lucene's +1 form so scores stay
    * positive at df > N/2):
    *
    *   score(d) = Σ_t ln(1 + (N − df + ½)/(df + ½)) ·
    *              tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))
    *
    * Plan shape — no explode, no token-stream shuffle, ever: per-doc
    * tf for each query term is an ARRAY EXPRESSION over the token
    * array (|q| is query-sized), so the whole corpus pass is map-side.
    * The only aggregation is the parameter-sized stats row (n_docs,
    * avgdl, one df per term — all from the same single scan), which
    * broadcasts back onto the per-doc rows; scoring is then a pure
    * projection, the no-hit filter prunes before the top-k, and the
    * ORDER BY + LIMIT plans as TakeOrdered (per-partition heaps, no
    * global sort). This is the minimal distributed shape for scoring
    * a fixed query against an arbitrary-size corpus: one scan, one
    * parameter-sized exchange.
    *
    * Cross-engine exactness (the tfidf/sim-pairs recipe): avgdl pins
    * to 6 dp, each per-term contribution rounds to 6 dp and the
    * per-doc sum adds DECIMAL(20,8) terms — exact, order-independent,
    * and the top-k cut cannot flip on float noise. Ties break on
    * doc_id.
    */
  def bm25TopDocsOf(docs: DataFrame, query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // bind toks once, then the tf columns once (expression trees do
    // not CSE — the langId two-stage-projection rule)
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id") +:
        size(col("toks")).cast(LongType).as("len") +:
        query.zipWithIndex.map { case (q, i) =>
          size(filter(col("toks"), t => t === lit(q)))
            .cast(LongType).as(s"tf_$i")
        }: _*)
    val statCols = count(lit(1)).as("n_docs") +:
      round(sum(col("len")).cast(DoubleType) / count(lit(1)), 6)
        .as("avgdl") +:
      query.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val contribs = query.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) /
          (col(s"df_$i") + lit(0.5)))
      when(col(s"tf_$i") > 0,
        round(idf * col(s"tf_$i") * lit(k1 + 1.0) /
          (col(s"tf_$i") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("len").cast(DoubleType) / col("avgdl"))), 6)
          .cast(DecimalType(20, 8)))
        .otherwise(lit(null).cast(DecimalType(20, 8)))
    }
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        contribs.map(c => coalesce(c, lit(BigDecimal(0)).cast(DecimalType(20, 8))))
          .reduce(_ + _).cast(DoubleType).as("score"),
        contribs.map(c => when(c.isNotNull, 1L).otherwise(0L))
          .reduce(_ + _).as("n_terms"))
      .filter(col("n_terms") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def tfidfSimilarPairs(s: SparkSession, dir: String): DataFrame =
    tfidfSimilarPairsOf(t(s, dir, "documents"), dfCap = 100, tau = 0.3)

  /** Sparse TF-IDF cosine similarity join — all document pairs with
    * cosine ≥ tau over the df ≤ dfCap vocabulary, via the inverted-index
    * posting join (the MapReduce pairwise-similarity shape): a pair is
    * generated once per SHARED token, so total candidate work is
    * Σ_token df², never corpus². This is the lexical member of the
    * similarity family (embeddings: `Similarity`; shingle sets: `Dedup`)
    * — it finds topical/templated similarity that exact-shingle overlap
    * misses and that needs no embedding model.
    *
    * Scale levers, in order:
    *   - `dfCap` drops tokens present in more than dfCap docs BEFORE
    *     vectors are built (the vector space is "the df ≤ dfCap
    *     vocabulary"): per-token join cost is capped at dfCap², and the
    *     dropped terms are precisely the lowest-idf (least informative)
    *     coordinates — at df = N, idf = ln(N/df) = 0 exactly.
    *   - weights are L2-normalized per doc, so the pair aggregation is a
    *     plain dot product: one (doc_i, doc_j)-keyed partial agg with
    *     map-side combine; the shuffle carries quantized products, not
    *     postings.
    *   - products quantize to 12 dp DECIMAL before the sum (the q10e
    *     recipe) — shuffle-order-independent, hash-gateable doubles out.
    *
    * The norm pass and the posting join both key on doc/token hash
    * shuffles; nothing driver-sided, no all-pairs stage anywhere.
    */
  def tfidfSimilarPairsOf(docs: DataFrame, dfCap: Int,
      tau: Double): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // same weight definition (and 6-dp pin) as tfidfTopTermsOf
    val w = tf.join(broadcast(df_), "token").crossJoin(broadcast(n))
      .withColumn("w", round(col("tf").cast(DoubleType) *
        log(col("n_docs").cast(DoubleType) / col("df")), 6))
      .select(col("doc_id"), col("token"), col("w"))
    // L2 norms: squares quantized to 8 dp before the decimal sum so the
    // per-doc aggregation is exact and order-free; sqrt on the exact sum
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(round(col("w") * col("w"), 8)
        .cast(DecimalType(30, 10))).cast(DoubleType)).as("norm"))
    val nw = w.join(norms, "doc_id")
      .select(col("doc_id"), col("token"), (col("w") / col("norm")).as("nw"))
    nw.as("a").join(nw.as("b"),
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        round(col("a.nw") * col("b.nw"), 12)
          .cast(DecimalType(28, 14)).as("p"))
      .groupBy(col("doc_i"), col("doc_j"))
      .agg(round(sum(col("p")).cast(DoubleType), 6).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** Deterministic hash-stratified sampling: per-language keep rates over
    * the same md5 bucket as [[trainValSplit]] — reproducible across runs
    * and engines, no RNG state, pure map-side filter (the sampling
    * pattern that actually works on 100 TB: no driver coordination).
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 50)
      .when(col("lang") === "de", 25)
      .otherwise(10)
    t(s, dir, "documents")
      .withColumn("bucket", md5Bucket(col("doc_id")))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash fingerprint via the native codegen'd
    * [[graft.functions.RollingHash]] expression — incremental polynomial
    * hash, the primitive behind content-defined chunking and shift-
    * tolerant fingerprints.
    */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    graft.functions.RollingHashFunction.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.RollingHashFunction.rollingHash(
          regexp_replace(trim(lower(col("text"))), "[^a-z0-9]+", " ")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination — flag training docs that share any
    * 3-token shingle with a held-out eval set (the n-gram-overlap check
    * every pretraining pipeline runs before release). Driver-gate split:
    * eval = doc_id % 50 == 0.
    */
  def decontamNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    decontamNgramOf(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
  }

  /** Library-facing form: contaminated train docs with shared-shingle
    * counts. The eval side is deduplicated then broadcast — at 100 TB the
    * eval set (benchmarks) stays tiny while train explodes, so the train
    * side never shuffles; per-doc shingle sets are distinct, so the
    * post-join count(*) IS the distinct shared-gram count.
    */
  def decontamNgramOf(train: DataFrame, evalSet: DataFrame): DataFrame = {
    // bind the token array in its OWN projection before shingling:
    // expression trees do not CSE, so element_at(tokens(text), i) inside
    // the shingle transform would re-run the regexp split per element —
    // and the explode-implied size>0 predicate would push the whole
    // un-CSE'd pipeline into the scan filter (observed 4× query cost)
    // explode the shingle EXPRESSION (not a pre-bound attribute): Catalyst
    // only infers a size>0 pre-filter for attribute-input generators, and
    // that inferred predicate would be alias-substituted all the way into
    // the scan as the full un-CSE'd pipeline (observed: 4× query cost).
    // The duplicate shingle build (size + explode) runs over the bound
    // token array, so it's two cheap concat loops, not two regex passes.
    // and bind n_grams BEFORE the explode: an expression selected next to
    // a generator is evaluated in the post-Generate projection — i.e.
    // once per exploded shingle, not once per doc (observed 10× cost)
    val trainSh = train
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(shingles3(col("toks"))).cast(LongType).as("n_grams"))
      .select(col("doc_id"), col("n_grams"),
        explode(shingles3(col("toks"))).as("g"))
    // same non-attribute-explode trick on the eval side — otherwise the
    // inferred size>0 filter lands on the eval scan as the full pipeline
    val evalGrams = evalSet
      .select(tokens(col("text")).as("toks"))
      .select(explode(shingles3(col("toks"))).as("g"))
      .distinct()
    trainSh.join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        round(col("n_shared").cast(DoubleType) / col("n_grams"), 6).as("frac"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunk dedup — per-document chunk counts plus how
    * many of each doc's chunks also occur in OTHER documents. Chunk
    * boundaries come from `CdcChunks` (trailing-window rolling hash, ~64
    * byte expected size), so shared text runs chunk identically in every
    * document that contains them regardless of surrounding insertions —
    * the shift-resistant complement to the fixed-tile `text_span_dedup`.
    * Scale posture: chunk strings never leave the map side — the
    * frequency groupBy and the share join are keyed on the 8-byte
    * xxhash64 digest of the chunk, so shuffle width is constant no
    * matter how large chunks grow.
    */
  def cdcChunkDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    val d = t(s, dir, "documents").select(col("doc_id"),
      regexp_replace(trim(lower(col("text"))), "[^a-z0-9]+", " ").as("norm"))
    val ch = d.select(col("doc_id"),
      explode(GraftSqlShim.column(graft.functions.CdcChunks(
        GraftSqlShim.expression(col("norm"))))).as("chunk"))
      .select(col("doc_id"), xxhash64(col("chunk")).as("h"))
    val g = ch.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
    ch.join(g, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered benchmark decontamination — same answer as
    * `decontamNgram` (same driver-gate split and oracle), different scale
    * posture. Driver-gate split: eval = doc_id % 50 == 0.
    */
  def decontamBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    decontamBloomOf(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
  }

  /** Library-facing form. `decontamNgramOf` broadcasts the distinct eval
    * gram TABLE; that posture caps out when the eval/blocklist side grows
    * past broadcast size (large held-out suites, historical-corpus
    * blocklists). Here the eval grams are first collapsed to a FIXED-SIZE
    * bloom sketch (1 MiB regardless of row count — the same trick
    * Catalyst's InjectRuntimeFilter plays on shuffle joins, via the same
    * expressions), the train gram stream is prefiltered map-side against
    * that broadcast sketch inside whole-stage codegen, and only the
    * survivors — true matches + the fpp tail — reach the exact confirm
    * join that removes false positives. Bloom filters have no false
    * negatives, so prefilter + exact confirm ≡ the exact operator,
    * row-for-row; the confirm join's input is candidate-proportional, so
    * at 100 TB it can shuffle-join a non-broadcastable eval side without
    * ever shuffling the full train gram stream.
    */
  def decontamBloomOf(train: DataFrame, evalSet: DataFrame): DataFrame = {
    import graft.functions.BloomBridge
    // same CSE-careful shingle build as decontamNgramOf (see the
    // generator-pitfall notes there — binding order is load-bearing)
    val trainSh = train
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(shingles3(col("toks"))).cast(LongType).as("n_grams"))
      .select(col("doc_id"), col("n_grams"),
        explode(shingles3(col("toks"))).as("g"))
    val evalGrams = evalSet
      .select(tokens(col("text")).as("toks"))
      .select(explode(shingles3(col("toks"))).as("g"))
      .distinct()
    // fixed-size sketch: 2^23 bits = 1 MiB, sized for ~1M grams at ~3% fpp;
    // OR-merge makes the bytes order-deterministic. Enters the probe-side
    // filter as a scalar subquery: executed once, inlined as a constant,
    // so the train stream is filtered map-side with zero join machinery.
    val sketch = evalGrams
      .agg(BloomBridge.bloomAgg(BloomBridge.h(col("g")), 1L << 20, 1L << 23).as("bf"))
    val candidates = trainSh
      .filter(BloomBridge.mightContain(sketch, BloomBridge.h(col("g"))))
    // exact confirm kills the fpp tail; eval fits broadcast at gate scale
    // (at blocklist scale this becomes a shuffle join over candidates only)
    candidates.join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        round(col("n_shared").cast(DoubleType) / col("n_grams"), 6).as("frac"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end corpus-prep pipeline — the composition a training-data
    * job actually runs, as ONE declarative plan Catalyst optimizes
    * whole: quality gate (token count) → exact dedup (first occurrence
    * per text) → benchmark decontamination (drop docs sharing a shingle
    * with the eval split) → deterministic train/val assignment.
    * Everything stays keyed or broadcast; no operator in the chain
    * breaks the 100 TB posture of its standalone form.
    */
  def cleanCorpus(s: SparkSession, dir: String): DataFrame =
    cleanCorpusOf(t(s, dir, "documents"), minTokens = 30)

  /** Library-facing form; eval split = doc_id % 50 == 0. */
  def cleanCorpusOf(docs: DataFrame, minTokens: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("text"), col("toks"),
        size(col("toks")).cast(LongType).as("n_tokens"))
    val train = base
      .filter(col("doc_id") % 50 =!= 0 && col("n_tokens") >= minTokens)
    val firstPerText = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    val deduped = train
      .withColumn("rn", row_number().over(firstPerText))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("toks"), col("n_tokens"))
    val evalGrams = docs.filter(col("doc_id") % 50 === 0)
      .select(tokens(col("text")).as("toks"))
      .select(explode(shingles3(col("toks"))).as("g"))
      .distinct()
    // contamination as a flag computed in the SAME pass (explode →
    // broadcast-probe → group back to one row per doc) — an anti-join
    // against a second reading of `deduped` would execute the dedup
    // window twice: the two branches prune different columns, so
    // Catalyst cannot reuse the exchange between them
    deduped
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        explode_outer(shingles3(col("toks"))).as("g"))
      .join(broadcast(evalGrams.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy(col("doc_id"), col("lang"), col("n_tokens"))
      .agg(max(coalesce(col("hit"), lit(0))).as("contaminated"))
      .filter(col("contaminated") === 0)
      .withColumn("bucket", md5Bucket(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("bucket"),
        when(col("bucket") < 90, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))
  }

  /** C4-style span-level dedup accounting: cut each doc into consecutive
    * 10-token spans and count, per doc, how many of its spans already
    * appeared earlier in the corpus (corpus order = (doc_id, span index)).
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedupOf(t(s, dir, "documents"), 10)

  /** Library-facing form. Span construction is pure map-side array
    * slicing (no explode-then-regroup shuffle); the only exchange is the
    * first-occurrence window keyed by span text — at scale that key would
    * be xxhash64(span) to shrink shuffle width, kept as text here so the
    * SQL oracle can reproduce it verbatim.
    */
  def spanDedupOf(docs: DataFrame, span: Int): DataFrame = {
    val toksBound = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val spans = toksBound
      .select(col("doc_id"),
        when(size(col("toks")) >= span,
          transform(sequence(lit(0), (size(col("toks")) / span).cast(IntegerType) - 1),
            i => concat_ws(" ", slice(col("toks"), i * span + 1, lit(span)))))
          .otherwise(array().cast(ArrayType(StringType))).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("chunk", "span")))
    val firstSeen = Window.partitionBy(col("span"))
      .orderBy(col("doc_id"), col("chunk"))
    spans.withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("rn") > 1, lit(1))).as("n_dup"))
      .orderBy(col("doc_id"))
  }

  /** The PRODUCTION form of [[spanDedupOf]]: the first-occurrence window
    * keys on `xxhash64(span)` instead of the raw 10-token string, so the
    * exchange carries 8-byte keys instead of ~60-byte span text — the
    * shuffle-width fix the string form's scaladoc promises. Collision
    * odds are ~n²/2⁶⁴ across distinct spans (vanishing at any real
    * corpus size); a collision could only merge two spans' first-seen
    * chains, never lose a row.
    */
  def spanDedupHashedOf(docs: DataFrame, span: Int): DataFrame = {
    val toksBound = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val spans = toksBound
      .select(col("doc_id"),
        when(size(col("toks")) >= span,
          transform(sequence(lit(0), (size(col("toks")) / span).cast(IntegerType) - 1),
            i => concat_ws(" ", slice(col("toks"), i * span + 1, lit(span)))))
          .otherwise(array().cast(ArrayType(StringType))).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("chunk", "span")))
      .select(col("doc_id"), col("chunk"), xxhash64(col("span")).as("k"))
    val firstSeen = Window.partitionBy(col("k"))
      .orderBy(col("doc_id"), col("chunk"))
    spans.withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("rn") > 1, lit(1))).as("n_dup"))
      .orderBy(col("doc_id"))
  }

  /** Driver-gate self-check for the hashed form: the string-keyed
    * result is the definitional answer (the DuckDB oracle reproduces it
    * verbatim), and `hash_eq` — pinned to 1 — asserts the 8-byte-key
    * production plan computes the identical per-doc counts on this
    * corpus.
    */
  def spanDedupHashedChecked(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val byString = spanDedupOf(docs, 10)
    val byHash = spanDedupHashedOf(docs, 10)
      .select(col("doc_id"), col("n_spans").as("h_spans"),
        col("n_dup").as("h_dup"))
    byString.join(byHash, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        (col("n_spans") === col("h_spans") &&
          col("n_dup") === col("h_dup")).cast("long").as("hash_eq"))
      .orderBy(col("doc_id"))
  }

  /** EXACT SUBSTRING DEDUP — the suffix-family method of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models
    * Better"): maximal token runs of length >= `minLen` repeated
    * ACROSS documents, at arbitrary alignment — the class span
    * dedup's fixed tiles and CDC's content-defined chunks only
    * approximate (a quote shifted by one token defeats tiling; this
    * catches it exactly). The paper builds a suffix array; the
    * DISTRIBUTED shape here is equivalent on cross-doc runs and
    * shuffle-friendly:
    *
    *   1. k-token shingle inverted index: one map pass per doc —
    *      (doc, pos, shingle) for every k-token window (overlapping,
    *      stride 1), keyed by `xxhash64(shingle)`.
    *   2. Posting-length cap: shingles occurring more than `maxDf`
    *      times drop out (one keyed count + semi join) — the
    *      occupancy guardrail every dedup kernel here carries: the
    *      candidate join below costs <= Σ posting², so a ubiquitous
    *      boilerplate shingle can never go quadratic in the corpus.
    *      The cap must not bind at gate scale (spec-asserted) so the
    *      cap-free DuckDB oracle stays exact.
    *   3. Cross-doc candidate join on (hash, shingle) with
    *      doc_a < doc_b — candidate-proportional, never corpus². The
    *      string rides as a join key only to make hash collisions
    *      impossible in the gate's bit-exact compare; the production
    *      form drops it (8-byte shuffle keys, collision odds
    *      ~pairs²/2⁶⁴ — the spanDedupHashedOf precedent).
    *   4. Maximal-run extension WITHOUT re-reading the corpus: a
    *      shared token run of length L >= k is exactly a run of
    *      L − k + 1 consecutive shingle matches on one DIAGONAL
    *      (pa − pb constant), so islands of consecutive `pa` per
    *      (doc_a, doc_b, diagonal) — one key-partitioned window —
    *      recover every maximal run and its exact extent.
    *
    * Output: one row per maximal shared run of token length >=
    * `minLen` — (doc_a, doc_b, a_start, b_start, run_len), positions
    * 0-based in token space. Scale shape: one map pass, one keyed
    * count, one shuffle join on the shingle key, one key-partitioned
    * window — no global window, no nested loop.
    */
  /** The stride-1 k-token shingle inverted index shared by the
    * substring-dedup family: (doc_id, pos, shingle, xxhash64 key) —
    * one map pass, toks bound in its own projection (the CSE rule).
    */
  private def shingleIdx(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) >= k,
          transform(sequence(lit(0), size(col("toks")) - k),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(k)))))
          .otherwise(array().cast(ArrayType(StringType))).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("g"), xxhash64(col("g")).as("h"))

  private def validateSubstringParams(k: Int, minLen: Int,
      maxDf: Int): Unit = {
    require(k >= 2, s"substring dedup: shingle width k >= 2 (got $k)")
    require(minLen >= k,
      s"substring dedup: minLen >= k ($minLen < $k — a run shorter " +
        "than one shingle is undetectable)")
    require(maxDf >= 2,
      s"substring dedup: maxDf >= 2 (got $maxDf — cross-doc sharing " +
        "needs at least two postings)")
  }

  /** Diagonal-islands maximal-run extraction shared by the substring
    * family: candidates (docA, docB, posA, posB) — same-shingle
    * position pairs — collapse to maximal shared runs per (docA, docB)
    * on each DIAGONAL (posA − posB constant): islands of consecutive
    * posA under one KEY-partitioned window. A shared token run of
    * length L >= k is exactly L − k + 1 consecutive shingle matches on
    * one diagonal, so the islands recover every maximal run and its
    * exact extent. Output: (docA, docB, a_start, b_start, run_len),
    * run_len >= minLen, positions on the A side.
    */
  private def diagonalRuns(cand: DataFrame, k: Int,
      minLen: Int): DataFrame = {
    val w = Window.partitionBy(col("docA"), col("docB"), col("diag"))
      .orderBy(col("posA"))
    cand.withColumn("diag", col("posA") - col("posB"))
      .withColumn("grp", col("posA") - row_number().over(w))
      .groupBy(col("docA"), col("docB"), col("diag"), col("grp"))
      .agg(min(col("posA")).as("a_start"), max(col("posA")).as("a_end"))
      .select(col("docA"), col("docB"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"),
        (col("a_end") - col("a_start") + k).as("run_len"))
      .filter(col("run_len") >= minLen)
  }

  /** Per-doc size of the UNION of covered token positions over runs
    * keyed by (docCol, startCol): exploded-distinct positions —
    * Σ run_len work, overlap-safe across partners.
    */
  private def positionUnion(runs: DataFrame, docCol: String,
      startCol: String): DataFrame =
    runs.select(col(docCol).as("doc_id"),
        explode(sequence(col(startCol),
          col(startCol) + col("run_len") - 1)).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))

  /** Detect kernel over a PRE-BUILT shingle index — the piece the
    * detect gate, the apply gate, and the shared-fixture layer all run.
    * `hashedKeys` drops the shingle STRING from the candidate join
    * (8-byte xxhash64 shuffle keys only — the production form; the
    * string-keyed default makes hash collisions impossible for the
    * gate's bit-exact DuckDB compare, and the `hash_eq` gate proves the
    * two agree — the [[spanDedupHashedOf]] precedent).
    */
  private def substringRunsFromIdx(idx: DataFrame, k: Int, minLen: Int,
      maxDf: Int, hashedKeys: Boolean = false): DataFrame = {
    // the occupancy cap: posting lists longer than maxDf drop out
    val keep = idx.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxDf).select(col("h"))
    val pruned0 = idx.join(keep, Seq("h"))
    val pruned = if (hashedKeys) pruned0.drop("g") else pruned0
    val joinKeys = if (hashedKeys) Seq("h") else Seq("h", "g")
    val aCols = Seq(col("doc_id").as("docA"), col("pos").as("posA"))
    val bCols = Seq(col("doc_id").as("docB"), col("pos").as("posB"))
    val a = pruned.select(joinKeys.map(col) ++ aCols: _*)
    val b = pruned.select(joinKeys.map(col) ++ bCols: _*)
    val cand = a.join(b, joinKeys)
      .filter(col("docA") < col("docB"))
      .select(col("docA"), col("docB"), col("posA"), col("posB"))
    diagonalRuns(cand, k, minLen)
      .select(col("docA").as("doc_a"), col("docB").as("doc_b"),
        col("a_start"), col("b_start"), col("run_len"))
  }

  def substringDedupOf(docs: DataFrame, k: Int = 8, minLen: Int = 20,
      maxDf: Int = 5000): DataFrame = {
    validateSubstringParams(k, minLen, maxDf)
    // eagerly materialized: referenced three times (the df count + both
    // join sides) — without it Catalyst re-runs the tokenize+shingle
    // build per reference. localCheckpoint (not cache): truncated
    // lineage, and the blocks release with the reference when the
    // caller drops the result — a .cache() here pinned one index per
    // invocation in the CacheManager for the session's lifetime.
    val idx = shingleIdx(docs, k).localCheckpoint(true)
    substringRunsFromIdx(idx, k, minLen, maxDf)
  }

  /** The 8-byte-key PRODUCTION form of [[substringDedupOf]]: identical
    * pipeline, candidate join keyed on xxhash64(shingle) ONLY — the
    * shingle string never rides a shuffle (at 100 TB the stride-1 index
    * dominates shuffle bytes; collision odds stay ~pairs²/2⁶⁴). Gated
    * ≡ the string form by [[substringDedupHashed]]'s `hash_eq` verdict.
    */
  def substringDedupHashedOf(docs: DataFrame, k: Int = 8, minLen: Int = 20,
      maxDf: Int = 5000): DataFrame = {
    validateSubstringParams(k, minLen, maxDf)
    val idx = shingleIdx(docs, k).select(
      col("doc_id"), col("pos"), col("h")).localCheckpoint(true)
    substringRunsFromIdx(idx, k, minLen, maxDf, hashedKeys = true)
  }

  // ---- shared gate fixtures (the cepMultiReplayed / semdedup
  // precedent, r15 verdict item 4): the three text_substring_* gates
  // each rebuilt the tokenize+shingle index (apply re-ran detect
  // inside itself; novelty built two indexes) — the dominant cost of
  // the family's 15.5 s steady footprint. Memoize the full-corpus
  // index and the detect runs once per (JVM, dir, params) as parquet
  // PATHS (session-independent; each call re-reads through the current
  // session) and slice every gate off them. Outputs are bit-identical:
  // the index is a per-doc map pass, so novelty's corpus/incoming
  // slices equal the full index filtered by doc_id.
  // [[graft.FixtureMemo]] is nesting-safe: substringRunsShared's
  // builder calls substringIdxShared on the same memo.
  private def memoPath(kind: String, key: String)(build: => String): String =
    graft.FixtureMemo.of(kind, key)(build)

  /** The full-corpus stride-1 shingle index at the gate parameters,
    * built once per (JVM, dir, k).
    */
  private def substringIdxShared(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    val path = memoPath("substr_idx", s"$dir|$k") {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-substr-idx").toString)
      shingleIdx(t(s, dir, "documents"), k)
        .write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** The detect result (maximal cross-doc runs) at the gate
    * parameters, built once per (JVM, dir, params) off the shared
    * index — the detect, apply, and hash-twin gates all read it.
    */
  private def substringRunsShared(s: SparkSession, dir: String, k: Int,
      minLen: Int, maxDf: Int): DataFrame = {
    val path = memoPath("substr_runs", s"$dir|$k|$minLen|$maxDf") {
      validateSubstringParams(k, minLen, maxDf)
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-substr-runs").toString)
      substringRunsFromIdx(substringIdxShared(s, dir, k), k, minLen, maxDf)
        .write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** The HASHED-KEY detect result off the shared index (r17): the
    * 8-byte-key production kernel's runs, built once per (JVM, dir,
    * params) — the apply/rewrite hashed twins both consume it (the
    * detect hashed gate keeps its LIVE kernel run; this fixture only
    * feeds the downstream surfaces, the same one-kernel-many-gates
    * accounting as the string-keyed fixture).
    */
  private def substringRunsHashedShared(s: SparkSession, dir: String,
      k: Int, minLen: Int, maxDf: Int): DataFrame = {
    val path = memoPath("substr_runs_hashed", s"$dir|$k|$minLen|$maxDf") {
      validateSubstringParams(k, minLen, maxDf)
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-substr-runs-h").toString)
      substringRunsFromIdx(
        substringIdxShared(s, dir, k).select(col("doc_id"), col("pos"),
          col("h")),
        k, minLen, maxDf, hashedKeys = true)
        .write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** text_substring_dedup gate: maximal cross-doc repeated runs of
    * >= 15 tokens at 5-token shingles over `documents`, against the
    * definitional DuckDB oracle (same shingle index, string-keyed,
    * same diagonal-islands CTE — cap-free; the cap provably does not
    * bind at gate scale, spec-asserted). Both parameters bind at
    * sf0.01: the 5-token index surfaces 37 maximal runs, minLen = 15
    * kills the 13 incidental short overlaps (5–11 tokens), 24 emit
    * (max 93 tokens — the near-dup pairs' shared bodies).
    */
  def substringDedup(s: SparkSession, dir: String): DataFrame =
    substringRunsShared(s, dir, 5, 15, 5000)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))

  /** text_substring_dedup_hashed gate — the [[spanDedupHashedChecked]]
    * precedent for the substring family: the string-keyed runs are the
    * definitional answer (the DuckDB oracle reproduces them verbatim)
    * and `hash_eq` — pinned to 1 — asserts the 8-byte-key production
    * plan ([[substringDedupHashedOf]]) emits the IDENTICAL run set on
    * this corpus (set equality both directions, so a collision-merged
    * diagonal, a lost run, or a drifted extent all flip the verdict).
    */
  def substringDedupHashed(s: SparkSession, dir: String): DataFrame = {
    val byString = substringRunsShared(s, dir, 5, 15, 5000)
    // the hashed side slices the memoized index too (only the
    // candidate-join KEYING differs — rebuilding the tokenize+shingle
    // pass would re-pay the very cost the shared fixture removed);
    // the standalone substringDedupHashedOf path is spec-compared
    // against the string form separately
    val byHash = substringRunsFromIdx(
      substringIdxShared(s, dir, 5).select(col("doc_id"), col("pos"),
        col("h")), 5, 15, 5000, hashedKeys = true)
    val diff = byString.exceptAll(byHash).unionAll(byHash.exceptAll(byString))
      .agg(count(lit(1)).as("d"))
    byString.crossJoin(broadcast(diff))
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("run_len"),
        when(col("d") === 0, 1L).otherwise(0L).as("hash_eq"))
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))
  }

  /** The APPLY side of exact substring dedup — Lee et al. remove all
    * but one occurrence of each repeated substring; the deterministic
    * keep policy here is LOWER-DOC-ID KEEPS: a run's doc_a copy stays,
    * its doc_b token range is marked removed. Per document this
    * returns (n_tokens, n_removed) where n_removed is the size of the
    * UNION of the doc's removed ranges across all partners
    * (overlapping runs from different partners must not double-count
    * — positions are exploded and de-duplicated, output-proportional
    * work: Σ run_len, never corpus²). The accounting surface a
    * curation pipeline thresholds on before re-materializing texts.
    */
  def substringDedupApplyOf(docs: DataFrame, k: Int = 8, minLen: Int = 20,
      maxDf: Int = 5000, hashedKeys: Boolean = false): DataFrame =
    substringApplyFromRuns(docs,
      if (hashedKeys) substringDedupHashedOf(docs, k, minLen, maxDf)
      else substringDedupOf(docs, k, minLen, maxDf))

  /** The apply accounting off a pre-computed run set — the piece the
    * gate shares with the library form (one detect pass serves both
    * detect and apply when the caller holds the runs already).
    */
  private def substringApplyFromRuns(docs: DataFrame,
      runs: DataFrame): DataFrame = {
    val counts = docs.select(col("doc_id").cast("long").as("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val removed = positionUnion(runs, "doc_b", "b_start")
    counts.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_removed"))
  }

  /** text_substring_dedup_apply gate: the removal accounting at the
    * detection gate's parameters, all 500 docs (zero-removal docs
    * included — the join coverage is part of the contract). Reads the
    * shared detect fixture — the gate no longer re-runs detect inside
    * itself.
    */
  def substringDedupApply(s: SparkSession, dir: String): DataFrame =
    substringApplyFromRuns(t(s, dir, "documents"),
      substringRunsShared(s, dir, 5, 15, 5000))
      .orderBy(col("doc_id"))

  /** The family's shared hash_eq verdict (r17 — the detect twin's
    * contract generalized): byString's rows with a constant column
    * pinned 1 iff byString ≡ byHash as MULTISETS, both directions —
    * a collision-merged row, a lost row, or a drifted value all flip
    * the verdict for every output row. The diff count is 1 row and
    * broadcasts.
    */
  private def hashEqChecked(byString: DataFrame, byHash: DataFrame,
      ord: Seq[String]): DataFrame = {
    // both sides are referenced twice (each exceptAll leg; byString a
    // third time in the output) and, unlike the detect twin's fixture
    // reads, the apply/rewrite kernels here are real jobs — eagerly
    // materialize once each (r17 self-review; the substringNoveltyOf
    // localCheckpoint precedent, lineage truncated, blocks released
    // with the reference)
    val bs = byString.localCheckpoint(true)
    val bh = byHash.localCheckpoint(true)
    val diff = bs.exceptAll(bh).unionAll(bh.exceptAll(bs))
      .agg(count(lit(1)).as("d"))
    bs.crossJoin(broadcast(diff))
      .select(bs.columns.map(col).toSeq :+
        when(col("d") === 0, 1L).otherwise(0L).as("hash_eq"): _*)
      .orderBy(ord.map(col): _*)
  }

  /** text_substring_apply_hashed gate (r17, completing the hashed
    * family): the string-keyed apply accounting is the definitional
    * answer; `hash_eq` pinned 1 asserts the accounting over the
    * 8-byte-key production runs is IDENTICAL for all 500 docs. Both
    * sides read shared fixtures — the one string-keyed detect and the
    * one hashed detect each ran once for the whole family.
    */
  def substringDedupApplyHashed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    hashEqChecked(
      substringApplyFromRuns(docs, substringRunsShared(s, dir, 5, 15, 5000)),
      substringApplyFromRuns(docs,
        substringRunsHashedShared(s, dir, 5, 15, 5000)),
      Seq("doc_id"))
  }

  /** The REWRITE side of exact substring dedup — Lee et al. actually
    * re-materialize the corpus with the repeated substrings cut; the
    * apply gate only accounts. Same deterministic keep policy
    * (lower-doc-id keeps): per document, drop the UNION of its removed
    * token ranges across all partners and re-join the survivors with
    * single spaces. Output: (doc_id, n_tokens, n_removed, clean_text)
    * for EVERY document (zero-removal docs pass through verbatim
    * token-joined). Scale shape: one run-explode (Σ run_len rows, the
    * output-proportional part), one keyed collect_set (per-doc removed
    * positions — document-bounded state), one broadcast-free left join
    * onto the corpus, then a MAP-SIDE indexed-lambda filter over the
    * token array — the rewrite itself never shuffles text.
    */
  def substringDedupRewriteOf(docs: DataFrame, k: Int = 8,
      minLen: Int = 20, maxDf: Int = 5000,
      hashedKeys: Boolean = false): DataFrame =
    substringRewriteFromRuns(docs,
      if (hashedKeys) substringDedupHashedOf(docs, k, minLen, maxDf)
      else substringDedupOf(docs, k, minLen, maxDf))

  private def substringRewriteFromRuns(docs: DataFrame,
      runs: DataFrame): DataFrame = {
    val rm = runs.select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("run_len") - 1)).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("rm"))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"),
        // keep tokens whose 0-based position is not in the removed set;
        // a null rm (no removals) keeps everything
        concat_ws(" ", filter(col("toks"), (_, i) =>
          !coalesce(array_contains(col("rm"), i.cast("long")),
            lit(false)))).as("clean_text"))
  }

  /** text_substring_dedup_rewrite gate: the re-materialized corpus at
    * the detection gate's parameters, every document a row, hashed on
    * the actual clean_text strings — so a drifted keep policy, an
    * off-by-one range, or a double-removed overlap all flip the hash.
    * Reads the shared detect fixture.
    */
  def substringDedupRewrite(s: SparkSession, dir: String): DataFrame =
    substringRewriteFromRuns(t(s, dir, "documents"),
      substringRunsShared(s, dir, 5, 15, 5000))
      .orderBy(col("doc_id"))

  /** text_substring_rewrite_hashed gate (r17): the re-materialized
    * corpus off the 8-byte-key runs must be BYTE-identical to the
    * string-keyed rewrite — `hash_eq` compares the actual clean_text
    * strings both directions, so a collision-shifted cut boundary
    * anywhere in any document flips the verdict.
    */
  def substringDedupRewriteHashed(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = t(s, dir, "documents")
    hashEqChecked(
      substringRewriteFromRuns(docs,
        substringRunsShared(s, dir, 5, 15, 5000)),
      substringRewriteFromRuns(docs,
        substringRunsHashedShared(s, dir, 5, 15, 5000)),
      Seq("doc_id"))
  }

  /** INCREMENTAL substring dedup — the ingestion-time shape (the
    * bloom-snapshot precedent for the suffix family): incoming docs
    * checked against a STANDING corpus only, never against each
    * other (batch-mode dedup owns within-set runs). One corpus-side
    * shingle index ⋈ one incoming-side index on the shingle key
    * (candidate-proportional; the corpus side is the posting-capped
    * one — at scale it is the big, reusable side a pipeline
    * materializes once), diagonal islands per (corpus doc, incoming
    * doc), runs >= minLen, then per INCOMING doc the union of matched
    * token positions. Output: (doc_id, n_tokens, n_matched) for every
    * incoming doc — the contamination measure an ingestion filter
    * thresholds on.
    */
  def substringNoveltyOf(corpus: DataFrame, incoming: DataFrame,
      k: Int = 8, minLen: Int = 20, maxDf: Int = 5000,
      hashedKeys: Boolean = false): DataFrame = {
    validateSubstringParams(k, minLen, maxDf)
    // eagerly materialized, not .cache()d: referenced twice (df count
    // + probe) with truncated lineage, and the blocks release with the
    // reference instead of pinning in the CacheManager per invocation
    def slim(df: DataFrame): DataFrame =
      if (hashedKeys) df.select(col("doc_id"), col("pos"), col("h"))
      else df
    val idxC = slim(shingleIdx(corpus, k)).localCheckpoint(true)
    substringNoveltyFromIdx(idxC, slim(shingleIdx(incoming, k)), incoming,
      k, minLen, maxDf, hashedKeys)
  }

  /** The novelty kernel over PRE-BUILT corpus/incoming indexes — the
    * piece the gate shares with the library form (the gate slices both
    * sides off the one memoized full-corpus index). `hashedKeys` joins
    * the two indexes on the 8-byte hash alone (the shingle string never
    * enters EITHER exchange — the novelty join is the family's widest,
    * corpus-index × incoming-index, so the string-width saving lands
    * twice); the string-keyed form stays the definitional one the
    * oracle reproduces.
    */
  private def substringNoveltyFromIdx(idxC: DataFrame, idxI: DataFrame,
      incoming: DataFrame, k: Int, minLen: Int, maxDf: Int,
      hashedKeys: Boolean = false): DataFrame = {
    val keep = idxC.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxDf).select(col("h"))
    // the INCOMING side is the A side: run extents land on incoming
    // positions, which is what the per-doc union accounts
    val aCols = col("h") :: (if (hashedKeys) Nil else col("g") :: Nil) :::
      col("doc_id").as("docB") :: col("pos").as("posB") :: Nil
    val bCols = col("h") :: (if (hashedKeys) Nil else col("g") :: Nil) :::
      col("doc_id").as("docA") :: col("pos").as("posA") :: Nil
    val a = idxC.join(keep, Seq("h")).select(aCols: _*)
    val b = idxI.select(bCols: _*)
    val cand = a.join(b, if (hashedKeys) Seq("h") else Seq("h", "g"))
      .select(col("docA"), col("docB"), col("posA"), col("posB"))
    val matched = positionUnion(diagonalRuns(cand, k, minLen),
      "docA", "a_start")
    incoming.select(col("doc_id").cast("long").as("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_matched"))
  }

  /** text_substring_novelty gate: the decontam split (doc_id % 50 = 0
    * is the incoming set, the rest the corpus) at the detection gate's
    * parameters, every incoming doc accounted. Both index sides are
    * doc_id-filters of the ONE memoized full-corpus index (the index
    * is a per-doc map pass, so the slices are bit-identical to
    * per-side builds) — the gate builds zero indexes of its own.
    */
  def substringNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = substringIdxShared(s, dir, 5)
    substringNoveltyFromIdx(idx.filter(col("doc_id") % 50 =!= 0),
      idx.filter(col("doc_id") % 50 === 0),
      docs.filter(col("doc_id") % 50 === 0), 5, 15, 5000)
      .orderBy(col("doc_id"))
  }

  /** text_substring_novelty_hashed gate (r17): the hashed form of the
    * family's WIDEST join — corpus index × incoming index, where the
    * string key rode BOTH exchanges. `hash_eq` pinned 1 asserts the
    * hash-only candidate join reproduces the string-keyed
    * contamination accounting for every incoming doc. Both sides
    * slice the one memoized full-corpus index; the hashed side's
    * kernel runs LIVE (its join keying is the surface under test).
    */
  def substringNoveltyHashed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = substringIdxShared(s, dir, 5)
    val idxH = idx.select(col("doc_id"), col("pos"), col("h"))
    val incoming = docs.filter(col("doc_id") % 50 === 0)
    hashEqChecked(
      substringNoveltyFromIdx(idx.filter(col("doc_id") % 50 =!= 0),
        idx.filter(col("doc_id") % 50 === 0), incoming, 5, 15, 5000),
      substringNoveltyFromIdx(idxH.filter(col("doc_id") % 50 =!= 0),
        idxH.filter(col("doc_id") % 50 === 0), incoming, 5, 15, 5000,
        hashedKeys = true),
      Seq("doc_id"))
  }

  /** Adjacent-pair frequencies over the BPE-ish token stream — the
    * counting step of a byte-pair-encoding merge round (tokenizer
    * training's inner loop): the most frequent pair becomes the next
    * vocabulary merge. Pure map-side pair construction (tokens bound in
    * a projection, pairs exploded as the generator expression — the
    * scan-pushdown-safe shape) + ONE keyed partial-agg count + a
    * TakeOrderedAndProject top-k. Nothing holds per-document state; the
    * shuffle carries per-partition pair partials only.
    */
  def bigramMerges(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    bigramMergesOf(t(s, dir, "documents"), k)

  /** Library-facing form over any (text) DataFrame. */
  def bigramMergesOf(docs: DataFrame, k: Int): DataFrame = {
    val toks = col("toks")
    val pairs = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))
    docs.select(bpeishTokens(col("text")).as("toks"))
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** text_feature_hash — the hashing trick: tokens mapped to a fixed
    * `dim`-bucket space by the md5 coin (deterministic, no vocabulary
    * pass, no dictionary state — the property that matters at 100 TB:
    * featurization is one map-side expression + one keyed count, and two
    * runs or two clusters hash identically). Long-format output
    * (doc, bucket, count) — the sparse form downstream trainers consume.
    */
  def featureHash(s: SparkSession, dir: String, dim: Int = 32): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("token").cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType), lit(dim.toLong)))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("doc_id"), col("bucket"))

  /** Linear-classifier scoring over hashed token features — the
    * model-based quality-filter step of a CCNet/fastText-style curation
    * pipeline ("score every document with a trained classifier, keep
    * score ≥ τ"), as pure relational algebra: tokenize → hash each
    * token to one of `dim` buckets (the [[featureHash]] md5 coin) →
    * broadcast-join the parameter-sized weight table at TOKEN level —
    * Σ w[bucket(tok)] / n IS the dot product ⟨tf, w⟩ without ever
    * materializing a per-document vector — → ONE groupBy(doc_id).
    * One shuffle at any corpus size; the model is a `dim`-row
    * broadcast; everything else is map-side codegen'd expression work.
    *
    * `weights` (bucket → w, exact DECIMAL(20,12) so the sum is
    * order-independent) is the plug-in point for real trained
    * coefficients; the driver gate feeds [[hashWeights]], a
    * deterministic stand-in, so the whole model replay is
    * engine-independent and DuckDB-oracled end-to-end. Zero-token
    * documents survive the left join and score sigmoid(bias).
    */
  def scoreLinearOf(docs: DataFrame, weights: DataFrame, dim: Int,
      bias: Double): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("token").cast(BinaryType)), 1, 15),
          16, 10).cast(LongType), lit(dim.toLong)))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("w")).cast(DoubleType) / count(lit(1)), 9)
          .as("mean_w"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(lit(1.0) / (lit(1.0) +
          exp((lit(bias) + coalesce(col("mean_w"), lit(0.0))) * -1)), 6)
          .as("score"))
      .withColumn("kept", col("score") >= 0.5)
      .orderBy(col("doc_id"))
  }

  /** Deterministic stand-in classifier weights for the driver gate:
    * w(bucket) = round(md5-coin(bucket) · 2 − 1, 6) ∈ [−1, 1), exact
    * DECIMAL(20,12) — replaces trained coefficients so the oracle can
    * replay the model definitionally (same coin in both engines).
    */
  def hashWeights(s: SparkSession, dim: Int): DataFrame =
    s.range(dim).select(col("id").as("bucket"),
      round(conv(substring(md5(col("id").cast(StringType)
            .cast(BinaryType)), 1, 15), 16, 10).cast(DoubleType) /
          lit(math.pow(16.0, 15)) * 2 - 1, 6)
        .cast(DecimalType(20, 12)).as("w"))

  /** text_quality_classifier — [[scoreLinearOf]] on `documents` with
    * the [[hashWeights]] stand-in model (dim 64, bias 0.02 so both
    * classes appear at gate scale).
    */
  def qualityClassifier(s: SparkSession, dir: String, dim: Int = 64,
      bias: Double = 0.02): DataFrame =
    scoreLinearOf(t(s, dir, "documents"), hashWeights(s, dim), dim, bias)

  /** Importance-resampling data selection (DSIR, Xie et al. 2023) —
    * "select the k raw documents whose hashed-n-gram distribution best
    * matches a target domain", the data-selection stage between quality
    * filtering and mixing in an LLM curation pipeline. Wholly
    * relational, three bounded stages:
    *
    *   1. featurize: token bigrams → `dim` hashed buckets (the
    *      [[featureHash]] md5 coin) — one explode, map-side;
    *   2. fit both bag-of-ngrams models in ONE `dim`-bounded groupBy
    *      (target count is a conditional sum, not a second scan);
    *      the per-bucket log-ratio table ln(p̂/q̂) (add-1 smoothing,
    *      6dp-quantized) is `dim` rows → broadcast;
    *   3. score: per-doc log importance weight Σ c_f·ln(p̂_f/q̂_f) as an
    *      exact DECIMAL sum over the broadcast join (one doc_id
    *      shuffle), then Gumbel top-k — g = −ln(−ln(u)) with u the
    *      md5 coin of doc_id, so "sample ∝ importance weight" is
    *      engine-bit-reproducible, no RNG state — via
    *      `TakeOrderedAndProject` (per-partition k-heaps + driver
    *      merge of k·partitions rows, never a global sort).
    *
    * Documents with <2 tokens have an empty feature bag (logw 0) and
    * ride on their Gumbel key alone. Scale: the only data-sized
    * shuffles are the bucket agg (collapses to `dim` rows map-side)
    * and the doc_id agg; model tables are parameter-sized broadcasts.
    */
  def dsirSelectOf(docs: DataFrame, isTarget: Column, dim: Int,
      k: Int): DataFrame = {
    val toks = col("toks")
    val pairExpr = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("w1"),
            element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast(ArrayType(
        StructType(Seq(StructField("w1", StringType),
          StructField("w2", StringType))))))
    val bi = docs
      .select(col("doc_id"), isTarget.as("tgt"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("tgt"), explode(pairExpr).as("b"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat(col("b.w1"), lit(" "), col("b.w2"))
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType),
          lit(dim.toLong)))
    // both models in one dim-bounded agg: q̂ over the raw corpus, p̂ over
    // the target slice (conditional sum — no second tokenize/scan)
    val cnt = bi.groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("cp"),
        count(lit(1)).as("cq"))
    val tot = cnt.agg(sum(col("cp")).as("tp"), sum(col("cq")).as("tq"))
    // ln(p̂/q̂) = ln((cp+1)(tq+dim) / ((tp+dim)(cq+1))) — ONE libm call,
    // operand order mirrored verbatim in the oracle, 6dp-quantized
    val lr = cnt.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log(((col("cp") + 1).cast(DoubleType) * (col("tq") + dim)) /
          ((col("tp") + dim).cast(DoubleType) * (col("cq") + 1))), 6)
          .cast(DecimalType(20, 10)).as("lr"))
    val perDoc = bi.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"), sum(col("lr")).as("slr"))
    val zero = lit(BigDecimal(0)).cast(DecimalType(20, 10))
    val u = (conv(substring(md5(col("doc_id").cast(StringType)
        .cast(BinaryType)), 1, 15), 16, 10).cast(DoubleType) + lit(0.5)) /
      lit(math.pow(16.0, 15))
    val keyed = docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("slr"), zero).as("slr"),
        round(-log(-log(u)), 6).cast(DecimalType(20, 10)).as("g"))
      .withColumn("key", col("slr") + col("g"))
    keyed.orderBy(col("key").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("n_feat"),
        round(col("slr").cast(DoubleType), 6).as("logw"),
        round(col("key").cast(DoubleType), 6).as("gkey"))
  }

  /** text_dsir_select — [[dsirSelectOf]] on `documents` with the
    * English slice as the target domain (dim 256, k 100): "resample the
    * multilingual crawl toward English-looking n-gram statistics".
    */
  def dsirSelect(s: SparkSession, dir: String, dim: Int = 256,
      k: Int = 100): DataFrame =
    dsirSelectOf(t(s, dir, "documents"), col("lang") === "en", dim, k)

  /** text_bigram_logprob — bigram-LM fluency scoring: per-document mean
    * negative log P(w_i | w_{i-1}) with conditional probabilities from
    * the corpus itself (KenLM-proxy one step up from unigramLogprob).
    * The CONTEXT table is unigram-vocabulary-bounded → broadcast; the
    * bigram table is NOT (it grows with corpus diversity, heavy-tailed),
    * so its join stays un-hinted — AQE broadcasts it while it fits and
    * falls back to the keyed shuffle join when it doesn't (the
    * percentile de-hinting lesson). Each term is 6dp-quantized into an
    * exact decimal sum (order-independent, the q10e/unigram recipe).
    */
  def bigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val pairExpr = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("w1"),
            element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast(ArrayType(
        StructType(Seq(StructField("w1", StringType),
          StructField("w2", StringType))))))
    val bi = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(pairExpr).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val biFreq = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // context totals derived from the bigram table, not a third token pass
    val ctxFreq = biFreq.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bi.join(biFreq, Seq("w1", "w2"))
      .join(broadcast(ctxFreq), Seq("w1"))
      .select(col("doc_id"),
        round(-log(col("c2").cast(DoubleType) / col("c1")), 6)
          .cast(DecimalType(20, 10)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("nll")).cast(DoubleType) / count(lit(1)), 6)
        .as("avg_nll"), count(lit(1)).as("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** BPE tokenizer TRAINING — learn the first `nMerges` byte-pair
    * merges over the corpus, in the WORD-FREQUENCY formulation every
    * production trainer uses (merges apply within words; the corpus
    * collapses to a distinct-word table first, so iteration cost is
    * VOCABULARY-sized, never corpus-sized — the difference between
    * re-scanning 100 TB per merge and re-scanning ~10⁸ rows):
    *
    *  1. ONE corpus scan: explode word tokens → (word, cnt). Each word
    *     spells with every symbol WRAPPED in separators
    *     (`"chat"` → `"␟c␟␟h␟␟a␟␟t␟"`). The merge pattern
    *     `␟l␟␟r␟ → ␟lr␟` anchors BOTH symbol boundaries, so a longer
    *     symbol that merely ENDS with `l` can never false-match — the
    *     earlier trailing-sep-only encoding corrupted exactly that
    *     case (symbols [xa, b] matched pattern `a␟b␟` inside `xa␟b␟`
    *     and merged across the boundary; caught by the adversarial
    *     spec corpus, invisible to the gate because the oracle shares
    *     the encoding). Because the inter-symbol boundary is the
    *     two-byte `␟␟` and the pattern consumes one trailing plus one
    *     leading byte, consecutive occurrences still abut for
    *     `replace`'s left-to-right non-overlapping scan = BPE's
    *     greedy application order (`"aaaa"` + (a,a) → `(aa)(aa)`).
    *  2. Per merge round, all on the vocab table: adjacent symbol
    *     pairs weighted by word count (split → drop empties → zip,
    *     map-side) → one keyed SUM → the argmax pair by (count DESC,
    *     left, right) — a 1-row driver collect, the same
    *     parameter-sized pattern as k-means seeding — then ONE
    *     map-side `replace` applies the merge to every spelling.
    *  3. Stops early when no pair repeats (best count < 2) — the
    *     remaining merges would be arbitrary singletons.
    *
    * The vocab table localCheckpoints per round: it is small by
    * construction and each round's lineage would otherwise stack k
    * replaces deep. Returns the learned merge table
    * (rank, lft, rgt, merged, pair_cnt) — parameter-sized, the
    * artifact a tokenizer ships.
    */
  def bpeTrainOf(docs: DataFrame, nMerges: Int): DataFrame =
    bpeTrainBatchedOf(docs, nMerges, batchSize = 1).drop("round")

  /** BATCHED BPE training — the production-merge-count form of
    * [[bpeTrainOf]], which IS this operator at `batchSize = 1` (so the
    * `text_bpe_merges` gate oracles the shared code path exactly).
    * Strict BPE needs one driver round per merge; a real tokenizer has
    * 30–50k merges, and 50k scheduling-dominated rounds is the actual
    * bottleneck of the relational formulation at any data scale. This
    * form selects the top `batchSize` pairwise SYMBOL-DISJOINT pairs
    * per round (greedy in (count DESC, l, r) order over a bounded
    * candidate slice) and applies them in ONE pass of chained
    * replaces. Disjointness makes the batch exact with respect to its
    * own counts: merging (a, b) only creates or destroys pairs that
    * involve a, b, or the new symbol a+b, so with operands AND merged
    * outputs all distinct across the batch (the `used` set tracks
    * both — a candidate whose operand equals an earlier pick's output,
    * or whose output equals an earlier pick's operand, defers a
    * round), the pre-round count of every other picked pair is
    * invariant under it, and the chained replaces commute — the
    * spec pins batched ≡ an independent symbol-list reference of the
    * same policy. The SEQUENCE can defer a merge strict BPE would take
    * next (strict #2 may share a symbol with #1 — e.g. (es, t) right
    * after (e, s) — and waits one round); that is the trade every
    * batched trainer makes, and `batchSize = 1` recovers strict BPE
    * exactly (spec-pinned on random corpora). Rounds collapse from
    * k to ~k/batchSize; the candidate slice is 4·batchSize + 8 rows —
    * a parameter-sized collect (a round may pick fewer than batchSize
    * if the slice is conflict-dense; the next round recounts).
    */
  def bpeTrainBatchedOf(docs: DataFrame, nMerges: Int,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val s = docs.sparkSession
    val sep = "\u001f"
    var vocab = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        regexp_replace(col("word"), "(.)", sep + "$1" + sep).as("sp"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, String, Long)]
    var done = false
    var round = 0L
    while (merges.size < nMerges && !done) {
      val want = math.min(batchSize, nMerges - merges.size)
      // wrapped encoding: split yields leading/interior/trailing empty
      // strings around the separators — drop them, then zip adjacents
      val cand = vocab
        .select(col("cnt"),
          filter(split(col("sp"), sep), x => x =!= "").as("ts"))
        .select(col("cnt"),
          explode(zip_with(
            slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .head(4 * batchSize + 8)
      val used = scala.collection.mutable.Set.empty[String]
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      var j = 0
      while (j < cand.length && picked.size < want) {
        val l = cand(j).getString(0)
        val r = cand(j).getString(1)
        val c = cand(j).getLong(2)
        if (c >= 2L && !used.contains(l) && !used.contains(r) &&
            !used.contains(l + r)) {
          picked += ((l, r, c)); used += l; used += r; used += l + r
        }
        j += 1
      }
      if (picked.isEmpty) done = true
      else {
        round += 1
        picked.foreach { case (l, r, c) =>
          merges += ((merges.size + 1L, round, l, r, l + r, c))
        }
        vocab = picked.foldLeft(vocab) { case (df, (l, r, _)) =>
          df.select(col("cnt"),
            replace(col("sp"), lit(sep + l + sep + sep + r + sep),
              lit(sep + l + r + sep)).as("sp"))
        }.localCheckpoint()
      }
    }
    import s.implicits._
    merges.toSeq
      .toDF("rank", "round", "lft", "rgt", "merged", "pair_cnt")
      .orderBy(col("rank"))
  }

  /** The first-n merge table as DRIVER rows (rank, lft, rgt, merged,
    * pair_cnt — the model artifact, parameter-sized), memoized per
    * (process, dir, n): text_bpe_merges and text_bpe_encode each ran
    * the same n-driver-round training (r18 shared-fixture note).
    */
  private def bpeMergesRows(s: SparkSession, dir: String,
      n: Int): Seq[(Long, String, String, String, Long)] =
    graft.FixtureMemo.of(s"bpe_merges|$n", dir) {
      bpeTrainOf(t(s, dir, "documents"), n).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
    }

  /** text_bpe_merges — [[bpeTrainOf]] on `documents`, first 6 merges.
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def bpeMerges(s: SparkSession, dir: String, n: Int = 6): DataFrame = {
    import s.implicits._
    bpeMergesRows(s, dir, n)
      .toDF("rank", "lft", "rgt", "merged", "pair_cnt")
      .orderBy(col("rank"))
  }

  /** BPE ENCODE — apply learned merges to the corpus and report per-doc
    * tokenization stats (word/char/BPE-token counts, chars-per-token
    * compression). The merge table is the parameter-sized artifact
    * [[bpeTrainOf]] ships; both application forms are one corpus scan
    * + one doc_id shuffle for the final aggregate, nothing else.
    * Dispatches on merge count: ≤[[ChainedEncodeMaxMerges]] runs the
    * codegen'd chained-replace form ([[bpeEncodeChainedOf]] — the
    * wrapped `␟sym␟` spelling, one `replace` per merge in RANK order,
    * symbol count = `(length(sp) − length(replace(sp, sep, ""))) / 2`);
    * above it, the production greedy form ([[bpeEncodeGreedyOf]] —
    * broadcast rank map + mapPartitions merge loop, whose plan does
    * not grow with the merge count).
    */
  def bpeEncodeOf(docs: DataFrame, merges: Seq[(String, String)])
      : DataFrame =
    if (merges.size <= ChainedEncodeMaxMerges) bpeEncodeChainedOf(docs, merges)
    else bpeEncodeGreedyOf(docs, merges)

  /** Chained-replace encode — the gate-scale fast path behind
    * [[bpeEncodeOf]]: one codegen'd `replace` per merge keeps the whole
    * encode inside whole-stage codegen, but the projection grows with
    * the merge count, so it is dispatch-capped at
    * [[ChainedEncodeMaxMerges]] (Catalyst analysis and generated-method
    * size scale with k; a production 30-50k-merge tokenizer would blow
    * both long before any data-size limit).
    */
  def bpeEncodeChainedOf(docs: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    val sep = "\u001f"
    val spelled = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .withColumn("sp",
        regexp_replace(col("word"), "(.)", sep + "$1" + sep))
    val encoded = merges.foldLeft(spelled) { case (df, (l, r)) =>
      df.withColumn("sp",
        replace(col("sp"), lit(sep + l + sep + sep + r + sep),
          lit(sep + l + r + sep)))
    }
    bpeEncodeStats(encoded
      .select(col("doc_id"), length(col("word")).cast("long").as("nc"),
        ((length(col("sp")) -
          length(replace(col("sp"), lit(sep), lit("")))) / 2)
          .cast("long").as("ns")))
  }

  /** Dispatch bound for the chained-replace encode: 64 nested
    * `replace`s is comfortably inside codegen method limits; beyond it
    * the greedy broadcast form wins anyway (its per-word cost is
    * rank-lookup, independent of merge count).
    */
  val ChainedEncodeMaxMerges = 64

  /** Production-form encode — the 100×-parameter-axis path behind
    * [[bpeEncodeOf]]: the merge table broadcasts as a rank map
    * (parameter-sized, the same artifact class as k-means centroids)
    * and each word merges in a `mapPartitions` greedy loop —
    * repeatedly fuse the lowest-rank (leftmost on ties) adjacent
    * symbol pair. The PLAN is merge-count-independent: one explode
    * projection, one deserialize/serialize around the loop, one
    * doc_id aggregate — nothing in the tree grows with k (spec-pinned
    * in Round12Spec against the optimized-plan string).
    *
    * Result-identical to [[bpeEncodeChainedOf]] on any rank-consistent
    * table (every operand symbol of rank k is a base char or the
    * output of a rank < k merge): under that invariant a later merge
    * can never create an occurrence of an earlier pair, so "apply each
    * merge to fixpoint in rank order" (the chained form — one
    * left-to-right pass IS the fixpoint, since l+r can't recreate
    * (l, r)) and "repeatedly fuse the globally lowest-rank pair" (this
    * loop, the tokenizers-library algorithm) converge to the same
    * symbol sequence. [[bpeTrainOf]]'s tables are rank-consistent by
    * construction; Round12Spec proves the equivalence on a ≥100-merge
    * trained table.
    */
  def bpeEncodeGreedyOf(docs: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rank: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val bc = spark.sparkContext.broadcast(rank)
    val counted = docs
      .select(col("doc_id").cast("long"), explode(tokens(col("text"))))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rk = bc.value
        it.map { case (id, w) =>
          (id, w.length.toLong, bpeGreedySymbolCount(w, rk))
        }
      }
      .toDF("doc_id", "nc", "ns")
    bpeEncodeStats(counted)
  }

  /** Number of BPE symbols `word` encodes to under `rank`: greedy
    * lowest-rank-first (leftmost tie-break) pair fusion over a symbol
    * array. O(L²) worst-case scans per word with L = |word| — words
    * are natural-language short, and the cost is independent of the
    * merge count, which is the axis that matters at production vocab
    * sizes.
    */
  private[graft] def bpeGreedySymbolCount(word: String,
      rank: Map[(String, String), Int]): Long = {
    if (word.isEmpty) return 0L
    val syms = scala.collection.mutable.ArrayBuffer
      .tabulate(word.length)(i => word.substring(i, i + 1))
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue
      var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; at = i }
        i += 1
      }
      if (at < 0) done = true
      else {
        syms(at) = syms(at) + syms(at + 1)
        syms.remove(at + 1)
      }
    }
    syms.length.toLong
  }

  /** Shared per-doc aggregate of the two encode forms: word/char/token
    * counts and the chars-per-token compression ratio.
    */
  private def bpeEncodeStats(counted: DataFrame): DataFrame =
    counted
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nc")).as("n_chars"),
        sum(col("ns")).as("n_bpe_tokens"),
        round(sum(col("nc")).cast(DoubleType) / sum(col("ns")), 6)
          .as("compression"))
      .orderBy(col("doc_id"))

  /** text_bpe_encode — train 6 merges on `documents`, then encode the
    * same corpus with them (the merge collect is parameter-sized —
    * the model artifact, same class as k-means centroids).
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def bpeEncode(s: SparkSession, dir: String, n: Int = 6): DataFrame = {
    val docs = t(s, dir, "documents")
    // (lft, rgt) in rank order off the shared merge-table fixture
    val merges = bpeMergesRows(s, dir, n).map(m => (m._2, m._3))
    bpeEncodeOf(docs, merges)
  }
}
