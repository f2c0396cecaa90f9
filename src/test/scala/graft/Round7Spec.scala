package graft

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Round-7 additions: the real ImageIO media codec (stub replacement).
  * The closed-form expectations here mirror the DuckDB oracle arithmetic
  * exactly, so a spec pass plus a gate hash-match certify the same thing
  * from two directions: bytes really encoded, really decoded.
  */
class Round7Spec extends SparkSpecBase {

  /** The oracle's closed form: (width, height, frames, channels, px_sum). */
  private def expectedMeta(d: Long): (Long, Long, Long, Long, Long) = {
    val w = 8 + d % 9; val h = 8 + d % 7; val b = d % 64
    val f = if (d % 2 == 0) 1L else 1 + d % 4
    val px = 3 * (w * h * (f * b + f * (f - 1) / 2) +
      f * (h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2)))
    (w, h, f, 3L, px)
  }

  test("media payloads are real PNGs; ImageIO decode round-trips the closed form") {
    (0L to 40L).foreach { d =>
      val kind = if (d % 2 == 0) "image" else "video"
      val payload = Multimodal.encodePayload(d, kind)
      if (kind == "image") {
        // PNG signature on the wire, and ImageIO itself accepts the bytes
        assert((payload(0) & 0xff) == 0x89 && payload(1) == 'P' &&
          payload(2) == 'N' && payload(3) == 'G')
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        assert(img != null && img.getWidth == 8 + (d % 9).toInt)
      }
      val m = Multimodal.decodePayload(Multimodal.MediaAsset(d, payload, kind))
      val (w, h, f, c, px) = expectedMeta(d)
      assert(m.width == w && m.height == h, s"doc $d dims")
      assert(m.n_frames == f, s"doc $d frames")
      assert(m.channels == c, s"doc $d channels")
      assert(m.px_sum == px, s"doc $d px_sum: got ${m.px_sum}, want $px")
      // compressed size is real codec output: positive, matches payload
      assert(m.n_bytes == payload.length && m.n_bytes > 50)
    }
  }

  test("decodePayload rejects malformed media loudly") {
    val bad = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
    intercept[IllegalArgumentException] {
      Multimodal.decodePayload(Multimodal.MediaAsset(99L, bad, "image"))
    }
  }

  test("mm_media_meta decodes every sf0.001 asset to the oracle closed form") {
    val rows = Multimodal.mediaMeta(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getLong(0)
      val (w, h, f, c, px) = expectedMeta(d)
      assert(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == c &&
        r.getLong(5) == f && r.getLong(6) == px, s"doc $d")
    }
  }

  test("frame sampling follows decoded frame counts") {
    val rows = Multimodal.frameSample(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getLong(0); val idx = r.getLong(1)
      assert(d % 2 == 1 && idx % 2 == 0 && idx < 1 + d % 4)
    }
  }

  test("pixel resize really resamples: decode→NN 4×4→re-encode→re-decode matches floor rule") {
    (0L to 20L).foreach { d =>
      val kind = if (d % 2 == 0) "image" else "video"
      val payload = Multimodal.encodePayload(d, kind)
      val m = Multimodal.decodePayload(Multimodal.MediaAsset(d,
        Multimodal.resizePayload(d, payload, 4), kind))
      val (w, h, f, _, _) = expectedMeta(d)
      val b = d % 64
      var expect = 0L
      for (k <- 0L until f; yp <- 0L until 4L; xp <- 0L until 4L)
        expect += 3 * (b + (xp * w) / 4 + (yp * h) / 4 + k)
      assert(m.width == 4 && m.height == 4 && m.channels == 3 &&
        m.n_frames == f && m.px_sum == expect, s"doc $d")
    }
  }

  test("WAV audio codec round-trips header and amplitude sums") {
    (0L to 20L).foreach { d =>
      val wav = Multimodal.encodeWav(d)
      // genuine RIFF/WAVE container on the wire
      assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
        new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
      val (ch, rate, n, ampSum, ampSq) = Multimodal.decodeWav(d, wav)
      val nn = 64 + d % 64; val b = d % 64
      assert(ch == 1 && rate == 8000 && n == nn)
      assert(ampSum == nn * b + nn * (nn - 1) / 2, s"doc $d sum")
      assert(ampSq == nn * b * b + b * nn * (nn - 1) +
        (nn - 1) * nn * (2 * nn - 1) / 6, s"doc $d sq")
    }
  }

  test("pixel frame sampling decodes only every 2nd frame and sums its real pixels") {
    val rows = Multimodal.frameSampleDecoded(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getLong(0)
      val (w, h, f, _, _) = expectedMeta(d)
      val b = d % 64
      assert(r.getLong(2) == f, s"doc $d total frames")
      assert(r.getLong(3) == (f + 1) / 2, s"doc $d sampled count")
      var expect = 0L
      for (k <- 0L until f if k % 2 == 0)
        expect += 3 * (w * h * (b + k) +
          h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2))
      assert(r.getLong(4) == expect, s"doc $d sampled px sum")
    }
  }

  test("audio windows partition the decoded PCM exactly, ragged tail included") {
    // doc 5: n = 69 samples → windows 16,16,16,16,5 — tail is ragged
    val rows = Multimodal.audioWindows(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    rows.foreach { case (d, wr) =>
      val n = 64 + d % 64; val b = d % 64
      assert(wr.map(_.getLong(2)).sum == n, s"doc $d sample coverage")
      assert(wr.length == (n + 15) / 16, s"doc $d window count")
      wr.foreach { r =>
        val wi = r.getLong(1)
        val lo = wi * 16; val hi = math.min(n, lo + 16)
        val amps = (lo until hi).map(b + _)
        assert(r.getLong(2) == hi - lo && r.getLong(3) == amps.sum &&
          r.getLong(4) == amps.map(a => a * a).sum, s"doc $d window $wi")
      }
    }
    assert(rows(5L).length == 5 && rows(5L).last.getLong(2) == 5)
  }

  test("aHash is brightness-invariant and matches the integer threshold rule") {
    def hashOf(d: Long): (Long, Long) = {
      val kind = if (d % 2 == 0) "image" else "video"
      val png = Multimodal.encodePayload(d, kind)
      val first =
        if (kind == "image") png
        else { // frame 0 of the container: skip magic + count, read len
          val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(png))
          in.skipBytes(8); val len = in.readInt()
          val buf = new Array[Byte](len); in.readFully(buf); buf
        }
      Multimodal.aHash(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(first)))
    }
    (0L to 20L).foreach { d =>
      // independent restatement of the oracle's floor/threshold arithmetic
      val w = 8 + d % 9; val h = 8 + d % 7; val b = d % 64
      val s = for (yp <- 0 until 8; xp <- 0 until 8)
        yield 3 * (b + (xp * w) / 8 + (yp * h) / 8)
      val total = s.sum
      var hi = 0L; var lo = 0L
      s.zipWithIndex.foreach { case (v, i) =>
        if (64L * v > total) {
          if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
        }
      }
      assert(hashOf(d) == (hi, lo), s"doc $d hash")
      // base b drops out of the mean threshold: doc d+63 has the same
      // (w,h) but base (d+63)%64 ≠ b — perceptually identical, same hash
      assert(hashOf(d) == hashOf(d + 63), s"doc $d brightness invariance")
    }
  }

  test("aHash near-dup band join ≡ brute-force pairing at the completeness bound") {
    import org.apache.spark.sql.functions.col
    val got = Multimodal.ahashNearDup(spark, sfDir, maxHamming = 7).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // brute force from the closed-form hash rule (the oracle's arithmetic)
    def hashOf(d: Long): (Long, Long) = {
      val w = 8 + d % 9; val h = 8 + d % 7; val b = d % 64
      val s = for (yp <- 0 until 8; xp <- 0 until 8)
        yield 3 * (b + (xp * w) / 8 + (yp * h) / 8)
      val total = s.sum
      var hi = 0L; var lo = 0L
      s.zipWithIndex.foreach { case (v, i) =>
        if (64L * v > total) {
          if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
        }
      }
      (hi, lo)
    }
    val classes = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
      .map(hashOf).toSeq.distinct
    val want = (for {
      a @ (ahi, alo) <- classes; b @ (bhi, blo) <- classes
      ha = f"$ahi%08x$alo%08x"; hb = f"$bhi%08x$blo%08x"
      if ha < hb
      d = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
      if d <= 7
    } yield (ha, hb, d.toLong)).toSet
    assert(got == want)
    assert(want.exists(_._3 > 1) && want.nonEmpty) // non-degenerate corpus
  }

  test("binaryFile ingest lists only *.png through the glob and decodes real file bytes") {
    val rows = Multimodal.binaryFileIngest(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // glob filter: image docs only (even ids), videos (.gmv) invisible
    assert(rows.forall(_.getLong(0) % 2 == 0))
    rows.foreach { r =>
      val d = r.getLong(0)
      val (w, h, _, _, _) = expectedMeta(d)
      val b = d % 64
      val px = 3 * (w * h * b + h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2))
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(5) == px &&
        r.getLong(6) == 1L, s"doc $d")
    }
  }

  test("binaryFile STREAM discovers newly landed media files per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mstream").toFile
    def land(d: Long): Unit = {
      val f = new java.io.File(dir, f"doc_$d%06d.png")
      val fos = new java.io.FileOutputStream(f)
      try fos.write(Multimodal.encodePayload(d, "image")) finally fos.close()
    }
    land(0L); land(2L)
    val q = Multimodal.binaryFileStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("mstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mstream").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(0L, 2L))
      land(4L) // a new file lands; the next batch must pick up ONLY it
      q.processAllAvailable()
      val rows = spark.table("mstream").collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
      rows.foreach { r =>
        val d = r.getLong(0)
        val w = 8 + d % 9; val h = 8 + d % 7; val b = d % 64
        val px = 3 * (w * h * b + h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2))
        assert(r.getLong(1) == w && r.getLong(5) == px && r.getLong(6) == 1L)
      }
    } finally q.stop()
  }

  test("LSH bucket cap: cap=1 kills candidates, loose cap ≡ unbounded, tight cap ⊆") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.minhashLshPairs(docs, 0.7))
    assert(full.nonEmpty)
    // a pair needs 2 docs in one bucket, so occupancy cap 1 yields nothing
    assert(Dedup.minhashLshPairsBounded(docs, 0.7, 1L).count() == 0)
    assert(pairSet(Dedup.minhashLshPairsBounded(docs, 0.7, 1L << 30)) == full)
    assert(pairSet(Dedup.minhashLshPairsBounded(docs, 0.7, 2L)).subsetOf(full))
  }

  test("leakage-safe split: no near-dup pair straddles the train/val boundary") {
    import graft.operators.TextAnalysis
    val split = TextAnalysis.leakageSafeSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(1))).toMap
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, 0.7).select("i", "j").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      val (i, j) = (p.getLong(0), p.getLong(1))
      assert(split(i)._1 == split(j)._1, s"pair ($i,$j) straddles the split")
      assert(split(i)._2 == split(j)._2, s"pair ($i,$j) cluster reps differ")
    }
    // the per-doc splitter DOES leak on this corpus — the guard is real:
    // at least one near-dup pair gets different per-doc md5 buckets
    val perDoc = TextAnalysis.trainValSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(pairs.exists(p => perDoc(p.getLong(0)) != perDoc(p.getLong(1))),
      "corpus cannot demonstrate the leak the cluster split prevents")
    // both sides of the split are populated
    val sides = split.values.map(_._1).toSet
    assert(sides == Set("train", "val"))
  }

  test("train shards: consecutive ids, ordered doc ranges, budget-bounded overshoot") {
    import graft.operators.TextAnalysis
    val budget = 256L // small so sf0.001 yields several shards
    val rows = TextAnalysis.trainShards(spark, sfDir, budget = budget).collect()
    assert(rows.length > 2, s"expected several shards, got ${rows.length}")
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i, "shard ids must be consecutive from 0")
    }
    // doc ranges are disjoint and ordered: shard i ends before i+1 starts
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) < b.getLong(3), "shard doc ranges must not overlap")
    }
    // greedy packing: every shard's exclusive prefix is < (id+1)*budget,
    // so tok_sum can overshoot only by its last doc; all but the final
    // shard must have crossed their budget boundary
    val cums = rows.map(_.getLong(2)).scanLeft(0L)(_ + _)
    rows.dropRight(1).zipWithIndex.foreach { case (r, i) =>
      assert(cums(i + 1) >= (i + 1) * budget,
        s"shard $i ended before reaching its budget boundary")
      assert(cums(i) < (i + 1) * budget, s"shard $i started past its boundary")
    }
  }

  test("audio near-dup: bucket blocking ≡ brute force over envelope classes") {
    val got = Multimodal.audioNearDupOf(
        graft.Tables.t(spark, sfDir, "documents"), 2L, 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // brute force from the closed-form envelope (b+16w+7)
    val bs = graft.Tables.t(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(_.getLong(0) % 64).distinct.sorted
    val want = (for {
      a <- bs; b <- bs if a < b && b - a <= 2
    } yield {
      def sig(x: Long) = (0 until 4).map(w => f"${x + 16 * w + 7}%02x").mkString
      (sig(a), sig(b), b - a)
    }).toSet
    assert(got == want && got.nonEmpty)
    assert(got.exists(_._3 == 2) && got.exists(_._3 == 1)) // non-degenerate
  }

  test("incremental shard append ≡ full rebuild on the union") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.{col, length}
    val kept = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"),
        (length(col("text")).cast("long") % 97 + 1).as("n_toks"))
      .localCheckpoint(true)
    val cut = 250L // sf0.001 has doc_ids 0..499 — split mid-corpus
    val gen0 = kept.filter(col("doc_id") < cut)
    val delta = kept.filter(col("doc_id") >= cut)
    val full = TextAnalysis.packShards(kept, 256L, 32).collect()
    val incr = TextAnalysis.appendShards(
      TextAnalysis.packShards(gen0, 256L, 32), delta, 256L, 32).collect()
    def rows(a: Array[org.apache.spark.sql.Row]) =
      a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows(incr) == rows(full))
    // the seam is real: the rebuild's shard at the cut spans both gens
    val seam = full.find(r => r.getLong(3) < cut && r.getLong(4) >= cut)
    assert(seam.nonEmpty, "cut must land inside a shard for a real test")
  }

  test("media quarantine: poison classifies by error type, survivors decode untouched") {
    val rows = Multimodal.mediaQuarantine(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ids = graft.Tables.t(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(_.getLong(0))
    val ok = ids.filter(_ % 25 != 0)
    assert(rows("ok")._1 == ok.length)
    assert(rows("bad_magic")._1 == ids.count(d => d % 25 == 0 && d % 2 == 0))
    assert(rows("truncated")._1 == ids.count(d => d % 25 == 0 && d % 2 == 1))
    val expectPx = ok.map(d => expectedMeta(d)._5).sum
    assert(rows("ok")._2 == expectPx, "survivor pixel mass must be untouched")
    assert(rows("bad_magic")._2 == 0 && rows("truncated")._2 == 0)
  }

  test("streaming quarantine: a corrupt file dead-letters; the stream keeps going") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mstream_q").toFile
    def land(d: Long, corrupt: Boolean): Unit = {
      val bytes = Multimodal.encodePayload(d, "image")
      if (corrupt) { bytes(0) = 0; bytes(1) = 0 }
      val f = new java.io.FileOutputStream(
        new java.io.File(dir, f"doc_$d%06d.png"))
      try f.write(bytes) finally f.close()
    }
    land(0L, corrupt = false); land(2L, corrupt = true)
    val q = Multimodal.binaryFileStreamPermissive(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("mstreamq")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("mstreamq").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(r1 == Map(0L -> "ok", 2L -> "dead_letter"))
      // the poisoned source did NOT wedge the stream: new files flow
      land(4L, corrupt = false)
      q.processAllAvailable()
      val r2 = spark.table("mstreamq").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(r2 == Map(0L -> "ok", 2L -> "dead_letter", 4L -> "ok"))
      // good rows carry real decoded stats even next to poison
      val px0 = spark.table("mstreamq").collect()
        .find(_.getLong(0) == 0L).get.getLong(2)
      assert(px0 == expectedMeta(0L)._5)
    } finally q.stop()
  }

  test("frame stats emit one decoded row per frame") {
    val rows = Multimodal.frameStats(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (d, fr) =>
      val (w, h, f, _, _) = expectedMeta(d)
      assert(fr.length == f, s"doc $d frame count")
      fr.foreach { r =>
        val k = r.getLong(1); val b = d % 64
        val expect = 3 * (w * h * (b + k) +
          h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2))
        assert(r.getLong(2) == expect, s"doc $d frame $k")
      }
    }
  }

  // ---- Avro quarantine edge ----

  test("permissive decode quarantines poison frames without touching good rows") {
    import graft.pipeline.{TransactionAvro, TransactionPipeline}
    import spark.implicits._
    val fixture = TransactionPipeline.replayFixture
    val frames = fixture.map(t => TransactionAvro.encodeTransaction(t)) ++ Seq(
      TransactionAvro.encodeTransaction(fixture.head, schemaId = 42),
      Array[Byte](9, 9, 9, 9, 9, 9))
    val dec = TransactionPipeline.decodeValuesPermissive(frames.toDF("value"))
    val good = TransactionPipeline.goodRows(dec)
      .select("id", "amount").as[(String, Double)].collect().toMap
    assert(good == fixture.map(t => t.id -> t.amount).toMap)
    val dead = TransactionPipeline.deadLetters(dec)
      .select("decode_error").as[String].collect()
    assert(dead.length == 2)
    assert(dead.count(_.contains("unknown schema id 42")) == 1)
    // dead letters keep the raw frame bytes for replay
    val frameBytes = TransactionPipeline.deadLetters(dec)
      .select("frame").as[Array[Byte]].collect()
    assert(frameBytes.map(_.length).sorted.sameElements(
      Array(6, frames(5).length).sorted))
  }

  test("quarantine gate pins dispositions: 5 ok / 1 unknown_id / 2 malformed") {
    val rows = graft.pipeline.TransactionPipeline
      .avroQuarantineGate(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows == Map("ok" -> (5L, 1000.0), "unknown_id" -> (1L, 0.0),
      "malformed" -> (2L, 0.0)))
  }

  test("q29 replay gate emits the reference 4-row contract through a streaming write") {
    val rows = graft.pipeline.TransactionPipeline.replayGate(spark, sfDir)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("t1", "t2", "t3", "t5"))
    val usd = rows.map(r => r.getString(0) -> r.getDouble(6)).toMap
    Seq("t1" -> 100.0, "t2" -> 220.0, "t3" -> 195.0, "t5" -> 275.0).foreach {
      case (id, v) => assert(math.abs(usd(id) - v) < 0.001)
    }
    assert(rows.forall(_.getLong(7) == 1L)) // processingTimestamp non-null
  }

  // ---- checkpoint recovery (Flink-checkpointing parity) ----

  test("mapGroupsWithState state survives a query restart on the same checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-restart").toString
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]

    // memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape, so each run appends to its own parquet dir
    def start(outDir: String) =
      graft.streaming.StreamingOps.runningUserCounts(src.toDS())
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt).start()

    // run 1: users 1,1,2 → counts u1=2, u2=1; then KILL the query
    val out1 = java.nio.file.Files
      .createTempDirectory("graft-restart-out1").toString
    src.addData((1L, 10L), (1L, 11L), (2L, 12L))
    val q1 = start(out1)
    q1.processAllAvailable(); q1.stop()
    val run1 = spark.read.parquet(out1).as[(Long, Long)].collect().toMap
    assert(run1 == Map(1L -> 2L, 2L -> 1L))

    // run 2: a NEW query instance on the SAME checkpoint; feed users 1,3
    val out2 = java.nio.file.Files
      .createTempDirectory("graft-restart-out2").toString
    src.addData((1L, 13L), (3L, 14L))
    val q2 = start(out2)
    q2.processAllAvailable(); q2.stop()
    val run2 = spark.read.parquet(out2).as[(Long, Long)].collect().toMap
    // u1 = 3 proves state MERGED across the restart seam (not reset to 1);
    // u2 absent proves batch 1 was NOT replayed (offsets recovered too)
    assert(run2 == Map(1L -> 3L, 3L -> 1L))
  }

  test("transformWithState ValueState survives a query restart on the same checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-tws-restart").toString
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double)]

    // the v2 state API has its own store format (RocksDB column
    // families); recovery there is a separate claim from the
    // mapGroupsWithState spec above
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pkey)
    spark.conf.set(pkey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def start(outDir: String) =
      graft.streaming.StreamingOps.runningUserSpend(src.toDS())
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt).start()

    try {
      val out1 = java.nio.file.Files
        .createTempDirectory("graft-tws-out1").toString
      src.addData((1L, 10.0), (1L, 2.5), (2L, 4.0))
      val q1 = start(out1)
      q1.processAllAvailable(); q1.stop()
      val run1 = spark.read.parquet(out1).as[(Long, Double, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(run1 == Map(1L -> ((12.5, 2L)), 2L -> ((4.0, 1L))))

      val out2 = java.nio.file.Files
        .createTempDirectory("graft-tws-out2").toString
      src.addData((1L, 0.5), (3L, 7.0))
      val q2 = start(out2)
      q2.processAllAvailable(); q2.stop()
      val run2 = spark.read.parquet(out2).as[(Long, Double, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // u1 sum 13.0 / n=3 proves ValueState recovered; u2 absent proves
      // batch 1 offsets weren't replayed
      assert(run2 == Map(1L -> ((13.0, 3L)), 3L -> ((7.0, 1L))))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(pkey, v)
        case None => spark.conf.unset(pkey)
      }
    }
  }

  // ---- incremental ANN index maintenance ----

  test("incremental ANN index append ≡ fixed-quantizer rebuild on the union corpus") {
    import graft.operators.Similarity
    val emb = Tables.t(spark, sfDir, "embeddings")
    val genA = emb.filter(col("vec_id") % 5 =!= 0)
    val genB = emb.filter(col("vec_id") % 5 === 0)
    val probeVec = emb.orderBy(col("vec_id")).limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // LSH: the delta hashes into the existing bands
    val lshInc = tmp("lsh-inc"); val lshFull = tmp("lsh-full")
    Similarity.writeLshIndex(spark, genA, lshInc)
    Similarity.appendToLshIndex(spark, genB, lshInc)
    Similarity.writeLshIndex(spark, emb, lshFull)
    assert(res(Similarity.probeLshIndex(spark, lshInc, probeVec)) ==
      res(Similarity.probeLshIndex(spark, lshFull, probeVec)))

    // IVF: quantizer trained on generation 0 only; the delta is assigned
    // to existing cells, never retrained. Each index is probed with the
    // quantizer its write returned (radii covering every row it holds),
    // so both probes are exact top-k by construction
    val ivfInc = tmp("ivf-inc"); val ivfFull = tmp("ivf-full")
    val cents = Similarity.writeIvfIndex(spark, genA, ivfInc)
    val incQuant = Similarity.appendToIvfIndex(spark, genB, ivfInc, cents)
    val fullQuant = Similarity.writeIvfIndexAssigned(spark, emb, ivfFull, cents)
    assert(res(Similarity.probeIvfIndex(spark, ivfInc, incQuant, probeVec)) ==
      res(Similarity.probeIvfIndex(spark, ivfFull, fullQuant, probeVec)))

    // appended vectors are genuinely servable: probing with a gen-B
    // vector finds that vector itself as top-1 in both index families
    val bRow = genB.orderBy(col("vec_id")).limit(1)
      .select("vec_id", "embedding").collect()(0)
    val bId = bRow.getLong(0)
    val bVec = bRow.getSeq[Float](1).toArray
    assert(Similarity.probeLshIndex(spark, lshInc, bVec)
      .collect()(0).getLong(0) == bId)
    assert(Similarity.probeIvfIndex(spark, ivfInc, incQuant, bVec)
      .collect()(0).getLong(0) == bId)
  }

  // ---- z-order data skipping, proven end-to-end ----

  test("z-order layout concentrates a 2-D range predicate into strictly fewer files") {
    import graft.operators.Layout
    graft.functions.ZOrderFunction.register(spark)
    // synthetic 2-D grid keyed off event_id so both dims have spread
    val ev = Tables.t(spark, sfDir, "events")
      .select(col("event_id"), (col("event_id") % 256L).as("x"),
        ((col("event_id") / 256L) % 256L).as("y"))
    val nParts = 16
    val dirZ = java.nio.file.Files.createTempDirectory("zorder").toString
    val dirU = java.nio.file.Files.createTempDirectory("unclustered").toString
    Layout.zorderCluster(ev, "x", "y", nParts)
      .write.mode("overwrite").parquet(dirZ)
    // round-robin: matching rows scattered across every file
    ev.repartition(nParts).write.mode("overwrite").parquet(dirU)
    def pred(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("x") < 32 && col("y") < 4)
    def filesTouched(dir: String): Long =
      pred(spark.read.parquet(dir))
        .select(input_file_name()).distinct().count()
    val matched = pred(spark.read.parquet(dirU)).count()
    assert(matched > 0)
    val (fz, fu) = (filesTouched(dirZ), filesTouched(dirU))
    // the clustered layout serves the box from strictly fewer files —
    // the row-group min/max narrowness that makes 100 TB scans prune
    assert(fz < fu, s"zordered=$fz unclustered=$fu")
    // results identical either way
    assert(pred(spark.read.parquet(dirZ)).count() == matched)
  }

  // ---- AQE skew-join posture ----

  test("AQE splits a skewed join partition and still matches the plain join") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // skew split applies to sort-merge joins: keep broadcast out
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // 50k-row fact, 90% on key 0, with a payload wide enough to trip
      // the byte threshold; 100-key dim
      val big = spark.range(50000)
        .select((when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100))
          .as("k"), concat(lit("x" * 64), col("id")).as("payload"))
      val dim = spark.range(100).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("dname"))
      val joined = big.join(dim, "k")
      // execute joined ITSELF (a .count() would run a different plan and
      // leave joined's adaptive plan unfinalized)
      val n = joined.collect().length
      // same cardinality as the unsplit logical join
      assert(n == 50000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew"),
        s"expected a skew-split shuffle read in:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }
}
