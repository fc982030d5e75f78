package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val assets = Multimodal.syntheticAssets(spark, 90).cache()

  test("asset table round-trips through parquet with binary payload intact") {
    val dir = SparkTestSession.tempDir("graft-mm").toString
    assets.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(back.count() == 90)
    val orig = assets.filter($"asset_id" === 7L).head().payload
    val rt = back.filter($"asset_id" === 7L).head().getAs[Array[Byte]]("payload")
    assert(orig.sameElements(rt))
  }

  test("headerProbe reads dims/rate/magic out of the actual container bytes") {
    // pure-Catalyst byte arithmetic vs the typed metadata columns the
    // encoders were driven by — agreement means the encoded headers are
    // real, not merely the decode being self-consistent
    val probed = Multimodal.headerProbe(assets.toDF())
      .join(assets.toDF().select($"asset_id", $"width", $"height",
        $"sample_rate"), "asset_id")
      .collect()
    assert(probed.length == 90)
    probed.foreach { r =>
      assert(r.getAs[Long]("magic_ok") == 1L, r.toString)
      assert(r.getAs[Long]("hdr_width") == r.getAs[Int]("width").toLong, r.toString)
      assert(r.getAs[Long]("hdr_height") == r.getAs[Int]("height").toLong, r.toString)
      assert(r.getAs[Long]("hdr_rate") == r.getAs[Int]("sample_rate").toLong, r.toString)
    }
  }

  test("feature extraction: deterministic, right shape, batched") {
    val f1 = Multimodal.extractFeatures(assets, dim = 32)
      .collect().map(f => f.asset_id -> f.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(assets.repartition(7), dim = 32)
      .collect().map(f => f.asset_id -> f.feature.toSeq).toMap
    assert(f1.size == 90)
    assert(f1.values.forall(_.length == 32))
    assert(f1 == f2)  // batch boundaries must not change results
    assert(f1(0L) != f1(1L))  // distinct payloads → distinct features
    assert(f1.values.flatten.forall(v => v >= -1f && v <= 1f))
  }

  test("sequential contract replay matches the distributed decode exactly") {
    val distributed = Multimodal.extractFeatures(assets, dim = 16)
      .collect()
      .map(f => (f.asset_id, f.kind, Multimodal.featureChecksum(f.feature)))
      .toSet
    val replay = (0L until 90L)
      .map { i =>
        val a = Multimodal.makeAsset(i)
        (a.asset_id, a.kind, Multimodal.featureChecksum(Multimodal.decodeFeature(a, 16)))
      }
      .toSet
    assert(distributed == replay)
  }

  test("checksum oracle SQL embeds one literal row per asset") {
    val sql = Multimodal.checksumOracleSql(12, 16)
    assert((0 until 12).forall(i => sql.contains(s"($i, '")))
    assert(sql.contains("ORDER BY asset_id"))
  }

  test("image payloads are REAL PNGs: imageio decodes them at the metadata dims") {
    val imgs = assets.filter($"kind" === "image").collect()
    assert(imgs.nonEmpty)
    imgs.take(8).foreach { a =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(a.payload))
      assert(img != null, s"asset ${a.asset_id}: payload is not a decodable image")
      assert(img.getWidth == a.width && img.getHeight == a.height,
        s"asset ${a.asset_id}: decoded ${img.getWidth}x${img.getHeight}, metadata ${a.width}x${a.height}")
    }
  }

  test("image features come from the codec path, not the stub; corrupt bytes degrade") {
    val a = assets.filter($"kind" === "image").head()
    val viaCodec = Multimodal.decodeImage(a.payload, 16).toSeq
    val viaStub = Multimodal.decodeStub(a.payload, 16).toSeq
    assert(viaCodec != viaStub,
      "image decode fell through to the stub on a valid PNG")
    // grid-pooled luminance of a valid image is never the stub's PRNG
    // pattern; corrupt payload must degrade to the stub, not throw
    val corrupt = Multimodal.decodeImage(Array[Byte](1, 2, 3), 16).toSeq
    assert(corrupt == Multimodal.decodeStub(Array[Byte](1, 2, 3), 16).toSeq)
  }

  test("audio payloads are REAL WAVs: javax.sound decodes at the metadata rate") {
    val auds = assets.filter($"kind" === "audio").collect()
    assert(auds.nonEmpty)
    auds.take(8).foreach { a =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(a.payload))
      try {
        assert(ais.getFormat.getSampleRate.toInt == a.sample_rate,
          s"asset ${a.asset_id}: rate ${ais.getFormat.getSampleRate} vs metadata ${a.sample_rate}")
        assert(ais.getFormat.getSampleSizeInBits == 16)
        assert(ais.getFrameLength > 0)
      } finally ais.close()
    }
  }

  test("audio features come from the codec path; corrupt bytes degrade") {
    val a = assets.filter($"kind" === "audio").head()
    val viaCodec = Multimodal.decodeAudio(a.payload, 16).toSeq
    val viaStub = Multimodal.decodeStub(a.payload, 16).toSeq
    assert(viaCodec != viaStub, "audio decode fell through to the stub on a valid WAV")
    val corrupt = Multimodal.decodeAudio(Array[Byte](9, 9, 9), 16).toSeq
    assert(corrupt == Multimodal.decodeStub(Array[Byte](9, 9, 9), 16).toSeq)
  }

  test("video payloads are REAL animated GIFs: frame count matches metadata") {
    val vids = assets.filter($"kind" === "video").collect()
    assert(vids.nonEmpty)
    vids.take(4).foreach { a =>
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(a.payload))
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      try {
        reader.setInput(iis, false, true)
        assert(reader.getFormatName.equalsIgnoreCase("gif"))
        assert(reader.getNumImages(true) == a.n_frames,
          s"asset ${a.asset_id}: GIF frames vs metadata n_frames")
        assert(reader.getWidth(0) == a.width && reader.getHeight(0) == a.height)
      } finally { reader.dispose(); iis.close() }
    }
  }

  test("video features come from the multi-frame codec path; corrupt bytes degrade") {
    val a = assets.filter($"kind" === "video").head()
    val viaCodec = Multimodal.decodeVideo(a.payload, 16).toSeq
    assert(viaCodec != Multimodal.decodeStub(a.payload, 16).toSeq,
      "video decode fell through to the stub on a valid GIF")
    // frames differ (frame index folds into the pixel fn), so pooling
    // over ONLY frame 0 must differ from pooling across the sequence —
    // proof the decoder actually walks the whole container
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val seed = md.digest(s"asset-${a.asset_id}".getBytes("UTF-8"))
    val oneFrame = Multimodal.decodeVideo(
      Multimodal.encodeGif(seed, a.width, a.height, 1), 16).toSeq
    assert(viaCodec != oneFrame, "multi-frame pooling equals frame-0 pooling")
    val corrupt = Multimodal.decodeVideo(Array[Byte](9, 9, 9), 16).toSeq
    assert(corrupt == Multimodal.decodeStub(Array[Byte](9, 9, 9), 16).toSeq)
  }

  test("resize plan preserves aspect ratio and caps at maxSide") {
    val plans = Multimodal.resizePlan(assets.toDF(), maxSide = 320).collect()
    assert(plans.nonEmpty)
    plans.foreach { r =>
      val (w, h) = (r.getAs[Int]("target_width"), r.getAs[Int]("target_height"))
      assert(w <= 320 && h <= 320, r)
      val ar0 = r.getAs[Int]("width").toDouble / r.getAs[Int]("height")
      assert(math.abs(w.toDouble / h - ar0) < 0.02, r)
    }
  }

  test("resize plan prunes the payload column from the scan") {
    val dir = SparkTestSession.tempDir("graft-mm2").toString
    assets.write.mode("overwrite").parquet(dir)
    val plan = Multimodal.resizePlan(spark.read.parquet(dir), 320)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("payload"), s"payload not pruned:\n$plan")
  }

  test("frame sampling: stride respected, capped, video only") {
    val frames = Multimodal.sampleFrames(assets.toDF(), stride = 3, maxFrames = 5)
    val byAsset = frames.groupBy("asset_id")
      .agg(collect_list("frame_idx").as("idx")).collect()
    assert(byAsset.nonEmpty)
    byAsset.foreach { r =>
      val idx = r.getAs[scala.collection.Seq[Int]]("idx").toSeq.sorted
      assert(idx.size > 1 && idx.size <= 5)
      assert(idx.zipWithIndex.forall { case (v, i) => v == i * 3 }, r)
    }
  }

  test("dHash: downscale robust, brightness-shift robust, content sensitive") {
    val orig = Multimodal.makeAsset(0)
    // half-resolution thumbnail clone (even source id): different bytes
    // AND different dims, hash stays within the threshold
    val re = Multimodal.makeCloneAsset(0)
    assert(!orig.payload.sameElements(re.payload))
    assert(re.width == orig.width / 2)
    val dScale = java.lang.Long.bitCount(
      Multimodal.dHash64(orig.payload) ^ Multimodal.dHash64(re.payload))
    assert(dScale <= 3, s"downscaled clone drifted $dScale bits")
    // darkened clone (odd source id): hamming distance stays tiny
    val d3 = Multimodal.makeAsset(3)
    val dark = Multimodal.makeCloneAsset(3)
    val dist = java.lang.Long.bitCount(
      Multimodal.dHash64(d3.payload) ^ Multimodal.dHash64(dark.payload))
    assert(dist <= 3, s"darkened clone drifted $dist bits")
    // unrelated images: hamming ~32, never anywhere near the threshold
    val other = Multimodal.makeAsset(6)
    val far = java.lang.Long.bitCount(
      Multimodal.dHash64(orig.payload) ^ Multimodal.dHash64(other.payload))
    assert(far > 10, s"unrelated images only $far bits apart")
    // corrupt bytes degrade to the stable stub hash, not an exception
    val junk = Array.fill[Byte](64)(7)
    assert(Multimodal.dHash64(junk) == Multimodal.dHash64(junk))
  }

  test("audioHash: volume/requantize robust, content sensitive") {
    // volume-scaled clone (even source id ≡ 1 mod 3 → id 4)
    val a4 = Multimodal.makeAsset(4)
    val vol = Multimodal.makeAudioCloneAsset(4)
    assert(!a4.payload.sameElements(vol.payload))
    val dVol = java.lang.Long.bitCount(
      Multimodal.audioHash64(a4.payload) ^ Multimodal.audioHash64(vol.payload))
    assert(dVol <= 3, s"volume clone drifted $dVol bits")
    // 8-bit requantized clone (odd source id → id 1)
    val a1 = Multimodal.makeAsset(1)
    val rq = Multimodal.makeAudioCloneAsset(1)
    val dRq = java.lang.Long.bitCount(
      Multimodal.audioHash64(a1.payload) ^ Multimodal.audioHash64(rq.payload))
    assert(dRq <= 3, s"requantized clone drifted $dRq bits")
    // unrelated clips stay far apart
    val a7 = Multimodal.makeAsset(7)
    val far = java.lang.Long.bitCount(
      Multimodal.audioHash64(a1.payload) ^ Multimodal.audioHash64(a7.payload))
    assert(far > 10, s"unrelated clips only $far bits apart")
  }

  test("videoHash: frame-trim robust, darken robust, content sensitive") {
    // frame-trimmed clone (even source id ≡ 2 mod 3 → id 2)
    val a2 = Multimodal.makeAsset(2)
    val trim = Multimodal.makeVideoCloneAsset(2)
    assert(trim.n_frames == a2.n_frames - 1)
    val dTrim = java.lang.Long.bitCount(
      Multimodal.videoHash64(a2.payload) ^ Multimodal.videoHash64(trim.payload))
    assert(dTrim <= 3, s"trimmed clone drifted $dTrim bits")
    // darkened clone (odd source id → id 5)
    val a5 = Multimodal.makeAsset(5)
    val dark = Multimodal.makeVideoCloneAsset(5)
    val dDark = java.lang.Long.bitCount(
      Multimodal.videoHash64(a5.payload) ^ Multimodal.videoHash64(dark.payload))
    assert(dDark <= 3, s"darkened clone drifted $dDark bits")
    // unrelated videos stay far apart
    val a8 = Multimodal.makeAsset(8)
    val far = java.lang.Long.bitCount(
      Multimodal.videoHash64(a2.payload) ^ Multimodal.videoHash64(a8.payload))
    assert(far > 10, s"unrelated videos only $far bits apart")
  }

  test("hammingPairs: banded join is exactly brute force at dist <= bands-1") {
    import graft.operators.Dedup
    val assets60 = Multimodal.syntheticAssets(spark, 60)
      .unionByName(Multimodal.cloneAssets(spark, 60))
    val hashes = Multimodal.dHashes(assets60).toDF().cache()
    val got = Dedup.hammingPairs(hashes, "asset_id", "dhash", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val hs = hashes.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb).toLong
      if d <= 3
    } yield (ia, ib, d)).sorted
    assert(got.toSeq == brute.toSeq)
    // all 20 planted clones (ids 0,3,…,57) recovered against their source
    val planted = got.count { case (a, b, _) => b == a + 1000000L }
    assert(planted == 20, s"planted recall $planted/20")
  }
  test("deleteFromHammingRegistry: deleted registry == survivors-built registry, row-for-row; swap is crash-safe") {
    import graft.operators.Dedup
    val work = SparkTestSession.tempDir("graft-mm08").toString
    val reg = s"$work/reg"
    val hashes = Multimodal.dHashes(Multimodal.syntheticAssets(spark, 90))
      .toDF().cache()
    Dedup.writeHammingRegistry(hashes, "asset_id", "dhash",
      "graft_t_mm08", reg, numBuckets = 8)
    // malformed tombstone raises in-plan, registry untouched
    val bad = intercept[Exception] {
      Dedup.deleteFromHammingRegistry(spark, "graft_t_mm08", reg,
        Seq("7", "not-an-id").toDF("asset_id"), numBuckets = 8)
    }
    assert(bad.getMessage.contains("deleteFromHammingRegistry"),
      bad.getMessage)
    assert(spark.table("graft_t_mm08").count() == hashes.count() * 4,
      "registry changed under a failed deletion")
    // the real deletion: every even image id leaves
    Dedup.deleteFromHammingRegistry(spark, "graft_t_mm08", reg,
      spark.range(0, 90, 2).select($"id".as("asset_id")), numBuckets = 8)
    val after = spark.table("graft_t_mm08")
    // sim27 contract: identical to a registry that never held them
    val rebuilt = s"$work/rebuilt"
    Dedup.writeHammingRegistry(
      hashes.filter($"asset_id" % 2 =!= 0), "asset_id", "dhash",
      "graft_t_mm08_rb", rebuilt, numBuckets = 8)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("asset_id", "band", "bv", "h64").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(key(after) == key(spark.table("graft_t_mm08_rb")),
      "deleted registry diverges from survivors-built registry")
    // the re-registered table keeps the bucket spec (a bare scan shows
    // "Bucketed: false (disabled by query planner)" — the planner only
    // engages bucketing for operators that exploit it, so the LAYOUT
    // claim checks the catalog; the serving pin is PlanSpec's mm08
    // test, which screens against the rewritten table)
    val desc = spark.sql("DESCRIBE EXTENDED graft_t_mm08").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
    assert(desc.contains("Num Buckets=8"), desc)
    assert(desc.replaceAll("\\s+", "").contains("BucketColumns=[`band`,`bv`]"),
      desc)
    // the no-repartition rewrite preserves one-file-per-(non-empty)
    // bucket: same file count as the repartition-established rebuilt
    // layout over the identical rows, and never more than buckets
    val files = (d: String) => new java.io.File(d).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(files(reg) == files(rebuilt) && files(reg) <= 8,
      s"${files(reg)} rewrite files vs ${files(rebuilt)} rebuilt, 8 buckets")
    // crash-safety: a deletion that dies with the previous registry
    // moved aside and the new one not yet renamed in is finished by
    // the next deletion, which then applies its own tombstones
    FaultyFs.failNth("rename", "/\\.reg\\.next -> ")
    intercept[java.io.IOException] {
      Dedup.deleteFromHammingRegistry(spark, "graft_t_mm08",
        FaultyFs.uri(reg), spark.range(1, 90, 4).select($"id".as("asset_id")),
        numBuckets = 8)
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    assert(!new java.io.File(reg).exists(), "the crash left the registry in place")
    Dedup.deleteFromHammingRegistry(spark, "graft_t_mm08", reg,
      spark.range(3, 90, 4).select($"id".as("asset_id")), numBuckets = 8)
    assert(spark.table("graft_t_mm08").select("asset_id").distinct().count() == 0,
      "odd ids survived both deletions")
    assert(new java.io.File(work).list().toSeq.sorted == Seq("rebuilt", "reg"))
    val fs = new org.apache.hadoop.fs.Path(reg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql("DROP TABLE IF EXISTS graft_t_mm08")
    spark.sql("DROP TABLE IF EXISTS graft_t_mm08_rb")
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
  }
}
