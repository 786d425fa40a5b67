package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalStubSpec extends SparkSpec {
  import spark.implicits._

  test("decodeAndEmbed: mapPartitions boundary yields typed features, deterministic") {
    val df = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Array[Byte](1, 2, 3)),
      (3L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
    val out = MultimodalStub.decodeAndEmbed(df, dim = 8)
    val rows = out.collect().sortBy(_.doc_id)
    assert(rows.map(_.doc_id).toSeq === Seq(1L, 2L, 3L))
    assert(rows.forall(_.feature.length === 8))
    assert(rows(0).feature.toSeq === rows(1).feature.toSeq,
      "same bytes → same embedding (deterministic stub)")
    assert(rows(0).feature.toSeq !== rows(2).feature.toSeq)
    // the feature column is directly consumable by the vector kernels
    val cos = out.toDF()
      .select(graft.functions.VectorExpressions.fusedCosine(spark,
        col("feature"), col("feature")).as("c"))
      .as[Double].collect()
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-6))
  }

  test("resizeStub: under-budget passthrough, over-budget stride-downsample") {
    val big = Array.tabulate(1000)(_.toByte)
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, big)).toDF("doc_id", "payload")
    val rows = MultimodalStub.resizeStub(df, maxBytes = 100).collect().sortBy(_.doc_id)
    assert(rows(0).scale === 1.0 && rows(0).payload.toSeq === Seq[Byte](1, 2, 3))
    assert(rows(1).orig_bytes === 1000L && rows(1).new_bytes === 100L)
    assert(rows(1).payload.length === 100)
    assert(rows(1).payload(1) === 10.toByte, "stride sampling keeps every 10th byte")
  }

  test("frameEmbed composition: frame counts and pooled dim on real docs") {
    val out = graft.operators.Multimodal.frameEmbed(spark, "/root/testdata/sf0.001")
    val rows = out.select("doc_id", "n_frames", "dim", "vec_norm")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 == 16L), "pooled vector keeps the frame-embedding dim")
    assert(rows.forall(_._4 > 0.0), "pooled vector is non-degenerate")
    // stride-2 sampling: n_frames = ceil(n_chunks / 2) for every doc
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "CAST(ceil(octet_length(CAST(text AS BINARY)) / 256.0) AS LONG) AS nc")
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, nf, _, _) =>
      assert(nf === (docs(id) + 1) / 2, s"doc $id stride-2 frame count")
    }
  }

  test("MediaEncoder is pluggable: a second implementation runs through frameEmbed") {
    // A toy alternative encoder — what a real ONNX/codec impl would be:
    // feature = [len, first byte, last byte] normalized-ish, dim 3.
    class ByteStatsEncoder extends MultimodalStub.MediaEncoder {
      def encode(id: Long, bytes: Array[Byte]): MultimodalStub.MediaFeature = {
        val n = bytes.length
        val f = Array(
          n.toFloat / 256f,
          if (n > 0) bytes(0).toFloat else 0f,
          if (n > 0) bytes(n - 1).toFloat else 0f)
        MultimodalStub.MediaFeature(id, width = 0, height = 0, feature = f)
      }
    }
    val out = graft.operators.Multimodal.frameEmbed(spark, "/root/testdata/sf0.001",
      encoder = Some(() => new ByteStatsEncoder))
    val rows = out.select("doc_id", "dim", "vec_norm").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 == 3L), "pooled dim follows the plugged encoder's dim")
    assert(rows.forall(_._3 > 0.0))
    // and the same frames through the default stub still give dim 16 —
    // the factory really switches implementations, not just parameters
    val stub = graft.operators.Multimodal.frameEmbed(spark, "/root/testdata/sf0.001")
      .select("dim").distinct().as[Long].collect().toSeq
    assert(stub === Seq(16L))
  }

  test("ByteHistogramEncoder: similar content → similar embedding, retrieval works") {
    // Three content groups with distinct byte-value distributions — the
    // property a hash-based stub cannot have: group membership must be
    // recoverable from the EMBEDDING alone.
    def payload(lo: Int, hi: Int, seed: Int): Array[Byte] =
      Array.tabulate(512)(i => (lo + (i * 31 + seed * 7) % (hi - lo)).toByte)
    val df = Seq(
      (1L, payload(0, 60, 1)), (2L, payload(0, 60, 2)),    // "dark" group
      (3L, payload(90, 150, 1)), (4L, payload(90, 150, 2)), // "mid" group
      (5L, payload(200, 255, 1))                            // "bright" loner
    ).toDF("doc_id", "payload")
    val feats = MultimodalStub.decodeAndEmbed(df, dim = 16,
      encoderFactory = Some(() => new MultimodalStub.ByteHistogramEncoder(16))).toDF()
    // unit-norm features out
    val norms = feats.select(graft.functions.VectorExpressions.fusedL2Norm(
        spark, col("feature").cast("array<double>"))).as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    // retrieval: querying with doc 1's embedding ranks its group-mate 2
    // above every other doc — content similarity survives the encoder
    val q = feats.filter(col("doc_id") === 1L).select(col("feature").as("qv"))
    val top = graft.operators.Search.knnBrute(
        feats.filter(col("doc_id") =!= 1L), col("feature"), q, k = 4,
        tie = col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq
    assert(top.head === 2L, s"group-mate first: $top")
    assert(top.last === 5L, s"distribution-distant loner last: $top")
  }

  test("frameEmbed(ByteHistogramEncoder) → knnBrute: the extract-then-search flow") {
    // the full pipeline over real document bytes: chunk → frame-sample →
    // per-frame byte-histogram features → mean-pool → retrieval
    val d = "/root/testdata/sf0.001"
    val emb = graft.operators.Multimodal.frameEmbed(spark, d,
        encoder = Some(() => new MultimodalStub.ByteHistogramEncoder(16)),
        keepVec = true)
      .select("doc_id", "doc_vec")
    val q = emb.filter(col("doc_id") === 7L).select(col("doc_vec").as("qv"))
    val top = graft.operators.Search.knnBrute(emb, col("doc_vec"), q, k = 5,
        tie = col("doc_id"))
      .select("doc_id", "score").as[(Long, Double)].collect()
    assert(top.head._1 === 7L, "a doc's own pooled embedding is its nearest")
    assert(math.abs(top.head._2 - 1.0) < 1e-6)
    assert(top.length === 5 && top.forall(_._2 <= 1.0 + 1e-9))
    // and the named-query face is unchanged by the keepVec extension
    val cols = graft.operators.Multimodal.frameEmbed(spark, d).columns.toSeq
    assert(cols === Seq("doc_id", "n_frames", "dim", "vec_norm"))
  }

  test("decodeAndEmbed survives empty partitions and empty payloads") {
    val df = Seq((1L, Array.empty[Byte])).toDF("doc_id", "payload").repartition(8)
    val rows = MultimodalStub.decodeAndEmbed(df, dim = 4).collect()
    assert(rows.length === 1 && rows.head.feature.length === 4)
  }

  // renders a w×h PNG with a base color + `noise` per-pixel perturbation
  private def png(w: Int, h: Int, rgb: (Int, Int, Int), noise: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val d = ((x * 31 + y * 17) % (2 * noise + 1)) - noise
      def c(v: Int) = math.max(0, math.min(255, v + d))
      img.setRGB(x, y, (c(rgb._1) << 16) | (c(rgb._2) << 8) | c(rgb._3))
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("frameDedup: adjacent identical frames flagged, disjoint ones kept, first frame null") {
    // frame 0 = frame 1 = 256×'a' (cos 1 → dup), frame 2 = 256×'Q'
    // (disjoint histogram bin → cos 0 → kept); doc 2 is sub-frame-sized
    val text = "a" * 256 + "a" * 256 + "Q" * 256
    val docs = Seq((1L, text), (2L, "short")).toDF("doc_id", "text")
    val dir = tempDir("mm_fd")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.Multimodal.frameDedup(spark, dir)
      .as[(Long, Long, Option[Double], Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 0L, None, false),
      (1L, 1L, Some(1.0), true),
      (1L, 2L, Some(0.0), false),
      (2L, 0L, None, false)), s"got $got")
  }

  test("JdkImageEncoder: real PNG decode — similar images get similar embeddings") {
    // two noisy variants of the same green + one red image, through the
    // SAME mapPartitions boundary as production
    val df = Seq(
      (1L, png(40, 30, (20, 200, 40), noise = 8)),
      (2L, png(40, 30, (20, 200, 40), noise = 12)),
      (3L, png(40, 30, (220, 30, 30), noise = 8))
    ).toDF("doc_id", "payload")
    val feats = MultimodalStub.decodeAndEmbed(df,
      encoderFactory = Some(() => new JdkImage.JdkImageEncoder(16))).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(1L).width === 40 && feats(1L).height === 30,
      "decoded header dimensions surface as metadata")
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val near = cos(feats(1L).feature, feats(2L).feature) // unit vectors
    val far = cos(feats(1L).feature, feats(3L).feature)
    assert(near > 0.9, s"noisy variants stay close: $near")
    assert(near > far + 0.3, s"different color is far: near=$near far=$far")
  }

  test("JdkImageEncoder: max-side downsample bounds histogram work, keeps orig dims") {
    val big = png(1600, 400, (100, 100, 100))
    val f = new JdkImage.JdkImageEncoder(16, maxSide = 800, normalize = false)
      .encode(9L, big)
    assert(f.width === 1600 && f.height === 400, "metadata = ORIGINAL dims")
    // raw counts sum to 3 × (scaled pixel count); scaled = 800×200
    val px = f.feature.map(_.toDouble).sum / 3
    assert(px === 800.0 * 200.0, s"histogram ran over the downsampled image: $px")
    // and the mass must sit in the SOURCE color's bin (100 → bin 6) for
    // every channel — a draw that never delivered pixels (the async
    // getScaledInstance hazard) would land everything in bin 0
    for (ch <- 0 until 3)
      assert(f.feature(ch * 16 + (100 * 16) / 256) === 800f * 200f,
        s"channel $ch mass must be in the gray-100 bin, not black")
    val bad = intercept[IllegalArgumentException] {
      new JdkImage.JdkImageEncoder(16).encode(9L, Array[Byte](1, 2, 3))
    }
    assert(bad.getMessage.contains("not a decodable image"))
  }

  test("renderBmpFixtures round-trip: decode recovers the formula's exact pixels") {
    val bytes = JdkImage.renderBmpFixtures(Seq(5L).toDF("doc_id")).collect().head._2
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth === 8 + 5 % 9 && img.getHeight === 8 + 5 % 7)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val rgb = img.getRGB(x, y)
      assert((rgb >> 16 & 0xFF) === (31 * 5 + 7 * x + 13 * y) % 256)
      assert((rgb >> 8 & 0xFF) === (17 * 5 + 11 * x + 5 * y) % 256)
      assert((rgb & 0xFF) === (23 * 5 + 3 * x + 19 * y) % 256)
    }
  }

  test("phashDedup: banded pairs ≡ brute-force all-pairs from the pixel formula; hashes decode-exact") {
    val d = "/root/testdata/sf0.001"
    // brute-force reference: recompute every 16-bit average-hash straight
    // from the fixture pixel FORMULA (no decode), then all-pairs Hamming
    val ids = graft.Tables.documents(spark, d).select("doc_id")
      .as[Long].collect().sorted
    def hashOf(id: Long): Int = {
      val w = 8 + (id % 9).toInt; val h = 8 + (id % 7).toInt
      val s = new Array[Long](16); val n = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        val gray = ((31 * id + 7 * x + 13 * y) % 256) +
          ((17 * id + 11 * x + 5 * y) % 256) +
          ((23 * id + 3 * x + 19 * y) % 256)
        val cell = (y * 4 / h) * 4 + (x * 4 / w)
        s(cell) += gray; n(cell) += 1
      }
      val total = s.sum; val npix = n.sum
      (0 until 16).map(i => if (s(i) * npix > total * n(i)) 1 << i else 0).sum
    }
    val hs = ids.map(id => id -> hashOf(id)).toMap
    val expected = (for {
      i <- ids; j <- ids if i < j
      ham = Integer.bitCount(hs(i) ^ hs(j)) if ham <= 3
    } yield (i, j, ham.toLong)).toSet
    assert(expected.nonEmpty, "fixture corpus must yield near-dup pairs")
    val got = graft.operators.Multimodal.phashDedup(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected,
      s"banded+verified pairs must equal brute force (pigeonhole): " +
        s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("JdkRegionEncoder: crop-of-region ≡ whole-image encode of the cropped image") {
    // the identity that makes the segment leg pixel-real: histogramming a
    // getSubimage window of the decoded parent equals re-encoding the
    // cropped pixels as their own image and whole-image-encoding THAT
    val bytes = png(40, 30, (60, 120, 180), noise = 20)
    val regions = Seq(
      MultimodalStub.Region(0L, 0, 0, 40, 30),   // full-image box
      MultimodalStub.Region(1L, 5, 7, 12, 9),    // interior box
      MultimodalStub.Region(2L, 28, 21, 12, 9))  // flush with the far corner
    val crops = new JdkImage.JdkRegionEncoder(16, normalize = false)
      .encodeRegions(3L, bytes, regions)
    assert(crops.map(_.seg_id) === Seq(0L, 1L, 2L))
    // seg 0 (whole image as a box) ≡ the whole-image encoder's feature
    val whole = new JdkImage.JdkImageEncoder(16, normalize = false)
      .encode(3L, bytes)
    assert(crops(0).feature.toSeq === whole.feature.toSeq)
    // segs 1, 2: re-encode the cropped pixels as standalone BMPs and
    // whole-image encode them — features must match the in-place crop
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    for (r <- regions.drop(1)) {
      val sub = new java.awt.image.BufferedImage(r.w, r.h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until r.h; x <- 0 until r.w)
        sub.setRGB(x, y, img.getRGB(r.x0 + x, r.y0 + y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(sub, "bmp", bos)
      val standalone = new JdkImage.JdkImageEncoder(16, normalize = false)
        .encode(r.seg_id, bos.toByteArray)
      assert(crops(r.seg_id.toInt).feature.toSeq === standalone.feature.toSeq,
        s"seg ${r.seg_id}: crop-of-region must equal encode-of-cropped-image")
      assert(crops(r.seg_id.toInt).feature.map(_.toDouble).sum === 3.0 * r.w * r.h,
        "raw counts cover exactly the box's pixels")
    }
    // out-of-bounds box fails loudly against the DECODED dimensions
    val bad = intercept[IllegalArgumentException] {
      new JdkImage.JdkRegionEncoder(16).encodeRegions(3L, bytes,
        Seq(MultimodalStub.Region(9L, 30, 0, 12, 9)))
    }
    assert(bad.getMessage.contains("outside decoded"))
  }

  test("cropAndEmbed: decode-once flatMap boundary over (payload, regions) rows") {
    val df = Seq(
      (1L, png(20, 16, (200, 40, 40)), Seq(
        MultimodalStub.Region(0L, 0, 0, 4, 4),
        MultimodalStub.Region(1L, 10, 8, 6, 5))),
      (2L, png(12, 12, (40, 200, 40)), Seq(
        MultimodalStub.Region(0L, 2, 2, 8, 8))),
      (3L, png(8, 8, (9, 9, 9)), Seq.empty[MultimodalStub.Region])
    ).toDF("doc_id", "payload", "regions")
    val out = MultimodalStub.cropAndEmbed(df,
      () => new JdkImage.JdkRegionEncoder(16, normalize = false)).collect()
    // doc 3 contributes nothing (no regions → decode skipped entirely)
    assert(out.map(r => (r.doc_id, r.seg_id)).sorted.toSeq ===
      Seq((1L, 0L), (1L, 1L), (2L, 0L)))
    val byKey = out.map(r => (r.doc_id, r.seg_id) -> r).toMap
    assert(byKey((1L, 0L)).feature.map(_.toDouble).sum === 3.0 * 4 * 4)
    assert(byKey((1L, 1L)).feature.map(_.toDouble).sum === 3.0 * 6 * 5)
    assert(byKey((2L, 0L)).feature.map(_.toDouble).sum === 3.0 * 8 * 8)
    // provenance box rides along
    assert(byKey((1L, 1L)).x0 === 10 && byKey((1L, 1L)).y0 === 8)
  }

  test("mm_segment_crop: boxes stay inside their fixture and cover each pixel once") {
    val out = graft.operators.Multimodal.segmentCrop(spark, "/root/testdata/sf0.001")
    val segs = out.select("doc_id", "seg_id", "x0", "y0", "w", "h").distinct()
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(segs.nonEmpty)
    segs.foreach { case (id, _, x0, y0, w, h) =>
      val (iw, ih) = (8 + id % 9, 8 + id % 7)
      assert(x0 >= 0 && y0 >= 0 && w >= 3 && h >= 3 &&
        x0 + w <= iw && y0 + h <= ih, s"box in bounds for doc $id")
    }
    // every doc gets 1 + doc_id % 3 segments
    val perDoc = segs.groupBy(_._1).view.mapValues(_.length).toMap
    perDoc.foreach { case (id, n) => assert(n === 1 + (id % 3).toInt) }
    // raw counts over a box sum to 3·w·h across its three channels
    val sums = out.groupBy("doc_id", "seg_id", "w", "h")
      .agg(sum("cnt").as("tot"))
      .as[(Long, Long, Long, Long, Long)].collect()
    sums.foreach { case (id, sid, w, h, tot) =>
      assert(tot === 3 * w * h, s"doc $id seg $sid full pixel coverage")
    }
  }
}
