package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Round-17 hostile-payload fuzz for the audit-tier codec maps
  * (verdict task): at 100 TB the only trace a failed task leaves is
  * its log line, so EVERY failure path — our own contract requires
  * AND whatever the JDK codecs throw — must name the doc_id in the
  * surfaced message. Each case plants one poisoned row in an
  * otherwise-healthy corpus and asserts the error is attributable
  * to it from the message alone.
  */
class R17PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Every message along the failure's cause chain, concatenated —
    * Spark wraps task failures in SparkException layers. */
  private def chainMessages(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 12) {
      sb.append(Option(cur.getMessage).getOrElse("")).append(" | ")
      cur = cur.getCause; depth += 1
    }
    sb.toString
  }

  private def assertNamesDoc(msgs: String, docId: Long, what: String): Unit =
    assert(msgs.contains(s"doc $docId"),
      s"$what must name doc $docId in the surfaced message chain: $msgs")

  private def pngOf(side: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until side; x <- 0 until side)
      img.setRGB(x, y, (x * 31 + y * 7) % 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A structurally valid PNG whose IHDR declares width 0 (CRC
    * recomputed so the chunk parses) — the crafted-header shape that
    * makes the JDK reader throw its own IllegalArgumentException
    * rather than an IIOException. */
  private def zeroWidthPng: Array[Byte] = {
    val b = pngOf(8).clone()
    // IHDR layout: len@8, type@12..15, data@16..28 (width first), crc@29..32
    b(16) = 0; b(17) = 0; b(18) = 0; b(19) = 0
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 17) // chunk type + 13 data bytes
    val v = crc.getValue
    b(29) = ((v >>> 24) & 0xff).toByte; b(30) = ((v >>> 16) & 0xff).toByte
    b(31) = ((v >>> 8) & 0xff).toByte; b(32) = (v & 0xff).toByte
    b
  }

  private def wavOf(rate: Float, bits: Int, channels: Int,
                    nFrames: Int = 64): Array[Byte] = {
    val bytesPerFrame = channels * bits / 8
    val pcm = new Array[Byte](nFrames * bytesPerFrame)
    pcm.indices.foreach(i => pcm(i) = ((i * 37) % 251).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(
      rate, bits, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("thumbnail under hostile payloads: truncated PNG, zero-length, " +
    "garbage, and non-tileable dims all name the poisoned doc_id") {
    val good = pngOf(8)
    val cases: Seq[(String, Array[Byte], Int)] = Seq(
      // the PNG magic survives, the IDAT stream does not — the JDK
      // reader throws its own IIOException, which the attribution
      // wrapper must re-tag with the row
      ("truncated PNG", good.take(40), 2),
      ("zero-length payload", Array.empty[Byte], 2),
      ("garbage bytes", Array.tabulate[Byte](64)(i => (i * 83).toByte), 2),
      // 5x5 is not tileable by 2 — our own contract require
      ("non-tileable dims", pngOf(5), 2),
      // crafted header: IHDR declares width 0 with a VALID CRC — the
      // JDK reader rejects it with its own exception (an IAE on some
      // JDK versions), which must still be re-tagged with the doc
      ("zero-width IHDR", zeroWidthPng, 2))
    cases.foreach { case (what, poison, factor) =>
      val corpus = Seq((1L, good), (7L, poison), (9L, good))
        .toDF("doc_id", "payload")
      val thrown = intercept[Throwable] {
        Multimodal.thumbnail(corpus, factor).collect()
      }
      assertNamesDoc(chainMessages(thrown), 7L, s"thumbnail($what)")
    }
  }

  test("audioDecimate under hostile payloads: zero-length WAV, garbage, " +
    "stereo, 8-bit, and non-divisible rates all name the poisoned doc_id") {
    val good = wavOf(8000f, 16, 1)
    val cases: Seq[(String, Array[Byte], Int)] = Seq(
      // AudioSystem throws UnsupportedAudioFileException — no row
      // context without the attribution wrapper
      ("zero-length WAV", Array.empty[Byte], 2),
      ("garbage bytes", Array.tabulate[Byte](64)(i => (i * 89).toByte), 2),
      ("truncated WAV header", good.take(10), 2),
      // format contract requires: each names the doc itself
      ("stereo payload", wavOf(8000f, 16, 2), 2),
      ("8-bit payload", wavOf(8000f, 8, 1), 2),
      ("non-divisible rate", wavOf(22051f, 16, 1), 2))
    cases.foreach { case (what, poison, factor) =>
      val corpus = Seq((1L, good), (7L, poison), (9L, good))
        .toDF("doc_id", "payload")
      val thrown = intercept[Throwable] {
        Multimodal.audioDecimate(corpus, factor).collect()
      }
      assertNamesDoc(chainMessages(thrown), 7L, s"audioDecimate($what)")
    }
  }

  test("dqCalibrationOneScan ≡ dqCalibration row-for-row; columns " +
    "resolve case-insensitively; ambiguity and absence throw by name") {
    import graft.operators.RetailEtl
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val cols = Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity")
    val composed = RetailEtl.dqCalibration(li, cols)
      .collect().map(_.toString).sorted.toSeq
    val oneScan = RetailEtl.dqCalibrationOneScan(li, cols)
      .collect().map(_.toString).sorted.toSeq
    assert(oneScan === composed,
      "the one-scan form must reproduce the composed calibration " +
        "exactly (stringified distincts are injective for these columns)")
    // case-insensitive resolution emits the RESOLVED field name, so
    // the output stays oracle-comparable regardless of caller case
    val ci = RetailEtl.dqCalibrationOneScan(li, Seq("L_PARTKEY")).collect()
    assert(ci.length === 1 && ci.head.getString(0) === "l_partkey")
    // r18 (ADVICE): the COMPOSED twin resolves identically — a
    // case-variant caller gets the same col_name rows from both forms
    val ciComposed = RetailEtl.dqCalibration(li, Seq("L_PARTKEY")).collect()
    assert(ciComposed.length === 1 &&
      ciComposed.head.getString(0) === "l_partkey",
      "dqCalibration must emit the resolved schema-case col_name")
    assert(ciComposed.map(_.toString).sorted.toSeq ===
      ci.map(_.toString).sorted.toSeq,
      "case-variant callers must get identical rows from both twins")
    // two case-variant fields: a third spelling matches both → throws
    val amb = li.select(col("l_partkey"), col("l_partkey").as("L_PARTKEY"))
    val e = intercept[IllegalArgumentException] {
      RetailEtl.dqCalibrationOneScan(amb, Seq("l_PartKey"))
    }
    assert(e.getMessage.contains("l_PartKey") &&
      e.getMessage.toLowerCase.contains("ambiguous"))
    val missing = intercept[IllegalArgumentException] {
      RetailEtl.dqCalibrationOneScan(li, Seq("no_such_col"))
    }
    assert(missing.getMessage.contains("no_such_col"))
  }

  test("healthy corpus is untouched by the attribution wrapper: " +
    "round trips still replay the recipe exactly") {
    val docs = (0L until 4L).toDF("doc_id")
    val png = Multimodal.synthPngCorpus(docs)
    val before = Multimodal.decodeImageStats(png).collect()
      .map(_.toString).sorted.toSeq
    val thumbId = Multimodal.decodeImageStats(
        Multimodal.thumbnail(png, 1)).collect()
      .map(_.toString).sorted.toSeq
    assert(thumbId === before,
      "factor-1 thumbnail must stay the identity under the wrapper")
    val wav = Multimodal.synthWavCorpus(docs)
    val rawStats = Multimodal.decodeAudioStats(wav).collect()
      .map(_.toString).sorted.toSeq
    val decId = Multimodal.decodeAudioStats(
        Multimodal.audioDecimate(wav, 1)).collect()
      .map(_.toString).sorted.toSeq
    assert(decId === rawStats,
      "factor-1 decimate must stay the identity under the wrapper")
  }
}
