package graft

import graft.multimodal.Multimodal
import graft.streaming.EventStream

class MultimodalStreamingSpec extends SparkSpec {

  test("binary meta: byte lengths match source metadata, checksums are hex") {
    val rows = Multimodal.binaryMeta(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bytes") > 0)
      assert(r.getAs[String]("checksum").matches("[0-9a-f]{32}"))
    }
  }

  test("frame sample: frame count derives from asset size, timestamps at 25fps") {
    val rows = Multimodal.frameSample(spark, sf).collect()
    val byAsset = rows.groupBy(_.getAs[Long]("asset_id"))
    byAsset.values.foreach { g =>
      val idx = g.map(_.getAs[Long]("frame_idx")).sorted
      assert(idx.sameElements(idx.indices.map(_.toLong)), "frame indices must be 0..n")
    }
  }

  test("PNG codec round trip: ImageIO decode returns the synthesized pixels exactly") {
    val text = "The quick brown fox jumps over the lazy dog 0123456789" * 3
    // 2D raster (featureExtract's shape): padding zeros in the last row
    val (w, h, px) = Multimodal.decodeGray(Multimodal.encodePng(text))
    assert(w == 64 && h == (text.length + 63) / 64)
    val bytes = text.getBytes("UTF-8")
    px.zipWithIndex.foreach { case (v, p) =>
      val want = if (p < bytes.length) bytes(p) & 0xff else 0
      assert(v == want, s"pixel $p: decoded $v != source $want")
    }
    // scanline raster (phash's shape): padding-free, pixel i == byte i
    val (w1, h1, px1) = Multimodal.decodeGray(Multimodal.encodePng(text, width = text.length))
    assert(w1 == text.length && h1 == 1)
    assert(px1.sameElements(bytes.map(_ & 0xff)))
  }

  test("mixed PNG+JPEG corpus: one decode path, exact dims both, exact pixels PNG, bounded error JPEG") {
    import spark.implicits._
    // even ids PNG, odd ids JPEG — the shape of a real crawl, where the
    // reader can't assume a codec and the lossy path must be bounded
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String)].collect().take(40)
    val decoded = spark.sparkContext.parallelize(docs.toSeq, 4)
      .map { case (id, text) =>
        val media =
          if (id % 2 == 0) Multimodal.encodePng(text) else Multimodal.encodeJpeg(text)
        val (w, h, px) = Multimodal.decodeGray(media) // codec-agnostic JDK decode
        (id, text, w, h, px)
      }.collect()
    assert(decoded.length == 40)
    decoded.foreach { case (id, text, w, h, px) =>
      val bytes = text.getBytes("UTF-8")
      // container-level fields are exact regardless of codec
      assert(w == 64 && h == math.max(1, (bytes.length + 63) / 64), s"dims wrong for $id")
      val want = (0 until w * h).map(p => if (p < bytes.length) bytes(p) & 0xff else 0)
      if (id % 2 == 0) {
        // PNG lossless: bit-exact pixels
        assert(px.toSeq == want, s"PNG pixels diverge for $id")
      } else {
        // JPEG lossy: pixels NOT analytic — bound the reconstruction
        // error instead (default-quality baseline on byte-texture
        // rasters; mean |err| stays low even though maxima can spike
        // at block edges)
        val meanErr = px.toSeq.zip(want).map { case (a, b) => math.abs(a - b) }.sum.toDouble / px.length
        assert(meanErr < 32.0, s"JPEG mean abs pixel error $meanErr too high for $id")
      }
    }
  }

  test("m_jpeg_meta: declarative SOF0 parse agrees with the JDK image reader") {
    import org.apache.spark.sql.functions._
    val rows = Multimodal.queries("m_jpeg_meta")(spark, sf)
      .filter(col("asset_id") < 20).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id") < 20).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.encodeJpeg(texts(id))))
      assert(r.getBoolean(1), s"valid_sof false for $id")
      assert(r.getInt(4) == img.getWidth && r.getInt(3) == img.getHeight,
        s"SOF dims (${r.getInt(4)}x${r.getInt(3)}) != decoded (${img.getWidth}x${img.getHeight})")
      assert(r.getInt(2) == 8 && r.getInt(5) == 1)
    }
  }

  test("m_frames_meta: idx1 offsets point at real '00db' frame chunks") {
    import org.apache.spark.sql.functions._
    val rows = Multimodal.queries("m_frames_meta")(spark, sf)
      .filter(col("asset_id") < 10).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id") < 10).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byAsset = rows.groupBy(_.getLong(0))
    byAsset.foreach { case (id, frames) =>
      val avi = Multimodal.encodeAvi(texts(id))
      // locate 'movi' fourcc: the idx1 offsets are relative to it
      val movi = avi.sliding(4).indexWhere(_.sameElements("movi".getBytes("US-ASCII")))
      assert(movi > 0)
      frames.foreach { f =>
        assert(f.getBoolean(1), s"valid_avi false for $id")
        val off = movi + f.getLong(9).toInt // frame_offset from 'movi' fourcc
        val ckid = new String(avi.slice(off, off + 4), "US-ASCII")
        assert(ckid == "00db", s"offset ${f.getLong(9)} of asset $id points at '$ckid'")
        val size = (avi(off + 4) & 0xff) | ((avi(off + 5) & 0xff) << 8) |
          ((avi(off + 6) & 0xff) << 16) | ((avi(off + 7) & 0xff) << 24)
        assert(size == f.getLong(10).toInt && size == 64)
      }
      // frame payload bytes are the text slice (container is lossless)
      val bytes = texts(id).getBytes("UTF-8")
      val f0 = frames.minBy(_.getLong(6))
      val d0 = movi + f0.getLong(9).toInt + 8
      val want = (0 until 64).map(p => if (p < bytes.length) bytes(p) else 0: Byte)
      assert(avi.slice(d0, d0 + 64).toSeq == want, s"frame-0 payload diverges for $id")
    }
  }

  test("WAV codec round trip: AudioSystem decode returns the synthesized PCM exactly") {
    val text = "mixed CASE text with spaces and 0123456789 plus @A>B? silence-band chars"
    val wav = Multimodal.encodeWav(text)
    // a real RIFF/WAVE container — the same magic m_sniff keys on
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val samples = Multimodal.decodePcm(wav)
    val expected = text.getBytes("UTF-8").map(b => ((b & 0xff) - 64) * 256)
    assert(samples.sameElements(expected),
      s"PCM mismatch at ${samples.zip(expected).indexWhere(p => p._1 != p._2)}")
  }

  test("feature extract is deterministic across runs and partitionings") {
    val a = Multimodal.featureExtract(spark, sf).collect()
    val b = Multimodal.featureExtract(spark, sf).collect()
    assert(a.sameElements(b))
    a.foreach { r =>
      assert(r.getAs[Int]("width") % 16 == 0 && r.getAs[Int]("width") <= 1024)
      assert(r.getAs[Double]("feat_norm") > 0)
    }
  }

  test("cdc chunks: chunk bytes tile every asset; dup bytes bounded by total") {
    val rows = Multimodal.cdcChunks(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val totalChars = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))).first().getLong(0)
    assert(rows.map(_.getAs[Long]("n_bytes")).sum == totalChars, "chunks must tile the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_chunks") >= 1)
      assert(r.getAs[Long]("dup_bytes") <= r.getAs[Long]("n_bytes"))
    }
  }

  test("stream-stream join: every pair is a same-user purchase within 30min of the click") {
    val rows = graft.streaming.EventStream.streamJoin(spark, sf).collect()
    assert(rows.nonEmpty, "expected some click→purchase attributions")
    val pairs = rows.map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
    assert(pairs.distinct.length == pairs.length, "duplicate attribution pairs")
    rows.foreach { r =>
      val c = r.getAs[String]("click_ts"); val p = r.getAs[String]("purchase_ts")
      assert(c <= p, s"purchase before click: $r")
    }
  }

  test("st_topk: at most 2 ranks per window, counts non-increasing with rank") {
    val rows = EventStream.topkStream(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("window_start")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length).toSeq)
      assert(byRank.length <= 2)
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a.getAs[Long]("n") >= b.getAs[Long]("n")
        case _ => true
      })
    }
  }

  test("streaming window agg equals the batch computation") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.windowAgg(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.sameElements(batch), "stream/batch consistency")
  }

  test("a streaming gate leaves no drain output or checkpoint directly under java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def leftovers(): Set[String] = Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("graft-gate-") || n.startsWith("graft-fsink-ckpt-")).toSet
    val before = leftovers()
    SparkEntry.queries("st_window_agg")(spark, sf).collect()
    val added = leftovers() -- before
    assert(added.isEmpty, s"streaming gate left temp dirs behind: $added")
  }

  test("sessionize: sessions are ordered, non-overlapping, gap-respecting per user") {
    val rows = EventStream.sessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("session_id"))
      sorted.foreach { r =>
        assert(r.getAs[String]("session_start") <= r.getAs[String]("session_end"))
        assert(r.getAs[Long]("n_events") >= 1)
      }
      // consecutive sessions don't touch: start of next is strictly after end of previous
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("session_end") < b.getAs[String]("session_start"))
        case _ =>
      }
    }
  }
  test("m_sniff: all four formats detected, asset count conserved") {
    val rows = graft.multimodal.Multimodal.sniff(spark, sf).collect()
    assert(rows.map(_.getAs[String]("format")).toSet == Set("png", "jpeg", "riff", "unknown"))
    assert(rows.map(_.getAs[Long]("n_assets")).sum == Tables.documents(spark, sf).count())
    // headered formats carry the 4 magic bytes on every asset
    rows.filter(_.getAs[String]("format") != "unknown").foreach { r =>
      assert(r.getAs[Long]("total_bytes") >= r.getAs[Long]("n_assets") * 4)
    }
  }

  test("m_phash: every reported pair is a planted re-encode twin within hamming 3") {
    val rows = Multimodal.phash(spark, sf).collect()
    assert(rows.nonEmpty, "expected re-encode twins to be detected")
    rows.foreach { r =>
      assert(r.getAs[Long]("asset_b") == r.getAs[Long]("asset_a") + 1000000L,
        s"non-twin pair reported: $r")
      assert(r.getAs[Long]("hamming") <= 3)
    }
    // perceptual recall: most (not necessarily all) planted twins found
    val planted = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 7 = 0 AND length(text) > 0"))
      .count()
    assert(rows.length * 2 >= planted, s"recall ${rows.length}/$planted below 50%")
  }

  test("st_running_totals: streamed per-user ledger equals the batch aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.runningTotals(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("last_seen"))
      .orderBy("user_id").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("user_id") == b.getAs[Long]("user_id"))
      assert(s.getAs[Long]("n_events") == b.getAs[Long]("n_events"))
      assert(s.getAs[String]("last_seen") == b.getAs[String]("last_seen"))
    }
  }

  test("st_anomaly: flag is exactly the 2x-mean integer cross-multiply") {
    val rows = EventStream.anomalyStream(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).values.foreach { g =>
      val total = g.map(_.getAs[Long]("n")).sum
      val windows = g.length.toLong
      g.foreach { r =>
        assert(r.getAs[Long]("type_total") == total)
        assert(r.getAs[Long]("type_windows") == windows)
        assert(r.getAs[Boolean]("is_anomaly") == (r.getAs[Long]("n") * windows > total * 2))
      }
    }
  }

  test("st_sliding: each tumbling count appears in 3 overlapping windows' totals") {
    import graft.streaming.EventStream
    val sliding = EventStream.slidingAgg(spark, sf).collect()
    assert(sliding.nonEmpty)
    // sum over sliding windows counts each event exactly 3 times
    val total = Tables.events(spark, sf).count()
    assert(sliding.map(_.getAs[Long]("n")).sum == total * 3)
  }

  test("m_wav_meta: declarative header parse agrees with the JDK audio reader") {
    val rows = graft.multimodal.Multimodal.wavMeta(spark, sf).collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("valid_riff"))
      val wav = graft.multimodal.Multimodal.encodeWav(texts(r.getAs[Long]("asset_id")))
      val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(wav)).getFormat
      assert(r.getAs[Long]("channels") == fmt.getChannels.toLong)
      assert(r.getAs[Long]("sample_rate") == fmt.getSampleRate.toLong)
      assert(r.getAs[Long]("bits_per_sample") == fmt.getSampleSizeInBits.toLong)
      assert(r.getAs[Long]("audio_format") == 1L)
      assert(r.getAs[Long]("riff_size") == wav.length.toLong - 8L)
      assert(r.getAs[Long]("n_samples") * 2L == r.getAs[Long]("data_bytes"))
    }
  }

  test("m_warc_records: every doc recovered byte-exactly; offsets strictly increase per shard") {
    import org.apache.spark.sql.functions._
    val rows = graft.multimodal.Multimodal.warcRecords(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("m"),
        octet_length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows.length == docs.size, "every document must round-trip through WARC")
    rows.foreach { r =>
      val (m, n) = docs(r.getAs[Long]("doc_id"))
      assert(r.getAs[String]("payload_md5") == m, s"payload drift for ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("content_length") == n)
      assert(r.getAs[Boolean]("length_ok"))
    }
    rows.groupBy(_.getAs[Int]("shard")).values.foreach { rs =>
      val offs = rs.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("offset"))
      assert(offs.head == 0L, "first record of a shard starts at byte 0")
      assert(offs.zip(offs.tail).forall { case (a, b) => a < b }, "offsets must increase")
    }
  }

  test("st_multi_source_watermark: emission stops at the LAGGING source's watermark") {
    import org.apache.spark.sql.functions._
    val rows = EventStream.multiSourceWatermark(spark, sf).collect()
    assert(rows.nonEmpty)
    val held = rows.map(_.getAs[Long]("n_held")).distinct
    assert(held.length == 1 && held.head > 0, "contrast class must be non-empty")
    // boundary replay: every emitted window ends at or below B's watermark,
    // and none reaches into A's two-day solo tail
    val ev = Tables.events(spark, sf)
    val maxA = ev.filter(col("event_id") % 2 === 0).agg(max("ts")).collect()(0).getTimestamp(0)
    val maxB = ev.filter(col("event_id") % 2 === 1)
      .filter(col("ts") <= lit(maxA) - expr("INTERVAL 2 DAYS"))
      .agg(max("ts")).collect()(0).getTimestamp(0)
    val wmbMs = maxB.getTime - 600000L
    val fmtP = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmtP.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    rows.foreach { r =>
      val endMs = fmtP.parse(r.getAs[String]("window_start")).getTime + 300000L
      assert(endMs <= wmbMs,
        s"window ending $endMs emitted past the lagging watermark $wmbMs")
    }
  }

  test("m_srt_parse: caption accounting replays from the token count; cadence is 2s visible") {
    import org.apache.spark.sql.functions._
    val rows = multimodal.Multimodal.srtParse(spark, sf).collect()
    assert(rows.nonEmpty)
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(trim(col("text")), "[ \t\n\r]+")).as("nw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id"); val nw = toks(id)
      val nCap = (nw + 4) / 5
      assert(r.getAs[Long]("n_captions") == nCap)
      assert(r.getAs[Long]("total_dur_ms") == 2000L * nCap)
      assert(r.getAs[Long]("n_caption_words") == nw,
        s"doc $id caption words ${r.getAs[Long]("n_caption_words")} != $nw tokens")
      assert(r.getAs[Boolean]("monotone_ok"))
    }
  }

  test("m_varint: wire bytes are real protobuf varints; machine decodes every row") {
    // hand-computed wire image: 300 = 0xAC 0x02 under base-128 LSB-first
    val enc = multimodal.Multimodal.encodeVarintMsg(300L, 1L, "en")
    assert((enc(0) & 0xff) == 0x08 && (enc(1) & 0xff) == 0xAC && (enc(2) & 0xff) == 0x02,
      "field-1 varint of 300 must be AC 02")
    assert((enc(3) & 0xff) == 0x10 && (enc(4) & 0xff) == 0x01)
    assert((enc(5) & 0xff) == 0x1A && (enc(6) & 0xff) == 0x02 &&
      new String(enc.drop(7), "UTF-8") == "en")
    val rows = multimodal.Multimodal.varintParse(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("valid")))
    val src = Tables.documents(spark, sf).select("doc_id", "n_chars", "lang").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("asset_id")
      assert(r.getAs[Long]("doc_id_pb") == id)
      assert(r.getAs[Long]("n_chars_pb") == src(id)._1)
      assert(r.getAs[String]("lang_pb") == src(id)._2)
    }
    // the corpus must actually exercise multi-byte varints
    assert(src.keys.exists(_ >= 128L), "no multi-byte varint in the corpus — pin is weak")
  }

  test("m_audio_resample: halving invariants — counts, energy bounds, scalar replay") {
    val rows = multimodal.Multimodal.audioResample(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nIn = r.getAs[Long]("n_in"); val nOut = r.getAs[Long]("n_out")
      assert(nOut == (nIn + 1) / 2, s"decimation count $nOut != ceil($nIn/2)")
      // pair-averaging can never raise total energy above the input's
      assert(r.getAs[Long]("energy_out") <= r.getAs[Long]("energy_in"))
    }
    // scalar replay of one asset end to end
    val id0 = rows.head.getAs[Long]("asset_id")
    val text = Tables.documents(spark, sf).filter(org.apache.spark.sql.functions.col("doc_id") === id0)
      .select("text").collect()(0).getString(0)
    val px = multimodal.Multimodal.decodePcm(multimodal.Multimodal.encodeWav(text))
    val out = px.grouped(2).map {
      case Array(a, b) => Math.floorDiv(a + b, 2).toLong
      case Array(a)    => a.toLong
    }.toArray
    assert(rows.head.getAs[Long]("energy_out") == out.map(v => v * v).sum)
  }
}
