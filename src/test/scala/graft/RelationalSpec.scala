package graft

import org.apache.spark.sql.functions._

/** Relational-operator invariants that complement the DuckDB oracle:
  * algebraic identities and cross-query consistency the oracle can't
  * express, plus reference-behavior spot checks.
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("flagship entry runs the curation pipeline end to end") {
    val r = SparkEntry.entry(spark)
    assert(r.count() > 0)
    assert(r.columns.toSeq === Seq("source", "lang", "n_docs", "n_tokens"))
  }

  test("set algebra: |A∩B| + |A\\B| = |A|") {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    def keysOf(brand: String) =
      li.join(p.filter($"p_brand" === brand), $"l_partkey" === $"p_partkey")
        .select("l_orderkey").distinct()
    val a = keysOf("Brand#11").count()
    assert(q("q_intersect").count() + q("q_except").count() === a)
  }

  test("semi and anti join partition orders exactly") {
    val orders = Tables.orders(spark, sfDir)
    val semi = q("q_semi_join").count()
    val anti = orders.join(
      Tables.lineitem(spark, sfDir).filter($"l_discount" > 0.06),
      $"o_orderkey" === $"l_orderkey", "left_anti").count()
    assert(semi + anti === orders.count())
  }

  test("as-of join: window formulation equals the naive inequality join") {
    val ev = Tables.events(spark, sfDir)
    val naive = ev.as("p").filter($"p.event_type" === "purchase")
      .join(ev.as("e"), $"p.user_id" === $"e.user_id" && $"e.ts_us" < $"p.ts_us")
      .groupBy($"p.event_id".as("event_id"))
      .agg(max($"e.ts_us").as("prior_ts"))
      .as[(Long, Long)].collect().toMap
    val win = q("q_asof_join").as[(Long, Long)].collect().toMap
    assert(win === naive)
  }

  test("top-k equals full sort head") {
    val full = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10).as[(Long, Double)].collect().toSeq
    assert(q("q_topk").as[(Long, Double)].collect().toSeq === full)
  }

  test("rollup grand total equals ungrouped aggregate") {
    val li = Tables.lineitem(spark, sfDir)
    val total = q("q_rollup").filter($"rf" === "<all>" && $"ls" === "<all>")
      .select("n").as[Long].collect().head
    assert(total === li.count())
  }

  test("auto segments equal an exact sequential pattern-mining recompute") {
    val raw = Tables.events(spark, sfDir)
      .select("event_type", "user_id", "value").collect()
      .map { r =>
        val v = r.getDouble(2)
        (r.getString(0), "u" + (r.getLong(1) % 4),
          if (v < 10) "low" else if (v < 100) "mid" else "high")
      }
    val total = raw.length
    def key(t: (String, String, String), mask: Int) =
      (if ((mask & 4) == 0) Some(t._1) else None,
        if ((mask & 2) == 0) Some(t._2) else None,
        if ((mask & 1) == 0) Some(t._3) else None)
    val counts = scala.collection.mutable.Map
      .empty[(Option[String], Option[String], Option[String]), Long]
      .withDefaultValue(0L)
    for (t <- raw; m <- 0 to 6) counts(key(t, m)) += 1
    val pats = counts.toMap.filter(_._2 * 20 >= total)
    def spec(k: (Option[String], Option[String], Option[String])) =
      k.productIterator.count(_.asInstanceOf[Option[_]].isDefined)
    def refines(q: (Option[String], Option[String], Option[String]),
        p: (Option[String], Option[String], Option[String])) =
      (p._1.isEmpty || q._1 == p._1) && (p._2.isEmpty || q._2 == p._2) &&
        (p._3.isEmpty || q._3 == p._3)
    val want = pats.filterNot { case (p, n) =>
      pats.exists { case (qk, qn) =>
        spec(qk) > spec(p) && refines(qk, p) && qn * 2 >= n
      }
    }.map { case (p, n) =>
      (p._1.getOrElse("*"), p._2.getOrElse("*"), p._3.getOrElse("*"), n)
    }.toSet
    val got = q("q_auto_segments").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got === want, "distributed cube+dominance must equal the local fold")
    assert(got.nonEmpty)
  }

  test("approx distinct stays within its 2% error budget") {
    val r = ops.Relational.aggApproxDistinctRaw(spark, sfDir)
    assert(r.filter($"rel_err" > 0.05).count() === 0)
    // graded invariant projection: booleans all true, exact counts exact
    val g = q("q_agg_approx_distinct")
    assert(g.filter(!$"within_tol").count() === 0)
    // uuid/hash contract profile: one row, every boolean true
    val u = q("q_uuid_hash").collect()
    assert(u.length === 1)
    assert((2 until 7).forall(u(0).getBoolean), u(0).toString)
    // quantile sketch: graded booleans all true, and the raw GK
    // estimate sits within its rank-error budget of the exact value
    val qs = q("q_quantile_sketch").collect()
    assert(qs.nonEmpty && qs.forall(r =>
      r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4)))
    val raw = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(percentile_approx($"l_extendedprice", lit(0.5), lit(1000)).as("v"),
        expr("percentile(l_extendedprice, 0.5)").as("ex"),
        count(lit(1)).as("n"))
      .as[(String, Double, Double, Long)].collect()
    raw.foreach { case (g, v, ex, n) =>
      // rank error 1/1000 on a heavy-tailed price column stays well
      // under 5% in value terms at these group sizes
      assert(math.abs(v - ex) / ex < 0.05, s"$g: approx $v vs exact $ex (n=$n)")
    }
  }

  test("retention cohorts and funnel steps honor their ordering contracts") {
    val ret = q("q_retention_cohorts")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(ret.nonEmpty)
    // period 0 is the cohort itself: retained == cohort_size, ratio 1
    ret.filter(_._2 == 0L).foreach { r =>
      assert(r._3 === r._4 && r._5 === 1.0, s"period-0 cell broken: $r")
    }
    ret.foreach { r =>
      assert(r._2 >= 0L && r._3 <= r._4, s"cell exceeds cohort: $r")
    }
    // cohort sizes partition the actor universe
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(ret.filter(_._2 == 0L).map(_._4).sum === users)

    val fun = q("q_funnel_steps").as[(Int, String, Long, Double)].collect()
    assert(fun.map(_._2).toSeq === Seq("view", "click", "purchase"))
    // each stage requires the previous: counts non-increasing, ratios in (0,1]
    fun.sliding(2).foreach {
      case Array(a, b) => assert(b._3 <= a._3, s"funnel grew: $a -> $b")
      case _ =>
    }
    assert(fun.head._4 === 1.0)
    fun.foreach(r => assert(r._4 > 0.0 && r._4 <= 1.0))
    // ordering constraint is real: a click strictly before every view
    // of its user must not count — replay the chain locally
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts_us")
      .as[(Long, String, Long)].collect()
    val t1 = ev.filter(_._2 == "view").groupBy(_._1).map { case (u, xs) => u -> xs.map(_._3).min }
    val t2 = ev.filter(_._2 == "click").filter(e => t1.get(e._1).exists(e._3 > _))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._3).min }
    val t3 = ev.filter(_._2 == "purchase").filter(e => t2.get(e._1).exists(e._3 > _))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._3).min }
    assert(fun.map(_._3).toSeq === Seq(t1.size.toLong, t2.size.toLong, t3.size.toLong))
  }

  test("dedup-first keeps exactly one row per key, the earliest") {
    val d = q("q_dedup_first")
    val keys = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(d.count() === keys)
    val mins = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").agg(min("ts_us").as("ts_us"))
    assert(d.select("user_id", "event_type", "ts_us")
      .exceptAll(mins.select("user_id", "event_type", "ts_us")).isEmpty)
  }


  test("pivot cells sum to the grouped totals") {
    val piv = q("q_pivot").collect().map(r =>
      (r.getString(0), r.getDouble(1) + r.getDouble(2) + r.getDouble(3))).toMap
    val grouped = Tables.lineitem(spark, sfDir)
      .groupBy("l_linestatus")
      .agg(sum(col("l_quantity")).as("t"))
      .as[(String, Double)].collect().toMap
    piv.foreach { case (k, v) => assert(math.abs(v - grouped(k)) < 1e-6) }
  }

  test("scalar subquery keeps exactly the above-average orders") {
    val o = Tables.orders(spark, sfDir)
    val avg = o.agg(sum("o_totalprice") / count(lit(1))).as[Double].collect().head
    val expect = o.filter(col("o_totalprice") > avg).count()
    assert(math.abs(q("q_scalar_subquery").count() - expect) <= 1) // decimal-vs-double cut
  }

  test("media features are deterministic and batch-shaped") {
    val a = q("q_media_features").collect()
    val b = q("q_media_features").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === Tables.documents(spark, sfDir).count())
  }

  test("media phash: real PGM decode + DCT hash recovers planted corrupt-pixel pairs") {
    import graft.ops.Multimodal.Ppm
    // the image format round-trips: header parse + payload recovery
    val gray = Array.tabulate(Ppm.W * Ppm.H)(i => (i % 251).toByte)
    val (w, h, px) = Ppm.decode(Ppm.encode(gray, Ppm.W, Ppm.H))
    assert(w === Ppm.W && h === Ppm.H && px.toSeq === gray.toSeq)
    intercept[IllegalArgumentException] {
      Ppm.decode("P6\n2 2\n255\nxxxxxxxxxxxx".getBytes("US-ASCII"))
    }
    // the DCT hash is perceptual: a one-pixel corruption moves the code
    // a few bits; an unrelated image sits far away
    val (a1, a2) = Ppm.phash(px)
    val corrupt = px.clone(); corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 1).toByte
    val (b1, b2) = Ppm.phash(corrupt)
    def ham(x1: Long, x2: Long, y1: Long, y2: Long) =
      java.lang.Long.bitCount(x1 ^ y1) + java.lang.Long.bitCount(x2 ^ y2)
    assert(ham(a1, a2, b1, b2) <= 8)
    val other = Ppm.tile("a completely different document body".getBytes, Ppm.W * Ppm.H)
    val (c1, c2) = Ppm.phash(other)
    assert(ham(a1, a2, c1, c2) > 8)

    val got = q("q_media_phash").collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    // nearly every doc's one-corrupt-pixel re-encode variant is found —
    // a REAL perceptual hash can move > 8 bits when many coefficients
    // sit near the median, and banding can miss a ≤ 8 pair whose flips
    // touch all 4 bands, so the law is a recall floor, not equality
    val planted = got.filter(r => r.getLong(1) == r.getLong(0) + 1000000000L)
    assert(planted.length >= (nDocs * 95) / 100,
      s"planted pairs: ${planted.length}/$nDocs")
    // every emitted pair passed the exact verify
    got.foreach(r => assert(r.getInt(2) <= 8, s"unverified pair: $r"))
    // non-planted survivors are rare (genuinely similar tiled images,
    // e.g. short low-entropy docs) — the cut stays discriminating
    assert(got.length - planted.length <= (nDocs * 5) / 100,
      s"unplanted survivors: ${got.length - planted.length}")
  }

  test("media color: real P6 PPM round-trip + exact opponent-axis features") {
    import graft.ops.Multimodal.Ppm
    // the color format round-trips: header parse + 3-channel payload
    val rgb = Array.tabulate(3 * Ppm.W * Ppm.H)(i => (i % 249).toByte)
    val (w, h, px) = Ppm.decodeP6(Ppm.encodeP6(rgb, Ppm.W, Ppm.H))
    assert(w === Ppm.W && h === Ppm.H && px.toSeq === rgb.toSeq)
    // a P5 graymap is rejected loudly (channel-count corruption path)
    intercept[IllegalArgumentException] {
      Ppm.decodeP6(Ppm.encode(Array.fill(Ppm.W * Ppm.H)(7.toByte), Ppm.W, Ppm.H))
    }
    intercept[IllegalArgumentException] { // truncated payload
      Ppm.decodeP6("P6\n64 64\n255\nabc".getBytes("US-ASCII"))
    }
    // hand-checkable features on the query output: sums bounded by
    // 255·4096 per channel; the opponent axes obey the triangle bound
    // |r+g−2b| ≤ |r−g| + 2·max-channel-gap ≤ 2·255 per pixel
    val got = q("q_media_color").collect()
    assert(got.length === Tables.documents(spark, sfDir).count())
    got.foreach { r =>
      val Seq(rs, gs, bs, rg, yb) = (1 to 5).map(r.getLong)
      assert(rs <= 255L * 4096 && gs <= 255L * 4096 && bs <= 255L * 4096)
      assert(rg <= 255L * 4096 && yb <= 2L * 255 * 4096)
      val dom = r.getString(6)
      val want = if (rs >= gs && rs >= bs) "r" else if (gs >= bs) "g" else "b"
      assert(dom === want)
    }
    // a pure-red pixmap: exact closed-form features
    val red = Array.tabulate(3 * Ppm.W * Ppm.H)(i =>
      if (i % 3 == 0) 200.toByte else 0.toByte)
    val (_, _, rp) = Ppm.decodeP6(Ppm.encodeP6(red, Ppm.W, Ppm.H))
    var rSum = 0L; var rgAbs = 0L; var ybAbs = 0L
    (0 until Ppm.W * Ppm.H).foreach { p =>
      val r0 = rp(3 * p) & 0xff; val g0 = rp(3 * p + 1) & 0xff; val b0 = rp(3 * p + 2) & 0xff
      rSum += r0; rgAbs += math.abs(r0 - g0); ybAbs += math.abs(r0 + g0 - 2 * b0)
    }
    assert(rSum === 200L * 4096 && rgAbs === 200L * 4096 && ybAbs === 200L * 4096)
  }

  test("media audio: real RIFF/PCM16 round-trip + exact integer features") {
    import graft.ops.Multimodal.Wav
    // the container round-trips: chunk walk + typed fmt + LE payload
    val samples = Wav.tileSamples("the quick brown fox".getBytes("UTF-8"))
    val (rate, back) = Wav.decode(Wav.encode(samples, Wav.SampleRate))
    assert(rate === Wav.SampleRate && back.toSeq === samples.toSeq)
    // non-RIFF and non-PCM16 payloads fail loudly
    intercept[IllegalArgumentException] {
      Wav.decode("notawavfile".getBytes("US-ASCII") ++ new Array[Byte](64))
    }
    val stereo = Wav.encode(samples, Wav.SampleRate)
    stereo(22) = 2 // channels field inside fmt
    intercept[IllegalArgumentException] { Wav.decode(stereo) }
    // a `fmt ` chunk shorter than its 16 standard bytes: as the last
    // chunk it must not over-read the buffer, and before `data` it must
    // not take its byte rate, block align and bits from the next header
    def riff(chunks: Array[Byte]*): Array[Byte] = {
      val body = "WAVE".getBytes("US-ASCII") ++ chunks.flatten
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body).array()
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")).putInt(payload.length).put(payload).array()
    }
    val fmt8 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(1).putInt(Wav.SampleRate).array()
    intercept[IllegalArgumentException] {
      Wav.decode(riff(chunk("junk", new Array[Byte](16)), chunk("fmt ", fmt8)))
    }
    // the data length 0x00100000 reads as block align 0, bits 16
    intercept[IllegalArgumentException] {
      Wav.decode(riff(chunk("fmt ", fmt8), chunk("data", new Array[Byte](1 << 20))))
    }
    // features recompute locally: energy/zcr/bands are exact integers
    val (energy, zcr, bands) = Wav.features(samples)
    assert(energy === samples.map(s => s.toLong * s).sum)
    assert(zcr === (1 until samples.length)
      .count(k => (samples(k - 1) < 0) != (samples(k) < 0)))
    assert(bands.length === 8)
    val got = q("q_media_audio").collect()
    assert(got.length === Tables.documents(spark, sfDir).count())
    // rms is the sqrt of the integer energy ratio, row-checked
    got.foreach { r =>
      val e = r.getAs[Long]("energy")
      assert(r.getAs[Double]("rms") ===
        math.sqrt(e.toDouble / r.getAs[Int]("n_samples")))
    }
  }

  test("media png: real compress/decode round-trip, all five unfilters, loud rejections") {
    import graft.ops.Multimodal.{Png, Ppm}
    import java.util.zip.{CRC32, Deflater}
    // lossless round trip through the real deflate path
    val rgb = Array.tabulate(3 * Ppm.W * Ppm.H)(i => ((i * 31 + 5) % 256).toByte)
    val png = Png.encode(rgb, Ppm.W, Ppm.H)
    val (w, h, px) = Png.decode(png)
    assert(w === Ppm.W && h === Ppm.H && px.toSeq === rgb.toSeq)

    // a FOREIGN encoder's output: an independent chunk builder (its own
    // CRC32 calls) emitting each scanline under a different filter type
    // (0..4) — the decoder must reconstruct the identical image
    def be32(v: Int) = Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def mkChunk(tag: String, data: Array[Byte]) = {
      val t = tag.getBytes("US-ASCII")
      val crc = new CRC32; crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }
    val (fw, fh) = (4, 5)
    val img = Array.tabulate(3 * fw * fh)(i => ((i * 53 + 11) % 256).toByte)
    val bpp = 3
    val raw = new java.io.ByteArrayOutputStream
    for (y <- 0 until fh) {
      val f = y % 5 // filter type varies per scanline
      raw.write(f)
      for (x <- 0 until 3 * fw) {
        val cur = img(y * 3 * fw + x) & 0xff
        val a = if (x >= bpp) img(y * 3 * fw + x - bpp) & 0xff else 0
        val b = if (y > 0) img((y - 1) * 3 * fw + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) img((y - 1) * 3 * fw + x - bpp) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw.write((cur - pred) & 0xff)
      }
    }
    val defl = new Deflater
    defl.setInput(raw.toByteArray); defl.finish()
    val zout = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val ihdr = be32(fw) ++ be32(fh) ++ Array[Byte](8, 2, 0, 0, 0)
    val foreign = Png.Signature ++ mkChunk("IHDR", ihdr) ++
      mkChunk("IDAT", zout.toByteArray) ++ mkChunk("IEND", Array.emptyByteArray)
    val (gw, gh, gpx) = Png.decode(foreign)
    assert(gw === fw && gh === fh && gpx.toSeq === img.toSeq)

    // loud rejections: 16-bit depth, grayscale, interlace, bad CRC,
    // unknown critical chunk, truncation, non-PNG
    def variant(depth: Byte = 8, ctype: Byte = 2, inter: Byte = 0) =
      Png.Signature ++ mkChunk("IHDR",
        be32(fw) ++ be32(fh) ++ Array[Byte](depth, ctype, 0, 0, inter)) ++
        mkChunk("IDAT", zout.toByteArray) ++ mkChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException] { Png.decode(variant(depth = 16)) }
    intercept[IllegalArgumentException] { Png.decode(variant(ctype = 0)) }
    intercept[IllegalArgumentException] { Png.decode(variant(inter = 1)) }
    val corrupt = png.clone()
    corrupt(40) = (corrupt(40) ^ 0x5a).toByte // inside IDAT payload
    intercept[IllegalArgumentException] { Png.decode(corrupt) }
    val critical = Png.Signature ++ mkChunk("IHDR", ihdr) ++
      mkChunk("ABCD", Array[Byte](1, 2)) ++
      mkChunk("IDAT", zout.toByteArray) ++ mkChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException] { Png.decode(critical) }
    intercept[IllegalArgumentException] { Png.decode(png.take(30)) }
    intercept[IllegalArgumentException] {
      Png.decode("notapngfile!".getBytes("US-ASCII"))
    }
    // an ancillary chunk (lowercase first letter) skips cleanly
    val ancillary = Png.Signature ++ mkChunk("IHDR", ihdr) ++
      mkChunk("tEXt", "k v".getBytes("US-ASCII")) ++
      mkChunk("IDAT", zout.toByteArray) ++ mkChunk("IEND", Array.emptyByteArray)
    assert(Png.decode(ancillary)._3.toSeq === img.toSeq)
    // an IDAT that inflates BEYOND the declared dimensions is rejected,
    // not silently truncated: declare one row less than the data holds
    val shortIhdr = be32(fw) ++ be32(fh - 1) ++ Array[Byte](8, 2, 0, 0, 0)
    val overlong = Png.Signature ++ mkChunk("IHDR", shortIhdr) ++
      mkChunk("IDAT", zout.toByteArray) ++ mkChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException] { Png.decode(overlong) }
    // attacker-controlled dimensions cannot wrap the Int buffer math
    val hugeIhdr = be32(65536) ++ be32(65536) ++ Array[Byte](8, 2, 0, 0, 0)
    val huge = Png.Signature ++ mkChunk("IHDR", hugeIhdr) ++
      mkChunk("IDAT", zout.toByteArray) ++ mkChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException] { Png.decode(huge) }

    // the registered query: every row round-trips inside the size bound,
    // and the planted gradient row carries its closed-form sums
    val got = q("q_media_png").cache()
    assert(got.count() === Tables.documents(spark, sfDir).count() + 1)
    assert(got.filter(!$"roundtrip" || !$"size_ok").count() === 0)
    val planted = got.filter($"doc_id" === -1L).collect()(0)
    def closed(off: Int) =
      (0 until 4096).map(p => (21 * p + off) % 256).map(_.toLong).sum
    assert(planted.getAs[Long]("r_sum") === closed(13))
    assert(planted.getAs[Long]("g_sum") === closed(20))
    assert(planted.getAs[Long]("b_sum") === closed(27))
  }

  test("media jpeg: baseline codec — foreign encoders, restart markers, loud rejections") {
    import graft.ops.Multimodal.Jpeg
    import java.awt.image.BufferedImage
    import javax.imageio.{ImageIO, ImageWriteParam}

    // entropy coding is LOSSLESS: encode→decode must equal the direct
    // fdctQuant→dequant→idct pipeline bit-for-bit on a seeded image
    val rnd = new scala.util.Random(42)
    val img16 = Array.fill(16 * 16)(rnd.nextInt(256).toByte)
    val (w0, h0, nc0, px0) = Jpeg.decode(Jpeg.encodeGray(img16, 16, 16))
    assert(w0 === 16 && h0 === 16 && nc0 === 1)
    val direct = new Array[Byte](256)
    for (by <- 0 until 2; bx <- 0 until 2) {
      val s = Array.tabulate(64)(k =>
        (img16((by * 8 + k / 8) * 16 + bx * 8 + k % 8) & 0xff) - 128)
      val coef = Jpeg.fdctQuant(s)
      val deq = Array.tabulate(64)(k => coef(k).toLong * Jpeg.QNat(k))
      val pix = Jpeg.idctBlock(deq)
      for (k <- 0 until 64)
        direct((by * 8 + k / 8) * 16 + bx * 8 + k % 8) = pix(k).toByte
    }
    assert(px0.toSeq === direct.toSeq)

    // flat fields survive quantization EXACTLY (DC-only blocks); a
    // smooth gradient decodes close (quality-50 loss is bounded)
    val flat = Array.fill(24 * 16)(200.toByte)
    val (_, _, _, fpx) = Jpeg.decode(Jpeg.encodeGray(flat, 24, 16))
    assert(fpx.forall(b => (b & 0xff) === 200))
    val grad = Array.tabulate(32 * 32)(i => (((i % 32) * 4 + (i / 32) * 2) & 0xff).toByte)
    val (_, _, _, gpx) = Jpeg.decode(Jpeg.encodeGray(grad, 32, 32))
    val gerr = gpx.indices.map(i => math.abs((gpx(i) & 0xff) - (grad(i) & 0xff)))
    assert(gerr.max <= 12, s"gradient max err ${gerr.max}")

    // non-multiple-of-8 dims: edge-replicated pad blocks crop back out
    val odd = Array.tabulate(21 * 13)(i => ((i * 3 + 40) % 200).toByte)
    val (ow, oh, onc, _) = Jpeg.decode(Jpeg.encodeGray(odd, 21, 13))
    assert(ow === 21 && oh === 13 && onc === 1)

    // restart markers: DRI + RSTn round-trips to the identical pixels
    val plain = Jpeg.decode(Jpeg.encodeGray(img16, 16, 16))._4
    val rst = Jpeg.decode(Jpeg.encodeGray(img16, 16, 16, restartInterval = 1))._4
    assert(rst.toSeq === plain.toSeq)

    // FOREIGN encoder (javax.imageio): grayscale — my decode must agree
    // with ImageIO's own decode of the same bytes (IDCTs differ by ±2)
    def imWrite(img: BufferedImage, progressive: Boolean = false): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    val gimg = new BufferedImage(40, 24, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 24; x <- 0 until 40)
      gimg.getRaster.setSample(x, y, 0, (x * 4 + y * 3) % 256)
    val gbytes = imWrite(gimg)
    val (fw, fh, fnc, fpix) = Jpeg.decode(gbytes)
    assert(fw === 40 && fh === 24 && fnc === 1)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(gbytes))
    val gdiff = (for (y <- 0 until 24; x <- 0 until 40) yield
      math.abs((fpix(y * 40 + x) & 0xff) - ref.getRaster.getSample(x, y, 0))).max
    assert(gdiff <= 2, s"foreign grayscale max diff $gdiff")

    // FOREIGN color (ImageIO writes 4:2:0 YCbCr): smooth image, my
    // replicated upsampling vs ImageIO's fancy upsampling stays close
    val cimg = new BufferedImage(32, 32, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 32; x <- 0 until 32)
      cimg.setRGB(x, y, ((x * 6 + 32) << 16) | ((y * 5 + 40) << 8) | ((x + y) * 3 + 20))
    val cbytes = imWrite(cimg)
    val (cw, ch, cnc, cpix) = Jpeg.decode(cbytes)
    assert(cw === 32 && ch === 32 && cnc === 3)
    val cref = ImageIO.read(new java.io.ByteArrayInputStream(cbytes))
    val cdiff = (for (y <- 0 until 32; x <- 0 until 32; c <- 0 until 3) yield {
      val rgb = cref.getRGB(x, y)
      val refc = (rgb >> (16 - 8 * c)) & 0xff
      math.abs((cpix(3 * (y * 32 + x) + c) & 0xff) - refc)
    }).max
    assert(cdiff <= 24, s"foreign color max diff $cdiff")

    // the reverse direction: ImageIO decodes MY stream to the same
    // pixels my decoder produces (±2 for the IDCT difference)
    val mine = Jpeg.encodeGray(grad, 32, 32)
    val theirs = ImageIO.read(new java.io.ByteArrayInputStream(mine))
    assert(theirs.getWidth === 32 && theirs.getHeight === 32)
    val rdiff = (for (y <- 0 until 32; x <- 0 until 32) yield
      math.abs((gpx(y * 32 + x) & 0xff) - theirs.getRaster.getSample(x, y, 0))).max
    assert(rdiff <= 2, s"imageio-vs-mine max diff $rdiff")

    // loud rejection surface
    def msgOf(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException] { Jpeg.decode(bytes) }.getMessage
    assert(msgOf(imWrite(gimg, progressive = true)).contains("progressive"))
    assert(msgOf("notajpegfile".getBytes("US-ASCII")).contains("SOI"))
    assert(msgOf(mine.take(60)).contains("truncated"))
    // patch helpers: locate a marker segment in MY stream
    def findMarker(bytes: Array[Byte], m: Int): Int = {
      var i = 2
      while (!((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == m)) i += 1
      i
    }
    val sofAt = findMarker(mine, 0xc0)
    val p12 = mine.clone(); p12(sofAt + 4) = 12 // precision byte
    assert(msgOf(p12).contains("precision"))
    val cmyk = mine.clone(); cmyk(sofAt + 9) = 4 // Nf
    assert(msgOf(cmyk).contains("4-component"))
    val arith = mine.clone(); arith(sofAt + 1) = 0xc9.toByte
    assert(msgOf(arith).contains("arithmetic"))
    val lossless = mine.clone(); lossless(sofAt + 1) = 0xc3.toByte
    assert(msgOf(lossless).contains("lossless"))
    val huge = mine.clone()
    huge(sofAt + 5) = 0xff.toByte; huge(sofAt + 6) = 0xff.toByte // h = 65535
    huge(sofAt + 7) = 0xff.toByte; huge(sofAt + 8) = 0xff.toByte // w = 65535
    assert(msgOf(huge).contains("allocation budget"))
    // a second SOF after the first fails loudly instead of rebinding
    // frame state (ADVICE r14)
    val sofLen = ((mine(sofAt + 2) & 0xff) << 8) | (mine(sofAt + 3) & 0xff)
    val dupSof = mine.slice(0, sofAt + 2 + sofLen) ++
      mine.slice(sofAt, mine.length)
    assert(msgOf(dupSof).contains("duplicate SOF"))
    val dqtAt = findMarker(mine, 0xdb)
    val q16 = mine.clone(); q16(dqtAt + 4) = 0x10 // pq = 1 (16-bit)
    assert(msgOf(q16).contains("16-bit"))
    val qz = mine.clone(); qz(dqtAt + 5) = 0 // zero DC quant entry
    assert(msgOf(qz).contains("zero quantization"))

    // the registered query: every row decodes inside the contract, and
    // the planted gradient row matches a local recompute
    val got = q("q_media_jpeg").cache()
    assert(got.count() === Tables.documents(spark, sfDir).count() + 1)
    assert(got.filter(!$"ok" || !$"size_ok").count() === 0)
    val planted16 = Array.tabulate(256)(i => ((i * 7 + 13) % 256).toByte)
    val pj = Jpeg.decode(Jpeg.encodeGray(planted16, 16, 16))._4
    val prow = got.filter($"doc_id" === -1L).collect()(0)
    assert(prow.getAs[Long]("pix_sum") === pj.map(b => (b & 0xff).toLong).sum)
    assert(prow.getAs[Long]("abs_err") ===
      pj.indices.map(i => math.abs((pj(i) & 0xff) - (planted16(i) & 0xff)).toLong).sum)

    // MJPEG: the concatenated-JFIF stream walk — frames of DIFFERENT
    // sizes decode in order, each bit-identical to its solo decode
    val fA = Array.tabulate(256)(i => ((i * 3 + 7) % 256).toByte)
    val fB = Array.tabulate(24 * 16)(i => ((i * 5 + 1) % 256).toByte)
    val stream = Jpeg.Mjpeg.encode(Seq((fA, 16, 16), (fB, 24, 16), (fA, 16, 16)))
    val fr = Jpeg.Mjpeg.decode(stream)
    assert(fr.map(f => (f._1, f._2, f._3)) === Vector((16, 16, 1), (24, 16, 1), (16, 16, 1)))
    assert(fr(0)._4.toSeq === Jpeg.decode(Jpeg.encodeGray(fA, 16, 16))._4.toSeq)
    assert(fr(1)._4.toSeq === Jpeg.decode(Jpeg.encodeGray(fB, 24, 16))._4.toSeq)
    assert(fr(2)._4.toSeq === fr(0)._4.toSeq)
    // garbage between frames and empty streams reject loudly
    intercept[IllegalArgumentException] {
      Jpeg.Mjpeg.decode(Jpeg.encodeGray(fA, 16, 16) ++ "junk".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { Jpeg.Mjpeg.decode(Array.emptyByteArray) }
    // the registered query: contract booleans + the planted motion row
    // (a one-pixel cyclic shift of a gradient has small per-pixel
    // motion everywhere except the wrap seam)
    val gotV = q("q_media_mjpeg").cache()
    assert(gotV.count() === Tables.documents(spark, sfDir).count() + 1)
    assert(gotV.filter(!$"ok" || !$"size_ok").count() === 0)
    val vrow = gotV.filter($"doc_id" === -1L).collect()(0)
    assert(vrow.getAs[Int]("n_frames") === 2)
    assert(vrow.getAs[Long]("motion_abs") > 0L,
      "the planted shift must register as motion")
  }

  test("media jpeg color: 4:2:0 encoder — round-trip, ImageIO cross-check, odd dims") {
    import graft.ops.Multimodal.Jpeg
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO

    // self round-trip on a smooth RGB gradient: dims and component
    // count exact, pixels close (chroma is 2×2-subsampled, so color
    // gradients carry more loss than the grayscale codec)
    val w = 32; val h = 24
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      rgb(3 * (y * w + x)) = ((x * 6 + 32) & 0xff).toByte
      rgb(3 * (y * w + x) + 1) = ((y * 5 + 40) & 0xff).toByte
      rgb(3 * (y * w + x) + 2) = (((x + y) * 3 + 20) & 0xff).toByte
    }
    val jpg = Jpeg.encodeColor(rgb, w, h)
    val (dw, dh, nc, px) = Jpeg.decode(jpg)
    assert(dw === w && dh === h && nc === 3)
    val rerr = px.indices.map(i => math.abs((px(i) & 0xff) - (rgb(i) & 0xff)))
    assert(rerr.max <= 30, s"color round-trip max err ${rerr.max}")

    // FOREIGN decoder: ImageIO reads MY color stream close to my own
    // decode (its interpolating chroma upsampling vs my replicated —
    // the same ±24 dialect bound the foreign-color decode test pins)
    val theirs = ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(theirs.getWidth === w && theirs.getHeight === h)
    val xdiff = (for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) yield {
      val refc = (theirs.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      math.abs((px(3 * (y * w + x) + c) & 0xff) - refc)
    }).max
    assert(xdiff <= 24, s"imageio-vs-mine color max diff $xdiff")

    // odd (non-MCU-multiple) dims crop back out; a flat color decodes
    // flat and lands near the source triple
    val flat = new Array[Byte](3 * 21 * 13)
    for (i <- 0 until 21 * 13) {
      flat(3 * i) = 120.toByte; flat(3 * i + 1) = 60.toByte
      flat(3 * i + 2) = 200.toByte
    }
    val (ow, oh, onc, opx) = Jpeg.decode(Jpeg.encodeColor(flat, 21, 13))
    assert(ow === 21 && oh === 13 && onc === 3)
    assert((0 until 21 * 13).forall(i => opx(3 * i) == opx(0) &&
      opx(3 * i + 1) == opx(1) && opx(3 * i + 2) == opx(2)),
      "flat color must decode flat")
    assert(math.abs((opx(0) & 0xff) - 120) <= 4 &&
      math.abs((opx(1) & 0xff) - 60) <= 4 &&
      math.abs((opx(2) & 0xff) - 200) <= 4,
      s"flat triple decoded to (${opx(0) & 0xff}, ${opx(1) & 0xff}, ${opx(2) & 0xff})")

    // payload contract
    intercept[IllegalArgumentException] {
      Jpeg.encodeColor(new Array[Byte](10), 2, 2)
    }

    // the registered query: every row inside the contract; the planted
    // gradient row matches a local recompute of the full pipeline
    val got = q("q_media_jpeg_color").cache()
    assert(got.count() === Tables.documents(spark, sfDir).count() + 1)
    assert(got.filter(!$"ok" || !$"size_ok").count() === 0)
    val planted = Array.tabulate(768)(i => ((i * 7 + 13) % 256).toByte)
    val pj = Jpeg.decode(Jpeg.encodeColor(planted, 16, 16))._4
    val prow = got.filter($"doc_id" === -1L).collect()(0)
    assert(prow.getAs[Long]("pix_sum") === pj.map(b => (b & 0xff).toLong).sum)
    assert(prow.getAs[Long]("abs_err") ===
      pj.indices.map(i => math.abs((pj(i) & 0xff) - (planted(i) & 0xff)).toLong).sum)
    got.unpersist()
  }

  test("media mulaw/adpcm: real lossy audio codecs — foreign ULAW cross-check, stateful fold, rejections") {
    import graft.ops.Multimodal.{Adpcm, Mulaw, Wav}
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}

    // a sample set covering the G.711-defined domain |s| ≤ 32635: the
    // JDK's ULAW encoder WRAPS past the clip point (32636 encodes as
    // +0 — a short-overflow quirk of the sun codec) where the standard
    // clips; the cross-check runs where both agree the math, and the
    // clip law is pinned separately below
    val n = 512
    val samples = Array.tabulate(n)(k =>
      math.max(-32635, math.min(32635,
        ((k * 1237L + 11) % 65536) - 32768)).toShort)

    // FOREIGN codec, direction 1: the JDK's independent G.711 encoder
    // must produce the identical μ-law bytes
    val pcm = new Array[Byte](2 * n)
    for (k <- 0 until n) {
      pcm(2 * k) = (samples(k) & 0xff).toByte
      pcm(2 * k + 1) = ((samples(k) >> 8) & 0xff).toByte
    }
    val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val javaCodes = AudioSystem.getAudioInputStream(ulawFmt,
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), pcmFmt, n))
      .readAllBytes()
    assert(javaCodes.length === n)
    val myCodes = samples.map(Mulaw.encode)
    assert(myCodes.toSeq === javaCodes.toSeq,
      "CCITT bias-132 encode must match the JDK ULAW codec byte-for-byte")
    // direction 2: the JDK decodes MY μ-law stream to the same PCM my
    // decoder produces
    val back = AudioSystem.getAudioInputStream(pcmFmt,
      new AudioInputStream(new java.io.ByteArrayInputStream(myCodes),
        ulawFmt, n)).readAllBytes()
    for (k <- 0 until n) {
      val jv = ((back(2 * k) & 0xff) | (back(2 * k + 1) << 8)).toShort
      assert(jv === Mulaw.decode(myCodes(k)), s"sample $k decode mismatch")
    }
    // the G.711 clip law (where the JDK wraps instead): everything at
    // or beyond the clip point encodes like the clip point
    assert(Mulaw.encode(32767.toShort) === Mulaw.encode(32635.toShort))
    assert(Mulaw.encode((-32768).toShort) === Mulaw.encode((-32635).toShort))
    // μ-law container round-trip + the codec-law error bound: the top
    // segment's quantization step is 2^10 = 1024
    val (mr, mdec) = Mulaw.decodeWav(Mulaw.encodeWav(samples, 8000))
    assert(mr === 8000 && mdec.length === n)
    assert(mdec.indices.map(k => math.abs(mdec(k) - samples(k))).max <= 1024)

    // ADPCM: deterministic round-trip through the fmt-0x11 container;
    // the state machine TRACKS a slowly-varying signal (error bounded
    // by the adapted step size after attack)
    // triangle wave, slope ±40/sample — no cliffs, so the adapted step
    // stays near the slope and the error near the step size
    val smooth = Array.tabulate(n) { k =>
      val ph = k % 200
      (40 * (if (ph < 100) ph else 200 - ph)).toShort
    }
    val (ar, adec) = Adpcm.decodeWav(Adpcm.encodeWav(smooth, 8000))
    assert(ar === 8000 && adec.length === n)
    val tail = (n / 4 until n).map(k => math.abs(adec(k) - smooth(k)))
    assert(tail.max <= 256, s"ADPCM must track the smooth signal, err ${tail.max}")
    val again = Adpcm.decodeWav(Adpcm.encodeWav(smooth, 8000))._2
    assert(again.toSeq === adec.toSeq, "codec is deterministic")

    // cross rejections: each container parser rejects the other's fmt
    intercept[IllegalArgumentException] {
      Adpcm.decodeWav(Wav.encode(samples, 8000))
    }
    intercept[IllegalArgumentException] {
      Wav.decode(Adpcm.encodeWav(samples, 8000))
    }
    intercept[IllegalArgumentException] {
      Mulaw.decodeWav(Adpcm.encodeWav(samples, 8000))
    }
    intercept[IllegalArgumentException] {
      Wav.decode(Mulaw.encodeWav(samples, 8000))
    }
    intercept[IllegalArgumentException] {
      Mulaw.decodeWav(Wav.encode(samples, 8000))
    }
    intercept[IllegalArgumentException] {
      Adpcm.decodeWav(Mulaw.encodeWav(samples, 8000))
    }
    // the samples-per-block field is u16: 65 536 samples would wrap it
    // to 0 and decode as an empty block, so the encoder refuses them,
    // and the largest even count round-trips at full length
    intercept[IllegalArgumentException] {
      Adpcm.encodeWav(new Array[Short](65536), 8000)
    }
    val longest = Array.tabulate(65534)(k => ((k % 400) * 20 - 4000).toShort)
    assert(Adpcm.decodeWav(Adpcm.encodeWav(longest, 8000))._2.length === 65534)
    // corrupt step index in the ADPCM block header
    val ima = Adpcm.encodeWav(samples, 8000)
    val bad = ima.clone()
    bad(48 + 2) = 99.toByte // idx byte of the block header
    intercept[IllegalArgumentException] { Adpcm.decodeWav(bad) }
    intercept[IllegalArgumentException] { Adpcm.decodeWav(ima.take(60)) }
    // an ODD declared sample count would walk the nibble loop past the
    // output array — rejected at the header, not an array crash
    val odd = ima.clone()
    odd(38) = ((n - 1) & 0xff).toByte // samplesPerBlock low byte
    odd(39) = (((n - 1) >> 8) & 0xff).toByte
    val oddErr = intercept[IllegalArgumentException] { Adpcm.decodeWav(odd) }
    assert(oddErr.getMessage.contains("odd sample count"))

    // the registered queries: contract booleans hold on every row, and
    // the μ-law codec-law bound holds corpus-wide
    val mu = q("q_media_mulaw").cache()
    assert(mu.count() === Tables.documents(spark, sfDir).count())
    assert(mu.filter(!$"ok" || !$"size_ok").count() === 0)
    assert(mu.agg(max($"max_err")).collect()(0).getInt(0) <= 1024)
    val ad = q("q_media_adpcm").cache()
    assert(ad.count() === Tables.documents(spark, sfDir).count())
    assert(ad.filter(!$"ok" || !$"size_ok").count() === 0)
  }

  test("media mdct: perceptual-transform codec — TDAC reconstruction, tonal compaction, container walk, rejections") {
    import graft.ops.Multimodal.{Mdct, Wav}

    // TDAC survives the staged-integer arithmetic: with quantization
    // BYPASSED (dequantized = raw MDCT coefficients), window + MDCT +
    // IMDCT + window + overlap-add reconstructs 16-bit audio within
    // ±5 — the Princen-Bradley identity is the codec's foundation and
    // the substitute for a foreign decoder (no JDK MDCT codec exists)
    val src = Array.tabulate(256)(k =>
      (((k * 1237L + 11) % 65536) - 32768).toShort)
    val recon = new Array[Long](256)
    for (f <- 0 to 8) {
      val x = Array.tabulate(64) { n =>
        val g = 32 * (f - 1) + n
        if (g >= 0 && g < 256) src(g).toInt else 0
      }
      val y = Mdct.imdctFrame(Mdct.mdctFrame(x))
      for (n <- 0 until 64) {
        val g = 32 * (f - 1) + n
        if (g >= 0 && g < 256) recon(g) += y(n)
      }
    }
    val prErr = (0 until 256).map(g => math.abs(recon(g) - src(g))).max
    assert(prErr <= 5, s"TDAC reconstruction error $prErr")

    // tonal energy compaction: a pure bin-5 cosine concentrates into
    // coefficient 5 (the transform actually analyzes frequency)
    val tone = Array.tabulate(64)(n =>
      (10000 * math.cos(math.Pi / 32 * (n + 0.5 + 16) * 5.5)).toInt)
    val spec = Mdct.mdctFrame(tone)
    val kmax = spec.indices.maxBy(k => math.abs(spec(k)))
    assert(kmax === 5, s"tone concentrated at bin $kmax")
    val second = spec.indices.filter(_ != 5).map(k => math.abs(spec(k))).max
    assert(math.abs(spec(5)) > 5 * second,
      s"compaction ratio ${math.abs(spec(5))} vs $second")

    // encode→decode: frame count, sample count, size exactness (the
    // fixed allocation is byte-exact: 9 × (4 + 29) = 297 B for 512
    // raw), and the quantization error stays inside the largest step
    val stream = Mdct.encode(src)
    assert(stream.length === 297)
    val (nf, dec) = Mdct.decode(stream)
    assert(nf === 9 && dec.length === 256)
    val qErr = (0 until 256).map(g => math.abs(dec(g) - src(g))).max
    assert(qErr > 0, "quantization must be lossy on white noise")
    assert(qErr <= 65536, s"decode error $qErr beyond the coarsest step")

    // container rejections: bad sync, truncated payload, wrong frame
    // length for the fixed allocation, single-frame streams
    def msgOf(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException] { Mdct.decode(bytes) }.getMessage
    val badSync = stream.clone(); badSync(0) = 0x12
    assert(msgOf(badSync).contains("sync"))
    assert(msgOf(stream.take(20)).contains("truncated"))
    val badLen = stream.clone(); badLen(3) = 99
    assert(msgOf(badLen).contains("fixed allocation"))
    assert(msgOf(stream.take(33)).contains("too short"))
    intercept[IllegalArgumentException] { Mdct.encode(new Array[Short](33)) }

    // the registered query: every row inside the contract, and one
    // row matches a local recompute end to end
    val got = q("q_media_mdct").cache()
    assert(got.count() === Tables.documents(spark, sfDir).count())
    assert(got.filter(!$"ok" || !$"size_ok").count() === 0)
    val doc0 = Tables.documents(spark, sfDir)
      .filter($"doc_id" === 0L).select("text").collect()(0).getString(0)
    val s0 = Wav.tileSamples(doc0.getBytes("UTF-8")).take(256)
    val (_, d0) = Mdct.decode(Mdct.encode(s0))
    val row0 = got.filter($"doc_id" === 0L).collect()(0)
    assert(row0.getAs[Long]("energy_dec") ===
      d0.map(v => v.toLong * v).sum)
    assert(row0.getAs[Long]("abs_err") ===
      (0 until 256).map(k => math.abs(d0(k) - s0(k)).toLong).sum)
    got.unpersist()
  }

  test("media pframe: inter-frame codec — MC finds planted motion, static frames near-free, chained refs, rejections") {
    import graft.ops.Multimodal.Jpeg

    // pure translation within the search range: a smooth gradient
    // shifted by (1,1) must be found by the full search — every
    // block's MV is exactly (1,1) and the interior predicts perfectly
    val w = 16; val h = 16
    val f1 = Array.tabulate(w * h)(i => ((i / 16) * 9 + (i % 16) * 5).toByte)
    val f2 = Array.tabulate(w * h) { i =>
      val y = i / 16; val x = i % 16
      val sy = math.min(15, y + 1); val sx = math.min(15, x + 1)
      f1(sy * 16 + sx)
    }
    val st = Jpeg.Pvid.encode(f1, Seq(f2), w, h)
    val (dw, dh, fr, mvAbs) = Jpeg.Pvid.decode(st)
    assert((dw, dh, fr.length) === ((16, 16, 2)))
    assert(mvAbs === 8L, "4 blocks x (|1|+|1|): the planted translation")
    // reconstruction error bounded by the residual quantizer (Q50)
    val err2 = (0 until 256).map(i => math.abs(fr(1)(i) - (f2(i) & 0xff)))
    assert(err2.max <= 40, s"P-frame reconstruction err ${err2.max}")

    // a STATIC P frame costs almost nothing: when the incoming frame
    // equals the reference (the decoded I-frame — against the RAW
    // source the lossy intra recon makes SAD(0,0) nonzero and MC may
    // legitimately prefer another offset), the search locks (0,0),
    // the residual is all-zero, and the payload collapses to per-
    // block DC-0 + EOB — the whole point of inter coding vs MJPEG
    val intra = Jpeg.encodeGray(f1, w, h)
    val iRec = Jpeg.decode(intra)._4.map(_ & 0xff)
    val stStatic = Jpeg.Pvid.encode(f1, Seq(iRec.map(_.toByte)), w, h)
    val pPayload = stStatic.length - (9 + 4 + intra.length)
    assert(pPayload < intra.length / 4,
      s"static P frame ($pPayload B) must be far below intra (${intra.length} B)")
    val (_, _, frS, mvS) = Jpeg.Pvid.decode(stStatic)
    assert(mvS === 0L)
    assert(frS(1).toSeq === frS(0).toSeq)
    assert(frS(0).toSeq === iRec.toSeq)

    // three frames chain: frame 3 predicts from frame 2's RECON, and
    // each reconstruction stays within the quantizer bound of source
    val f3 = Array.tabulate(w * h)(i => math.min(255, (f2(i) & 0xff) + 3).toByte)
    val (_, _, fr3, _) = Jpeg.Pvid.decode(
      Jpeg.Pvid.encode(f1, Seq(f2, f3), w, h))
    assert(fr3.length === 3)
    assert((0 until 256).map(i => math.abs(fr3(2)(i) - (f3(i) & 0xff))).max <= 40)

    // loud rejections: bad magic, truncated stream, MV outside the
    // declared search range, trailing garbage
    def msgOf(b: Array[Byte]): String =
      intercept[IllegalArgumentException] { Jpeg.Pvid.decode(b) }.getMessage
    assert(msgOf("XXXX".getBytes("US-ASCII") ++ st.drop(4)).contains("magic"))
    assert(msgOf(st.take(20)).contains("overruns"))
    assert(msgOf(st ++ Array[Byte](1)).contains("trailing"))
    val mvPatched = st.clone()
    val mvPos = 9 + 4 + Jpeg.encodeGray(f1, w, h).length + 4
    mvPatched(mvPos) = 5 // dy = 5 > SearchR
    assert(msgOf(mvPatched).contains("search range"))
    // a crafted P frame over a 64×64 intra frame: zero motion vectors,
    // every block DC category 11 with value +2047 (code 111111110, then
    // eleven 1-bits), then EOB (1010) — 24 bits, bytes FF 7F FA with
    // the FF stuffed. The DC predictor climbs by 2047 per block, so the
    // dequantized DC passes the 2^19 bound the staged IDCT relies on
    val big = Jpeg.encodeGray(Array.tabulate(64 * 64)(i => (i % 256).toByte), 64, 64)
    def be32(v: Int) = Array(v >>> 24, v >>> 16, v >>> 8, v).map(_.toByte)
    val pBody = new Array[Byte](2 * 64) ++
      Array.fill(64)(Array(0xff, 0x00, 0x7f, 0xfa).map(_.toByte)).flatten
    val crafted = "GPV1".getBytes("US-ASCII") ++ Array[Byte](0, 64, 0, 64, 2) ++
      be32(big.length) ++ big ++ be32(pBody.length) ++ pBody
    assert(msgOf(crafted).contains("coefficient magnitude"))

    // the registered query: contract booleans + the planted row finds
    // the 17-position cyclic shift as (1,1) motion in all 4 blocks
    val got = q("q_media_pframe").cache()
    assert(got.count() === Tables.documents(spark, sfDir).count() + 1)
    assert(got.filter(!$"ok" || !$"size_ok").count() === 0)
    val prow = got.filter($"doc_id" === -1L).collect()(0)
    assert(prow.getAs[Int]("n_frames") === 2)
    // local recompute of the planted row: same tile, same f2 rule
    val pf1 = Array.tabulate(256)(i => ((i * 7 + 13) % 256).toByte)
    val pf2 = Array.tabulate(256)(i =>
      math.min(255, (pf1((i + 17) % 256) & 0xff) + 5).toByte)
    val (_, _, pfr, pmv) = Jpeg.Pvid.decode(Jpeg.Pvid.encode(pf1, Seq(pf2), w, h))
    assert(prow.getAs[Long]("mv_abs") === pmv)
    assert(prow.getAs[Long]("pix_sum") === pfr(1).map(_.toLong).sum)
    assert(pmv >= 8L && pmv <= 16L,
      "the planted raster shift reads mostly as (1,1) motion")
    got.unpersist()
  }

  test("media encoders: golden bytes on fixed inputs") {
    import graft.ops.Multimodal.{Adpcm, Jpeg, Mdct, Mulaw, Ppm, Wav}
    // the round-trip tests pass for any self-consistent container; these
    // digests pin the exact bytes each encoder emits (PNG is left out:
    // its IDAT is whatever the JDK's Deflater produces)
    def md5(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    def img(n: Int, a: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i * a + (i * i) % 29) % 256).toByte)
    val pcm = Array.tabulate(256)(k => (((k * 1237L + 11) % 65536) - 32768).toShort)
    val f1 = img(256, 7)
    val f2 = Array.tabulate(256)(i => math.min(255, (f1((i + 17) % 256) & 0xff) + 5).toByte)
    val f3 = Array.tabulate(256)(i => math.min(255, (f2(i) & 0xff) + 3).toByte)
    val got = Seq(
      "ppm_p5" -> md5(Ppm.encode(img(21 * 13, 5), 21, 13)),
      "ppm_p6" -> md5(Ppm.encodeP6(img(3 * 21 * 13, 5), 21, 13)),
      "wav_pcm16" -> md5(Wav.encode(pcm, 8000)),
      "wav_mulaw" -> md5(Mulaw.encodeWav(pcm, 8000)),
      "wav_adpcm" -> md5(Adpcm.encodeWav(pcm, 8000)),
      "jpeg_gray" -> md5(Jpeg.encodeGray(img(21 * 13, 11), 21, 13)),
      "jpeg_gray_rst" -> md5(Jpeg.encodeGray(img(21 * 13, 11), 21, 13, restartInterval = 2)),
      "jpeg_color" -> md5(Jpeg.encodeColor(img(3 * 16 * 16, 3), 16, 16)),
      "jpeg_color_odd" -> md5(Jpeg.encodeColor(img(3 * 21 * 13, 3), 21, 13)),
      "mjpeg" -> md5(Jpeg.Mjpeg.encode(Seq((f1, 16, 16), (img(24 * 16, 13), 24, 16)))),
      "pvid" -> md5(Jpeg.Pvid.encode(f1, Seq(f2, f3), 16, 16)),
      "mdct" -> md5(Mdct.encode(pcm)))
    assert(got.toMap === Map(
      "ppm_p5" -> "53d57935cb4770ebc2b638114b9f147a",
      "ppm_p6" -> "9b959d0a4f0a3f75e126cfd040774e3a",
      "wav_pcm16" -> "6a962b7690996d75db14a83742bd4f90",
      "wav_mulaw" -> "5b0aa0a2478df957a2118c023a13cf80",
      "wav_adpcm" -> "e934bde18c5e4015acd91503d097cb21",
      "jpeg_gray" -> "39bf4774a5a47ef816430241195c793e",
      "jpeg_gray_rst" -> "3e78c653398744fcd4f7baa056bde79c",
      "jpeg_color" -> "3c5545b9150d1f250e63405a0e631998",
      "jpeg_color_odd" -> "f725ab06c81c63b95f9f0aaae2551160",
      "mjpeg" -> "dce6d83d0afb9fcb0f5aac4781740dc0",
      "pvid" -> "39af05a026f75bb8e22fcc668b397b43",
      "mdct" -> "9df89dd1fdcb1e1e1c1ad3fbf40d9bde"))
  }

  test("full outer join keeps customers with no orders as zero rows") {
    val r = q("q_join_full").cache()
    assert(r.count() === Tables.customer(spark, sfDir).count(),
      "TPC-H orders reference existing customers, so rows = customers")
    val without = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        $"c_custkey" === $"o_custkey", "left_anti").count()
    assert(r.filter($"n_orders" === 0).count() === without)
    assert(r.filter($"n_orders" === 0 && $"spend" =!= 0.0).count() === 0)
  }

  test("unpivot melts each row into one row per measure") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sfDir)
    val r = q("q_unpivot").cache()
    assert(r.count() === li.count() * 3)
    val qty = r.filter(col("measure") === "quantity")
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double"))
      .collect()(0).getDouble(0)
    val direct = li.agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"))
      .collect()(0).getDouble(0)
    assert(qty === direct, "melted values must conserve the column total")
  }
  test("window_dist: exact rank ratios and whole-frame nth_value") {
    val got = q("q_window_dist").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
    // recompute one partition's ratios directly: unique order keys mean
    // pct = (rn-1)/(n-1) and cd = rn/n exactly
    val ev = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select("event_id", "value").collect()
      .map(r => (r.getDouble(1), r.getLong(0))).sorted.map(_._2)
    val n = ev.length.toDouble
    val pos = ev.zipWithIndex.toMap
    got.filter(_.getString(0) == "click").foreach { r =>
      val rn = pos(r.getLong(1)) + 1
      assert(r.getDouble(3) === (rn - 1) / (n - 1.0), s"pct at $rn")
      assert(r.getDouble(4) === rn / n, s"cd at $rn")
      // whole-frame nth_value: the 3rd event in the frozen order,
      // visible from EVERY row of the partition
      assert(r.getLong(5) === ev(2), "third_id is frame-wide")
    }
  }
}
