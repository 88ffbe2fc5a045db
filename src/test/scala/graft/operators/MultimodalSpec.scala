package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.ShardTempRoot

class MultimodalSpec extends ShardTempRoot {
  import Multimodal._

  test("typed mapPartitions decode plumbing matches the column twin") {
    import spark.implicits._
    val t = tables
    val media = mediaTable(t)
      .as[(Long, Array[Byte])]

    val typed = decodeDataset(media)
      .map { case (id, m) => (id, m.byteLen, m.width, m.height, m.nFrames, m.fmt) }
      .toDF("doc_id", "byte_len", "width", "height", "n_frames", "fmt")

    val cols = mmDecodeMeta(t)
    val diff = typed.exceptAll(cols).count() + cols.exceptAll(typed).count()
    assert(diff == 0, s"typed and column decode disagree on $diff rows")
  }

  test("decode is map-only (no shuffle in the plan)") {
    val plan = mmDecodeMeta(tables).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("audio decode is map-only and reads back the generator's fields") {
    val meta = mmAudioMeta(tables)
    val plan = meta.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // every payload is a well-formed WAV: the RIFF sniff must hold and
    // the parsed fields stay inside the generator's palettes
    val bad = meta.filter(
      !col("channels").isin(1, 2) ||
      !col("sample_rate").isin(8000L, 16000L, 22050L, 44100L) ||
      !col("bits_per_sample").isin(8, 16) ||
      col("byte_len") =!= col("data_len") + 44 ||
      col("duration_us") <= 0)
    assert(bad.count() == 0)
  }

  test("video box walk is map-only and reads back the generator's mvhd fields") {
    val meta = mmVideoMeta(tables)
    val plan = meta.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // every payload is a well-formed ISO-BMFF chain: the ftyp sniff
    // and the dynamic box walk must hold, and the parsed fields stay
    // inside the generator's palettes
    val bad = meta.filter(
      col("brand") =!= "isom" ||
      !col("timescale").isin(600L, 1000L, 30000L, 90000L) ||
      !col("n_tracks").isin(1, 2, 3) ||
      col("byte_len") =!= col("data_len") + 144 ||
      col("duration_ticks") <= col("timescale") * 0 ||  // > 0
      col("duration_ms") < 1000L || col("duration_ms") >= 31000L)
    assert(bad.count() == 0)
    // duration_ms is the exact integer floor of ticks*1000/timescale
    val badMs = meta.filter(
      col("duration_ms") =!= floor(col("duration_ticks") * lit(1000L) / col("timescale")).cast("long"))
    assert(badMs.count() == 0)
  }

  test("frame sampling emits every 5th frame below n_frames") {
    val t = tables
    val joined = mmFrameSample(t).groupBy("doc_id")
      .agg(max("frame_idx").as("max_idx"), count(lit(1)).as("n_samples"))
      .join(mmDecodeMeta(t).select(col("doc_id"), col("n_frames")), "doc_id")
    val bad = joined.filter(
      col("max_idx") >= col("n_frames") ||
      col("n_samples") =!= ceil(col("n_frames") / 5.0).cast("long"))
    assert(bad.count() == 0)
  }

  test("scene cuts replay naively: charset Jaccard, islands partition the frames") {
    val w = 32
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, body) =>
      val frames = (0 until body.length / w)
        .map(i => body.substring(i * w, i * w + w).toSet)
      val cuts = frames.zipWithIndex.map { case (cs, i) =>
        if (i == 0) 1
        else {
          val prev = frames(i - 1)
          if ((cs & prev).size * 2 < (cs | prev).size) 1 else 0
        }
      }
      val sceneIdx = cuts.scanLeft(0)(_ + _).tail
      frames.indices.groupBy(sceneIdx(_)).map { case (s, idxs) =>
        (id, s.toLong, idxs.min.toLong, idxs.size.toLong)
      }
    }.toSet
    val actual = mmVideoSceneCut(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(actual == expected)
    // segmentation is non-degenerate: some payload has >1 scene and
    // some scene spans >1 frame (cuts neither fire always nor never)
    assert(expected.exists(_._2 > 1), "every payload is one scene")
    assert(expected.exists(_._4 > 1), "every frame is its own scene")
    // islands partition each payload's frame range exactly
    docs.foreach { case (id, body) =>
      val n = body.length / w
      // iterator: a Set.map would collapse equal scene lengths
      val lens = expected.iterator.filter(_._1 == id).map(_._4).sum
      assert(lens == n.toLong, s"doc $id scenes cover $lens of $n frames")
    }
  }

  test("integrity audit flags exactly the injected truncations") {
    def md5hex(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val injected = docs.filter { case (_, txt) =>
      md5hex(txt.getBytes("UTF-8")).charAt(12) == '0' }.map(_._1).toSet
    val got = Multimodal.mmIntegrityAudit(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got.keySet == docs.map(_._1).toSet)
    // parsed-from-bytes verdicts recover exactly the injected set
    assert(got.filter(_._2._5).keySet == injected,
      s"flag drift: ${(got.filter(_._2._5).keySet -- injected).take(3)}")
    // on a corrupted payload BOTH size fields disagree; magic survives
    // (truncation eats body bytes, never the 44-byte header)
    assert(got.values.forall { case (_, magic, riff, data, fl) =>
      magic && (riff == data) && (fl == !riff) })
    assert(injected.nonEmpty, "no injected corruption at spec SF — vacuous")
    // clean payloads carry internally consistent sizes: length checks
    val bytes = docs.toMap
    got.foreach { case (id, (bl, _, riff, _, _)) =>
      val expected = bytes(id).getBytes("UTF-8").length + 44 -
        (if (injected(id)) 4 else 0)
      assert(bl == expected.toLong, s"doc $id byte_len $bl != $expected")
    }
  }

  test("phash pairs equal a naive all-pairs hash replay (banding is complete)") {
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.length >= 64)
    def hash(body: String): (Long, Long) = {
      val len = body.length
      val sums = new Array[Long](64)
      body.zipWithIndex.foreach { case (c, j0) =>
        sums((j0 * 64 / len).toInt) += c.toInt.toLong
      }
      val total = sums.sum
      var w0 = 0L; var w1 = 0L
      (0 until 64).foreach { cell =>
        if (sums(cell) * 64 > total) {
          if (cell < 32) w0 |= 1L << cell else w1 |= 1L << (cell - 32)
        }
      }
      (w0, w1)
    }
    val hs = docs.map { case (id, b) => id -> hash(b) }
    val expected = (for {
      (ia, (a0, a1)) <- hs; (ib, (b0, b1)) <- hs if ia < ib
      d = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
      if d <= 7
    } yield (ia, ib, d)).toSet
    val got = Multimodal.mmPhashPairs(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // equality against the ALL-PAIRS replay proves the 8-band
    // candidate generation loses nothing at the threshold (pigeonhole)
    assert(got == expected,
      s"phash drift: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "no near-dup media at spec SF — vacuous")
    assert(expected.size < docs.length * (docs.length - 1) / 2,
      "every pair matches — the hash discriminates nothing")
  }

  test("audio VAD replays naively: char-code energy, mean gate, islands") {
    val w = 16
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.length >= w)
    val expected = docs.map { case (id, body) =>
      val energies = (0 until body.length / w)
        .map(i => body.substring(i * w, i * w + w).map(_.toInt.toLong).sum)
      val nw = energies.size.toLong
      val te = energies.sum
      val active = energies.zipWithIndex
        .filter { case (e, _) => e * nw > te }.map(_._2)
      // islands: consecutive active indices form one segment
      val segs = active.foldLeft(List.empty[List[Int]]) {
        case (h :: t, i) if h.head == i - 1 => (i :: h) :: t
        case (acc, i) => List(i) :: acc
      }
      (id, nw, active.size.toLong, segs.size.toLong,
        if (segs.isEmpty) 0L else segs.map(_.size).max.toLong)
    }.toSet
    val actual = Multimodal.mmAudioVad(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(actual == expected,
      s"VAD mismatch: ${(actual -- expected).take(3)} vs ${(expected -- actual).take(3)}")
    // the gate must discriminate (some frames above the mean, never
    // all), and some payload must carry >1 segment
    assert(expected.forall { case (_, nw, na, _, _) => na > 0 && na < nw })
    assert(expected.exists(_._4 > 1), "no payload has multiple segments")
  }

  test("token budget replays the tiling arithmetic from decoded headers") {
    val meta = Multimodal.mmDecodeMeta(tables).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getString(5))) // doc_id, width, height, n_frames, fmt
    val expected = meta.map { case (id, w, h, nf, fmt) =>
      val mx = math.max(w, h).toDouble
      val scale = math.min(1.0, 224.0 / mx)
      val tw = math.floor(w * scale).toInt
      val th = math.floor(h * scale).toInt
      val tx = (tw + 15) / 16; val ty = (th + 15) / 16
      val fs = (nf - 1) / 5 + 1
      (id, fmt, tx, ty, fs, tx.toLong * ty * fs)
    }.toSet
    val actual = Multimodal.mmTokenBudget(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSet
    assert(actual == expected,
      s"budget mismatch: ${(actual -- expected).take(3)} vs ${(expected -- actual).take(3)}")
    // the plan must discriminate: multi-frame gifs cost more, and no
    // image exceeds the 224/16 = 14x14 patch ceiling
    assert(expected.exists(_._5 > 1), "no animated payload sampled > 1 frame")
    assert(expected.forall { case (_, _, tx, ty, _, _) => tx <= 14 && ty <= 14 })
    assert(expected.map(_._6).size > 1)
  }

  test("mm_caption_pairs: rollup replays; every flag can fire") {
    import org.apache.spark.sql.functions._
    // 1) exact replay on the real corpus from the token-budget rows +
    //    caption token counts
    val vis = Multimodal.mmTokenBudget(tables).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(5))).toMap
    val caps = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty).toLong)
      .toMap
    val expected = vis.toSeq.map { case (id, (fmt, v)) => (fmt, v, caps(id)) }
      .groupBy(_._1).map { case (fmt, xs) =>
        (fmt, xs.size.toLong,
          xs.count(_._3 < 4).toLong, xs.count(_._3 > 77).toLong,
          xs.count(x => x._2 > x._3 * 64).toLong,
          xs.map(_._2).sum, xs.map(_._3).sum)
      }.toSet
    val got = Multimodal.mmCaptionPairs(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expected,
      s"pair screen drift: ${(got -- expected).take(2)} vs ${(expected -- got).take(2)}")
    // the overlong screen fires on this corpus; short/undercaptioned
    // legitimately read zero here (captions are prose, not alt-text)
    assert(got.exists(_._4 > 0), "overlong flag dead on the gate corpus")

    // 2) discrimination: a crafted corpus must trip short AND
    //    undercaptioned (a 2-token caption on any image is both)
    val dir = tmp("graft_cap_")
    val sess = spark
    import sess.implicits._
    // ten distinct 2-token captions: at least one draws a payload
    // with > 128 vision tokens (flag threshold for a 2-token caption)
    ((0 until 10).map(i => (i.toLong, s"a b$i", "s")) :+
        (10L, ("w " * 100).trim, "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val crafted = Multimodal.mmCaptionPairs(graft.Tables(spark, dir))
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(crafted.map(_._1).sum >= 1, "short flag never fires")
    assert(crafted.map(_._2).sum >= 1, "overlong flag never fires")
    assert(crafted.map(_._3).sum >= 1, "undercaptioned flag never fires")
  }

  test("mm_exif_strip restores the clean container bytes exactly") {
    val rows = Multimodal.mmExifStripFrame(tables.documents).collect()
    assert(rows.nonEmpty)
    var injected = 0
    rows.foreach { r =>
      val fmt = r.getString(1); val hadMeta = r.getBoolean(2)
      val clean = r.getAs[Array[Byte]]("clean")
      val dirty = r.getAs[Array[Byte]]("dirty")
      val stripped = r.getAs[Array[Byte]]("stripped")
      val restripped = r.getAs[Array[Byte]]("restripped")
      // the scrub restores the original container BYTE FOR BYTE — not
      // just something shorter with a matching digest
      assert(java.util.Arrays.equals(stripped, clean),
        s"doc ${r.getLong(0)} ($fmt, meta=$hadMeta): bytes differ")
      // idempotent: stripping a clean container is the identity
      assert(java.util.Arrays.equals(restripped, stripped))
      if (hadMeta) {
        injected += 1
        assert(dirty.length > clean.length, "meta never injected")
        // the dirty container carries the PII marker; the scrub output
        // must not — search for the NUL-bearing tag bytes, which the
        // plain-text body can never contain (GIF's comment has no NUL
        // marker, so its proof is the byte-exact restore above)
        def has(b: Array[Byte], tag: String): Boolean =
          b.sliding(tag.length).exists(_.sameElements(tag.getBytes("ISO-8859-1")))
        val tag = fmt match {
          case "jpeg" => "Exif  GPS:"
          case "png" => "Author user"
          case _ => ""
        }
        if (tag.nonEmpty) {
          assert(has(dirty, tag), s"$fmt dirty payload lacks the PII tag")
          assert(!has(stripped, tag), s"$fmt scrub left the PII tag behind")
        }
      } else assert(java.util.Arrays.equals(dirty, clean))
    }
    // both branches exercised, all three formats seen with metadata
    assert(injected > 0 && injected < rows.length)
    assert(rows.filter(_.getBoolean(2)).map(_.getString(1)).toSet ==
      Set("jpeg", "png", "gif"))
    // dirty JPEG/PNG containers still parse with the original dims —
    // metadata segments are transparent to a spec-correct reader
    rows.filter(r => r.getBoolean(2) && r.getString(1) != "gif")
      .foreach { r =>
        val dirtyMeta = Multimodal.HeaderMediaDecoder
          .decodeBatch(Iterator(r.getAs[Array[Byte]]("dirty"))).next()
        val cleanMeta = Multimodal.HeaderMediaDecoder
          .decodeBatch(Iterator(r.getAs[Array[Byte]]("clean"))).next()
        assert(dirtyMeta.fmt == cleanMeta.fmt)
        assert(dirtyMeta.width == cleanMeta.width &&
          dirtyMeta.height == cleanMeta.height)
      }
  }

  test("mm_aspect_buckets assigns every image to its cross-multiplied " +
      "argmin bucket, first-bucket tiebreak") {
    import org.apache.spark.sql.functions.col
    val dims = Multimodal.mmDecodeMeta(tables)
      .select(col("width"), col("height"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toIndexedSeq
    def bucketOf(w: Int, h: Int): (Int, Int) =
      Multimodal.aspectBuckets.minBy { case (bw, bh) =>
        math.abs(w.toLong * bh - h.toLong * bw) * 1000000L /
          (bw.toLong * bh) // stable minBy keeps the FIRST at ties
      }
    val expected = dims.groupBy { case (w, h) => bucketOf(w, h) }
      .map { case ((bw, bh), vs) =>
        val ppm = vs.map { case (w, h) => w.toLong * 1000000L / h }
        ((bw, bh), (vs.size.toLong, ppm.min, ppm.max))
      }
    val got = Multimodal.mmAspectBuckets(tables).collect().map { r =>
      ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))
    }.toMap
    assert(got == expected,
      s"onlyGot=${(got.toSet -- expected.toSet).take(2)} " +
        s"onlyExp=${(expected.toSet -- got.toSet).take(2)}")
    // complete partition: counts sum to the corpus
    assert(got.values.map(_._1).sum == dims.size.toLong)
  }

  test("mm_audio_chunk_plan: replayed arithmetic + coverage identity") {
    import org.apache.spark.sql.functions.col
    val win = 20000L; val stride = 15000L
    val got = Multimodal.mmAudioChunkPlan(tables, winUs = win,
      overlapUs = win - stride).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (dur, n, pad) =>
      val expectN =
        if (dur <= win) 1L else 1L + (dur - win + stride - 1) / stride
      assert(n == expectN, s"dur=$dur: n=$n expected=$expectN")
      // coverage: the chunks span past the audio by pad < stride
      // (except the single-chunk case, where pad < win)
      assert(pad == (n - 1) * stride + win - dur)
      assert(pad >= 0L && pad < (if (n == 1) win else stride),
        s"dur=$dur n=$n pad=$pad")
      // minimality: one fewer chunk would leave a gap
      if (n > 1) assert((n - 2) * stride + win < dur,
        s"dur=$dur: $n chunks is not minimal")
    }
    // the synthetic corpus genuinely exercises the multi-chunk branch
    assert(got.exists(_._2 > 1) && got.exists(_._2 == 1))
  }

  leavesNoTempDirs()
}
