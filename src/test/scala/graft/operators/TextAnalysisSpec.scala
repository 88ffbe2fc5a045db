package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.ShardTempRoot

/** Guards the shared quality-score expression corpus_clean fuses into
  * its single-scan pipeline: it must score exactly as the standalone
  * text_quality operator.
  */
class TextAnalysisSpec extends ShardTempRoot {

  test("quality scores from the shared expression match textQuality") {
    val viaOp = TextAnalysis.textQuality(tables)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaExpr = tables.documents
      .select(col("doc_id"), TextAnalysis.qualityScoreExpr(col("text"),
        TextAnalysis.tokens(col("text"))).as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaOp == viaExpr)
  }

  test("bpe tokenizer: the single regex pass equals reference greedy longest-match") {
    // independent reference implementation of maximal munch over the
    // same vocab — pins that the ordered-alternation regex really IS
    // the greedy algorithm, on every corpus doc
    val vocab = TextAnalysis.bpeVocab.sortBy(u => (-u.length, u))
    def greedyCount(word: String): Int = {
      var i = 0; var n = 0
      while (i < word.length) {
        val unit = vocab.find(u => word.startsWith(u, i))
        i += unit.map(_.length).getOrElse(1)
        n += 1
      }
      n
    }
    val expected = tables.documents.select(col("doc_id"), col("text")).collect().map { r =>
      val words = r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      r.getLong(0) -> words.map(greedyCount).sum.toLong
    }.toMap
    val actual = TextAnalysis.textBpeTokens(tables)
      .select(col("doc_id"), col("n_bpe")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected)
  }

  test("bpe tokenizer: fertility is bounded by 1 and the word length ratio") {
    val bad = TextAnalysis.textBpeTokens(tables)
      .filter(col("n_words") > 0)
      .filter(col("fertility") < 1.0 || col("n_bpe") > col("n_chars"))
    assert(bad.count() == 0, "fertility below 1 or more subwords than characters")
  }

  test("corpus_split_leakage counts a synthetic cross-split duplicate") {
    // craft a corpus where one text duplicates across the split
    // boundary: find a doc_id whose md5 nibble lands in 'val'
    // (0/1) and one in 'train', give them identical text
    val sess = spark
    import sess.implicits._
    def nib(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.charAt(0)
    }
    val valId = (0L to 200L).find(i => "01".contains(nib(i))).get
    val trainId = (0L to 200L).find(i => !"01".contains(nib(i))).get
    val otherTrain = (0L to 200L)
      .find(i => !"01".contains(nib(i)) && i != trainId).get
    val dir = tmp("graft_leak_")
    Seq(
      (valId, "the same text twice", "en", "s0", 19L),
      (trainId, "the same text twice", "en", "s0", 19L),
      (otherTrain, "a different text", "en", "s0", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val row = TextAnalysis.corpusSplitLeakage(graft.Tables(spark, dir)).head()
    assert(row.getLong(0) == 2, s"train_docs: $row")          // trainId + otherTrain
    assert(row.getLong(1) == 1, s"val_docs: $row")
    assert(row.getLong(2) == 1, s"leaked_groups: $row")
    assert(row.getLong(3) == 1, s"contaminated_val_docs: $row")
  }

  test("corpus_pii_scrub detects every plant and the redacted bytes replay") {
    val rows = TextAnalysis.corpusPiiScrub(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def nibs(id: Long): Array[Int] =
      md5hex(id.toString).map("0123456789abcdef".indexOf(_)).toArray
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, ne, np, ni, cleanLen, gotMd5) =>
      // detection exactness: the detector finds EXACTLY the planted
      // items (no false negatives vs known plants, no false positives
      // on the clean synthetic text)
      val n = nibs(id)
      assert(ne == (if (n(0) % 4 == 0) 1 else 0), s"doc $id emails")
      assert(np == (if (n(1) % 4 == 0) 1 else 0), s"doc $id phones")
      assert(ni == (if (n(4) % 4 == 0) 1 else 0), s"doc $id ips")
      // independent replay: rebuild the dirty text and redact with
      // java.util.regex — the operator's redacted BYTES must match
      val dirty = docs(id) +
        (if (n(0) % 4 == 0) s" reach me at user$id@example.com" else "") +
        (if (n(1) % 4 == 0)
          f" call 555-${n(2) * 67 % 1000}%03d-${n(3) * 419 % 10000}%04d" else "") +
        (if (n(4) % 4 == 0) s" from 10.${n(5) * 17 % 256}.${n(6) * 29 % 256}.7" else "")
      val red = dirty
        .replaceAll("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]")
        .replaceAll("555-[0-9]{3}-[0-9]{4}", "[PHONE]")
        .replaceAll("10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "[IP]")
      assert(cleanLen == red.length.toLong, s"doc $id clean_len")
      assert(gotMd5 == md5hex(red), s"doc $id redacted bytes diverge")
      // redaction completeness: nothing matching any pattern survives
      assert(!red.contains("@") && !red.matches("(?s).*555-[0-9].*"),
        s"doc $id redaction left PII behind")
    }
    // every PII type actually fires at this SF (~25% of docs per type)
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0) && rows.exists(_._4 > 0))
  }

  test("text_watermark_detect replays exactly and separates injected from clean") {
    val rows = TextAnalysis.textWatermarkDetect(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toList
    assert(rows.nonEmpty)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val tail = " " + TextAnalysis.watermarkTail
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val injected = rows.map(_._1).filter(id =>
      "0123456789abcdef".indexOf(md5hex(id.toString).charAt(7)) % 8 == 0).toSet
    rows.foreach { case (id, nPairs, nGreen, z, flagged) =>
      // full independent replay: tokenize, pair, hash, z-test
      val text = docs(id) + (if (injected(id)) tail else "")
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val pairs = toks.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
      val greens = pairs.count(b => "0123456789abcdef".indexOf(
        md5hex(b).charAt(0)) < 8)
      assert(nPairs == pairs.length.toLong, s"doc $id n_pairs")
      assert(nGreen == greens.toLong, s"doc $id n_green")
      if (pairs.nonEmpty) {
        // BigDecimal of the SHORTEST string repr, matching Spark's
        // round() (BigDecimal.valueOf), not the exact binary expansion
        val zRef = BigDecimal(((2.0 * greens - pairs.length) /
          math.sqrt(pairs.length.toDouble) + 1e-9).toString)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(z - zRef) < 1e-9, s"doc $id z: $z vs $zRef")
      }
      assert(flagged == (z >= 2.0), s"doc $id flag")
    }
    // discrimination: the injected 61-token green tail must push its
    // docs far right of the clean ~N(0,1) calibration
    val (inj, clean) = rows.partition(r => injected(r._1))
    assert(inj.nonEmpty && clean.nonEmpty)
    def meanZ(xs: List[(Long, Long, Long, Double, Boolean)]) =
      xs.map(_._4).sum / xs.length
    assert(meanZ(inj) > meanZ(clean) + 1.5,
      s"watermark not separable: inj=${meanZ(inj)} clean=${meanZ(clean)}")
    assert(inj.count(_._5) > 0, "no injected doc flagged")
  }

  test("bpe train: pair counts equal a naive greedy-segmentation replay") {
    // independent reference: greedy maximal-munch segmentation per
    // word (same vocab order as the regex alternation), count adjacent
    // unit pairs, take top-20 with the (count desc, pair asc) tiebreak
    val vocab = TextAnalysis.bpeVocab.sortBy(u => (-u.length, u))
    def segment(word: String): List[String] = {
      var i = 0; val units = List.newBuilder[String]
      while (i < word.length) {
        val unit = vocab.find(u => word.startsWith(u, i))
          .getOrElse(word.substring(i, i + 1))
        units += unit; i += unit.length
      }
      units.result()
    }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    tables.documents.select(col("text")).collect().foreach { r =>
      r.getString(0).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .foreach { w =>
          segment(w).sliding(2).filter(_.length == 2).foreach { p =>
            val k = p.mkString(" "); counts(k) = counts.getOrElse(k, 0L) + 1
          }
        }
    }
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val actual = TextAnalysis.textBpeTrain(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(actual == expected)
  }

  test("bpe train loop: 8 merge rounds equal a naive array-merge replay") {
    // independent reference: NO string-replace trick — words stay as
    // unit ARRAYS; each round counts weighted adjacent pairs, picks
    // the (count desc, pair asc) argmax, and merges left-to-right
    // non-overlapping occurrences by index walk. If the shipped
    // double-delimiter replace ever diverged from classical BPE scan
    // semantics (overlap handling, partial-unit matches), this drifts.
    val vocab = TextAnalysis.bpeVocab.sortBy(u => (-u.length, u))
    def segment(word: String): Vector[String] = {
      var i = 0; val units = Vector.newBuilder[String]
      while (i < word.length) {
        val unit = vocab.find(u => word.startsWith(u, i))
          .getOrElse(word.substring(i, i + 1))
        units += unit; i += unit.length
      }
      units.result()
    }
    var words = scala.collection.mutable.Map.empty[Vector[String], Long]
    tables.documents.select(col("text")).collect().foreach { r =>
      r.getString(0).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .foreach { w =>
          val s = segment(w); words(s) = words.getOrElse(s, 0L) + 1
        }
    }
    def mergeOnce(us: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < us.length) {
        if (i + 1 < us.length && us(i) == a && us(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += us(i); i += 1 }
      }
      out.result()
    }
    val expected = (1 to 8).flatMap { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (us, n) =>
        us.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      if (counts.isEmpty) Nil
      else {
        val ((a, b), n) = counts.minBy { case ((x, y), c) => (-c, s"$x $y") }
        words = words.groupMapReduce { case (us, _) => mergeOnce(us, a, b) }(_._2)(_ + _)
          .to(scala.collection.mutable.Map)
        Seq((r, s"$a $b", a + b, n))
      }
    }
    val actual = TextAnalysis.textBpeTrainLoop(tables).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(actual == expected, s"merge-table drift:\n$actual\nvs\n$expected")
    assert(actual.length == 8, "fewer than 8 merges at this SF — vacuous")
  }

  test("text_heaps_law: curve equals a naive replay; β discriminates corpora") {
    // 1) exact replay on the real corpus: first occurrences by doc
    //    order, SQL-ntile bucketing, integer-quantized log-log OLS
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    val perDoc = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.isEmpty) None
      else {
        val fresh = toks.count(seen.add)
        Some((id, toks.length.toLong, fresh.toLong))
      }
    }
    // SQL ntile: first (n % 20) buckets get one extra row
    val n = perDoc.length; val base = n / 20; val extra = n % 20
    val bucketOf = perDoc.indices.map { i =>
      val cut = extra * (base + 1)
      if (i < cut) i / (base + 1) + 1 else (i - cut) / base + extra + 1
    }
    val byBucket = perDoc.zip(bucketOf).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, xs.map(_._1._2).sum, xs.map(_._1._3).sum) }
    var (ct, cv) = (0L, 0L)
    val expCurve = byBucket.map { case (b, bt, bv) =>
      ct += bt; cv += bv; (b, ct, cv)
    }
    val pts = expCurve.map { case (_, t, v) =>
      (math.floor(math.log(t.toDouble) * 1e6 + 0.5).toLong,
        math.floor(math.log(v.toDouble) * 1e6 + 0.5).toLong)
    }
    val (b, sx, sy) = (pts.length.toLong, pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expBeta = BigDecimal((b * sxy - sx * sy).toDouble /
      (b * sxx - sx * sx).toDouble + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = TextAnalysis.textHeapsLaw(tables).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq == expCurve,
      "curve drift vs naive replay")
    rows.foreach(r => assert(r._4 == expBeta, s"β ${r._4} vs $expBeta"))
    // the synthetic template corpus saturates its 31-token vocabulary
    // in the first prefix — β ≈ 0 is the CORRECT "re-reading itself"
    // reading, and the curve must be monotone with vocab ≤ tokens
    assert(rows.sliding(2).forall { case Array(a, c) =>
      c._2 > a._2 && c._3 >= a._3 })
    rows.foreach(r => assert(r._3 <= r._2))

    // 2) discrimination: a corpus of all-fresh tokens must fit β ≈ 1
    //    (vocab grows with every token), far from the template's ~0
    val dir = tmp("graft_heaps_")
    val sess = spark
    import sess.implicits._
    (0 until 200).map { i =>
      (i.toLong, s"w${4 * i} w${4 * i + 1} w${4 * i + 2} w${4 * i + 3}", "s")
    }.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val diverse = TextAnalysis
      .textHeapsLaw(graft.Tables(spark, dir))
      .select(col("heaps_beta")).head().getDouble(0)
    assert(diverse > 0.95 && diverse <= 1.001,
      s"all-fresh corpus should fit β≈1, got $diverse")
    assert(rows.head._4 < 0.1,
      s"template corpus should fit β≈0, got ${rows.head._4}")
  }

  test("text_heaps_law: the ranking cell is exact above 2^53") {
    val sess = spark
    import sess.implicits._
    // 2^62 - 1 has no exact double: a double quotient rounds it up to
    // 2^62 and floors into cell 2^42; the true cell is 2^42 - 1
    val ids = Seq((1L << 62) - 1, 1L << 62, (1L << 20) - 1, 1L << 20)
    val cells = ids.toDF("doc_id").select(TextAnalysis.heapsCell)
      .collect().map(_.getLong(0)).toSeq
    assert(cells == ids.map(_ / 1048576L))
    assert(cells.head == (1L << 42) - 1)
  }

  test("corpus_weighted_sample: integer priorities replay, sample is size-biased") {
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks =
          r.getString(1).toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty)
        r.getLong(0) -> toks.toLong
      }.filter(_._2 > 0)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.map { case (id, w) =>
      val h = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16)
      (id, w, (w * 1000000000000L) / (h + 1))
    }.sortBy { case (id, _, p) => (-p, id) }.take(200).toSeq
    val actual = TextAnalysis.corpusWeightedSample(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(actual == expected)
    // size bias: the weighted sample's mean weight beats the corpus mean
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = actual.map(_._2).sum.toDouble / actual.length
    assert(sampleMean > corpusMean,
      s"no size bias: sample $sampleMean vs corpus $corpusMean")
  }

  test("stream_bpe_train equals the batch pair count exactly") {
    val batch = TextAnalysis.textBpeTrain(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val streamed = graft.streaming.Streaming.streamBpeTrain(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(streamed == batch)
  }

  test("bloom contamination screen: superset of exact, FP-bounded") {
    val exact = TextAnalysis.textContamination(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TextAnalysis.textContaminationBloom(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no false negatives: every exact hit survives the Bloom screen,
    // per doc and per count
    exact.foreach { case (id, nHits) =>
      assert(bloom.contains(id), s"doc $id exact-hit but not Bloom-flagged")
      assert(bloom(id) >= nHits, s"doc $id bloom ${bloom(id)} < exact $nHits")
    }
    // false positives bounded: at the tested fill the per-gram FP rate
    // is ~(fill)^3 << 1e-3; allow a loose 0.1% of all distinct grams
    val totalGrams = tables.documents.filter(col("doc_id") >= 10)
      .select(size(array_distinct(
        TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), 5))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val fpGrams = bloom.map { case (id, n) => n - exact.getOrElse(id, 0L) }.sum
    assert(fpGrams <= math.max(1L, totalGrams / 1000),
      s"$fpGrams FP grams of $totalGrams")
  }

  test("text_fertility_by_lang equals the per-doc rollup recombined") {
    def r4(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perDoc = TextAnalysis.textBpeTokens(tables)
      .join(tables.documents.select(col("doc_id"), col("lang")), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe"), r.getAs[Long]("n_chars")))
    val expect = perDoc.groupBy(_._1).map { case (lang, ds) =>
      val (w, b, c) = (ds.map(_._2).sum, ds.map(_._3).sum, ds.map(_._4).sum)
      (lang, ds.length.toLong, w, b,
        r4(b.toDouble / w.toDouble + 1e-9), r4(c.toDouble / w.toDouble + 1e-9))
    }.toSet
    val got = TextAnalysis.textFertilityByLang(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == expect,
      s"fertility drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    assert(expect.size > 1, "single-language corpus — rollup vacuous")
  }

  test("stream_boilerplate vocabulary equals the batch df computation") {
    val stream = graft.streaming.Streaming.streamBoilerplate(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val docs = tables.documents.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(s: String): Seq[String] =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq
    val batch = docs.groupBy(_._2).flatMap { case (src, ds) =>
      val n = ds.length.toLong
      ds.flatMap(d => toks(d._3).distinct).groupBy(identity)
        .collect { case (t, xs) if xs.size * 10 >= n * 8 =>
          (src, t, xs.size.toLong, n) }
    }.toSet
    assert(stream == batch,
      s"vocab drift: ${(stream -- batch).take(3)} vs ${(batch -- stream).take(3)}")
    assert(batch.nonEmpty)
  }

  test("corpus_temperature_sampling equals an exact sqrt-priority replay and upweights the tail") {
    def toks(s: String): Long =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").count(_.nonEmpty).toLong
    def r(x: Double, dp: Int) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = tables.documents.select(col("source"), col("text"))
      .collect().map(rw => (rw.getString(0), toks(rw.getString(1))))
    val perSrc = docs.groupBy(_._1).map { case (s, ds) =>
      (s, ds.length.toLong, ds.map(_._2).sum)
    }.toSeq
    val qs = perSrc.map { case (s, nd, nt) =>
      (s, nd, nt, math.floor(math.sqrt(nt.toDouble) * 1000000L).toLong)
    }
    val qSum = qs.map(_._4).sum
    val expect = qs.map { case (s, nd, nt, q) =>
      (s, nd, nt, r(q.toDouble / qSum.toDouble + 1e-9, 6),
        (BigInt(1000000L) * q / qSum).toLong)
    }.toSet
    val got = TextAnalysis.corpusTemperatureSampling(tables).collect()
      .map(rw => (rw.getString(0), rw.getLong(1), rw.getLong(2),
        rw.getDouble(3), rw.getLong(4))).toSet
    assert(got == expect,
      s"temp drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // α=½'s whole point: the smallest source's sampled share must
    // exceed its raw token share, the largest's must shrink
    val totTok = perSrc.map(_._3).sum.toDouble
    val small = expect.minBy(_._3); val big = expect.maxBy(_._3)
    assert(small._4 > small._3 / totTok, "tail source not upweighted")
    assert(big._4 < big._3 / totTok, "head source not downweighted")
  }

  test("text_boilerplate equals a driver-side df-threshold replay for every doc") {
    def toks(s: String): Seq[String] =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq
    def r4(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = tables.documents.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySource = docs.groupBy(_._2)
    val boiler: Map[String, Set[String]] = bySource.map { case (src, ds) =>
      val n = ds.length
      val df = ds.flatMap(d => toks(d._3).distinct).groupBy(identity)
        .map { case (t, xs) => t -> xs.size }
      src -> df.filter { case (_, c) => c * 10 >= n * 8 }.keySet
    }
    val expect = docs.map { case (id, src, text) =>
      val ts = toks(text)
      val nb = ts.count(boiler(src)).toLong
      val ratio = if (ts.isEmpty) 0.0 else r4(nb.toDouble / ts.size + 1e-9)
      (id, src, ts.size.toLong, nb, ratio)
    }.toSet
    val got = TextAnalysis.textBoilerplate(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == expect,
      s"boilerplate drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // the threshold must bite both ways on the spec corpus
    assert(boiler.values.exists(_.nonEmpty), "no boilerplate vocabulary found")
    assert(expect.exists(_._5 < 1.0), "every doc is 100% boilerplate — degenerate")
  }

  test("text_readability equals a driver-side regex + arithmetic replay for every doc") {
    import scala.jdk.CollectionConverters._
    def countMatches(re: String, s: String): Long =
      re.r.findAllMatchIn(s).size.toLong
    def r4(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = tables.documents.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val expect = docs.map { case (id, text) =>
      val low = text.toLowerCase
      val s = math.max(1L, countMatches("[.!?]+", text))
      val w = countMatches("[a-z]+", low)
      val sy = countMatches("[aeiouy]+", low)
      val fl = if (w == 0) 0.0
        else r4(206.835 - 1.015 * (w.toDouble / s.toDouble)
          - 84.6 * (sy.toDouble / w.toDouble) + 1e-9)
      val fk = if (w == 0) 0.0
        else r4(0.39 * (w.toDouble / s.toDouble)
          + 11.8 * (sy.toDouble / w.toDouble) - 15.59 + 1e-9)
      id -> ((s, w, sy, fl, fk))
    }
    val got = TextAnalysis.textReadability(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == expect,
      s"readability drift, e.g. ${got.find(kv => expect(kv._1) != kv._2).take(1)}")
    // scores must actually vary — a constant column would pass a hash
    // gate trivially and mean the counts degenerated
    assert(got.values.map(_._4).toSet.size > 10, "flesch barely varies")
  }

  test("corpus_dataset_card fields recombine the component stages exactly") {
    val card = TextAnalysis.corpusDatasetCard(tables).collect()(0)
    // size block == corpus_stats
    val stats = TextAnalysis.corpusStats(tables).collect()(0)
    assert(card.getLong(0) == stats.getLong(0)) // n_docs
    assert(card.getLong(1) == stats.getLong(1)) // total_tokens
    assert(card.getLong(2) == stats.getLong(4)) // vocab_size
    // duplicate block == the digest rollup
    val texts = tables.documents.select("text").collect().map(_.getString(0))
    val dupDocs = texts.groupBy(identity).values.filter(_.length > 1)
      .map(_.length).sum
    assert(card.getLong(3) == dupDocs.toLong)
    // language block == the lang-ID query's argmax
    val langs = TextAnalysis.textLangId(tables).collect()
      .map(_.getString(1))
    assert(card.getLong(5) == langs.distinct.length.toLong)
    val top = langs.groupBy(identity).map { case (l, xs) => (l, xs.length) }
      .toList.minBy { case (l, c) => (-c, l) }
    assert(card.getString(6) == top._1)
    // quality block == the exact mean over the per-doc scores
    val qs = TextAnalysis.textQuality(tables).collect()
      .map(r => r.getDouble(r.fieldIndex("quality_score")))
    val q = qs.map(v => math.floor(v * 1e4 + 0.5).toLong)
    val refMean = math.floor((2.0 * q.sum + q.length) / (2.0 * q.length)) / 1e4
    assert(card.getDouble(8) == refMean)
  }

  test("text_rake_keyphrases equals a driver-side RAKE replay") {
    val stops = TextAnalysis.stopwordLexicon.map(_._2).distinct.toSet
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    // phrases: maximal stopword-free runs, <= 4 words
    val phrases = docs.flatMap { case (id, toks) =>
      val runs = scala.collection.mutable.ListBuffer.empty[List[String]]
      var cur = List.empty[String]
      toks.foreach { w =>
        if (stops(w)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur = w :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs.toList.map(ws => (id, ws))
    }.zipWithIndex.map { case ((id, ws), i) => (id, i, ws) }
      .filter(_._3.length <= 4)
    val occ = phrases.flatMap { case (id, i, ws) => ws.map(w => (id, i, ws.length, w)) }
    val wscore = occ.groupBy(_._4).map { case (w, xs) =>
      w -> (xs.map(_._3.toLong).sum * 1000000L) / xs.size }
    val scored = phrases.map { case (id, i, ws) =>
      (id, ws.mkString(" "), ws.map(wscore).sum) }
    val expected = scored.groupBy(_._1).toList.flatMap { case (id, ps) =>
      ps.sortBy { case (_, p, s) => (-s, p) }.take(3).zipWithIndex
        .map { case ((_, p, s), r) => (id, p, s, r + 1) }.toList
    }.toSet
    val got = TextAnalysis.textRakeKeyphrases(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected,
      s"rake drift: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    // the extractor surfaces real MULTI-WORD phrases, not just terms
    assert(expected.exists(_._2.contains(" ")), "no multi-word phrase won")
  }

  test("text_char_entropy equals a driver-side quantized-term replay") {
    def r4(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = docs.map { case (id, text) =>
      val counts = text.groupBy(identity).map(_._2.length.toLong)
      val n = text.length.toLong
      // the operator's exact contract: per-term quantization with
      // Math.log (Spark's log()), then an exact integer sum
      val s = counts.map(c =>
        math.floor(c.toDouble * math.log(c.toDouble) * 1e6 + 0.5).toLong).sum
      val h = math.log(n.toDouble) - s.toDouble / 1e6 / n.toDouble
      id -> ((n, counts.size.toLong, r4(h + 1e-9), r4(h / math.log(2.0) + 1e-9)))
    }.toMap
    val actual = TextAnalysis.textCharEntropy(tables).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(actual == expect,
      s"entropy drift, e.g. ${actual.find(kv => expect(kv._1) != kv._2).take(1)}")
    // the screen discriminates: entropies vary across the corpus
    assert(actual.values.map(_._3).toSet.size > 10, "entropy barely varies")
    // bits/char must sit in the plausible text band (not degenerate)
    assert(actual.values.forall { case (_, _, h, b) => h > 0 && b > 0 })
  }

  test("text_code_detect recovers exactly the injected code docs (replay)") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def nibs(id: Long): Array[Int] =
      md5hex(id.toString).map("0123456789abcdef".indexOf(_)).toArray
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = docs.keySet.filter(id => nibs(id)(0) % 8 == 0)
    assert(truth.nonEmpty, "injection hit no doc at this SF — vacuous")
    val rows = TextAnalysis.textCodeDetect(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == docs.size)
    // label exactness vs the planted ground truth
    assert(rows.filter(_._5).map(_._1).toSet == truth)
    rows.foreach { case (id, nSym, nKw, ppm, _) =>
      val n = nibs(id)
      val dirty = docs(id) + (if (n(0) % 8 == 0)
        s" def fn$id(x) { return (x * ${n(1) * 31 % 100}) % 97; } " +
          s"var v$id = ${n(2) * 13 % 50};" else "")
      val expSym = dirty.count("{}()=;%*".contains(_)).toLong
      val expKw = "\\b(def|return|var)\\b".r.findAllIn(dirty).length.toLong
      assert(nSym == expSym, s"doc $id symbols")
      assert(nKw == expKw, s"doc $id keywords")
      assert(ppm == expSym * 1000000L / dirty.length, s"doc $id ppm")
      // clean prose carries zero signal — the flag has no gray zone here
      if (n(0) % 8 != 0) assert(nSym == 0L && nKw == 0L)
    }
  }

  test("corpus_epoch_plan replays exactly and the policy cap bites") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val perSource = tables.documents
      .select(col("source"), size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2).sum }
    val qOf = perSource.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble) * 1000000L).toLong }
    val qs = BigInt(qOf.values.sum)
    val tot = perSource.values.sum
    val expect = perSource.map { case (s, n) =>
      val cap = (("0123456789abcdef".indexOf(md5hex(s)(0)).toLong % 4) + 1) * 1000L
      val quota = (BigInt(2) * BigInt(tot) * BigInt(qOf(s)) / qs).toLong
      val em = math.min(cap, quota * 1000L / n)
      (s, n, cap, quota, em, n * em / 1000L, quota - n * em / 1000L)
    }.toSet
    val got = TextAnalysis.corpusEpochPlan(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expect,
      s"plan drift: ${(got -- expect).take(2)} vs ${(expect -- got).take(2)}")
    // the cap must BITE somewhere and NOT bite somewhere else, or the
    // readout is vacuous at this SF
    assert(got.exists { case (_, _, cap, _, em, _, _) => em == cap })
    assert(got.exists { case (_, _, cap, _, em, _, _) => em < cap })
    // the plan never overspends the budget
    assert(got.toSeq.map(_._6).sum <= 2L * tot)
  }

  test("text_mojibake recovers exactly the injected corrupt docs (replay)") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def nibs(id: Long): Array[Int] =
      md5hex(id.toString).map("0123456789abcdef".indexOf(_)).toArray
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = docs.keySet.filter(id => nibs(id)(3) % 8 == 0)
    assert(truth.nonEmpty, "injection hit no doc at this SF — vacuous")
    val rows = TextAnalysis.textMojibake(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == docs.size)
    assert(rows.filter(_._5).map(_._1).toSet == truth)
    rows.foreach { case (id, nRepl, nMoji, ppm, _) =>
      val n = nibs(id)
      val dirty = docs(id) + (if (n(3) % 8 == 0)
        " cafÃ© â€™" + "�" * (n(4) % 3 + 1) else "")
      val expRepl = dirty.count(_ == '�').toLong
      val expMoji = "Ã©|â€™".r.findAllIn(dirty).length.toLong
      val expNa = dirty.count(_ > 0x7f).toLong
      assert(nRepl == expRepl, s"doc $id replacement chars")
      assert(nMoji == expMoji, s"doc $id digraphs")
      assert(ppm == expNa * 1000000L / dirty.length, s"doc $id ppm")
      if (n(3) % 8 != 0) assert(nRepl == 0L && nMoji == 0L && ppm == 0L)
    }
  }
  test("nb model: every class marker carries its own class's top log-odds") {
    val t = tables
    val model = TextAnalysis.nbModel(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    val langs = model.keySet.map(_._1)
    assert(langs.size >= 2)
    // the injected marker mk<L> must be MORE likely under class L than
    // under any other class — the signal the classifier learns from
    for (l <- langs; w = "mk" + l; if model.contains((l, w)); o <- langs if o != l)
      assert(model((l, w)) > model.getOrElse((o, w), Long.MinValue),
        s"marker $w not discriminative: P(|$l) <= P(|$o)")
    // smoothing floor materialized: zero-count grid cells exist and
    // carry the minimum per-class log-probability
    val zeroCells = TextAnalysis.nbModel(t).filter(col("cnt") === 0).count()
    assert(zeroCells > 0, "full vocab x class grid not materialized")
  }

  test("nb eval: rows conserve and accuracy beats the majority class") {
    val t = tables
    val conf = TextAnalysis.textNbEval(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = conf.map(_._3).sum
    assert(total == TextAnalysis.nbEvalDocs(t).count(),
      "every held-out doc classified exactly once")
    val correct = conf.collect { case (a, b, n) if a == b => n }.sum
    // majority-class guessing reads ~40% here (en-heavy corpus); the
    // marker injection must lift the classifier well past it
    val acc = correct.toDouble / total
    assert(acc > 0.5, s"accuracy $acc not above majority baseline")
    // but not perfect: ~1/3 of docs carry no marker, so honest
    // off-diagonal mass must exist
    assert(conf.exists { case (a, b, _) => a != b }, "confusion suspiciously clean")
  }

  test("nb scores are exact integers: argmax replay from the model table") {
    val t = tables
    // replay classification for every eval doc driver-side from the
    // collected model + priors, in pure integer arithmetic
    val model = TextAnalysis.nbModel(t).collect()
      .map(r => (r.getString(1), r.getString(0)) -> r.getLong(3)).toMap // (word, lang)
    val priors = TextAnalysis.nbPriors(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = priors.keys.toSeq.sorted
    val evalDocs = TextAnalysis.nbEvalDocs(t)
      .select(col("doc_id"), col("lang"), col("text")).collect()
    val want = evalDocs.map { r =>
      val toks = r.getString(2).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val scores = langs.map { l =>
        val s = priors(l) + toks.flatMap(w => model.get((w, l))).sum
        (-s, l)
      }
      (r.getLong(0), r.getString(1), scores.min._2)
    }
    val wantConf = want.groupBy(x => (x._2, x._3)).view.mapValues(_.size.toLong).toMap
    val gotConf = TextAnalysis.textNbEval(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotConf == wantConf, s"got=$gotConf want=$wantConf")
  }

  test("text_kn_bigram: exact-rational row normalization and the " +
      "continuation-count signature") {
    val t = tables
    // rebuild ALL counts driver-side from the corpus
    val bigrams = t.documents.select(col("text")).collect().flatMap { r =>
      val ws = r.getString(0).toLowerCase.split("[^a-z0-9]+")
        .filter(_.nonEmpty)
      ws.zip(ws.drop(1))
    }
    val c12 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nAfter = c12.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nBefore = c12.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nbt = BigInt(c12.size)
    // Σ_w2 P_KN(w2|w1) == 1 EXACTLY for every context, in rationals:
    // numerator sum over observed w2 of max(4c12−3,0)·Nbt plus the
    // backoff mass 3·N1+(w1·)·Σ_all_w2 N1+(·w2) must equal 4·c1·Nbt
    val sumNBefore = nBefore.values.map(BigInt(_)).sum // == Nbt
    assert(sumNBefore == nbt)
    c1.keys.foreach { w1 =>
      val obs = c12.collect { case ((`w1`, _), c) => c }
      val discounted = obs.map(c => BigInt(0).max(BigInt(4 * c - 3))).sum
      val lhs = discounted * nbt + 3 * BigInt(nAfter(w1)) * sumNBefore
      assert(lhs == 4 * BigInt(c1(w1)) * nbt, s"context '$w1' not normalized")
    }
    // operator rows equal the integer formula on the replayed counts
    val got = TextAnalysis.textKnBigram(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val want = c12.filter(_._2 >= 3).map { case ((w1, w2), c) =>
      val num = (BigInt(0).max(BigInt(4 * c - 3)) * nbt +
        3 * BigInt(nAfter(w1)) * BigInt(nBefore(w2))) * 1000000
      (w1, w2) -> (c, (num / (4 * BigInt(c1(w1)) * nbt)).toLong)
    }
    assert(got == want,
      s"onlyGot=${(got.toSet -- want.toSet).take(3)} " +
        s"onlyWant=${(want.toSet -- got.toSet).take(3)}")
    assert(got.nonEmpty)
    // KN's reason to exist: the continuation count N1+(·w2) — how many
    // DISTINCT contexts precede w2 — varies across the vocabulary (the
    // "francisco" effect), and the exact-equality check above proves
    // the formula consumes it
    assert(nBefore.values.toSet.size > 1,
      "continuation counts constant — degenerate corpus")
  }

  test("corpus_dsir_importance equals an integer-exact driver replay " +
      "and separates the target slice") {
    val t = tables
    val docs = t.documents
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    def toks(s: String) =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    def bucket(w: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      val hex = h.take(2).map(b => f"$b%02x").mkString.take(3)
      java.lang.Long.parseLong(hex, 16)
    }
    val all = docs.flatMap { case (id, lang, nc, text) =>
      toks(text).map(w => (id, lang, nc, bucket(w)))
    }
    val cRaw = all.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val cTgt = all.filter(r => r._2 == "en" && r._3 >= 250)
      .groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val wPpm = cRaw.map { case (b, cr) =>
      b -> (cTgt.getOrElse(b, 0L) + 1L) * 1000000L / (cr + 1L)
    }
    val scores = all.groupBy(_._1).map { case (id, rows) =>
      id -> (rows.size.toLong, rows.map(r => wPpm(r._4)).sum / rows.size)
    }
    val meanPpm = scores.valuesIterator.map(_._2).sum / scores.size
    val got = TextAnalysis.corpusDsirImportance(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.size == scores.size)
    scores.foreach { case (id, (n, s)) =>
      val (gn, gs, sel) = got(id)
      assert(gn == n && gs == s, s"doc $id: got ($gn,$gs) want ($n,$s)")
      assert(sel == (s > meanPpm))
    }
    // the importance weighting must actually rank the target slice up:
    // mean score of target docs strictly above the rest, and the keep
    // set is a nonempty proper subset
    val isTarget = docs.map(d => d._1 -> (d._2 == "en" && d._3 >= 250)).toMap
    def meanOf(ids: Iterable[Long]) =
      ids.map(got(_)._2).sum.toDouble / ids.size
    val tgtIds = docs.filter(d => isTarget(d._1)).map(_._1)
    val restIds = docs.filterNot(d => isTarget(d._1)).map(_._1)
    assert(tgtIds.nonEmpty && restIds.nonEmpty)
    assert(meanOf(tgtIds) > meanOf(restIds),
      s"target mean ${meanOf(tgtIds)} !> rest mean ${meanOf(restIds)}")
    val kept = got.valuesIterator.count(_._3)
    assert(kept > 0 && kept < got.size, s"degenerate keep set: $kept")
  }

  test("text_gopher_rules: full integer replay on the corpus + " +
      "injected edge docs hit every reject reason") {
    import org.apache.spark.sql.functions.col
    val stops = TextAnalysis.enStopwords.toSet
    def replay(text: String): (Long, Long, Long, Long, Long, String) = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val nWords = toks.length.toLong
      val tokChars = toks.map(_.length.toLong).sum
      val nHash = text.count(_ == '#').toLong
      val nEll = (text.length - text.replace("...", "").length).toLong / 3
      val alpha = toks.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val nStop = toks.count(stops).toLong
      val mean = if (nWords > 0) tokChars * 100 / nWords else 0L
      val sym = nHash + nEll
      val reason =
        if (nWords < 50 || nWords > 100000L) "word_count"
        else if (mean < 300 || mean > 1000) "mean_word_len"
        else if (sym * 10 > nWords) "symbol_ratio"
        else if (alpha * 5 < nWords * 4) "alpha_ratio"
        else if (nStop < 2) "stopwords"
        else "pass"
      (nWords, mean, sym, alpha, nStop, reason)
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getString(7)), r.getBoolean(6))).toMap
    // corpus replay, doc for doc
    val texts = tables.documents.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = run(TextAnalysis.textGopherRules(tables))
    assert(got.keySet == texts.keySet)
    texts.foreach { case (id, text) =>
      val exp = replay(text)
      assert(got(id)._1 == exp, s"doc $id: got ${got(id)._1}, replay $exp")
      assert(got(id)._2 == (exp._6 == "pass"))
    }
    // engineered docs drive each reject branch (precedence order)
    val sess = spark
    import sess.implicits._
    // 96 words, mean length 44·8·100/96 = 366, six stopword kinds
    val filler =
      ("these words and those items of the corpus to in is done " * 8).trim
    val edge = Seq(
      1L -> "too short",
      2L -> Seq.fill(60)("ab").mkString(" "),   // mean len 200 < 300
      3L -> (filler + " " + "#" * 30),          // 30 symbols vs 96 words
      4L -> (Seq.fill(40)("wordy") ++           // mean 400, but half the
        (100 to 139).map(_.toString))           // words are pure digits
        .mkString(" "),
      5L -> (1 to 80).map(i => s"word$i").mkString(" "), // no stopwords
      6L -> filler)
      .toDF("doc_id", "text")
    val er = run(TextAnalysis.textGopherRulesOf(edge))
    assert(er(1L)._1._6 == "word_count")
    assert(er(2L)._1._6 == "mean_word_len")
    assert(er(3L)._1._6 == "symbol_ratio")
    assert(er(4L)._1._6 == "alpha_ratio")
    assert(er(5L)._1._6 == "stopwords")
    assert(er(6L)._1._6 == "pass" && er(6L)._2)
  }

  leavesNoTempDirs()
}
