package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.sources.shard.{ShardFormat, ShardOps}
import graft.sources.shard.tests.ChangeProbe

/** Seeded MUTATION FUZZ over the gshard lifecycle: random sequences of
  * API upserts, SQL UPDATEs, SQL DELETEs (metadata-decidable or not),
  * and appends against a driver-side model map — after every op the
  * full table must equal the model, and at the end every retained
  * generation must replay its recorded snapshot (time-travel
  * consistency) before and after vacuum. The soundness companion to
  * the per-feature specs: it exercises the INTERLEAVINGS (merge after
  * delete, update over appended generations, …) no single-feature
  * test hits. */
class ShardMutationFuzzSpec extends ShardTempRoot {

  private val ns = "gshard_fuzz.main"

  private def setupCatalog(): String = {
    val wh = tmp("fuzz_wh_")
    spark.conf.set("spark.sql.catalog.gshard_fuzz",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_fuzz.warehouse", wh)
    wh
  }

  /** The head generation's change rows, comparable with [[netDiff]]. */
  private def changeRows(dir: String): Seq[String] =
    ChangeProbe.headRows(dir).map(ChangeProbe.show).sorted

  /** The net row diff between two model snapshots as change rows
    * (columns…, side): a key whose row changed leaves its old row −1
    * and its new row +1. */
  private def netDiff[V](prev: Map[Long, V], next: Map[Long, V])(
      row: (Long, V) => Seq[Any]): Seq[String] =
    (prev.keySet ++ next.keySet).toSeq.flatMap { k =>
      if (prev.get(k) == next.get(k)) Nil
      else prev.get(k).map(v => row(k, v) :+ -1L).toSeq ++
        next.get(k).map(v => row(k, v) :+ 1L)
    }.map(ChangeProbe.show).sorted

  test("randomized upsert/update/delete/append sequences match a " +
      "driver-side model at every step; retained generations replay " +
      "their snapshots across vacuum") {
    val sess = spark
    import sess.implicits._
    val wh = setupCatalog()
    val rnd = new scala.util.Random(0xF0221C5L)

    (0 until 3).foreach { scenario =>
      val t = s"$ns.f$scenario"
      val dir = s"$wh/main/f$scenario"
      val model = mutable.Map.empty[Long, (String, Long)]
      def df(rows: Seq[(Long, String, Long)]) =
        rows.toDF("id", "tag", "score")
      def tableNow(): Map[Long, (String, Long)] =
        spark.table(t).collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      // base
      val n0 = 200 + rnd.nextInt(200)
      val base = (0L until n0.toLong)
        .map(i => (i, s"b$i", rnd.nextInt(1000).toLong))
      base.foreach { case (i, tag, s) => model(i) = (tag, s) }
      spark.sql(s"DROP TABLE IF EXISTS $t")
      df(base).createOrReplaceTempView(s"fuzz_base_$scenario")
      spark.sql(s"CREATE TABLE $t AS SELECT * FROM fuzz_base_$scenario")

      // snapshots per generation for the time-travel replay
      val snaps = mutable.ArrayBuffer.empty[(Long, Map[Long, (String, Long)])]
      def snap(): Unit =
        snaps += ((ShardFormat.readManifest(dir).gen, model.toMap))
      snap()

      (0 until 6).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => // API upsert: random keys, some new
            val ks = Seq.fill(1 + rnd.nextInt(30))(
              rnd.nextInt(n0 * 2).toLong).distinct
            val rows = ks.map(k => (k, s"u$step-$k", rnd.nextInt(1000).toLong))
            val prev = model.toMap
            ShardOps.upsert(spark, dir, df(rows), "id")
            rows.foreach { case (k, tag, s) => model(k) = (tag, s) }
            assert(changeRows(dir) == netDiff(prev, model.toMap) {
              case (k, (tag, s)) => Seq(k, tag, s) },
              s"scenario $scenario step $step: change rows diverged " +
                "from the model's net diff")
          case 1 => // SQL UPDATE over a random key band
            val lo = rnd.nextInt(n0 * 2).toLong
            val hi = lo + rnd.nextInt(n0)
            spark.sql(s"UPDATE $t SET tag = 'U$step' " +
              s"WHERE id >= $lo AND id <= $hi")
            model.keys.filter(k => k >= lo && k <= hi)
              .foreach(k => model(k) = ("U" + step, model(k)._2))
          case 2 => // SQL DELETE over a random band (may straddle)
            val lo = rnd.nextInt(n0 * 2).toLong
            val hi = lo + rnd.nextInt(n0 / 2)
            spark.sql(s"DELETE FROM $t WHERE id >= $lo AND id <= $hi")
            model.keys.filter(k => k >= lo && k <= hi).toSeq
              .foreach(model.remove)
          case _ => // append a fresh disjoint band
            val start = (n0 * 2 + step * 1000).toLong
            val rows = (start until start + 1 + rnd.nextInt(40))
              .map(i => (i, s"a$step-$i", rnd.nextInt(1000).toLong))
            df(rows).createOrReplaceTempView(s"fuzz_app_${scenario}_$step")
            spark.sql(s"INSERT INTO $t " +
              s"SELECT * FROM fuzz_app_${scenario}_$step")
            rows.foreach { case (i, tag, s) => model(i) = (tag, s) }
        }
        assert(tableNow() == model.toMap,
          s"scenario $scenario step $step diverged from the model")
        snap()
      }

      // time travel: every recorded generation replays its snapshot
      snaps.foreach { case (gen, want) =>
        val got = spark.read.format("gshard")
          .option("versionAsOf", gen.toString).load(dir).collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
        assert(got == want, s"scenario $scenario gen $gen replay diverged")
      }
      // vacuum with retention 2: the newest two archived generations
      // must still replay; the head always does
      ShardFormat.vacuum(dir, keepVersions = 2)
      assert(tableNow() == model.toMap)
      val retained = ShardFormat.archivedGens(dir).toSet
      snaps.filter { case (g, _) => retained(g) }.foreach { case (g, want) =>
        val got = spark.read.format("gshard")
          .option("versionAsOf", g.toString).load(dir).collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
        assert(got == want, s"post-vacuum gen $g replay diverged")
      }
    }
  }

  test("token-id list columns under the mutation fuzz: random " +
      "upsert/delete/append sequences over (id, toks array<int>) " +
      "match a driver-side model; time travel replays") {
    val sess = spark
    import sess.implicits._
    // a FRESH catalog name: Spark caches catalog instances per
    // session, so re-registering gshard_fuzz with a new warehouse
    // would silently keep pointing at the first test's directory
    val wh = tmp("fuzz_tok_wh_")
    spark.conf.set("spark.sql.catalog.gshard_fuzz_tok",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_fuzz_tok.warehouse", wh)
    val rnd = new scala.util.Random(0x70C1D5L)
    val t = "gshard_fuzz_tok.main.toks"
    val dir = s"$wh/main/toks"
    val model = mutable.Map.empty[Long, Seq[Int]]
    def toks(k: Long, step: Int): Seq[Int] =
      if ((k + step) % 11 == 0) Seq.empty[Int]
      else Seq.tabulate(1 + ((k + step) % 9).toInt)(j =>
        ((k * 131 + step * 17 + j) % 50000).toInt)
    def df(rows: Seq[(Long, Seq[Int])]) = rows.toDF("id", "toks")
    def tableNow(): Map[Long, Seq[Int]] =
      spark.table(t).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    val n0 = 300
    val base = (0L until n0.toLong).map(i => (i, toks(i, 0)))
    base.foreach { case (i, tk) => model(i) = tk }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    df(base).createOrReplaceTempView("fuzz_tok_base")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM fuzz_tok_base")
    val snaps = mutable.ArrayBuffer.empty[(Long, Map[Long, Seq[Int]])]
    def snap(): Unit =
      snaps += ((ShardFormat.readManifest(dir).gen, model.toMap))
    snap()
    (1 to 5).foreach { step =>
      rnd.nextInt(3) match {
        case 0 => // upsert: replace + insert token lists
          val ks = Seq.fill(1 + rnd.nextInt(25))(
            rnd.nextInt(n0 * 2).toLong).distinct
          val rows = ks.map(k => (k, toks(k, step)))
          val prev = model.toMap
          ShardOps.upsert(spark, dir, df(rows), "id")
          rows.foreach { case (k, tk) => model(k) = tk }
          assert(changeRows(dir) ==
            netDiff(prev, model.toMap)((k, tk) => Seq(k, tk)),
            s"token fuzz step $step: change rows diverged from the " +
              "model's net diff")
        case 1 => // SQL DELETE band
          val lo = rnd.nextInt(n0 * 2).toLong
          val hi = lo + rnd.nextInt(n0 / 2)
          spark.sql(s"DELETE FROM $t WHERE id >= $lo AND id <= $hi")
          model.keys.filter(k => k >= lo && k <= hi).toSeq
            .foreach(model.remove)
        case _ => // append a disjoint band
          val start = (n0 * 2 + step * 1000).toLong
          val rows = (start until start + 1 + rnd.nextInt(30))
            .map(i => (i, toks(i, step)))
          df(rows).createOrReplaceTempView(s"fuzz_tok_app_$step")
          spark.sql(s"INSERT INTO $t SELECT * FROM fuzz_tok_app_$step")
          rows.foreach { case (i, tk) => model(i) = tk }
      }
      assert(tableNow() == model.toMap, s"token fuzz step $step diverged")
      snap()
    }
    snaps.foreach { case (gen, want) =>
      val got = spark.read.format("gshard")
        .option("versionAsOf", gen.toString).load(dir).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
      assert(got == want, s"token fuzz gen $gen replay diverged")
    }
  }

  leavesNoTempDirs()
}
