package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.shard.ShardFormat

/** The round's gshard features COMPOSED in one lifecycle — nullable
  * dictionary-encoded strings, per-file blooms, idempotent appends,
  * metadata-only DELETE, the columnar read — because features that
  * pass alone can still disagree about the bytes when stacked. */
class ShardLifecycleSpec extends ShardTempRoot {

  test("nullable dict strings + blooms + append + DELETE compose exactly") {
    // path-written table inside a catalog warehouse so the SQL DELETE
    // can address it (the catalog maps cat.main.t -> wh/main/t)
    val wh = tmp("gshard_life_wh_")
    val dir = s"$wh/main/life1"
    spark.conf.set("spark.sql.catalog.gshard_life",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_life.warehouse", wh)
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val thr = tables.events.agg(max(col("user_id"))).head.getLong(0) / 2
    // low-cardinality nullable tag (dictionary path) + bloom on event_id
    def proj = tables.events.select(col("user_id"), col("event_id"),
      when(col("event_id") % 6 =!= 0, col("event_type")).as("tag"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    proj.filter(col("user_id") < thr).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 4)
      .option("bloomcol", "event_id").option("txnid", 0)
      .mode("overwrite").save(dir)
    proj.filter(col("user_id") >= thr).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 4)
      .option("bloomcol", "event_id").option("txnid", 1)
      .mode("append").save(dir)
    // a replayed append must no-op (txn idempotence survives the stack)
    proj.filter(col("user_id") >= thr).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 4)
      .option("bloomcol", "event_id").option("txnid", 1)
      .mode("append").save(dir)
    assert(spark.read.format("gshard").load(dir).count() == proj.count())

    // metadata-only DELETE of the lower half (file-aligned by build)
    spark.sql(s"DELETE FROM gshard_life.main.life1 WHERE user_id < $thr")
    val kept = proj.filter(col("user_id") >= thr)

    // value-exact read-back against the input frame, nulls included
    val got = spark.read.format("gshard").load(dir)
      .select(col("user_id"), col("event_id"), col("tag"), col("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getLong(3))).toSet
    val want = kept.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getLong(3))).toSet
    assert(got == want)

    // blooms survive the delete: a surviving event id prunes to ≤2 of
    // the remaining files
    val m = ShardFormat.readManifest(dir)
    assert(m.entries.nonEmpty &&
      m.entries.forall(_.bloom.contains("event_id")))
    val someId = want.head._2
    import ShardFormat.Bloom
    val admits = m.entries.count { e =>
      Bloom.mightContain(ShardFormat.unb64(e.bloom("event_id")),
        Bloom.hash64(Bloom.longBytes(someId)))
    }
    assert(admits >= 1 && admits <= 2, s"bloom admits $admits files")
  }

  leavesNoTempDirs()
}
