package graft.sources

import org.apache.spark.sql.functions._

import graft.sources.shard.ShardFormat

/** B23 — the gshard `TableCatalog`: the connector reachable from pure
  * SQL (CTAS, INSERT INTO, SELECT with pushdown, DROP TABLE). */
class ShardCatalogSpec extends ShardTempRoot {

  private lazy val warehouse: String = {
    val w = tmp("cat_")
    spark.conf.set("spark.sql.catalog.gcat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", w)
    w
  }

  private def seedView(): Unit = {
    warehouse // force catalog registration
    tables.events.select(col("user_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .createOrReplaceTempView("ev_src")
  }

  test("CTAS creates a gshard table the catalog can read back by SQL") {
    seedView()
    spark.sql("DROP TABLE IF EXISTS gcat.main.ev1")
    spark.sql("CREATE TABLE gcat.main.ev1 AS SELECT * FROM ev_src")
    val got = spark.sql(
      "SELECT count(*) AS n, sum(cents) AS s FROM gcat.main.ev1").head
    val want = spark.table("ev_src")
      .agg(count(lit(1)), sum(col("cents"))).head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
    // the created table is a real manifest-backed gshard dir
    assert(ShardFormat.hasManifest(s"$warehouse/main/ev1"))
  }

  test("INSERT INTO appends through the range-distributed write path") {
    seedView()
    spark.sql("DROP TABLE IF EXISTS gcat.main.ev2")
    spark.sql(
      "CREATE TABLE gcat.main.ev2 AS SELECT * FROM ev_src WHERE user_id % 2 = 0")
    spark.sql(
      "INSERT INTO gcat.main.ev2 SELECT * FROM ev_src WHERE user_id % 2 = 1")
    assert(spark.sql("SELECT count(*) FROM gcat.main.ev2").head.getLong(0)
      == spark.table("ev_src").count())
  }

  test("SQL SELECT over the catalog pushes filters into zone-map skipping") {
    seedView()
    spark.sql("DROP TABLE IF EXISTS gcat.main.ev3")
    spark.sql("CREATE TABLE gcat.main.ev3 AS SELECT * FROM ev_src")
    val df = spark.sql("SELECT user_id, cents FROM gcat.main.ev3 WHERE user_id < 5")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("gshard"), p)
    assert(p.contains("LessThan(user_id,5)"), s"filter not pushed via SQL:\n$p")
    // values exact vs the source view
    assert(df.count() ==
      spark.table("ev_src").filter(col("user_id") < 5).count())
  }

  test("catalog listing and DROP TABLE behave") {
    seedView()
    spark.sql("DROP TABLE IF EXISTS gcat.main.ev4")
    spark.sql("CREATE TABLE gcat.main.ev4 AS SELECT * FROM ev_src")
    val listed = spark.sql("SHOW TABLES IN gcat.main").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("ev4"), s"listing missed the table: $listed")
    spark.sql("DROP TABLE gcat.main.ev4")
    assert(!ShardFormat.hasManifest(s"$warehouse/main/ev4"))
    assert(spark.sql("SHOW TABLES IN gcat.main").collect()
      .map(_.getString(1)).toSet.contains("ev4") == false)
  }

  test("CREATE TABLE validates column names: tombstone-prefixed and " +
      "manifest-reserved names reject instead of becoming invisible " +
      "or mis-parsed slots") {
    seedView()
    def chain(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    // a user column literally named __dropped_0 would be silently
    // hidden by visible() and filled with nulls by every writer
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.main.badtomb (`__dropped_0` BIGINT, " +
        "v BIGINT) USING gshard")
    }
    assert(chain(e1).contains("reserved"), chain(e1))
    assert(!ShardFormat.hasManifest(s"$warehouse/main/badtomb"))
    // a stat-marker character in the name would mis-parse on read
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.main.badmark (`a*b` BIGINT, v BIGINT) " +
        "USING gshard")
    }
    assert(chain(e2).contains("manifest-reserved"), chain(e2))
    assert(!ShardFormat.hasManifest(s"$warehouse/main/badmark"))
  }

  leavesNoTempDirs()
}
