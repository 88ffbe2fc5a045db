package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec, Tables}
import graft.sources.SourceOps

/** Stream input feeds live under the one shutdown-hooked staging root
  * and are staged once per session: nothing is written to
  * `java.io.tmpdir` directly, and a feed is never reused just because
  * its directory is non-empty — a second session rebuilds it over the
  * first one's output. */
class StreamFeedStagingSpec extends SparkSpec {

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** `graft_stream_*` entries in the temp dir, two levels deep (the
    * old per-dataset layout was `graft_stream_<sf>/<feed>`). */
  private def tmpStreamEntries(): Set[Path] =
    list(Paths.get(sys.props("java.io.tmpdir")))
      .filter(_.getFileName.toString.startsWith("graft_stream_"))
      .flatMap(d => d +: (if (Files.isDirectory(d)) list(d) else Nil))
      .toSet

  private def feeds(t: Tables): Seq[String] = Seq(
    Streaming.stageDir(t, "events"), Streaming.stageBotFeed(t),
    Streaming.stageEventsWeekly(t), Streaming.stageScd2IncrementDaily(t, 25),
    Streaming.growthFeed(t))

  private def dayFiles(dir: String): Seq[String] =
    list(Paths.get(dir)).map(_.getFileName.toString).sorted

  test("stream feeds stage under the staging root; java.io.tmpdir gains " +
      "no graft_stream_* entry") {
    val before = tmpStreamEntries()
    Seq("stream_window_agg", "stream_bot_detect", "stream_shard_sink")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    SparkEntry.stateBuilds("_build_scd2_cdc")(spark, sfDir)
    SparkEntry.queries("stream_scd2_merge")(spark, sfDir).collect()
    Streaming.growthWeeksRetired(tables).emitted.collect()
    assert((tmpStreamEntries() -- before).isEmpty)
    feeds(tables).foreach(p =>
      assert(Paths.get(p).startsWith(SourceOps.stagingDir), p))
  }

  test("a second session rebuilds every feed over the first one's output") {
    val first = feeds(tables)
    val scd2Days = dayFiles(first(3))
    val growthDays = dayFiles(first(4))
    val other = Tables(spark.newSession(), sfDir)
    // same paths, rebuilt: the symlink is kept, the day-file dirs are
    // cleared first, so no day is doubled and no `_tmp_*` is left
    assert(feeds(other) == first)
    assert(Files.isSymbolicLink(Paths.get(first.head, "events.parquet")))
    assert(dayFiles(first(3)) == scd2Days)
    assert(dayFiles(first(4)) == growthDays)
    assert(scd2Days.nonEmpty && scd2Days.forall(_.matches("day_\\d{5}\\.parquet")))
    assert(growthDays.nonEmpty && growthDays.forall(_.matches("day_\\d{5}\\.parquet")))
    def rows(t: Tables) = Streaming.streamBotDetect(t).collect().map(_.toString).sorted.toSeq
    assert(rows(other) == rows(tables))
  }
}
