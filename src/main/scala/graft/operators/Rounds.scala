package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.PlanBridge

/** The one round loop of graft's distributed iterative operators
  * (connected components, the k-core peel, the seeded walks,
  * NN-descent). A round's plan embeds the previous round's, so
  * without a cut the plan grows with every round (exponentially where
  * a round reads its input more than once) and `persist()` caches
  * the data but never truncates the plan. Every round is therefore
  * cut to a [[LogicalRDD]] leaf, by one rule:
  *
  *  - RELIABLE `checkpoint()` when the session conf
  *    `graft.cc.checkpointDir` names a dir (HDFS or an object store
  *    on a preemptible fleet: losing an executor costs one round's
  *    recompute, not the run; the ContextCleaner deletes the files
  *    when `spark.cleaner.referenceTracking.cleanCheckpoints` is on,
  *    else the dir's lifecycle policy must);
  *  - `localCheckpoint()` otherwise (executor-local blocks, right for
  *    a single-JVM rig).
  *
  * STORAGE CONTRACT: cut RDDs live outside the CacheManager, so
  * `unpersist()` / `clearCache()` cannot free them; [[release]] does,
  * through the LogicalRDD's own RDD handle. [[run]] frees each
  * superseded round once the next one exists, so at most one round's
  * blocks are live during the loop and the last round's back the
  * result. */
object Rounds {

  /** The last round's frame, the rounds run, and whether `until` held
    * (false when the loop stopped at its round cap). */
  final case class Result(last: DataFrame, rounds: Int, converged: Boolean)

  /** `df` computed now and cut to a LogicalRDD leaf (see the object
    * doc for the reliable-or-local rule). The cut drops the origin
    * constraints the checkpoint copies from `df`'s plan: they can
    * name attribute ids of that plan, and `UnionBase.rewriteConstraints`
    * fails on them ("key not found") once the frame sits under a
    * union. */
  def cut(df: DataFrame): DataFrame =
    PlanBridge.withoutOriginConstraints(
      df.sparkSession.conf.getOption("graft.cc.checkpointDir") match {
        case Some(dir) =>
          checkpointUnder(df.sparkSession.sparkContext, dir)
          df.checkpoint()
        case None => df.localCheckpoint()
      })

  /** `setCheckpointDir` makes a fresh random subdir on every call, so
    * it runs only when the context does not already write under
    * `dir`: one run's rounds share one subdir. */
  private def checkpointUnder(sc: SparkContext, dir: String): Unit = {
    val want = new Path(dir)
    val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
    if (!sc.getCheckpointDir.exists(new Path(_).getParent == qualified))
      sc.setCheckpointDir(dir)
  }

  /** Free the cut blocks behind `df`: each LogicalRDD leaf's RDD. Only
    * call once every consumer is done: a cut frame has no lineage to
    * recompute from. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** What [[run]] hands each step: the previous round's frame, the
    * round number (from 1), and [[cache]] for a frame the step reads
    * more than once, which stays cached only until the round's cut
    * exists. */
  final class Round private[Rounds] (val prev: DataFrame, val number: Int) {
    private[Rounds] var cached: List[DataFrame] = Nil
    def cache(df: DataFrame): DataFrame = { cached ::= df.persist(); df }
  }

  /** Run `step` until `until` holds for the new round's frame or
    * `maxRounds` rounds have run. Each step is [[cut]], and the round
    * it replaces is released once the new one exists; `init` is the
    * caller's and is never released. If a step fails, the last cut
    * round is released before the error propagates. */
  def run(init: DataFrame, maxRounds: Int,
      until: DataFrame => Boolean = _ => false)(step: Round => DataFrame): Result = {
    var cur = init
    var rounds = 0
    var converged = false
    try while (!converged && rounds < maxRounds) {
      val round = new Round(cur, rounds + 1)
      val next = try cut(step(round)) finally round.cached.foreach(_.unpersist())
      if (cur ne init) release(cur)
      cur = next
      rounds += 1
      converged = until(cur)
    } catch { case e: Throwable => if (cur ne init) release(cur); throw e }
    Result(cur, rounds, converged)
  }
}
