package graft.tools

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{Session, SparkEntry}
import graft.functions.GraftExpressions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query probe on one tier, in the configuration Bench measures
  * ([[Session.harnessBuilder]]: `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_CONF`).
  *
  * Usage: `tools/run.sh graft.tools.Probe <sfDir> <q1,q2,...> [reps=3]`
  *
  * `reps = 0` prints each query's pre-execution formatted plan under a
  * `========== q ==========` header — the form the `plans/` files are
  * regenerated and diffed in.
  *
  * `reps ≥ 1` runs one untimed warm-up per query (codegen/JIT), then
  * `reps` measured reps with [[Session.scrubBlocks]] between them,
  * outside the timed window, and prints one `PROBE` line of medians
  * per query followed by the last rep's final (post-AQE) plan:
  *   - `build_s`: the query function returning its frame (eager
  *     localCheckpoint fronts run here)
  *   - `plan_s`: the frame's `executedPlan`
  *   - `count_s`: `df.count()` on the built frame; Bench times
  *     build + count, under which Catalyst drops the final sort and
  *     output-only columns
  *   - `full_s`: the frame's own `queryExecution.toRdd.count()` —
  *     every output row, final sort kept
  *   - `rows`: output rows
  *   - `jobs`/`stages`/`tasks`: submitted by the Bench-equivalent part
  *     of the rep (build + plan + count)
  */
object Probe {
  /** Local property naming the rep a job belongs to. */
  private val RepTag = "graft.probe.rep"

  final case class Rep(buildS: Double, planS: Double, countS: Double,
                       fullS: Double, rows: Long)

  /** One measured rep of `q`. Build, plan and count run with [[RepTag]]
    * set to `tag`; the full-output pass runs untagged. Returns the rep
    * and the built frame, whose own plan the full-output pass executed
    * (so its `executedPlan` is the final AQE plan).
    */
  def rep(spark: SparkSession, sfDir: String,
          q: (SparkSession, String) => DataFrame, tag: String): (Rep, DataFrame) = {
    val sc = spark.sparkContext
    def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(RepTag, tag)
    try {
      var t0 = System.nanoTime()
      val df = q(spark, sfDir)
      val buildS = since(t0)
      t0 = System.nanoTime()
      df.queryExecution.executedPlan
      val planS = since(t0)
      t0 = System.nanoTime()
      df.count()
      val countS = since(t0)
      sc.setLocalProperty(RepTag, null)
      // df.count() plans a new aggregate over df; executing df's own
      // queryExecution keeps the final sort and finalizes its AQE plan
      t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      (Rep(buildS, planS, countS, since(t0), rows), df)
    } finally sc.setLocalProperty(RepTag, null)
  }

  /** Jobs, stages and tasks per [[RepTag]] value. Written on the
    * listener-bus thread; read after `spark.stop()` has drained it. */
  private final class JobCounts extends SparkListener {
    val byTag = mutable.HashMap.empty[String, Array[Int]]
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(RepTag)))
        .foreach { tag =>
          val c = byTag.getOrElseUpdate(tag, new Array[Int](3))
          c(0) += 1
          c(1) += js.stageInfos.size
          c(2) += js.stageInfos.map(_.numTasks).sum
        }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Probe <sfDir> <q1,q2,...> [reps=3]")
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 0, s"reps must be >= 0, got $reps")
    // validate BEFORE paying session startup for a typo
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; known: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val spark = Session.harnessBuilder(defaultCpus = "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // queries that use a graft function BEFORE their first Tables.load
    // (e.g. a selectExpr built at plan-construction time) need the
    // registry up front — Tables.load registers lazily otherwise
    GraftExpressions.register(spark)
    if (reps == 0) {
      names.foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        Session.scrubBlocks(spark)
      }
      spark.stop()
    } else measure(spark, sfDir, names, reps)
  }

  private def measure(spark: SparkSession, sfDir: String,
                      names: Seq[String], reps: Int): Unit = {
    val counts = new JobCounts
    spark.sparkContext.addSparkListener(counts)
    val measured = names.map { n =>
      val q = SparkEntry.queries(n)
      n -> (try {
        rep(spark, sfDir, q, null) // warm-up
        Session.scrubBlocks(spark)
        val (rs, dfs) = (1 to reps).map { i =>
          val r = rep(spark, sfDir, q, s"$n#$i")
          Session.scrubBlocks(spark)
          r
        }.unzip
        Right((rs, dfs.last.queryExecution.explainString(
          ExplainMode.fromString("formatted"))))
      } catch { case NonFatal(e) => Left(e) })
    }
    spark.stop() // drains the listener bus: every job start is counted
    def med[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)
    measured.foreach {
      case (n, Left(e)) =>
        println(s"PROBE $n FAILED ${e.getClass.getName}: ${e.getMessage}")
      case (n, Right((rs, plan))) =>
        val c = (1 to reps).map(i =>
          counts.byTag.getOrElse(s"$n#$i", new Array[Int](3)).toSeq)
        println(f"PROBE $n%-34s build_s=${med(rs.map(_.buildS))}%.3f " +
          f"plan_s=${med(rs.map(_.planS))}%.3f " +
          f"count_s=${med(rs.map(_.countS))}%.3f " +
          f"full_s=${med(rs.map(_.fullS))}%.3f rows=${rs.head.rows} " +
          s"jobs=${med(c.map(_(0)))} stages=${med(c.map(_(1)))} " +
          s"tasks=${med(c.map(_(2)))}")
        println(plan)
    }
  }
}
