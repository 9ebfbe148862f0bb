package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.streaming.BlockHygiene
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the ownership contract of [[BlockHygiene]]: a bracket releases
  * exactly the RDDs ITS body registered — not a concurrent query's
  * checkpoints, not an outer bracket's, and (the round-11 fix) not via
  * a buffer inherited by a thread spawned inside the bracket — and that
  * the main sources take no checkpoint outside its tracked call.
  */
class BlockHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ckpt(tag: Int): DataFrame =
    BlockHygiene.checkpointTracked(Seq(tag, tag + 1).toDF("v"))

  test("bracket releases exactly what its body tracked; untracked persists survive") {
    val before = persistedIds
    // a "concurrent query's" checkpoint: persisted during the bracket
    // window but NOT through checkpointTracked — must survive the sweep
    var bystander: DataFrame = null
    BlockHygiene.releasingNewPersists(spark) {
      ckpt(1).count()
      bystander = Seq(9).toDF("v").localCheckpoint()
      bystander.count()
    }
    val after = persistedIds -- before
    assert(after.size == 1,
      s"expected only the untracked bystander to survive, got $after")
    assert(bystander.count() == 1) // its only copy was not destroyed
    bystander.unpersist(blocking = true)
  }

  test("fresh-stats checkpoint is bracket-tracked: swept on exit, not reported as a re-leak") {
    val before = persistedIds
    BlockHygiene.releasingNewPersists(spark) {
      org.apache.spark.sql.execution.GraftCheckpoint
        .localCheckpointFreshStats(Seq(1, 2).toDF("v")).count()
    }
    assert((persistedIds -- before).isEmpty,
      "fresh-stats checkpoint leaked past the bracket sweep")
  }

  test("materializePaa's series checkpoint is bracket-tracked: swept, not a re-leak") {
    val dir = java.nio.file.Files.createTempDirectory("graftpaahyg").toString
    val before = persistedIds
    BlockHygiene.releasingNewPersists(spark) {
      graft.analytics.TimeSeriesAnalytics
        .materializePaa(spark, SparkTestBase.sf, dir)
    }
    assert((persistedIds -- before).isEmpty,
      "materializePaa's series checkpoint leaked past the bracket sweep")
  }

  test("TS pair tiers' series checkpoints are bracket-tracked: swept, not re-leaks") {
    val before = persistedIds
    BlockHygiene.releasingNewPersists(spark) {
      graft.analytics.TimeSeriesAnalytics
        .tsSimilarity(spark, SparkTestBase.sf).count()
      graft.analytics.TimeSeriesAnalytics
        .tsSimilarityPaaCapped(spark, SparkTestBase.sf).count()
    }
    assert((persistedIds -- before).isEmpty,
      "TS pair tiers' series checkpoints leaked past the bracket sweep")
  }

  test("fresh-stats checkpoint preserves the physical output partitioning") {
    // the checkpointed frame of a hash-partitioned child must not
    // re-shuffle when a downstream op needs that same partitioning
    val agg = Seq((1, 2), (1, 3), (2, 4)).toDF("k", "v")
      .repartition(4, $"k")
    val ck = org.apache.spark.sql.execution.GraftCheckpoint
      .localCheckpointFreshStats(agg)
    val plan = ck.groupBy($"k").count().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"checkpoint dropped the hash partitioning — downstream re-shuffles:\n$plan")
    graft.streaming.BlockHygiene.unpersistCheckpointed(ck)
  }

  test("outside a bracket checkpointTracked degrades to plain localCheckpoint") {
    val before = persistedIds
    val df = ckpt(10)
    assert(df.count() == 2)
    assert((persistedIds -- before).nonEmpty,
      "degraded checkpoint should still persist (and stay persisted)")
    spark.sparkContext.getPersistentRDDs
      .filterKeys(id => !before.contains(id))
      .values.foreach(_.unpersist(blocking = true))
  }

  test("nested brackets: inner sweep leaves the outer bracket's blocks alone") {
    val before = persistedIds
    BlockHygiene.releasingNewPersists(spark) {
      val outer = ckpt(20)
      outer.count()
      BlockHygiene.releasingNewPersists(spark) { ckpt(30).count() }
      // the inner sweep must not have taken the outer block with it,
      // and post-inner tracking must land in the OUTER buffer again
      assert((persistedIds -- before).nonEmpty,
        "inner bracket swept the outer bracket's checkpoint")
      ckpt(40).count()
    }
    assert((persistedIds -- before).isEmpty,
      "outer bracket failed to release its own (incl. post-inner) blocks")
  }

  test("every main-source localCheckpoint goes through the tracked call") {
    // the one-call contract, checked on the source: a bare
    // localCheckpoint reached from a bracketed foreachBatch body would
    // leak one persisted RDD per micro-batch, which no sweep can see.
    // An RDD-level checkpoint passes only if the same line registers
    // it (trackPersisted); comments are ignored.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val exempt = Set("BlockHygiene.scala", "GraftCheckpoint.scala")
    val files = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.exists(_.getFileName.toString == "Dedup.scala"))
    val bare = for {
      f <- files if !exempt(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && code.contains(".localCheckpoint(") &&
        !code.contains("trackPersisted(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(bare.isEmpty,
      s"localCheckpoint outside BlockHygiene.checkpointTracked:\n${bare.mkString("\n")}")
  }

  test("a thread spawned inside a bracket does not inherit the tracked buffer") {
    val spawnedDone = new CountDownLatch(1)
    @volatile var spawnedCk: DataFrame = null
    BlockHygiene.releasingNewPersists(spark) {
      ckpt(50).count()
      // spawn while the bracket is live and let it checkpoint BEFORE
      // the bracket exits — with an InheritableThreadLocal backing
      // (DynamicVariable) this thread inherits the buffer, so the
      // bracket's sweep would unpersist the spawned thread's block,
      // destroying the ONLY copy of a lineage-truncated RDD that
      // belongs to a different logical stream
      val spawned = new Thread(() => {
        spawnedCk = ckpt(60)
        spawnedCk.count()
        spawnedDone.countDown()
      })
      spawned.start()
      assert(spawnedDone.await(30, TimeUnit.SECONDS), "spawned thread stalled")
      spawned.join()
    }
    // correct behavior: no bracket on the spawned thread ⇒ its
    // checkpoint was a plain localCheckpoint, untouched by the sweep
    assert(spawnedCk.queryExecution.analyzed
        .collectFirst { case l: org.apache.spark.sql.execution.LogicalRDD =>
          spark.sparkContext.getPersistentRDDs.contains(l.rdd.id) }
        .contains(true),
      "bracket sweep destroyed the spawned thread's checkpoint (inherited buffer)")
    assert(spawnedCk.count() == 2)
    spawnedCk.unpersist(blocking = true)
  }
}
