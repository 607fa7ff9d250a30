package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class RelationCacheSpec extends SparkSpec {

  /** The Spark jobs `body` starts, counted by a listener on its job group.
    * The listener bus is asynchronous, so a marker job in a second group
    * runs after `body` and is awaited: the bus delivers events in order, so
    * once the marker's start is seen every job of `body` has been counted.
    */
  private def jobsIn(body: => Unit): Int = {
    val group = s"relation-cache-${System.nanoTime}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`marker`) => markerSeen = true
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "relation resolves")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!markerSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen, "the listener bus did not deliver the marker job within 30 s")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  private def withDir(body: String => Unit): Unit = {
    Files.createDirectories(Paths.get("target"))
    val base = Files.createTempDirectory(Paths.get("target"), "relation-cache")
    try body(base.toString) finally cdc.FsUtils.deleteRecursively(base)
  }

  test("relative, absolute and dotted spellings of one directory resolve once per session") {
    withDir { base =>
      val relative = s"$base/t.parquet"
      spark.range(3).write.parquet(relative)
      val absolute = new java.io.File(relative).getAbsolutePath
      val dotted = new java.io.File(s"$base/./t.parquet").getAbsolutePath
      val jobs = jobsIn(Seq(relative, absolute, dotted).foreach(RelationCache.parquet(spark, _)))
      assert(jobs == 1, s"$jobs schema-inference jobs for three spellings of one directory")
      assert(RelationCache.parquet(spark, dotted).count() == 3)
    }
  }

  test("a rewritten directory resolves again, with no invalidation call") {
    withDir { base =>
      val path = s"$base/t.parquet"
      spark.range(3).write.parquet(path)
      assert(RelationCache.parquet(spark, path).count() == 3)
      spark.range(5).write.mode("overwrite").parquet(path)
      assert(RelationCache.parquet(spark, path).count() == 5)
    }
  }
}
