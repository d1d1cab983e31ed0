package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark sessions are expensive;
  * scalatest suites run sequentially in one JVM under `Test / fork`). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` starts, counted by a SparkListener. Marker jobs run
    * before and after `body`; listener events arrive in order, so once the
    * closing marker has ended every job in between has been seen. */
  def jobsDuring[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val markerProp = "graft.test.marker"
    val events = scala.collection.mutable.ArrayBuffer.empty[String] // "job" or a marker name
    val ended = new java.util.concurrent.CountDownLatch(1)
    var closingJob = -1
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        events.synchronized {
          val marker = Option(e.properties).flatMap(p => Option(p.getProperty(markerProp)))
          events += marker.getOrElse("job")
          if (marker.contains("close")) closingJob = e.jobId
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        events.synchronized { if (e.jobId == closingJob) ended.countDown() }
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty(markerProp, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerProp, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker")
      val seen = events.synchronized(events.toList)
      (seen.dropWhile(_ != "open").drop(1).takeWhile(_ != "close").size, out)
    } finally sc.removeSparkListener(listener)
  }
}
