package graft.tools

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev tool: per-gate Spark-job breakdown for the bench pack. For each
  * named gate (or a default hot list) runs the gate warm, then `reps`
  * timed passes with a listener recording every job's callsite and
  * wall-clock, so the fixed per-job cost of a gate is attributable to
  * source lines (`perfbench/run.py --trace 1` gives statements the same
  * evidence as a per-layer split).
  *
  * Usage: runMain graft.tools.GateJobProbe <sfDir> [reps] [gate,gate,...]
  */
object GateJobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "512m")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.graft.lowCardAgg", "auto")
      .config("spark.graft.bitmapDistinct", "auto")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // (callsite, jobStartMs, jobEndMs) per job, reset per gate pass
    case class J(site: String, start: Long, var end: Long)
    val live = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[J]())
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = js.stageInfos.lastOption
            .map(_.name.takeWhile(_ != '\n')).getOrElse("?")
          live.put(js.jobId, J(site, js.time, js.time)); ()
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val j = live.remove(je.jobId)
          if (j != null) { j.end = je.time; done.add(j) }; ()
        }
      })

    val all = graft.SparkEntry.queries
    val hot = if (args.length > 2) args(2).split(",").toSeq
      else Seq("x42_semantic_dedup", "snow75_dynamic_table_join_chain",
        "x43_dup_span_removal", "snow73_dynamic_table_chain",
        "x29_components_longchain", "snow76_stream_on_dynamic_table",
        "x40_dup_spans", "snow79_dynamic_table_count_distinct",
        "x45_incremental_dedup", "x37_multimodal_resize")

    def fullExec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val out = new StringBuilder("{\n")
    hot.zipWithIndex.foreach { case (name, gi) =>
      val fn = all(name)
      // warm (untimed)
      try fullExec(fn(spark, sfDir)) catch { case e: Throwable =>
        println(s"WARM FAIL $name: ${e.getMessage.take(120)}") }
      val times = mutable.ArrayBuffer[Double]()
      var jobsPerRep = 0
      var siteAgg = Map.empty[String, (Int, Long)]
      (1 to reps).foreach { r =>
        done.clear(); live.clear()
        spark.sparkContext.setJobDescription(s"gate:$name rep:$r")
        val t0 = System.nanoTime()
        try fullExec(fn(spark, sfDir)) catch { case _: Throwable => }
        times += (System.nanoTime() - t0) / 1e9
        if (r == reps) { // last rep's job census
          import scala.jdk.CollectionConverters._
          val js = done.asScala.toList
          jobsPerRep = js.size
          siteAgg = js.groupBy(_.site).map { case (s, l) =>
            s -> (l.size, l.map(j => j.end - j.start).sum) }
        }
      }
      val best = times.min
      val med = times.sorted.apply(times.size / 2)
      println(f"GATE $name%-38s min=$best%6.3f med=$med%6.3f jobs=$jobsPerRep%3d")
      siteAgg.toSeq.sortBy(-_._2._2).take(14).foreach { case (s, (n, ms)) =>
        println(f"    $ms%6d ms  x$n%-3d $s")
      }
      out.append(s"""  "$name": {"min": $best, "med": $med, "jobs": $jobsPerRep}""")
      out.append(if (gi == hot.size - 1) "\n" else ",\n")
    }
    out.append("}\n")
    val outPath = sys.env.getOrElse("GATEJOB_OUT", "/tmp/gatejob.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.toString.getBytes)
    spark.stop()
  }
}
