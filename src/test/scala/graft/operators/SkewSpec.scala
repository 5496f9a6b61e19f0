package graft.operators

import org.apache.spark.StageTaskRows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-key skew at operator scale: the dup-span passes (gates x40 and
  * x43) over a corpus where ONE stop-word gram ("the the the") holds as
  * many occurrences as the whole unique-gram tail. A shape that routes
  * every occurrence of a gram to one task (the whole-partition window
  * over `gram`) puts the hot gram on a single straggler; the shipped
  * two-level shape partial-aggregates it map-side, so no task of any
  * stage reads more than a small multiple of its stage's median rows
  * (probes/span_skew_r16.json measured the same at 1M and 8M hot
  * occurrences on 32 cores).
  *
  * Shuffles keep their full partition count here (AQE coalescing off):
  * coalescing a fixture this small folds every stage into one task and
  * would hide any skew. */
class SkewSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  private val K = 3
  /** Largest task of a stage may read at most this multiple of the
    * stage's median task rows. */
  private val MaxSkew = 3.0

  /** 100 docs of 2,000 copies of one token (≈200k occurrences of one
    * gram) next to 1,000 docs of 200 unique tokens (≈200k unique grams),
    * written to parquet so the measured plan scans like a table. */
  private lazy val docs: DataFrame = {
    val hot = spark.range(100).select(
      concat(lit("hot_"), col("id")).as("doc_id"),
      array_join(transform(sequence(lit(1), lit(2000)), _ => lit("the")), " ")
        .as("text"))
    val tail = spark.range(1000).select(
      concat(lit("tail_"), col("id")).as("doc_id"),
      array_join(transform(sequence(lit(1), lit(200)),
        i => concat(col("id"), lit("w"), i)), " ").as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    hot.unionByName(tail).repartition(8).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every stage of `op` over the fixture with several tasks and a
    * non-trivial load keeps its largest task within [[MaxSkew]] × its
    * median. */
  private def assertNoStraggler(label: String)(op: DataFrame => DataFrame)
      : Unit = {
    val input = docs // the fixture's own write stays out of the census
    val census = new StageTaskRows(spark.sparkContext)
    val stages =
      try census.during(op(input).write.format("noop").mode("overwrite").save())
      finally census.close()
    val report = stages.toSeq.sortBy(_._1).map { case (id, rows) =>
      val sorted = rows.sorted
      (id, sorted.size, sorted(sorted.size / 2), sorted.last)
    }
    val shown = report.map { case (id, n, med, mx) =>
      s"stage $id: tasks=$n median=$med max=$mx" }.mkString("\n")
    info(s"$label\n$shown")
    assert(stages.values.flatten.sum >= 200000L,
      s"$label: the census missed the gram stages\n$shown")
    report.foreach { case (id, n, med, mx) =>
      if (n >= 2 && mx >= 1000L)
        assert(mx <= MaxSkew * math.max(med, 1L),
          s"$label: stage $id straggles ($mx rows vs median $med)\n$shown")
    }
  }

  test("x40 dup spans: the hot gram leaves no straggler task") {
    assertNoStraggler("duplicateSpans")(
      Dedup.duplicateSpans(_, "doc_id", "text", K))
  }

  test("x43 dup-span removal: the hot gram leaves no straggler task") {
    assertNoStraggler("removeDuplicateSpans")(
      Dedup.removeDuplicateSpans(_, "doc_id", "text", K))
  }
}
