package graft.perfbench

import graft.operators.{Components, Dedup, IvfIndex, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The `corpus` workload: the LLM-pipeline operators called in-process on
  * one thread, closed loop, over `documents` / `embeddings` with
  * seeded near-duplicates (generated by `perfbench/datagen.py`).
  *
  * Documents are sliced by `doc_id mod 4` for the timed calls and by
  * `doc_id mod 16` for the brute-force check; the generator gives every
  * near-duplicate the residue (mod 16) of its source, so each slice holds
  * whole duplicate clusters. */
object Corpus {

  val Kinds: Seq[String] = Seq("dedup", "minhash", "cc", "similarity", "ivf", "text")
  val Shingle = 3
  val Jaccard = 0.6
  val K = 10
  val NList = 16
  val NProbe = 4
  val QuerySets = 16

  final class Data(spark: SparkSession, dir: String) {
    val docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
    val emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
    val nDocs: Long = docs.count()
    val nVecs: Long = emb.count()
    def slice(r: Int): DataFrame = docs.where(pmod(col("doc_id"), lit(4)) =!= r)
    def checkSlice(c: Int): DataFrame = docs.where(pmod(col("doc_id"), lit(16)) === c)
    def queries(q: Int): DataFrame =
      emb.where(pmod(col("vec_id"), lit(QuerySets)) === q)
    /** The corpus's near-duplicate pair graph, materialized once so `cc`
      * times Components alone (on the slice's edges). */
    lazy val allPairs: DataFrame = {
      val df = Dedup.minhashLshPairs(docs, "doc_id", "text", Shingle, Jaccard)
        .select("d1", "d2")
      spark.createDataFrame(df.collect().toList.asJava, df.schema).cache()
    }
    def pairs(r: Int): DataFrame = allPairs.where(pmod(col("d1"), lit(4)) =!= r)
    lazy val ivf: IvfIndex.Index = IvfIndex.index(emb, NList)
  }

  final case class Op(kind: String, slice: Int, query: Int)

  /** Seeded operation sequence: rounds of every kind in a shuffled order. */
  def ops(seed: Long, n: Int): IndexedSeq[Op] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(rnd.shuffle(Kinds)).flatten.take(n).map(k =>
      Op(k, rnd.nextInt(4), rnd.nextInt(QuerySets))).toIndexedSeq
  }

  /** Runs one operator call to completion; returns (input rows, result rows). */
  def run(d: Data, op: Op): (Long, Long) = op.kind match {
    case "dedup" =>
      (d.nDocs * 3 / 4, Dedup.exact(d.slice(op.slice), "doc_id", "text").collect().length)
    case "minhash" =>
      (d.nDocs * 3 / 4, Dedup.minhashLshPairs(d.slice(op.slice), "doc_id", "text",
        Shingle, Jaccard).collect().length)
    case "cc" =>
      val p = d.pairs(op.slice)
      (p.count(), Components.connected(p, "d1", "d2").collect().length)
    case "similarity" =>
      (d.nVecs, Similarity.bruteForceTopK(d.emb, d.queries(op.query), K)
        .collect().length)
    case "ivf" =>
      (d.nVecs, IvfIndex.topKIndexed(d.ivf, d.queries(op.query), K, NProbe)
        .collect().length)
    case "text" =>
      (d.nDocs * 3 / 4, TextAnalysis.qualityFeatures(d.slice(op.slice), "doc_id", "text")
        .collect().length)
  }

  def main(dir: String, seconds: Double, seed: Long): Unit = {
    val spark = BenchMain.spark()
    val d = new Data(spark, dir)
    // warm pass: every kind once (this builds the pair graph and the IVF
    // index too)
    Kinds.foreach { k =>
      val t0 = System.nanoTime()
      run(d, Op(k, 0, 0))
      System.err.println(f"warm $k ${BenchMain.ms(t0)}%.0f ms")
    }
    println("WARM")
    System.out.flush()

    val seq = ops(seed, 100000)
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var inputRows = 0L
    var failed = 0
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      try {
        inputRows += run(d, seq(i))._1
        lat += ((seq(i).kind, BenchMain.ms(t0)))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"corpus op ${seq(i)} failed: $e")
      }
      i += 1
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    val rss = BenchMain.peakRssMb()
    val checks = check(spark, d, new scala.util.Random(seed ^ 0x5eed))
    val out = BenchMain.obj(
      "attempted" -> i, "failed" -> failed, "wall_s" -> wallS,
      "input_rows" -> inputRows, "peak_rss_mb" -> rss,
      "wrong" -> checks.filter(!_._2).map(_._1),
      "checked" -> checks.map(_._1))
    val lats = out.putObject("latency_ms")
    Kinds.foreach { k =>
      val a = lats.putArray(k)
      lat.filter(_._1 == k).foreach(x => a.add(x._2))
    }
    println("RESULT " + BenchMain.mapper.writeValueAsString(out))
    spark.stop()
  }

  // ── brute-force recompute on a seeded slice ──────────────────────────

  private def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length >= Shingle) w.sliding(Shingle).map(_.mkString(" ")).toSet
    else Set(w.mkString(" "))
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  private def vecs(df: DataFrame): Map[Long, Array[Double]] =
    df.select("vec_id", "embedding").collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  /** Brute-force top-k ids per query: (query, Seq[(sim, id)]) sorted. */
  private def bruteTopK(all: Map[Long, Array[Double]], qs: Map[Long, Array[Double]])
      : Map[Long, Seq[(Double, Long)]] =
    qs.map { case (q, qv) =>
      q -> all.iterator.filter(_._1 != q).map { case (id, v) => (cosine(qv, v), id) }
        .toSeq.sortBy(x => (-x._1, x._2)).take(K)
    }

  /** (check name, passed) for every operator, on one seeded slice. */
  def check(spark: SparkSession, d: Data, rnd: scala.util.Random)
      : Seq[(String, Boolean)] = {
    val c = rnd.nextInt(16)
    val q = rnd.nextInt(QuerySets)
    val docs = d.checkSlice(c).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def guarded(name: String)(body: => Boolean): (String, Boolean) =
      name -> (try body catch {
        case e: Exception => System.err.println(s"check $name: $e"); false
      })

    val dedup = guarded("dedup") {
      val got = Dedup.exact(d.checkSlice(c), "doc_id", "text").collect()
        .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
      val want = docs.groupBy(_._2).values.map(g => (g.map(_._1).min, g.length.toLong)).toSet
      got == want
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }
    val wantPairs = (for {
      i <- sh.indices; j <- sh.indices
      (a, sa) = sh(i); (b, sb) = sh(j)
      if a < b
      inter = (sa intersect sb).size
      if inter.toDouble / (sa.size + sb.size - inter).toDouble >= Jaccard
    } yield (a, b)).toSet
    val minhash = guarded("minhash") {
      Dedup.minhashLshPairs(d.checkSlice(c), "doc_id", "text", Shingle, Jaccard)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == wantPairs
    }
    val cc = guarded("cc") {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      wantPairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.toSeq.map(v => v -> find(v)).toMap
      val edges = spark.createDataFrame(
        wantPairs.toSeq.map { case (a, b) => Row(a, b) }.asJava,
        org.apache.spark.sql.types.StructType.fromDDL("d1 BIGINT, d2 BIGINT"))
      val got = Components.connected(edges, "d1", "d2").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }
    val all = vecs(d.emb)
    val qv = vecs(d.queries(q))
    val brute = bruteTopK(all, qv)
    val similarity = guarded("similarity") {
      val got = Similarity.bruteForceTopK(d.emb, d.queries(q), K).collect()
        .groupBy(_.getAs[Long]("query_id"))
      got.keySet == brute.keySet && got.forall { case (qid, rows) =>
        val want = brute(qid)
        val kth = want.last._1
        rows.length == K && rows.forall { r =>
          val id = r.getAs[Long]("neighbor_id")
          val exact = cosine(qv(qid), all(id))
          math.abs(exact - r.getAs[Double]("sim")) < 1e-5 && exact >= kth - 1e-5
        }
      }
    }
    var recall = Seq.empty[Double]
    val ivf = guarded("ivf") {
      val got = IvfIndex.topKIndexed(d.ivf, d.queries(q), K, NProbe).collect()
      val hits = got.groupBy(_.getAs[Long]("query_id")).map { case (qid, rows) =>
        qid -> rows.count(r => brute(qid).exists(_._2 == r.getAs[Long]("neighbor_id")))
      }
      recall = brute.keys.toSeq.sorted.map(qid => hits.getOrElse(qid, 0).toDouble / K)
      got.forall { r =>
        val qid = r.getAs[Long]("query_id")
        val id = r.getAs[Long]("neighbor_id")
        math.abs(cosine(qv(qid), all(id)) - r.getAs[Double]("sim")) < 1e-5
      }
    }
    lastRecall = recall
    val text = guarded("text") {
      val got = TextAnalysis.qualityFeatures(d.checkSlice(c), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Int]("n_chars").toLong, r.getAs[Int]("n_tokens").toLong)).toMap
      got == docs.map { case (id, t) =>
        id -> (t.length.toLong, t.split(" ", -1).length.toLong) }.toMap
    }
    Seq(dedup, minhash, cc, similarity, ivf, text)
  }

  /** IVF recall@K of each query of the last [[check]], against brute force. */
  @volatile var lastRecall: Seq[Double] = Seq.empty
}
