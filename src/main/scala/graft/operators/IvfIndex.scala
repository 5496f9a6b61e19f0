package graft.operators

import graft.engine.LakeFs
import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the clustered
  * alternative to sign-LSH as the similarity scale path.
  *
  * Train: nlist centroids via deterministic seeding (lowest ids) + a few
  * Lloyd iterations. Centroids are tiny (nlist × dim doubles) and live on
  * the driver / in broadcasts — standard IVF practice; the corpus-side
  * work (assignment, scoring) stays fully distributed and per-row.
  *
  * Query: score each query against centroids, probe the `nprobe` nearest
  * lists, exact-score only vectors in probed lists. Recall < 1 by design;
  * accuracy/cost is tuned with nlist/nprobe.
  */
object IvfIndex {

  final case class Model(centroids: Array[(Int, Array[Double])])

  private def toDouble(a: Seq[Float]): Array[Double] = a.map(_.toDouble).toArray

  /** Deterministic k-means-lite: init from the nlist lowest-id vectors,
    * `iters` Lloyd steps. */
  def train(corpus: DataFrame, nlist: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val spark = corpus.sparkSession
    var centroids: Array[(Int, Array[Double])] = corpus
      .orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .zipWithIndex
      .map { case (r, i) => (i, toDouble(r.getSeq[Float](0))) }

    for (_ <- 0 until iters) {
      val assigned = assign(corpus, Model(centroids), idCol, vecCol)
      val dim = centroids.head._2.length
      // cast the vector to double ONCE per row (columnar projection);
      // the old shape re-cast the whole array inside every per-dimension
      // sum term — dim × |vec| copies per row instead of |vec|
      val sums = assigned
        .select(col("list_id"), col(vecCol).cast("array<double>").as("__vd"))
        .groupBy("list_id")
        .agg(
          count(lit(1)).as("n"),
          array((0 until dim).map(j =>
            sum(element_at(col("__vd"), j + 1))): _*)
            .as("sums"))
        .collect()
      val updated = sums.map { r =>
        val lid = r.getInt(0)
        val n = r.getLong(1).toDouble
        val s = r.getSeq[Double](2)
        (lid, s.map(_ / n).toArray)
      }.toMap
      centroids = centroids.map { case (lid, c) => (lid, updated.getOrElse(lid, c)) }
    }
    Model(centroids)
  }

  /** Nearest-centroid assignment (per-row; no shuffle). */
  def assign(corpus: DataFrame, model: Model,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    // argmin over centroids of negative cosine ≈ argmax dot/|c| (corpus
    // norm constant per row); greatest-based fold keeps it expression-only
    val scores = model.centroids.map { case (lid, c) =>
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      val dot = VectorOps.dot(v, lit(c))
      struct((dot / lit(cNorm)).as("score"), lit(lid).as("lid"))
    }
    corpus.withColumn("list_id",
      greatest(scores.toIndexedSeq: _*).getField("lid"))
  }

  // ── persistent index ────────────────────────────────────────────────────

  /** A built index: broadcastable centroids + the corpus pre-assigned to
    * lists, projected to exactly what probing needs. */
  final case class Index(model: Model, assigned: DataFrame)

  /** JVM-local cache fronting the on-disk index (the whole Index, so a
    * warm call re-runs nothing — not even partition discovery). */
  private val indexCache =
    scala.collection.concurrent.TrieMap.empty[String, Index]

  /** Identity of the corpus at rest: the scan's root path for a
    * single-relation plan, else the analyzed plan's canonicalized hash
    * (JVM-stable). */
  private def corpusKey(corpus: DataFrame): String =
    corpus.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString).sorted.mkString(",")
          case _ => ""
        }
    } match {
      case Seq(p) if p.nonEmpty => p
      case _ => "plan:" + corpus.queryExecution.analyzed.canonicalized.hashCode
    }

  /** Build-or-load the persistent index for `(corpus, nlist, iters)`.
    *
    * First call trains k-means and writes BOTH artifacts to disk:
    * `centroids` (nlist × dim doubles — tiny) and `assigned` (the corpus
    * projected to (neighbor_id, vec, normSq, list_id)). Every later call —
    * including from a fresh JVM — loads them instead of re-training: the
    * round-5 shape re-ran the driver-side k-means collects on every query
    * for identical results. At 100 TB this is the write-once/probe-many
    * split: index build cost amortizes across all subsequent ANN queries,
    * and probing scans the (pruned) assigned table only. */
  def index(corpus: DataFrame, nlist: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Index = {
    val spark = corpus.sparkSession
    val key = Seq(corpusKey(corpus), nlist, iters, idCol, vecCol).mkString("|")
    indexCache.getOrElseUpdate(key, {
      val dir = System.getProperty("java.io.tmpdir") +
        f"/graft_ivf/${key.hashCode}%08x"
      val model =
        if (LakeFs.exists(s"$dir/centroids/_SUCCESS")) {
          val rows = spark.read.parquet(s"$dir/centroids")
            .orderBy("list_id").collect()
          Model(rows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)))
        } else {
          val m = train(corpus, nlist, iters, idCol, vecCol)
          val spark2 = spark
          import spark2.implicits._
          m.centroids.toSeq.map { case (lid, c) => (lid, c.toSeq) }
            .toDF("list_id", "centroid")
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
          m
        }
      if (!LakeFs.exists(s"$dir/assigned/_SUCCESS"))
        assign(corpus, model, idCol, vecCol)
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
            VectorOps.normSq(col(vecCol)).as("cn"), col("list_id"))
          .write.mode("overwrite").partitionBy("list_id")
          .parquet(s"$dir/assigned")
      Index(model, spark.read.parquet(s"$dir/assigned")
        .select("neighbor_id", "cv", "cn", "list_id"))
    })
  }

  /** Top-k per query over a PERSISTED index: no training, no assignment —
    * probe scoring only. `assigned` is partitioned by list_id, so the
    * nprobe list filter prunes at the directory level. */
  def topKIndexed(idx: Index, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probe(idx.assigned, queries, idx.model, k, nprobe, idCol, vecCol)

  /** Test/tooling escape hatch. */
  def clearCache(): Unit = indexCache.clear()

  /** Top-k per query over the `nprobe` nearest lists only (assigns the
    * corpus inline; see [[index]]/[[topKIndexed]] for the persisted
    * write-once/probe-many path). */
  def topK(corpus: DataFrame, queries: DataFrame, model: Model, k: Int,
      nprobe: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = assign(corpus, model, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VectorOps.normSq(col(vecCol)).as("cn"), col("list_id"))
    probe(assigned, queries, model, k, nprobe, idCol, vecCol)
  }

  private def probe(assigned: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    // per query: the nprobe closest centroid ids
    val qScored = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorOps.normSq(col(vecCol)).as("qn"))
    val centroidRows = model.centroids.map { case (lid, c) =>
      (lid, c.toSeq)
    }.toSeq
    val spark = queries.sparkSession
    import spark.implicits._
    val cdf = centroidRows.toDF("list_id", "centroid")
    val probes = qScored.crossJoin(broadcast(cdf))
      .withColumn("cscore",
        VectorOps.dot(col("qv"), col("centroid")) / sqrt(VectorOps.normSq(col("centroid"))))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cscore").desc, col("list_id"))))
      .filter(col("crnk") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("list_id"))
    probes.join(assigned, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        round(VectorOps.dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }
}
