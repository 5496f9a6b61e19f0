package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.protocol.SnowflakeServer
import org.apache.spark.sql.SparkSession

/** JVM entry points of the benchmark (`perfbench/run.py` launches them
  * with plain `java` on the exported classpath):
  *
  *   serve  <lakeDir>                   Snowflake wire façade over the lake;
  *                                      prints `READY <port>`, stops on
  *                                      `STOP` (or EOF) on stdin
  *   corpus <dataDir> <seconds> <seed>  LLM-pipeline operators in-process,
  *                                      closed loop on one thread
  *   trace  <opsFile> <outFile>         traced replay of generated
  *                                      operations through the engine's
  *                                      public entry points
  */
object BenchMain {

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("serve") => serve(args(1))
    case Some("corpus") => Corpus.main(args(1), args(2).toDouble, args(3).toLong)
    case Some("trace") => Trace.main(args(1), args(2))
    case other =>
      System.err.println(s"unknown mode $other")
      sys.exit(2)
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors

  /** The wire path's Spark configuration (as graft.VerifyProtocol sets
    * it), with every temporary directory under the JVM's tmpdir. */
  def spark(): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def serve(lakeDir: String): Unit = {
    val s = spark()
    val server = new SnowflakeServer(s, Some(lakeDir))
    val port = server.start()
    println(s"READY $port")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "STOP") line = in.readLine()
    server.stop()
    s.stop()
  }

  /** This JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def obj(kv: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    kv.foreach {
      case (k, v: Double) => n.put(k, v)
      case (k, v: Int) => n.put(k, v)
      case (k, v: Long) => n.put(k, v)
      case (k, v: Boolean) => n.put(k, v)
      case (k, v: String) => n.put(k, v)
      case (k, v: ObjectNode) => n.set[ObjectNode](k, v)
      case (k, v: Seq[_]) =>
        val a = n.putArray(k)
        v.foreach(x => a.add(String.valueOf(x)))
      case (k, v) => n.put(k, String.valueOf(v))
    }
    n
  }
}
