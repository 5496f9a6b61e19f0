package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The engine has no plan-selecting settings: each plan rule decides from
  * observed statistics alone. No engine, plan, source, operator, function
  * or protocol file may read a `"spark.graft.` setting, `sys.env` or
  * `System.getenv`. The one deployment setting left is the wire's result
  * chunk size, `SPARK_GRAFT_WIRE_CHUNK_ROWS`, read in
  * `protocol/SnowflakeServer.scala`. The entry points outside these
  * directories (`Bench`, `Verify`, …) keep their own environment
  * levers. */
class SettingsGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")
  private val dirs =
    Seq("engine", "plans", "sources", "operators", "functions", "protocol")
  private val setting = """"spark\.graft\.|\bsys\.env\b|System\.getenv""".r
  /** The one allowed read, matched on the line and the line after it
    * (the call spans two lines). */
  private def allowed(rel: String, window: String): Boolean =
    rel == "protocol/SnowflakeServer.scala" &&
      window.contains("chunkRows: Int = sys.env.getOrElse(") &&
      window.contains("\"SPARK_GRAFT_WIRE_CHUNK_ROWS\"")

  test("no engine file reads a spark.graft setting or the environment") {
    import scala.jdk.CollectionConverters._
    val files = dirs.flatMap { d =>
      val s = java.nio.file.Files.walk(root.resolve(d))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }.map(p => root.relativize(p).toString -> p)
    assert(files.exists(_._1 == "plans/LowCardAgg.scala") &&
      files.exists(_._1 == "protocol/SnowflakeServer.scala"),
      "scan must reach the engine")
    val offenders = for {
      (rel, p) <- files
      lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
      (line, no) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/**")
      if setting.findFirstIn(code).isDefined
      if !allowed(rel, code + lines.lift(no + 1).getOrElse(""))
    } yield s"$rel:${no + 1}: $code"
    assert(offenders.isEmpty,
      "settings read inside the engine:\n" + offenders.mkString("\n"))
  }
}
