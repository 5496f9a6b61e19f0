package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Lake storage is reached only through [[LakeFs]]: no engine, source,
  * operator or plan file (nor `graft/Tables.scala`) may call the local
  * disk directly — `java.io.File`, `java.nio.file.Files`, `Paths.get`,
  * `listFiles(`. Left out on purpose:
  *  - `engine/LakeFs.scala`, the seam itself (hard links on the local
  *    disk);
  *  - `sources/IcebergCommit.scala`, the cross-process commit protocol,
  *    which relies on atomic hard links until commits claim their version
  *    with a conditional create;
  *  - the wire's result-chunk spill files in `engine/SnowflakeTypes.scala`;
  *  - the default warehouse temp dir in `engine/GraftSession.scala`. */
class StorageSeamGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")
  private val dirs = Seq("engine", "sources", "operators", "plans")
  private val direct =
    """java\.io\.File\b|\bjava\.nio\.file\.Files\b|(?<![\w.])Files\.|Paths\.get|listFiles\(|import java\.(io|nio\.file)\..*\b(File|Files|Paths)\b""".r
  private val excludedFiles = Set("engine/LakeFs.scala", "sources/IcebergCommit.scala")
  /** file → the only direct-call lines it may keep (substring match) */
  private val allowedLines = Map(
    "engine/SnowflakeTypes.scala" -> Seq("java.nio.file.Files"),
    "engine/GraftSession.scala" ->
      Seq("""java.nio.file.Files.createTempDirectory("graft_warehouse")"""))

  private def scanned: Seq[(String, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    val files = dirs.flatMap { d =>
      val s = java.nio.file.Files.list(root.resolve(d))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    (files :+ root.resolve("Tables.scala"))
      .map(p => root.relativize(p).toString -> p)
      .filterNot { case (rel, _) => excludedFiles.contains(rel) }
  }

  test("no direct disk call outside the storage seam and its named exclusions") {
    val files = scanned
    assert(files.exists(_._1 == "engine/GraftSession.scala") &&
      files.exists(_._1 == "Tables.scala"), "scan must reach the engine")
    val offenders = for {
      (rel, p) <- files
      (line, no) <- java.nio.file.Files.readAllLines(p).toArray
        .map(_.toString).zipWithIndex.toSeq
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/**")
      if direct.findFirstIn(code).isDefined
      if !allowedLines.getOrElse(rel, Nil).exists(code.contains)
    } yield s"$rel:${no + 1}: $code"
    assert(offenders.isEmpty,
      "direct disk calls — route them through LakeFs:\n" + offenders.mkString("\n"))
  }
}
