package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.collection.concurrent.TrieMap

/** The engine's one storage seam: every listing, signature, small-file
  * read or write, existence/size probe, recursive delete and tree copy of
  * lake storage goes through the Hadoop `FileSystem` that the running
  * SparkContext's `hadoopConfiguration` resolves for the path — the
  * same filesystem Spark's own readers and writers use, so a path under
  * any registered scheme (`fs.<scheme>.impl`) works end to end (the
  * reference's fsspec layer, `universql/lake/fsspec_util.py:91-237`).
  * The configuration is the context's own object, never a per-call copy;
  * `FileSystem.get` caches the instance per scheme and authority.
  *
  * Path strings: a path the seam returns (listed data files) is
  * scheme-less and absolute on the local disk — the form the engine has
  * always stored in stream offsets, dynamic-table offsets and Iceberg
  * manifests — and fully qualified under any other scheme.
  *
  * Data files: a listing walks the tree and skips what Spark's file
  * index skips — names starting with `.` (checksums, temp files) and
  * with `_` unless they hold a `=` (`_SUCCESS`, `_temporary`; partition
  * directories like `__sign=1` stay visible).
  */
object LakeFs {

  private def conf = SparkSession.active.sparkContext.hadoopConfiguration

  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf)

  private def shown(p: Path): String =
    if (p.toUri.getScheme == "file") p.toUri.getPath else p.toString

  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** The path's status; None when nothing exists there. */
  def status(path: String): Option[FileStatus] = {
    val p = new Path(path)
    try Some(fsOf(p).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  def exists(path: String): Boolean = status(path).isDefined

  def isDirectory(path: String): Boolean = status(path).exists(_.isDirectory)

  /** Length of one file (0 when missing). */
  def size(path: String): Long = status(path).map(_.getLen).getOrElse(0L)

  /** Bytes under a file or directory tree. */
  def totalSize(path: String): Long = {
    val p = new Path(path)
    fsOf(p).getContentSummary(p).getLength
  }

  /** The fully qualified form of `path` (scheme + authority). */
  def qualified(path: String): String = {
    val p = new Path(path)
    fsOf(p).makeQualified(p).toString
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).mkdirs(p)
    ()
  }

  def readBytes(path: String): Array[Byte] = {
    val in = open(path)
    try in.readAllBytes() finally in.close()
  }

  def open(path: String): java.io.InputStream = {
    val p = new Path(path)
    fsOf(p).open(p)
  }

  /** A reader over one parquet file (its footer is read on open), on the
    * context's own configuration. Both the input file and the read
    * options take it explicitly: parquet's option-less `open` builds a
    * fresh `Configuration` per call, which loads the default resources
    * again — ~9 ms per file, 20× the open itself. */
  def parquetReader(path: String): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** A new file at `path` (replacing one already there). */
  def create(path: String): java.io.OutputStream = {
    val p = new Path(path)
    fsOf(p).create(p, true)
  }

  /** Delete a file or a whole tree; a missing path is not an error. */
  def delete(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).delete(p, true)
    ()
  }

  /** Give `dest` the files of `src` (one file or a tree), keeping the
    * layout; a single-file source becomes a one-file directory, so both
    * shapes read back as `parquet(dest)`. On the local disk each file is
    * hard-linked (no byte moves; a byte copy only where the disk refuses
    * links); elsewhere each file is copied. */
  def linkTree(src: String, dest: String): Unit = {
    val s = new Path(src); val d = new Path(dest)
    val fs = fsOf(s)
    def place(from: FileStatus, to: Path): Unit =
      if (fs.getScheme == "file") {
        val t = java.nio.file.Path.of(to.toUri.getPath)
        val f = java.nio.file.Path.of(from.getPath.toUri.getPath)
        try { java.nio.file.Files.createLink(t, f); () }
        catch { case _: Exception => java.nio.file.Files.copy(f, t); () }
      } else { FileUtil.copy(fs, from.getPath, fs, to, false, conf); () }
    def walk(st: FileStatus, to: Path): Unit =
      if (st.isDirectory) {
        fs.mkdirs(to)
        fs.listStatus(st.getPath)
          .foreach(c => walk(c, new Path(to, c.getPath.getName)))
      } else place(st, to)
    val root = fs.getFileStatus(s)
    if (root.isDirectory) walk(root, d)
    else { fs.mkdirs(d); place(root, new Path(d, s.getName)) }
  }

  /** Data files under `path` (the file itself when it is one), sorted;
    * empty when nothing exists there. */
  def dataFiles(path: String): Seq[String] =
    dataStatuses(path).map(_.map(st => shown(st.getPath)).sorted).getOrElse(Nil)

  /** A signature of the data files under `path` — every file's name,
    * size and modification time — that changes with any append,
    * overwrite or re-create; None when nothing exists there. */
  def signature(path: String): Option[Long] =
    dataStatuses(path).map(_.foldLeft(1125899906842597L) { (h, st) =>
      ((h * 31 + st.getPath.toString.hashCode) * 31 + st.getLen) * 31 +
        st.getModificationTime
    })

  /** Stage files matching `pattern` (a glob, a file or a directory
    * tree) with their sizes, under their fully qualified names — the
    * names COPY's load history and LIST report. */
  def expand(pattern: String): Seq[(String, Long)] = {
    val p = new Path(pattern)
    val fs = fsOf(p)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    (if (matched.nonEmpty) matched else Seq(fs.getFileStatus(p)))
      .filterNot(st => hidden(st.getPath.getName))
      .flatMap(under(fs, _))
      .map(st => (st.getPath.toString, st.getLen))
  }

  private def dataStatuses(path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = fsOf(p)
    try Some(under(fs, fs.getFileStatus(p)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The data files of a tree, depth first in name order. */
  private def under(fs: FileSystem, root: FileStatus): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(st: FileStatus): Unit =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).foreach { c =>
          if (!hidden(c.getPath.getName)) walk(c)
        }
      else out += st
    walk(root)
    out.result()
  }

  // ── the parquet schema memo ────────────────────────────────────────────

  /** path → (signature, schema). `spark.read.parquet` with no declared
    * schema runs a footer-reading Spark job per call (measured: ~60-100
    * ms of scheduler latency each), and the engine reads the same paths
    * on every rebind of a session view, every write-path read and every
    * gate. A path's schema is a function of its file set, so it is kept
    * under the path's [[signature]]: any append, overwrite or re-create
    * changes the signature and re-infers, with no reliance on catching
    * every write site. */
  private val schemaMemo = TrieMap.empty[String, (Long, StructType)]

  /** Read parquet at `path` with the memoized schema; `sig` is the
    * path's signature when the caller already took it. */
  def readParquet(spark: SparkSession, path: String,
      sig: Option[Long] = None): DataFrame =
    sig.orElse(signature(path)) match {
      case None => spark.read.parquet(path) // missing: Spark's own error
      case Some(s) => schemaMemo.get(path) match {
        case Some((`s`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemaMemo.put(path, (s, df.schema))
          df
      }
    }

  /** Record `schema` for a path the engine just wrote, so the
    * write→read-back pattern (DT state merges, COW swaps, CTAS) never
    * pays an inference job. Nullable-widened: declaring a column
    * non-nullable over files that hold nulls breaks codegen null checks,
    * and the widened form reads the same values. */
  def primeSchema(path: String, schema: StructType): Unit =
    signature(path).foreach(s => schemaMemo.put(path, (s, widenNullable(schema))))

  private def widenNullable(s: StructType): StructType = {
    def w(dt: DataType): DataType = dt match {
      case st: StructType => widenNullable(st)
      case ArrayType(et, _) => ArrayType(w(et), containsNull = true)
      case MapType(k, v, _) => MapType(w(k), w(v), valueContainsNull = true)
      case other => other
    }
    StructType(s.fields.map(f => f.copy(dataType = w(f.dataType),
      nullable = true)))
  }
}
