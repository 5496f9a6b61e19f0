package graft.plans

import graft.sources.IcebergLite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types._

/** Optimizer rule: manifest-level FILE skipping from per-file column
  * bounds — the Iceberg spec's `lower_bounds`/`upper_bounds` idea.
  *
  * [[graft.sources.IcebergLite]] records each data file's column min/max
  * at commit time (read from the parquet FOOTERS it just wrote — O(new
  * files) metadata, no data scan) and carries them through the manifest.
  * A selective predicate on a NON-partition column then prunes at the
  * metadata level: this rule re-plans the relation's file list under the
  * pushed-down conjuncts, so excluded files are never opened — no footer
  * reads, no tasks. At 100 TB that is the difference between O(matching
  * files) and O(all footers) for the `WHERE k = …` lookup shape that
  * partition pruning can't help with.
  *
  * Mechanism: Iceberg scans tag their relation with the metadata.json
  * path (`graft.iceberg.meta` read option). When a Filter sits on such a
  * relation (predicate pushdown has run by this point in the operator
  * batch), each supported conjunct (`attr op literal`, `attr IN (…)`) is
  * tested against every file's recorded bounds; files that cannot hold a
  * matching row drop from a rebuilt file index. The original Filter
  * always remains, so the rewrite only ever removes provably-empty work.
  * Files or columns without recorded bounds are never pruned.
  *
  * Partitioned relations prune too (day-partitioned fact, lookup on a
  * non-partition column — the canonical 100 TB shape): the rebuilt file
  * index receives the relation's own data+partition schema as the
  * user-specified schema, so the shadow partition columns keep their
  * original STRING typing regardless of the session's
  * partition-inference conf, and [[PartitionFilterMirror]]'s directory
  * pruning composes with the file-level skip.
  */
object BoundsFilePrune extends Rule[LogicalPlan] {

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case other => Seq(other)
  }

  /** (domain, rendered value) of a literal in the bounds encoding;
    * None = unsupported type (never prune on it). */
  private def domVal(l: Literal): Option[(String, String)] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(("long", l.value.toString))
      case FloatType | DoubleType =>
        val d = l.value.toString.toDouble
        if (d.isNaN) None else Some(("double", d.toString))
      case StringType => Some(("string", l.value.toString))
      case dt: DecimalType if dt.precision <= 18 =>
        // int-backed decimal bounds store unscaled values with the scale
        // in the domain name — a literal at a different scale never
        // matches the domain, which is simply "no prune"
        l.value match {
          case d: org.apache.spark.sql.types.Decimal if d.scale == dt.scale =>
            Some((s"dec${dt.scale}", d.toUnscaledLong.toString))
          case _ => None
        }
      case _ => None
    }

  /** One bounds test: does a file with bounds `b` admit this conjunct?
    * Unsupported conjuncts are not collected (see `tests`). */
  private type FileTest = Map[String, (String, String, String)] => Boolean

  private def cmpTest(a: AttributeReference, l: Literal,
      cmp: String): Option[FileTest] =
    domVal(l).map { case (dom, v) =>
      b => IcebergLite.boundsAdmit(b, a.name, dom, cmp, v)
    }

  private def tests(conjuncts: Seq[Expression]): Seq[FileTest] =
    conjuncts.flatMap {
      case EqualTo(a: AttributeReference, l: Literal) => cmpTest(a, l, "=")
      case EqualTo(l: Literal, a: AttributeReference) => cmpTest(a, l, "=")
      case GreaterThan(a: AttributeReference, l: Literal) => cmpTest(a, l, ">")
      case GreaterThan(l: Literal, a: AttributeReference) => cmpTest(a, l, "<")
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        cmpTest(a, l, ">=")
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        cmpTest(a, l, "<=")
      case LessThan(a: AttributeReference, l: Literal) => cmpTest(a, l, "<")
      case LessThan(l: Literal, a: AttributeReference) => cmpTest(a, l, ">")
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        cmpTest(a, l, "<=")
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        cmpTest(a, l, ">=")
      case In(a: AttributeReference, ls)
          if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        val per = ls.map(l => cmpTest(a, l.asInstanceOf[Literal], "="))
        if (per.forall(_.isDefined))
          Some((b: Map[String, (String, String, String)]) =>
            per.flatten.exists(_(b)))
        else None
      case _ => None
    }

  private def norm(p: String): String =
    if (p.startsWith("file:")) p.replaceFirst("^file:/+", "/") else p

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case f @ Filter(cond, l: LogicalRelation)
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .options.contains("graft.iceberg.meta") =>
        val rel = l.relation.asInstanceOf[HadoopFsRelation]
        val ts = tests(splitConj(cond))
        if (ts.isEmpty) f
        else {
          val spark = SparkSession.active
          val bounds = try IcebergLite.fileBounds(
            spark, rel.options("graft.iceberg.meta"))
          catch { case _: Throwable =>
            Map.empty[String, Map[String, (String, String, String)]] }
          if (bounds.isEmpty) f
          else {
            val current = rel.location.inputFiles
            val keep = current.filter { p =>
              bounds.get(norm(p)) match {
                case Some(b) => ts.forall(_(b))
                case None => true // no recorded bounds — never prune
              }
            }
            if (keep.length == current.length) f
            else {
              // the user-specified schema pins the shadow partition
              // columns to their original (STRING) types, so the rebuilt
              // index's discovered partition spec matches the relation's
              val schemaForIndex = StructType(
                rel.dataSchema.fields ++ rel.partitionSchema.fields)
              val index = new InMemoryFileIndex(spark,
                keep.map(p => new org.apache.hadoop.fs.Path(p)).toIndexedSeq,
                rel.options, Some(schemaForIndex))
              Filter(cond,
                l.copy(relation = rel.copy(location = index)(rel.sparkSession)))
            }
          }
        }
    }
}
