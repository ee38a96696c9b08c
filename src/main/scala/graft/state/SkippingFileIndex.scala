package graft.state

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{ColumnOrder, LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A parquet relation's file index that drops the files whose footer
  * min/max cannot satisfy a query's data filters.
  *
  * Spark skips parquet data by row group, and only after it has opened a
  * file: a key query over a table range-partitioned into eight files still
  * schedules a task per core and reads eight footers. This index wraps the
  * relation's own listing (`inner`) and, in [[listFiles]], keeps a file only
  * if some row in its per-column [min, max] could make every data filter
  * true — the file skipping the reference gets from routing a key to the one
  * store that holds it.
  *
  * The manifest (per file, per top-level column, the interval of its non-null
  * values over all row groups) is read from the footers once, on the first
  * listing with a prunable filter; a listing without one reads nothing.
  * [[ParquetRelations]] builds one index per memo entry, so a table
  * rewritten under the same path gets a new entry and a fresh manifest.
  *
  * Pruning is conservative. It understands `=`, `IN` (as `In` or `InSet`),
  * `<`, `<=`, `>`, `>=` between a bare column and a non-null literal, and
  * `AND` / `OR` of those; any other predicate may match every file. Only
  * columns whose parquet statistics order equals Spark's order without
  * conversion are pruned: UTF8 strings under the binary collation (unsigned
  * byte order both sides) and signed INT32/INT64 read as an integral type.
  * A column without usable statistics in a file, a partition column, a name
  * the session resolver matches more than once, and a file whose footer
  * cannot be read all keep the file.
  */
final class SkippingFileIndex(inner: FileIndex, hadoopConf: () => Configuration) extends FileIndex {
  import SkippingFileIndex._

  @volatile private var manifest: Map[Path, Map[String, Option[Interval]]] = _

  private def manifestOf: Map[Path, Map[String, Option[Interval]]] = {
    var m = manifest
    if (m == null) synchronized {
      m = manifest
      if (m == null) {
        val conf = hadoopConf()
        m = inner.listFiles(Nil, Nil).flatMap(_.files).flatMap { f =>
          try Some(f.getPath -> footerIntervals(f.fileStatus, conf))
          catch { case NonFatal(_) => None }
        }.toMap
        manifest = m
      }
    }
    m
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = inner.listFiles(partitionFilters, dataFilters)
    val conf = SQLConf.get
    val resolver = conf.resolver
    def isData(column: String) = !partitionSchema.exists(f => resolver(f.name, column))
    // with field-id matching on, a footer's names need not be the columns read
    val prunable =
      if (conf.getConfString("spark.sql.parquet.fieldId.read.enabled", "false").toBoolean) Nil
      else dataFilters.filter(canPrune(_, isData))
    if (prunable.isEmpty) listed
    else {
      val m = manifestOf
      listed.map { dir =>
        dir.copy(files = dir.files.filter { f =>
          m.get(f.getPath).forall { columns =>
            def stats(column: String): Option[Interval] =
              if (!isData(column)) None
              else columns.collect { case (n, i) if resolver(n, column) => i }.toSeq match {
                case Seq(i) => i
                case _ => None
              }
            prunable.forall(mayMatch(_, stats))
          }
        })
      }
    }
  }

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def inputFiles: Array[String] = inner.inputFiles
  override def sizeInBytes: Long = inner.sizeInBytes
  override def partitionSchema: StructType = inner.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = inner.metadataOpsTimeNs

  override def refresh(): Unit = synchronized {
    inner.refresh()
    manifest = null
  }
}

private[state] object SkippingFileIndex {

  /** The [min, max] of a column's non-null values in one file: both
    * `UTF8String`, or both `java.lang.Long`.
    */
  final case class Interval(lo: AnyRef, hi: AnyRef) {

    /** (lo vs `k`, hi vs `k`) as signs, when `k` is of this interval's kind. */
    def against(k: AnyRef): Option[(Int, Int)] =
      if (k.getClass != lo.getClass) None else Some((order(lo, k), order(hi, k)))
  }

  private def order(a: AnyRef, b: AnyRef): Int = (a, b) match {
    case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
  }

  /** A prunable comparison: some key in `keys` must pass `test` on
    * (lo vs key, hi vs key) for a file to match.
    */
  private final case class Cond(column: String, keys: Seq[AnyRef], test: (Int, Int) => Boolean)

  private val inside: (Int, Int) => Boolean = (lo, hi) => lo <= 0 && hi >= 0
  private val someBelow: (Int, Int) => Boolean = (lo, _) => lo < 0
  private val someAtMost: (Int, Int) => Boolean = (lo, _) => lo <= 0
  private val someAbove: (Int, Int) => Boolean = (_, hi) => hi > 0
  private val someAtLeast: (Int, Int) => Boolean = (_, hi) => hi >= 0

  /** The literal's value in the interval domain of a column of type `dt`. */
  private def key(dt: DataType, v: Any): Option[AnyRef] = (dt, v) match {
    case (s: StringType, u: UTF8String)
        if s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID => Some(u)
    case (ByteType | ShortType | IntegerType | LongType, n: java.lang.Number) =>
      Some(java.lang.Long.valueOf(n.longValue))
    case _ => None
  }

  private def condOfValues(a: Attribute, values: Iterable[Any], test: (Int, Int) => Boolean): Option[Cond] = {
    val keys = values.map(key(a.dataType, _)).toSeq
    if (keys.isEmpty || keys.exists(_.isEmpty)) None else Some(Cond(a.name, keys.flatten, test))
  }

  private def cond(a: Attribute, lits: Seq[Expression], test: (Int, Int) => Boolean): Option[Cond] =
    if (lits.forall { case l: Literal => l.dataType == a.dataType; case _ => false })
      condOfValues(a, lits.map(_.asInstanceOf[Literal].value), test)
    else None

  private def condition(e: Expression): Option[Cond] = e match {
    case EqualTo(a: Attribute, l: Literal) => cond(a, Seq(l), inside)
    case EqualTo(l: Literal, a: Attribute) => cond(a, Seq(l), inside)
    case LessThan(a: Attribute, l: Literal) => cond(a, Seq(l), someBelow)
    case LessThan(l: Literal, a: Attribute) => cond(a, Seq(l), someAbove)
    case LessThanOrEqual(a: Attribute, l: Literal) => cond(a, Seq(l), someAtMost)
    case LessThanOrEqual(l: Literal, a: Attribute) => cond(a, Seq(l), someAtLeast)
    case GreaterThan(a: Attribute, l: Literal) => cond(a, Seq(l), someAbove)
    case GreaterThan(l: Literal, a: Attribute) => cond(a, Seq(l), someBelow)
    case GreaterThanOrEqual(a: Attribute, l: Literal) => cond(a, Seq(l), someAtLeast)
    case GreaterThanOrEqual(l: Literal, a: Attribute) => cond(a, Seq(l), someAtMost)
    case In(a: Attribute, list) => cond(a, list, inside)
    case InSet(a: Attribute, hset) => condOfValues(a, hset, inside)
    case _ => None
  }

  /** Whether `e` can drop a file at all, so a listing without such a filter
    * reads no footer.
    */
  private def canPrune(e: Expression, isData: String => Boolean): Boolean = e match {
    case And(l, r) => canPrune(l, isData) || canPrune(r, isData)
    case Or(l, r) => canPrune(l, isData) && canPrune(r, isData)
    case _ => condition(e).exists(c => isData(c.column))
  }

  /** Whether a row of a file whose columns have the intervals `stats` may
    * satisfy `e`; `true` whenever that cannot be ruled out.
    */
  private def mayMatch(e: Expression, stats: String => Option[Interval]): Boolean = e match {
    case And(l, r) => mayMatch(l, stats) && mayMatch(r, stats)
    case Or(l, r) => mayMatch(l, stats) || mayMatch(r, stats)
    case _ => condition(e).forall { c =>
      stats(c.column).forall(i => c.keys.exists(k => i.against(k).forall(c.test.tupled)))
    }
  }

  /** Per top-level column of one parquet file, the interval of its non-null
    * values, or `None` when the footer does not bound them in Spark's order.
    */
  def footerIntervals(status: FileStatus, conf: Configuration): Map[String, Option[Interval]] = {
    // options from `conf`: the no-argument builder makes its own Hadoop
    // configuration, which measured about 10 ms a file
    val file = HadoopInputFile.fromStatus(status, conf)
    val in = file.newStream()
    val footer = try ParquetFileReader.readFooter(file, HadoopReadOptions.builder(conf).build(), in)
      finally in.close()
    val blocks = footer.getBlocks.asScala.toSeq
    footer.getFileMetaData.getSchema.getFields.asScala.map { field =>
      val name = field.getName
      val interval =
        if (!field.isPrimitive) None
        else {
          val chunks = blocks.map(_.getColumns.asScala.find { c =>
            c.getPath.size == 1 && c.getPath.toArray()(0) == name
          })
          if (chunks.exists(_.isEmpty)) None
          else decoder(field.asPrimitiveType).flatMap(decode => intervalOf(chunks.flatten, decode))
        }
      name -> interval
    }.toMap
  }

  /** How to read a column's min/max in Spark's order, for the physical
    * types whose statistics order is that order.
    */
  private def decoder(t: PrimitiveType): Option[AnyRef => AnyRef] = {
    val ordered = t.columnOrder.getColumnOrderName == ColumnOrder.ColumnOrderName.TYPE_DEFINED_ORDER
    val annotation: LogicalTypeAnnotation = t.getLogicalTypeAnnotation
    val signedInt = annotation match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    t.getPrimitiveTypeName match {
      case _ if !ordered => None
      case PrimitiveTypeName.BINARY if annotation.isInstanceOf[StringLogicalTypeAnnotation] =>
        Some(v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
      case PrimitiveTypeName.INT32 if signedInt =>
        Some(v => java.lang.Long.valueOf(v.asInstanceOf[java.lang.Integer].longValue))
      case PrimitiveTypeName.INT64 if signedInt => Some(identity)
      case _ => None
    }
  }

  /** The interval over a file's row groups. A chunk without statistics
    * leaves the column unbounded; an all-null chunk adds no values.
    */
  private def intervalOf(chunks: Seq[ColumnChunkMetaData], decode: AnyRef => AnyRef): Option[Interval] = {
    val stats: Seq[Statistics[_]] = chunks.map(_.getStatistics)
    if (stats.exists(s => s == null || s.isEmpty)) None
    else {
      val bounded = stats.filter(_.hasNonNullValue)
      if (bounded.isEmpty) None
      else {
        val ordering: Ordering[AnyRef] = order(_, _)
        Some(Interval(bounded.map(s => decode(s.genericGetMin.asInstanceOf[AnyRef])).min(ordering),
          bounded.map(s => decode(s.genericGetMax.asInstanceOf[AnyRef])).max(ordering)))
      }
    }
  }
}
