package graft.sources

import java.util

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the reference's fixed-width table files —
  * `spark.read.format("fixedwidth").option("names", "a,b").option("widths",
  * "3,5").load(path)` — the connector-API packaging of the same slicing the
  * ingest layer does with Catalyst projections (`FixedWidth.read`,
  * reference ncd/normal_table.py fixed-width schemas).
  *
  * Two properties make it more than a demo:
  *   - **column pruning reaches the byte level**: the scan implements
  *     `SupportsPushDownRequiredColumns`, so a `select(one_col)` slices ONE
  *     field per line instead of all N (visible as the pruned readSchema in
  *     explain, exactly like parquet's ReadSchema);
  *   - **fields are sliced by CHARACTER offsets** (the fixed-width
  *     contract, reference README schemas count characters), decoding each
  *     line once.
  *
  * Splitting is per-file (one InputPartition per file): fixed-width dumps
  * arrive as many per-district members, so file-level parallelism is the
  * natural unit — the same layout the zip ingest distributes on. Columns
  * come out as STRING; typed conversion composes downstream via
  * `FixedWidth.convert`, sharing the null-on-error quirks with the ingest
  * path.
  */
class FixedWidthSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fixedwidth"

  private def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val names = FixedWidthSource.namesOf(options)
    FixedWidthSource.widthsOf(options, names) // fail early on bad widths
    StructType(names.map(n => StructField(n, StringType, nullable = true)))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FixedWidthTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object FixedWidthSource {
  /** Default charset: the fixed-width contract is latin-1 (reference
    * normal_table.py opens members with TextIOWrapper(encoding='iso-8859-1'));
    * UTF-8 would decode bytes >= 0x80 to U+FFFD and corrupt field contents. */
  val DefaultEncoding = "ISO-8859-1"

  private[sources] def namesOf(options: CaseInsensitiveStringMap): Array[String] = {
    val raw = options.get("names")
    require(raw != null && raw.trim.nonEmpty,
      "fixedwidth: required option 'names' is missing (comma-separated column names)")
    raw.split(",").map(_.trim)
  }

  private[sources] def widthsOf(options: CaseInsensitiveStringMap,
                                names: Array[String]): Array[Int] = {
    val raw = options.get("widths")
    require(raw != null && raw.trim.nonEmpty,
      "fixedwidth: required option 'widths' is missing (comma-separated field widths)")
    val widths =
      try raw.split(",").map(_.trim.toInt)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"fixedwidth: option 'widths' must be comma-separated integers, got '$raw'")
      }
    require(widths.length == names.length,
      s"fixedwidth: 'names' has ${names.length} entries but 'widths' has " +
        s"${widths.length}; the two lists must be the same length")
    require(widths.forall(_ > 0),
      s"fixedwidth: all widths must be positive, got ${widths.mkString(",")}")
    widths
  }

  private[sources] def charsetOf(options: CaseInsensitiveStringMap): String = {
    val enc = Option(options.get("encoding")).getOrElse(DefaultEncoding)
    require(java.nio.charset.Charset.isSupported(enc),
      s"fixedwidth: unsupported encoding '$enc'")
    enc
  }
}

final class FixedWidthTable(tableSchema: StructType,
                            options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"fixedwidth(${options.get("path")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new FixedWidthScanBuilder(tableSchema, options)
}

final class FixedWidthScanBuilder(fullSchema: StructType,
                                  options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve connector column order; Spark may ask in any order
    required = StructType(
      fullSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = {
    val names = fullSchema.fieldNames
    val widths = FixedWidthSource.widthsOf(options, names)
    val starts = widths.scanLeft(0)(_ + _)
    val fields = names.indices.map(i => (names(i), starts(i), widths(i)))
    val keep = fields.filter { case (n, _, _) => required.fieldNames.contains(n) }
    new FixedWidthScan(required, options.get("path"), keep,
      FixedWidthSource.charsetOf(options))
  }
}

/** (name, charStart, charLen) for each REQUIRED column only. */
final class FixedWidthScan(requiredSchema: StructType, path: String,
                           fields: Seq[(String, Int, Int)],
                           encoding: String)
    extends Scan with Batch {
  // the SESSION's Hadoop configuration, not `new Configuration()`: the
  // user's fs settings (credentials, fs.defaultFS, custom schemes set via
  // spark.hadoop.*) must reach both the driver-side listing and the
  // executor-side open — SerializableConfiguration ships it into tasks
  private val serConf = new org.apache.spark.util.SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"FixedWidthScan(path=$path, fields=${fields.map(_._1).mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(serConf.value)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath)
      else Array(p)
    files.sortBy(_.toString)
      .map(f => FixedWidthPartition(f.toString): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FixedWidthReaderFactory(fields.toArray, serConf, encoding)
}

final case class FixedWidthPartition(file: String) extends InputPartition

final class FixedWidthReaderFactory(fields: Array[(String, Int, Int)],
    serConf: org.apache.spark.util.SerializableConfiguration,
    encoding: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[FixedWidthPartition].file
    new PartitionReader[InternalRow] {
      private val path = new Path(file)
      private val in = path.getFileSystem(serConf.value).open(path)
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.Charset.forName(encoding)))
      private val buf = new java.lang.StringBuilder
      private var line: String = _

      // the ingest's A7 rule, as in FixedWidth.read: a line ends only at
      // `\n`, and a `\r` is scrubbed to a space instead of shearing the
      // record in two (BufferedReader.readLine also ends a line at `\r`)
      override def next(): Boolean = {
        var c = reader.read()
        if (c < 0) return false
        buf.setLength(0)
        while (c >= 0 && c != '\n') {
          buf.append(if (c == '\r') ' ' else c.toChar)
          c = reader.read()
        }
        line = buf.toString
        true
      }

      override def get(): InternalRow = {
        val vals = fields.map { case (_, start, len) =>
          if (start >= line.length) null
          else {
            val s = line.substring(start,
              math.min(start + len, line.length)).trim
            if (s.isEmpty) null else UTF8String.fromString(s)
          }
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }

      override def close(): Unit = reader.close()
    }
  }
}
