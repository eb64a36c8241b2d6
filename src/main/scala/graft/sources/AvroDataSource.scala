package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Avro source/sink (cpp/include/cudf/io/avro.hpp:217 read_avro) and
  * the engine's pluggable source via the DataSource V2 API (SURVEY §2.1
  * "pluggable source/sink"; the reference's datasource.hpp): a full V2
  * stack — TableProvider → Table → ScanBuilder → Batch →
  * PartitionReader, plus a two-phase-commit BatchWrite — over Avro
  * container files, usable as `spark.read.format("graft-avro")` and
  * `df.write.format("graft-avro")`. The `spark-avro` module is absent
  * from this offline classpath; Avro core is present. Primitive columns
  * (int/long/float/double/string/boolean) plus nullable unions are
  * supported — the surface cudf's read_avro supports (avro.hpp: "only
  * primitive types").
  *
  * Scale shape: one InputPartition per file (Avro blocks make files
  * independently consumable), readers decode on executors, and
  * SupportsPushDownRequiredColumns prunes which fields reach Spark.
  * Pruning is applied AFTER Avro record decode (GenericDatumReader has
  * no reader schema here): the InternalRow carries only the projected
  * columns, but the decoder still parses each record's bytes — passing
  * a pruned reader schema so Avro skips unprojected fields at decode
  * is the documented upgrade path. */
class AvroDataSource extends TableProvider with DataSourceRegister {
  import AvroDataSource.{hadoopConf, listAvroFiles}

  override def shortName(): String = "graft-avro"

  // Writes (and schema-supplied reads) pass the query schema straight to
  // getTable instead of forcing inference on a possibly-absent directory.
  override def supportsExternalMetadata(): Boolean = true

  private def sparkType(s: org.apache.avro.Schema): DataType =
    AvroDataSource.sparkType(s)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft-avro requires a path")
    val conf = hadoopConf()
    // Writes resolve the table before the directory exists; the batch
    // write takes its schema from LogicalWriteInfo, so an empty schema
    // here is correct for a not-yet-created table.
    if (!new Path(path).getFileSystem(conf).exists(new Path(path)))
      return new StructType()
    val first = listAvroFiles(path, conf).headOption.getOrElse(
      throw new IllegalArgumentException(s"no .avro files under $path"))
    val fs = first.getPath.getFileSystem(conf)
    val in = fs.open(first.getPath)
    try {
      val stream = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      val avro = stream.getSchema
      StructType(avro.getFields.asScala.map { f =>
        StructField(f.name(), sparkType(f.schema()),
          nullable = f.schema().getType == org.apache.avro.Schema.Type.UNION)
      }.toSeq)
    } finally in.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    AvroV2Table(properties.get("path"), schema)
}

/** DSv2 write stack: WriteBuilder → BatchWrite → DataWriterFactory →
  * per-task DataWriter. Each task writes one Avro container file to a
  * temp name; commit renames committed task files into place — the
  * standard two-phase output pattern, no driver data movement. */
class AvroWriteBuilder(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        AvroBatchWrite(path, schema, doTruncate,
          AvroDataSource.hadoopConf().iterator().asScala
            .map(e => e.getKey -> e.getValue).toMap,
          java.util.UUID.randomUUID().toString.take(8))
    }
}

case class AvroTaskCommit(tempFile: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

case class AvroBatchWrite(path: String, schema: StructType,
    truncate: Boolean, confProps: Map[String, String], jobId: String)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    AvroWriterFactory(path, schema.json, confProps, jobId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = AvroDataSource.confFromProps(confProps)
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // staging dir is a SIBLING of the target so a truncate cannot wipe
    // the committed task files before they are renamed into place
    if (truncate && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    // The job id (fixed at plan time) both uniquifies destination file
    // names across jobs AND isolates this job's staging dir — a shared
    // staging dir would let two concurrent appends overwrite each
    // other's task files and wipe them on the first commit.
    messages.foreach { case AvroTaskCommit(tmp) =>
      val t = new Path(tmp)
      val dest = new Path(dir,
        t.getName.stripSuffix(".avro") + s"-$jobId.avro")
      if (!fs.rename(t, dest))
        throw new java.io.IOException(
          s"graft-avro commit rename failed: $t -> $dest")
    }
    fs.delete(AvroBatchWrite.stagingDir(path, jobId), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = AvroDataSource.confFromProps(confProps)
    val staging = AvroBatchWrite.stagingDir(path, jobId)
    val fs = staging.getFileSystem(conf)
    if (fs.exists(staging)) fs.delete(staging, true)
  }
}

object AvroBatchWrite {
  private[sources] def stagingDir(path: String, jobId: String): Path =
    new Path(path.stripSuffix("/") + s"__graft_staging_$jobId")
}

case class AvroWriterFactory(path: String, schemaJson: String,
    confProps: Map[String, String], jobId: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val sparkSchema =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val conf = AvroDataSource.confFromProps(confProps)
      private val avro = AvroDataSource.avroSchema(sparkSchema)
      private val tmp = new Path(AvroBatchWrite.stagingDir(path, jobId),
        s"part-$partitionId-$taskId.avro")
      private val fs = tmp.getFileSystem(conf)
      private val out = { fs.mkdirs(tmp.getParent); fs.create(tmp, true) }
      private val writer =
        new org.apache.avro.file.DataFileWriter[GenericRecord](
          new org.apache.avro.generic.GenericDatumWriter[GenericRecord](avro))
          .create(avro, out)
      private val fields = sparkSchema.fields
      override def write(row: InternalRow): Unit = {
        val rec = new org.apache.avro.generic.GenericData.Record(avro)
        var i = 0
        while (i < fields.length) {
          rec.put(i,
            if (row.isNullAt(i)) null
            else fields(i).dataType match {
              case StringType => row.getUTF8String(i).toString
              case IntegerType => row.getInt(i)
              case LongType => row.getLong(i)
              case FloatType => row.getFloat(i)
              case DoubleType => row.getDouble(i)
              case BooleanType => row.getBoolean(i)
              case other => throw new IllegalArgumentException(s"$other")
            })
          i += 1
        }
        writer.append(rec)
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        writer.close()
        AvroTaskCommit(tmp.toString)
      }
      override def abort(): Unit = { writer.close(); fs.delete(tmp, false) }
      override def close(): Unit = ()
    }
  }
}

object AvroDataSource {
  private def avroType(dt: DataType): org.apache.avro.Schema = {
    import org.apache.avro.Schema.{create, Type}
    dt match {
      case IntegerType => create(Type.INT)
      case LongType    => create(Type.LONG)
      case FloatType   => create(Type.FLOAT)
      case DoubleType  => create(Type.DOUBLE)
      case StringType  => create(Type.STRING)
      case BooleanType => create(Type.BOOLEAN)
      case other => throw new IllegalArgumentException(
        s"graft-avro supports primitive columns only (avro.hpp), got $other")
    }
  }

  /** Spark StructType → Avro record schema (nullable → union[null, T]). */
  private[sources] def avroSchema(schema: StructType): org.apache.avro.Schema = {
    import org.apache.avro.Schema
    val fields = new java.util.ArrayList[Schema.Field]()
    schema.fields.foreach { f =>
      val base = avroType(f.dataType)
      if (f.nullable) {
        val union = Schema.createUnion(java.util.Arrays.asList(
          Schema.create(Schema.Type.NULL), base))
        fields.add(new Schema.Field(f.name, union, null,
          Schema.Field.NULL_DEFAULT_VALUE))
      } else fields.add(new Schema.Field(f.name, base, null, null))
    }
    val rec = Schema.createRecord("graft_record", null, "graft", false)
    rec.setFields(fields)
    rec
  }

  private[sources] def sparkType(s: org.apache.avro.Schema): DataType = {
    import org.apache.avro.Schema.Type._
    s.getType match {
      case INT     => IntegerType
      case LONG    => LongType
      case FLOAT   => FloatType
      case DOUBLE  => DoubleType
      case STRING  => StringType
      case BOOLEAN => BooleanType
      case UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != NULL)
        require(nonNull.size == 1, s"unsupported union $s")
        sparkType(nonNull.head)
      case other => throw new IllegalArgumentException(
        s"graft-avro supports primitive columns only, got $other")
    }
  }

  private[sources] def confFromProps(props: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The active session's Hadoop conf (credentials, fs bindings) — the
    * bare `new Configuration()` this replaced would break any FS whose
    * access depends on session config (s3a, kerberized HDFS). */
  private[sources] def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration

  /** Single definition of "which files make up the table" — shared by
    * schema inference and partition planning so they can never disagree.
    * Name-sorted for deterministic partition order. */
  private[sources] def listAvroFiles(path: String,
      conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".avro"))
      .sortBy(_.getPath.getName)
  }
}

case class AvroV2Table(path: String, tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-avro:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(path, tableSchema)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new AvroWriteBuilder(path, info.schema())
}

class AvroScanBuilder(path: String, fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = AvroScan(path, fullSchema, required)
}

case class AvroFilePartition(file: String) extends InputPartition

case class AvroScan(path: String, fullSchema: StructType,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro $path, ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] =
    AvroDataSource.listAvroFiles(path, AvroDataSource.hadoopConf())
      .map(f => AvroFilePartition(f.getPath.toString): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    // Session Hadoop conf, serialized to the executors as plain pairs
    // (Configuration itself is not serializable).
    val conf = AvroDataSource.hadoopConf()
    val props = conf.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    AvroReaderFactory(required.fields.map(f =>
      (f.name, f.dataType.catalogString)), props)
  }
}

case class AvroReaderFactory(columns: Array[(String, String)],
    confProps: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[AvroFilePartition].file
    new PartitionReader[InternalRow] {
      private val conf = AvroDataSource.confFromProps(confProps)
      private val p = new Path(file)
      private val in = p.getFileSystem(conf).open(p)
      private val stream = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      // resolve pruned column → record field index once per partition;
      // NAME drift and TYPE drift are both schema errors reported with
      // file + column context — an untyped pass-through would otherwise
      // surface a later file's long-where-int as a bare
      // ClassCastException deep inside execution
      private val idx = columns.map { case (name, expectedType) =>
        val f = stream.getSchema.getField(name)
        if (f == null) throw new IllegalArgumentException(
          s"graft-avro: column '$name' not found in $file " +
            s"(file schema: ${stream.getSchema.getFields.asScala
              .map(_.name).mkString(", ")})")
        val actual = AvroDataSource.sparkType(f.schema()).catalogString
        if (actual != expectedType) throw new IllegalArgumentException(
          s"graft-avro: column '$name' in $file has type $actual but the " +
            s"table schema (inferred from the first file) expects " +
            s"$expectedType — per-file type drift is not supported")
        f.pos()
      }
      private var rec: GenericRecord = _
      override def next(): Boolean = {
        if (!stream.hasNext) false
        else { rec = stream.next(rec); true }
      }
      override def get(): InternalRow =
        new GenericInternalRow(idx.map { i =>
          rec.get(i) match {
            case null => null
            case s: CharSequence => UTF8String.fromString(s.toString)
            case v => v
          }
        }.asInstanceOf[Array[Any]])
      override def close(): Unit = { stream.close(); in.close() }
    }
  }
}
