package graft.sources

import graft.SerializableHadoopConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 reader for tar-shard directories — the consuming
  * half of [[graft.sinks.TarShards]], and the shape a WebDataset
  * loader has: ONE partition per shard file, each task streaming its
  * archive's members sequentially. `spark.read.format
  * ("graft.sources.TarSource").option("path", dir).load()` yields
  * `(shard, key, ext, size, payload)` rows.
  *
  * All I/O rides the Hadoop `FileSystem` API: the driver lists the
  * input with the session's Hadoop configuration, and each reader
  * task opens its shard through the SAME configuration (shipped via
  * [[graft.SerializableHadoopConf]] in the reader factory) — so
  * `hdfs://` / `s3a://` / `file:` inputs all work, not just
  * executor-local disks.
  *
  * Column pruning is real I/O savings here, not cosmetics: when
  * `payload` is not required (counting members, auditing sizes, key
  * joins), the reader `skip()`s every payload instead of reading it
  * — a manifest query over 100 TB of shards touches headers only.
  * Implemented via `SupportsPushDownRequiredColumns`; the Scan
  * description advertises the surviving columns so a plan spec can
  * assert the pruning landed.
  *
  * The parser is header-walk ustar: it reads only the name, size,
  * typeflag and (POSIX-magic only) prefix fields, so archives from
  * FOREIGN writers (GNU tar) parse too — non-regular-file entries
  * (directories, PAX/GNU extended headers 'x'/'g'/'L') are skipped
  * with their payloads, which is exactly how webdataset's own reader
  * treats them. Long member names written through the POSIX `prefix`
  * field (offset 345) are reassembled as `prefix + '/' + name`;
  * old-GNU archives (magic "ustar  ") reuse those bytes for atime,
  * so the prefix is honored only under the exact POSIX magic.
  * `shard` derives from the `shard-NNNNN.tar` name convention, −1
  * for files named otherwise. */
class TarSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = TarSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new TarSource.TarTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object TarSource {

  val schema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("ext", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private[sources] class TarTable(props: Map[String, String]) extends Table with SupportsRead {
    private val path = props.getOrElse("path",
      throw new IllegalArgumentException("TarSource requires option 'path'"))
    private val maxFilesPerTrigger =
      props.get("maxFilesPerTrigger").map(_.toInt).getOrElse(16)
    override def name(): String = s"tar($path)"
    override def schema(): StructType = TarSource.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new TarScanBuilder(path, maxFilesPerTrigger)
  }

  /** Shard-level predicate pushdown: `shard = N` / `shard IN (…)`
    * filters prune WHOLE SHARD FILES at planning — on a 100 TB
    * directory a single-shard probe opens one file instead of all of
    * them. The filters are also kept for Spark's post-scan
    * re-evaluation (`pushedFilters` advertises them, the scan
    * description lists the surviving shard set for plan specs);
    * pruning is the I/O win, re-evaluation is free. Predicates on
    * other columns are left entirely to Spark. */
  private[sources] class TarScanBuilder(path: String, maxFilesPerTrigger: Int = 16)
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters {
    private var required: StructType = TarSource.schema
    private var shardFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def pushFilters(
        filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
      import org.apache.spark.sql.sources.{EqualTo, In}
      shardFilters = filters.collect {
        case f @ EqualTo("shard", _) => f
        case f @ In("shard", _) => f
      }
      filters // all re-evaluated by Spark; pruning is planning-only
    }
    override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = shardFilters
    override def build(): Scan =
      new TarScan(path, required, shardFilters, maxFilesPerTrigger)
  }

  private[sources] case class TarFilePartition(file: String, shard: Int) extends InputPartition

  private[sources] class TarScan(path: String, required: StructType,
      shardFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      maxFilesPerTrigger: Int = 16)
      extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    /** Streaming tail-follow of a growing WebDataset shard directory
      * — new `.tar` files become micro-batch partitions on the shared
      * [[FileSetMicroBatchStream]] kernel (file-set offsets,
      * maxFilesPerTrigger admission, AvailableNow drain-target
      * freeze, vanished-file refusal), through the SAME per-file
      * reader incl. payload-skipping column pruning. The natural feed
      * for `DocStream.curateMediaNearDup`: arriving media shards
      * stream straight into incremental perceptual dedup. */
    override def toMicroBatchStream(
        checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new FileSetMicroBatchStream(
        path,
        n => n.endsWith(".tar"),
        (qualified, n) => {
          val shard =
            if (n.startsWith("shard-") && n.endsWith(".tar"))
              scala.util.Try(n.stripPrefix("shard-").stripSuffix(".tar").toInt)
                .getOrElse(-1)
            else -1
          TarFilePartition(qualified, shard)
        },
        () => new TarReaderFactory(required,
          new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration)),
        maxFilesPerTrigger)
    private def shardAdmitted(shard: Int): Boolean = {
      import org.apache.spark.sql.sources.{EqualTo, In}
      shardFilters.forall {
        case EqualTo("shard", v: Number) => shard == v.intValue
        case In("shard", vs) => vs.exists {
          case v: Number => shard == v.intValue
          case _ => false
        }
        case _ => true
      }
    }
    override def description(): String = {
      val f = if (shardFilters.isEmpty) ""
        else s" shardFilters=[${shardFilters.mkString(",")}]"
      s"tar shards: $path cols=[${required.fieldNames.mkString(",")}]$f"
    }
    override def planInputPartitions(): Array[InputPartition] = {
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) throw new java.io.FileNotFoundException(path)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).filter { s =>
            s.isFile && s.getPath.getName.endsWith(".tar")
          }.sortBy(_.getPath.getName)
        else Array(st)
      files.flatMap { f =>
        val n = f.getPath.getName
        val shard =
          if (n.startsWith("shard-") && n.endsWith(".tar"))
            scala.util.Try(n.stripPrefix("shard-").stripSuffix(".tar").toInt).getOrElse(-1)
          else -1
        // shard-filter pruning: a file whose shard id the pushed
        // predicates exclude is never opened (files named outside the
        // convention have shard −1 and are only pruned if the
        // predicate excludes −1 — conservative, never wrong)
        if (shardAdmitted(shard))
          Some(TarFilePartition(fs.makeQualified(f.getPath).toString, shard): InputPartition)
        else None
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new TarReaderFactory(required,
        new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration))
  }

  private[sources] class TarReaderFactory(required: StructType, conf: SerializableHadoopConf)
      extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[TarFilePartition]
      new TarEntryReader(p.file, p.shard, required, conf)
    }
  }

  /** Executor-side streaming reader: walks 512-byte headers, emits
    * one row per regular-file member, and SKIPS payload bytes when
    * the `payload` column was pruned away. */
  private[sources] class TarEntryReader(file: String, shard: Int, required: StructType,
      conf: SerializableHadoopConf)
      extends PartitionReader[InternalRow] {
    private val in = {
      val p = new Path(file)
      new java.io.BufferedInputStream(p.getFileSystem(conf.value).open(p))
    }
    private val wantPayload = required.fieldNames.contains("payload")
    private var row: InternalRow = null
    private val header = new Array[Byte](512)

    private def readFully(buf: Array[Byte], len: Int): Boolean = {
      var off = 0
      while (off < len) {
        val n = in.read(buf, off, len - off)
        if (n < 0) return false
        off += n
      }
      true
    }

    private def skipFully(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val s = in.skip(left)
        if (s <= 0) {
          if (in.read() < 0) throw new java.io.EOFException(s"truncated tar $file")
          left -= 1
        } else left -= s
      }
    }

    override def next(): Boolean = {
      while (true) {
        if (!readFully(header, 512)) { row = null; return false }
        if (header.forall(_ == 0)) { row = null; return false } // trailer
        val sizeField = new String(header, 124, 11, "US-ASCII").trim
        val size =
          if (sizeField.isEmpty) 0L else java.lang.Long.parseLong(sizeField, 8)
        val typeflag = header(156)
        val padded = ((size + 511) / 512) * 512
        if (typeflag == '0' || typeflag == 0) {
          var nameLen = 0
          while (nameLen < 100 && header(nameLen) != 0) nameLen += 1
          val base = new String(header, 0, nameLen, "UTF-8")
          // POSIX ustar prefix (exact magic "ustar\0"; old-GNU
          // "ustar  " reuses these bytes for atime — must not parse)
          val posixMagic = header(257) == 'u' && header(258) == 's' && header(259) == 't' &&
            header(260) == 'a' && header(261) == 'r' && header(262) == 0
          val name =
            if (posixMagic && header(345) != 0) {
              var preLen = 0
              while (preLen < 155 && header(345 + preLen) != 0) preLen += 1
              new String(header, 345, preLen, "UTF-8") + "/" + base
            } else base
          val dot = name.lastIndexOf('.')
          val (key, ext) =
            if (dot > 0) (name.substring(0, dot), name.substring(dot + 1)) else (name, "")
          val payload: Array[Byte] =
            if (wantPayload) {
              // Spark binary values cap at Int.MaxValue; a >2 GB tar
              // member must fail loudly, not wrap into a negative
              // allocation
              require(size <= Int.MaxValue, s"tar member $name is $size bytes (> 2 GB)")
              val b = new Array[Byte](size.toInt)
              if (!readFully(b, size.toInt)) throw new java.io.EOFException(s"truncated tar $file")
              skipFully(padded - size)
              b
            } else { skipFully(padded); null }
          val values = required.fieldNames.map {
            case "shard" => shard: java.lang.Integer
            case "key" => UTF8String.fromString(key)
            case "ext" => UTF8String.fromString(ext)
            case "size" => size: java.lang.Long
            case "payload" => payload
          }
          row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
          return true
        } else skipFully(padded) // dir / PAX / GNU long-name: not a member row
      }
      false
    }

    override def get(): InternalRow = row
    override def close(): Unit = in.close()
  }
}
