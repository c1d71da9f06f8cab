package graft.backend

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side one-file parquet append — the per-call latency path.
  *
  * A client `performAsync` is ONE row; routing it through
  * `ds.write.parquet` costs a full Spark job (scheduler round-trip +
  * FileOutputCommitter staging/rename), O(100 ms) against the
  * reference's ~2 ms Redis LPUSH (BASELINE.md;
  * reference perf/goose/redis/load.clj:57-62). This writes the row set
  * with parquet-hadoop's `ParquetWriter` directly on the driver —
  * through Spark's OWN `ParquetWriteSupport`, the exact write path a
  * Spark task uses — so the resulting file is byte-format-identical to a
  * distributed append: same schema encoding, same logical types, readable
  * interchangeably in one directory listing.
  *
  * Visibility protocol: the file is staged in a sibling `.staging/`
  * directory (never listed by readers — table reads only ever list
  * `root/<tbl>`) and renamed into the table directory when complete, so
  * a reader can never observe a partial file. Rename is atomic on local
  * and HDFS filesystems; a crash mid-write leaves only an invisible
  * `.staging/` orphan. Object stores without atomic rename should keep
  * the distributed path (their committers handle visibility).
  *
  * This is deliberately a LATENCY path, not a throughput path: bulk
  * appends stay distributed `Dataset` writes (one file per task). The
  * two produce interchangeable files, which is the property the mixed
  * read relies on — asserted by DirectAppendSpec against both layouts.
  */
object DirectParquetAppend {

  private final class RowBuilder(file: org.apache.parquet.io.OutputFile,
      support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, RowBuilder](file) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      support
  }

  /** `ParquetWriteSupport.init` re-parses the schema JSON out of the conf
    * and rebuilds the whole field-writer closure tree on EVERY writer
    * build — measured ~half of the per-call writer_build stage. The
    * parse is deterministic per conf, so memoize the WriteContext after
    * the first init and return it for every subsequent writer built over
    * the same support. The support instance carries per-file state
    * (recordConsumer, set by prepareForWrite), so one instance serves one
    * writer at a time — appendAs serializes build→write→close on the
    * encoder's serializer monitor, which all same-schema appends share. */
  private final class MemoInitWriteSupport extends ParquetWriteSupport {
    private var ctx: WriteSupport.WriteContext = _
    override def init(configuration: Configuration): WriteSupport.WriteContext = {
      if (ctx == null) ctx = super.init(configuration)
      ctx
    }
  }

  /** OutputFile over an EXPLICIT FileSystem handle. The stock
    * `HadoopOutputFile.fromPath` re-resolves the path's filesystem, which
    * on `file://` yields the checksummed LocalFileSystem — ~10 ms per
    * one-row file (CRC sidecar + double metadata ops) where the raw fs
    * takes a fraction of a ms. We resolve once, unwrap to raw for local,
    * and write through it. */
  private final class FsOutputFile(fs: org.apache.hadoop.fs.FileSystem, path: Path)
      extends org.apache.parquet.io.OutputFile {
    override def create(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream =
      org.apache.parquet.hadoop.util.HadoopStreams.wrap(fs.create(path, false))
    override def createOrOverwrite(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream =
      org.apache.parquet.hadoop.util.HadoopStreams.wrap(fs.create(path, true))
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  /** CRC sidecars are read-verification bookkeeping the table never
    * relies on (distributed reads go through the parquet footer+column
    * checksums); skip the checksum wrapper on local filesystems. */
  private def writeFs(p: Path, conf: Configuration): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  /** Session entries ParquetWriteSupport.init and its schema converter
    * read from the hadoop conf without fallback — the distributed path
    * stamps them into the job conf in `prepareWrite`; we stamp the same
    * session-resolved values (set value, else registered default). */
  private val RequiredSessionEntries = Seq(
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
    SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
    SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)

  private def writerConf(spark: SparkSession, schema: StructType): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.sessionState.conf
    RequiredSessionEntries.foreach { e =>
      conf.set(e.key, sqlConf.getConfString(e.key, e.defaultValueString))
    }
    ParquetWriteSupport.setSchema(schema, conf)
    conf
  }

  private def codec(spark: SparkSession): CompressionCodecName = {
    val name = spark.sessionState.conf
      .getConfString(SQLConf.PARQUET_COMPRESSION.key,
        SQLConf.PARQUET_COMPRESSION.defaultValueString)
      .toUpperCase.replace("LZ4RAW", "LZ4_RAW")
    try CompressionCodecName.valueOf(name)
    catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY }
  }

  private def exprEncoder[T](enc: Encoder[T]): ExpressionEncoder[T] = enc match {
    case e: ExpressionEncoder[_] => e.asInstanceOf[ExpressionEncoder[T]]
    case a: AgnosticEncoder[_] =>
      ExpressionEncoder(a.asInstanceOf[AgnosticEncoder[T]])
    case other =>
      throw new IllegalArgumentException(
        s"unsupported encoder ${other.getClass.getName}")
  }

  /** Building an ExpressionEncoder serializer costs ~40 ms (reflection
    * expression tree + codegen lookup) — 20× the write itself, so it is
    * cached per encoder. Agnostic encoders are case classes (structural
    * equality), so every `implicitly[Encoder[Job]]` resolution hits one
    * entry; the cache is bounded by the handful of row types the engine
    * stores. The serializer reuses an internal row buffer, so callers
    * synchronize on it for the duration of a write. */
  private val serializerCache =
    new java.util.concurrent.ConcurrentHashMap[
      Encoder[_], (ExpressionEncoder.Serializer[_], StructType)]()

  /** newHadoopConf copies the full session conf (~1 ms) — cached per
    * (schema, parquet-write-conf fingerprint) so a session conf change
    * between appends still takes effect. The memoized write support
    * rides the same key: its cached WriteContext is valid exactly as
    * long as this conf is. */
  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[
      (StructType, String), (Configuration, MemoInitWriteSupport)]()

  private def confFingerprint(spark: SparkSession): String = {
    val sqlConf = spark.sessionState.conf
    (RequiredSessionEntries :+ SQLConf.PARQUET_COMPRESSION)
      .map(e => sqlConf.getConfString(e.key, e.defaultValueString))
      .mkString("|")
  }

  /** Append `rows` to the parquet directory `dir` as one complete,
    * atomically-visible part file. No-op on empty input. */
  def append[T](spark: SparkSession, enc: Encoder[T], dir: String,
      rows: Seq[T]): Unit =
    appendAs(spark, enc, dir, s"part-${UUID.randomUUID()}.parquet", rows)

  /** Each mkdirs is a filesystem metadata round-trip (~1 ms on slow
    * hosts) paid on EVERY per-call append for a dir that almost always
    * exists — cache dirs we have created. A cached dir can still vanish
    * (compaction's replaceLog swap, fixture teardown); the rename below
    * retries once through a fresh mkdirs instead of trusting the cache. */
  private val knownDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def ensureDir(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit =
    if (!knownDirs.contains(p.toString)) {
      fs.mkdirs(p)
      knownDirs.add(p.toString)
      ()
    }

  /** [[append]] with a caller-chosen final file name — for manifest
    * backends that must know the name to commit an add-record for it. */
  def appendAs[T](spark: SparkSession, enc: Encoder[T], dir: String,
      fileName: String, rows: Seq[T]): Unit = {
    if (rows.isEmpty) return
    val (toRowAny, schema) = serializerCache.computeIfAbsent(enc, { e =>
      val ee = exprEncoder(e)
      (ee.createSerializer(), ee.schema)
    })
    val toRow = toRowAny.asInstanceOf[ExpressionEncoder.Serializer[T]]
    val (conf, support) = confCache.computeIfAbsent((schema, confFingerprint(spark)),
      _ => (writerConf(spark, schema), new MemoInitWriteSupport))
    val fs = writeFs(new Path(dir), conf)

    val stagingDir = new Path(new Path(dir).getParent, ".staging")
    val staged = new Path(stagingDir, fileName)
    ensureDir(fs, stagingDir)

    // Build→write→close under the serializer monitor: the serializer's
    // row buffer AND the shared write support's per-file recordConsumer
    // both allow exactly one in-flight writer per schema.
    toRow.synchronized {
      // Small-row-set writer: row-group/page buffers sized for a few-KB
      // file, not the 128 MB distributed default.
      val writer = new RowBuilder(new FsOutputFile(fs, staged), support)
        .withConf(conf)
        .withCompressionCodec(codec(spark))
        .withRowGroupSize(1L << 20)
        .withPageSize(16 << 10)
        .withDictionaryPageSize(16 << 10)
        .build()
      try rows.foreach(r => writer.write(toRow(r)))
      finally writer.close()
    }

    val target = new Path(dir)
    ensureDir(fs, target)
    val dst = new Path(target, fileName)
    if (!fs.rename(staged, dst)) {
      // cached dir may have been deleted since (fixture teardown, an
      // external sweep) — recreate both and retry once, loudly after
      fs.mkdirs(stagingDir)
      fs.mkdirs(target)
      if (!fs.rename(staged, dst))
        throw new java.io.IOException(s"rename $staged -> $dst failed")
    }
  }

  /** Newest modification time anywhere under `p` (dirs and files): the
    * quiesce test for hidden staging trees. Must be recursive —
    * FileOutputCommitter task output lands two levels down without
    * touching the top dir's direct children, so a shallow scan judges a
    * live long-running write "quiet" (r11 review find). Shared by the
    * backends' sweepers. */
  def newestMtime(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long = {
    val self = fs.getFileStatus(p).getModificationTime
    val kids =
      try fs.listStatus(p)
      catch { case _: java.io.IOException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    kids.foldLeft(self) { (mx, k) =>
      math.max(mx, if (k.isDirectory) newestMtime(fs, k.getPath) else k.getModificationTime)
    }
  }

  /** Reclaim `.staging` leftovers from crashed appends. Age-gated: an
    * in-flight append's write+rename is milliseconds, the gate is
    * minutes — a file that old has no living writer. Returns #deleted. */
  def sweepStaging(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      olderThanMs: Long): Int = {
    val staging = new Path(root, ".staging")
    if (!fs.exists(staging)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    var n = 0
    fs.listStatus(staging).foreach { st =>
      if (st.getModificationTime < cutoff && fs.delete(st.getPath, false)) n += 1
    }
    n
  }
}
