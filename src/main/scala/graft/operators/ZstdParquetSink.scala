package graft.operators

import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.bytes.DirectByteBufferAllocator
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.crypto.EncryptionPropertiesFactory
import org.apache.parquet.hadoop.{CodecFactory, ParquetWriter}
import org.apache.parquet.hadoop.ParquetOutputFormat._
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Spark's parquet sink with a per-file page compressor.
  *
  * The stock writer compresses every page through parquet's heap
  * `CodecFactory`, whose ZSTD codec opens a fresh stream per page with no
  * input size: at level 22 zstd then builds its tables for an unknown-size
  * input once per page of every column chunk (~0.5 s a page, however small
  * the page). This format writes the same rows through Spark's own
  * [[ParquetWriteSupport]] and the same `parquet.*` properties, but hands
  * the writer parquet's direct `CodecFactory`: its ZSTD compressor keeps one
  * `ZstdCompressCtx` for the whole file and compresses each page in one call
  * with its size known. Planning, commit protocol, schema and footer
  * metadata are the stock [[ParquetFileFormat]]'s.
  */
class ZstdParquetSink extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    new ZstdParquetSink.Factory(super.prepareWrite(spark, job, options, dataSchema))
}

object ZstdParquetSink {

  /** Overwrite `outPath` with `df` as ZSTD parquet at `level` (plus any
    * extra `parquet.*` write options) through this sink — the one write
    * path of the clustered sink and merge-pqs. */
  private[graft] def write(df: DataFrame, outPath: String, level: Int,
      options: (String, String)*): Unit =
    df.write.format(classOf[ZstdParquetSink].getName).mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", level.toString)
      .options(options.toMap)
      .save(outPath)

  /** Direct buffers the sink's codec factories have allocated, and those
    * not yet released; a closed writer leaves `liveBuffers` where it found
    * it. */
  private[graft] val allocatedBuffers = new AtomicLong
  private[graft] val liveBuffers = new AtomicLong

  private object CountingAllocator extends DirectByteBufferAllocator {
    override def allocate(size: Int): ByteBuffer = {
      val b = super.allocate(size)
      allocatedBuffers.incrementAndGet(); liveBuffers.incrementAndGet()
      b
    }
    override def release(b: ByteBuffer): Unit = {
      super.release(b)
      liveBuffers.decrementAndGet()
    }
  }

  private final class Factory(stock: OutputWriterFactory) extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String = stock.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter = new Writer(path, ctx.getConfiguration)
  }

  private final class Writer(val path: String, conf: Configuration) extends OutputWriter {
    private val writer = open(new Path(path), conf)
    override def write(row: InternalRow): Unit = writer.write(row)
    // ParquetWriter.close releases the codec factory (direct buffers and
    // ZSTD contexts) even when the final flush throws; Spark's task abort
    // path closes the writer too
    override def close(): Unit = writer.close()
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Keys `ParquetOutputFormat.getRecordWriter` honours that the writer
    * builder has no setter for: refuse them rather than drop them. */
  private val unsupported = Seq(ESTIMATE_PAGE_SIZE_CHECK, PAGE_VALUE_COUNT_THRESHOLD,
    EncryptionPropertiesFactory.CRYPTO_FACTORY_CLASS_PROPERTY_NAME)

  /** `ParquetWriter.Builder.build()` reads no `parquet.*` key from its
    * conf, so every writer property `ParquetOutputFormat.getRecordWriter`
    * derives from the conf is carried over here, per-column `key#column`
    * overrides included. */
  private def open(path: Path, conf: Configuration): ParquetWriter[InternalRow] = {
    unsupported.find(conf.get(_) != null).foreach { k =>
      throw new UnsupportedOperationException(s"$k is not supported by ZstdParquetSink")
    }
    val b = new Builder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withCompressionCodec(getCompression(conf))
      .withRowGroupSize(getLongBlockSize(conf))
      .withMaxPaddingSize(conf.getInt(MAX_PADDING_BYTES, ParquetWriter.MAX_PADDING_SIZE_DEFAULT))
      .withValidation(getValidation(conf))
      .withPageSize(getPageSize(conf))
      .withDictionaryPageSize(getDictionaryPageSize(conf))
      .withDictionaryEncoding(getEnableDictionary(conf))
      .withWriterVersion(getWriterVersion(conf))
      .withMinRowCountForPageSizeCheck(getMinRowCountForPageSizeCheck(conf))
      .withMaxRowCountForPageSizeCheck(getMaxRowCountForPageSizeCheck(conf))
      .withColumnIndexTruncateLength(conf.getInt(COLUMN_INDEX_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH))
      .withStatisticsTruncateLength(conf.getInt(STATISTICS_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH))
      .withMaxBloomFilterBytes(getBloomFilterMaxBytes(conf))
      .withBloomFilterEnabled(getBloomFilterEnabled(conf))
      .withAdaptiveBloomFilterEnabled(getAdaptiveBloomFilterEnabled(conf))
      .withRowGroupRowCountLimit(conf.getInt(BLOCK_ROW_COUNT_LIMIT,
        ParquetProperties.DEFAULT_ROW_GROUP_ROW_COUNT_LIMIT))
      .withPageRowCountLimit(conf.getInt(PAGE_ROW_COUNT_LIMIT,
        ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT))
      .withPageWriteChecksumEnabled(getPageWriteChecksumEnabled(conf))
      .withStatisticsEnabled(getStatisticsEnabled(conf))
    conf.getValByRegex("^parquet\\..+#.+").forEach { (key, v) =>
      val Array(prop, column) = key.split("#", 2)
      prop match {
        case ENABLE_DICTIONARY => b.withDictionaryEncoding(column, v.toBoolean)
        case BLOOM_FILTER_ENABLED => b.withBloomFilterEnabled(column, v.toBoolean)
        case BLOOM_FILTER_EXPECTED_NDV => b.withBloomFilterNDV(column, v.toLong)
        case BLOOM_FILTER_FPP => b.withBloomFilterFPP(column, v.toDouble)
        case BLOOM_FILTER_CANDIDATES_NUMBER => b.withBloomFilterCandidateNumber(column, v.toInt)
        case STATISTICS_ENABLED => b.withStatisticsEnabled(column, v.toBoolean)
        case _ =>
      }
    }
    val codecs = CodecFactory.createDirectCodecFactory(conf, CountingAllocator, getPageSize(conf))
    try b.withCodecFactory(codecs).build()
    catch { case e: Throwable => codecs.release(); throw e }
  }
}
