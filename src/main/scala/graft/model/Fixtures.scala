package graft.model

import java.util.concurrent.ConcurrentHashMap

import graft.format.Fio
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit => PqTimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Regeneration-proof testdata loading.
 *
 * The driver regenerates `/root/testdata` between rounds, and the
 * physical unit of `events.parquet#ts` has changed across generations
 * (TIMESTAMP(NANOS) in early fixtures, `timestamp[us]` today). Baking
 * any unit into query code silently produces 1000x-off results — rows
 * still flow, hashes go red — so event loads go through here: the
 * parquet footer's logical-type annotation decides the unit, and `ts`
 * is ALWAYS delivered to callers as epoch MICROSECONDS (LongType;
 * integer arithmetic only, since epoch-nano values exceed a double's
 * 53-bit mantissa). A column that is not TIMESTAMP-annotated fails
 * loudly with the found physical/logical type instead of guessing.
 */
object Fixtures {

  /** Footer-sniff results keyed by file path; the annotation of an
   *  immutable fixture never changes within a run, and entries call
   *  [[eventsMicros]] many times. */
  private val unitCache = new ConcurrentHashMap[String, PqTimeUnit]()

  /** First parquet part-file under `path` (a single file or a dir). */
  private def firstPart(path: String): java.io.File = {
    val f = new java.io.File(path)
    if (f.isFile) f
    else
      Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(p => p.isFile && !p.getName.startsWith(".") && !p.getName.startsWith("_"))
        .sortBy(_.getName).headOption
        .getOrElse(sys.error(s"Fixtures: no parquet part files under $path"))
  }

  /** The TIMESTAMP logical-type unit of `column`, read from the parquet
   *  footer of the first part-file. Fails with the discovered type when
   *  the column carries no TIMESTAMP annotation. */
  def timestampUnit(path: String, column: String): PqTimeUnit =
    unitCache.computeIfAbsent(path, { _ =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(firstPart(path).toURI.toString),
        Fio.hadoopConf)
      val reader = ParquetFileReader.open(in,
        HadoopReadOptions.builder(Fio.hadoopConf).build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        require(schema.containsField(column),
          s"Fixtures: $path has no column '$column' (schema: $schema)")
        val t = schema.getType(Seq(column): _*)
        t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit
          case other =>
            sys.error(s"Fixtures: $path#$column is not TIMESTAMP-annotated " +
              s"(physical=${t.asPrimitiveType().getPrimitiveTypeName}, " +
              s"logical=$other); refusing to guess the epoch unit")
        }
      } finally reader.close()
    })

  /** The events table with `ts` normalized to epoch microseconds
   *  (LongType), whatever unit the current fixture generation stores.
   *
   *  The raw int64 is read unit-agnostically — an explicit LongType
   *  schema makes Spark hand back the stored integer for any INT64
   *  timestamp annotation (also sidestepping Spark 4's rejection of
   *  TIMESTAMP(NANOS) on inference) — then scaled per the sniffed unit
   *  with integer arithmetic. */
  def eventsMicros(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.read.schema(sch).parquet(path)
    timestampUnit(path, "ts") match {
      case PqTimeUnit.NANOS  => raw.withColumn("ts", expr("ts DIV 1000"))
      case PqTimeUnit.MICROS => raw
      case PqTimeUnit.MILLIS => raw.withColumn("ts", col("ts") * lit(1000L))
    }
  }
}
