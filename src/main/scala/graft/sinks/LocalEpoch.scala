package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** DRIVER-SIDE parquet staging for METADATA-SCALE epochs (guide §5:
  * the driver should do almost no data work — but a 40-row manifest is
  * not data work, and the Spark job + Hadoop commit protocol that a
  * `df.write.parquet` pays for it is ~100-200 ms of pure scheduling
  * per table-format commit; measured as the second-largest job
  * population across the ~50 table-format queries).
  *
  * The write path reuses Spark's OWN [[ParquetWriteSupport]] — the exact
  * WriteSupport every executor parquet task runs, fed the session's
  * own hadoop conf (which carries the SQL confs the support reads:
  * outputTimestampType, writeLegacyFormat, rebase modes, field ids) —
  * so the produced file is what a Spark write task would have
  * produced. No type mapping is re-implemented here; a driver-staged
  * epoch reads back byte-for-value identical to a task-staged one.
  *
  * Scale safety: the fast path only fires when the frame's OPTIMIZED
  * plan is already a [[LocalRelation]] (or a union of them) under a
  * row bound — rows the driver is ALREADY holding. A distributed plan
  * (a real cluster-sized manifest or data frame) never qualifies and
  * takes the ordinary Spark write unchanged. */
private[graft] object LocalEpoch {

  /** Rows the driver already holds: the optimized plan is a
    * LocalRelation, or a Union of them (unionByName's reorder/coerce
    * projects fold into the children by ConvertToLocalRelation +
    * PushProjectionThroughUnion, so a metadata commit's
    * carried ∪ landed frame lands here). None for anything
    * distributed — or anything bigger than `maxRows`. */
  def localRows(plan: LogicalPlan, maxRows: Int)
      : Option[Seq[InternalRow]] = {
    var n = 0
    def walk(p: LogicalPlan): Option[Seq[Seq[InternalRow]]] = p match {
      case l: LocalRelation =>
        n += l.data.length
        if (n > maxRows) None else Some(Seq(l.data))
      case u: Union =>
        u.children.foldLeft(Option(Seq.empty[Seq[InternalRow]])) {
          case (acc, c) => acc.flatMap(a => walk(c).map(a ++ _))
        }
      case _ => None
    }
    walk(plan).map(_.flatten)
  }

  /** The parquet compression codec the session would write with —
    * resolved by Spark's own [[ParquetOptions]], exactly as the task
    * write path resolves it (an unsupported name fails there too). */
  private def codecOf(spark: SparkSession)
      : org.apache.parquet.hadoop.metadata.CompressionCodecName =
    org.apache.parquet.hadoop.metadata.CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf)
        .compressionCodecClassName)

  private final class Builder(path: org.apache.hadoop.fs.Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, Builder](path) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Write `rows` as ONE parquet file at `file` exactly as a Spark
    * write task would (same WriteSupport, same session confs). The
    * caller owns directory creation and cleanup-on-failure. */
  def writeParquet(spark: SparkSession, file: org.apache.hadoop.fs.Path,
                   schema: StructType, rows: Seq[InternalRow]): Unit = {
    // newHadoopConf() = hadoop conf + every SET SQL conf entry; the
    // support's init additionally ASSERTS the write-shape keys are
    // present (Spark's ParquetFileFormat.prepareWrite sets them
    // explicitly on the task path) — mirror exactly that, from the
    // same session values
    val sqlConf = spark.sessionState.conf
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    ParquetWriteSupport.setSchema(schema, conf)
    import org.apache.spark.sql.internal.SQLConf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(
        SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val writer = new Builder(file)
      .withConf(conf)
      .withCompressionCodec(codecOf(spark))
      .build()
    try rows.foreach(writer.write) finally writer.close()
  }
}
