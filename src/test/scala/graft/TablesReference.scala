package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** The schema-inferring table loaders that [[Tables]] replaced, kept as the
  * reference its schemas and rows are checked against: every read is a
  * bare `spark.read.parquet(path)`, which starts Spark's inference job to
  * read one footer; the NTZ loaders build a second reader from the first
  * one's schema, and `events` reads the footer twice. */
object TablesReference {

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  def loadNtzAsUtc(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val raw = load(spark, sfDir, table)
    if (!raw.schema.exists(_.dataType == TimestampNTZType)) raw
    else spark.read.schema(StructType(raw.schema.map {
      case f if f.dataType == TimestampNTZType => f.copy(dataType = TimestampType)
      case f => f
    })).parquet(s"$sfDir/$table.parquet")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(spark, sfDir, "events").schema("ts").dataType match {
      case TimestampNTZType => loadNtzAsUtc(spark, sfDir, "events")
      case LongType => Tables.normalizeEventTs(load(spark, sfDir, "events"))
      case _ => load(spark, sfDir, "events")
    }
  }

  /** Every public loader of [[Tables]] with its reference. The kernel
    * flavours only add a repartition, so their rows are the plain ones. */
  val loaders: Seq[(String, (SparkSession, String) => DataFrame,
                    (SparkSession, String) => DataFrame)] = Seq(
    ("lineitem", Tables.lineitem, loadNtzAsUtc(_, _, "lineitem")),
    ("orders", Tables.orders, loadNtzAsUtc(_, _, "orders")),
    ("customer", Tables.customer, load(_, _, "customer")),
    ("customerKernel", Tables.customerKernel, load(_, _, "customer")),
    ("supplier", Tables.supplier, load(_, _, "supplier")),
    ("part", Tables.part, load(_, _, "part")),
    ("nation", Tables.nation, load(_, _, "nation")),
    ("region", Tables.region, load(_, _, "region")),
    ("events", Tables.events, events),
    ("documents", Tables.documents, load(_, _, "documents")),
    ("documentsKernel", Tables.documentsKernel, load(_, _, "documents")),
    ("embeddings", Tables.embeddings, load(_, _, "embeddings")))
}
