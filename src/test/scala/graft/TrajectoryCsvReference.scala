package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The schema-inferring TurboFan reader that [[graft.sources.TrajectoryCsv]]
  * replaced, kept as the reference its values are checked against:
  * `inferSchema` over the whole input, then one more job counting the
  * non-null values of every column to drop the all-null columns that
  * trailing separators create. Four parses of the input before any
  * action; column types follow the data (an integral setting column
  * comes back as int). */
object TrajectoryCsvReference {

  def read(spark: SparkSession, path: String,
           nSettings: Int = 3, nSensors: Int = 21): DataFrame = {
    val raw = spark.read
      .option("sep", " ")
      .option("header", "false")
      .option("inferSchema", "true")
      .csv(path)
    val nonNullCounts = raw.select(raw.columns.map(c =>
      count(col(c)).as(c)).toSeq: _*).head()
    val keep = raw.columns.zipWithIndex.filter { case (c, i) =>
      nonNullCounts.getLong(i) > 0
    }.map(_._1)
    val trimmed = raw.select(keep.map(col).toSeq: _*)
    val expected = 2 + nSettings + nSensors
    require(trimmed.columns.length == expected,
      s"expected $expected non-empty columns, got ${trimmed.columns.length}")
    val names = Seq("trajectory_id", "t") ++
      (1 to nSettings).map(i => s"setting_$i") ++
      (1 to nSensors).map(i => s"sensor_$i")
    trimmed.toDF(names: _*)
  }
}
