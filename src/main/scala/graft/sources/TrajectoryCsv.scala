package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TurboFan-format trajectory file reader — datasets/turbofan.py:176
  * `load_data_from_file` re-expressed as a Spark source.
  *
  * Format: space-separated, no header, columns =
  * (trajectory_id, t, setting_1..nSettings, sensor_1..nSensors). The
  * reference then groups rows into per-trajectory matrices; downstream
  * graft operators consume the long format directly (keyed on
  * trajectory_id, ordered by t), which is the scalable representation.
  *
  * `read` runs no Spark job; each action that uses the frame parses the
  * input once.
  *  - Schema: fixed by (nSettings, nSensors). `trajectory_id` and `t` are
  *    int, every setting and sensor is double.
  *  - Layout: the first non-blank line of the input (for a directory or a
  *    glob, of its first file in name order that has one) is read on the
  *    driver through the Hadoop FileSystem. The positions that are
  *    non-empty in that line are the data columns, and there must be
  *    exactly 2 + nSettings + nSensors of them. Every other position —
  *    the trailing separators of the CMAPSS files, two per line — must be
  *    empty in every row (the pandas `dropna(axis='columns', how='all')`
  *    of the reference, made a contract).
  *  - Failures: the input is parsed with that explicit schema in FAILFAST
  *    mode, and the empty positions are checked inside the plan, so a
  *    ragged row, a non-numeric token or data in an empty position fails
  *    the first action that reads the row, not `read`, with the path in
  *    the message. An input with no data line fails in `read`. An action
  *    that uses only some columns parses only those (and the empty
  *    positions), so it misses a short row whose missing positions it
  *    does not read.
  */
object TrajectoryCsv {

  def read(spark: SparkSession, path: String,
           nSettings: Int = 3, nSensors: Int = 21): DataFrame = {
    val fields = Seq(StructField("trajectory_id", IntegerType),
        StructField("t", IntegerType)) ++
      (1 to nSettings).map(i => StructField(s"setting_$i", DoubleType)) ++
      (1 to nSensors).map(i => StructField(s"sensor_$i", DoubleType))
    val tokens = firstLine(spark, path).split(" ", -1)
    val data = tokens.indices.filter(i => tokens(i).nonEmpty)
    require(data.length == fields.length,
      s"TrajectoryCsv: expected ${fields.length} non-empty columns in the " +
        s"first line of $path, got ${data.length}")
    val fieldAt = data.zip(fields).toMap
    val empty = tokens.indices.filterNot(fieldAt.contains).map(i => s"_empty_$i")
    val schema = StructType(tokens.indices.map(i =>
      fieldAt.getOrElse(i, StructField(s"_empty_$i", StringType))))
    val raw = spark.read.schema(schema)
      .option("sep", " ")
      .option("header", "false")
      .option("mode", "FAILFAST")
      .csv(path)
    val checked =
      if (empty.isEmpty) raw
      else raw.filter(when(empty.map(col(_).isNotNull).reduce(_ || _),
          raise_error(format_string(
            s"TrajectoryCsv: data in a column the first line of $path " +
              "leaves empty (trajectory_id %s, t %s)",
            col("trajectory_id"), col("t"))))
        .otherwise(lit(true)))
    checked.select(fields.map(f => col(f.name)): _*)
  }

  /** The first non-blank line of the input's files, in name order, read
    * on the driver (no Spark job). Hidden files (`_*`, `.*`) are skipped
    * and compressed files decoded by their Hadoop codec, as the CSV
    * source does. */
  private def firstLine(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString)
    val codecs = new CompressionCodecFactory(conf)
    files.iterator.flatMap { f =>
      val in = fs.open(f)
      val codec = codecs.getCodec(f)
      val r = new BufferedReader(new InputStreamReader(
        if (codec == null) in else codec.createInputStream(in),
        StandardCharsets.UTF_8))
      try Iterator.continually(r.readLine()).takeWhile(_ != null)
        .find(_.trim.nonEmpty)
      finally r.close()
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      s"TrajectoryCsv: no data line in $path"))
  }
}
