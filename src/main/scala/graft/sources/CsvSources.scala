package graft.sources

import java.io.FileNotFoundException

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV sources S1–S4 from SURVEY.md §2.1.
  *
  * All dialect/discovery decisions are driver-side (they need only file
  * metadata); the actual scan is a distributed Spark CSV read, so
  * Catalyst still gets column pruning + filter pushdown on top.
  */
object CsvSources {

  private def requireExists(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new FileNotFoundException(s"File not found: $path")
  }

  /** S1: robust scan. The reference tries (sep, encoding) in the order
    * ((";",latin1), (",",latin1), (";",utf-8), (",",utf-8)) and accepts
    * the first parse yielding >= 1 column
    * (reference `etl_cid10.py:28-39`). In Spark that cascade never
    * gets past its first dialect: PERMISSIVE parsing plus latin1, which
    * decodes any byte, makes the (";", latin1) read yield >= 1 column
    * for every non-empty file (a comma file garbles into one column,
    * as in the reference), and an empty file yields no columns under
    * every dialect alike. So S1 is the S3 official read.
    */
  def readRobust(spark: SparkSession, path: String): DataFrame =
    readOfficial(spark, path)

  /** S2: plain CSV scan (",", UTF-8, header) with existence check. */
  def readDefault(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    spark.read.option("header", "true").csv(path)
  }

  /** S3: fixed official DataSUS dialect (";", latin1, header). */
  def readOfficial(spark: SparkSession, path: String): DataFrame = {
    requireExists(spark, path)
    spark.read.option("header", "true").option("sep", ";")
      .option("encoding", "ISO-8859-1").csv(path)
  }

  /** S4: directory discovery — first file whose name case-insensitively
    * contains `fragment` and ends in .csv
    * (/root/reference/etl_cid10.py:204-209).
    */
  def findByFragment(spark: SparkSession, dir: String, fragment: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory)
      throw new FileNotFoundException(s"Directory not found: $dir")
    fs.listStatus(p).map(_.getPath)
      .find { f =>
        val n = f.getName.toLowerCase
        n.contains(fragment.toLowerCase) && n.endsWith(".csv")
      }
      .map(_.toString)
      .getOrElse(throw new FileNotFoundException(
        s"No CSV matching fragment '$fragment' in $dir"))
  }
}
